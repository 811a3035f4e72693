"""tools/shuffle_audit.py: the per-query shuffle-byte measurement must
read real task metrics from the status store (the 100-TB "minimize
shuffles" evidence is only as good as the meter)."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.shuffle_audit import (  # noqa: E402
    _DRAIN_LIMIT_S,
    _store_totals,
    drain_storage,
    measure,
)


def test_store_totals_sees_a_shuffle(spark):
    # sum only the stages this test creates (id > before max): with the
    # shared suite session's default retainedStages, old-stage eviction
    # between snapshots would flake a before/after total-delta
    # (ADVICE r11) — the min_stage_id filter is the tool's own fix
    before = _store_totals(spark)
    spark.range(100_000).selectExpr("id % 13 AS k", "id AS v") \
        .groupBy("k").sum("v").collect()
    after = _store_totals(spark, min_stage_id=before["max_stage_id"] + 1)
    # one groupBy = one exchange: bytes match across the write/read
    # sides of the same exchange
    assert after["shuffle_write"] > 0
    assert after["shuffle_read"] == after["shuffle_write"]
    assert after["n_stages"] >= 2  # map side + reduce side
    assert after["max_stage_id"] > before["max_stage_id"]


def test_store_totals_min_stage_id_excludes_old_stages(spark):
    spark.range(10_000).selectExpr("id % 7 AS k").groupBy("k").count() \
        .collect()
    snap = _store_totals(spark)
    # a floor above every retained stage id sums nothing
    empty = _store_totals(spark, min_stage_id=snap["max_stage_id"] + 1)
    assert empty["n_stages"] == 0
    assert empty["shuffle_write"] == 0
    # max_stage_id is reported regardless of the filter window
    assert empty["max_stage_id"] == snap["max_stage_id"]


def test_drain_storage_settles_after_broadcast_join(spark):
    """measure() drains storage memory before each measured run: after a
    broadcast join and clearCache(), the GC-then-poll loop must see the
    status store's memoryUsed settle inside its fixed limit."""
    import time

    from pyspark.sql import functions as F

    cached = spark.range(50_000).selectExpr("id AS k", "id * 3 AS v").cache()
    spark.range(200_000).selectExpr("id % 50000 AS k") \
        .join(F.broadcast(cached), "k").count()
    spark.catalog.clearCache()
    t0 = time.monotonic()
    assert drain_storage(spark, "broadcast_probe")
    assert time.monotonic() - t0 < _DRAIN_LIMIT_S + 0.5


def test_measure_delta_is_per_query(spark, sf_dir):
    out = measure(spark, ["q1_pricing_summary"], sf_dir)
    m = out["q1_pricing_summary"]
    # the steady-state q1 plan is scan -> partial agg -> one exchange ->
    # final agg: it must shuffle SOMETHING (the partial-agg rows) and
    # read parquet input, and the delta must exclude the warm run
    # (a double-counted warm run would roughly double n_stages)
    assert 0 < m["shuffle_write"] < 1_000_000
    assert m["input"] > 0
    assert m["n_stages"] <= 10


def test_get_spark_extra_conf_applies_at_creation():
    """extra_conf reaches the session builder. getOrCreate() reuses an
    already-running session (documented no-op), so the by-value check
    only runs when this test creates the JVM — standalone invocation;
    under the shared-session suite it verifies the no-op contract
    instead (same session object, config untouched)."""
    from pyspark.sql import SparkSession

    from xml_hive_spark.session import get_spark

    # getOrCreate() reuses the GLOBAL default session, not just the
    # thread-active one — mirror its lookup or the suite's shared
    # session makes the by-value branch fire spuriously
    pre = (SparkSession.getActiveSession()
           or getattr(SparkSession, "_instantiatedSession", None))
    s = get_spark(app_name="extra-conf-probe",
                  extra_conf={"spark.ui.retainedStages": "54321"})
    if pre is not None:
        # reuse: same session back; getOrCreate copies builder options
        # into its RuntimeConfig but the live SparkContext (and its
        # status store sizing) is untouched — which is why the audit
        # tool must CREATE its session, not inherit one
        assert s is pre
    else:
        assert s.conf.get("spark.ui.retainedStages") == "54321"


def test_byte_regress_gate():
    """byte_regress (r13): bytes are the load-invariant plan-change
    signal (ann's sf1 shuffle_write replayed byte-identical across the
    r12 and r13 audits while wall-clock exponents moved ±0.3 with box
    load). The gate must fail on drift in EITHER direction, on new
    base-SF spill, on an unrecorded measured query, and on bytes
    appearing where the record pins zero — and pass identical replays
    and sub-tolerance drift."""
    from tools.shuffle_audit import byte_regress

    rec = {
        "a": {"shuffle_write": 1000, "spill_disk": 0},
        "b": {"shuffle_write": 0, "spill_disk": 0},
        "c": {"shuffle_write": 500, "spill_disk": 0},
    }
    ok = {
        "a": {"shuffle_write": 1000, "spill_disk": 0},   # exact replay
        "b": {"shuffle_write": 0, "spill_disk": 0},      # zero pinned
        "c": {"shuffle_write": 549, "spill_disk": 0},    # +9.8% < bar
    }
    assert byte_regress(ok, rec) == []

    assert byte_regress(
        {"a": {"shuffle_write": 1101, "spill_disk": 0}}, rec)  # +10.1%
    assert byte_regress(
        {"a": {"shuffle_write": 899, "spill_disk": 0}}, rec)   # −10.1%:
    # vanishing bytes = a silently-broadcast exchange, equally a change
    assert byte_regress(
        {"b": {"shuffle_write": 1, "spill_disk": 0}}, rec)     # 0-pin
    assert byte_regress(
        {"a": {"shuffle_write": 1000, "spill_disk": 7}}, rec)  # new spill
    assert byte_regress(
        {"new_q": {"shuffle_write": 10, "spill_disk": 0}}, rec)  # unrecorded
    # recorded-but-unmeasured is the caller's visible gap, not a failure
    assert byte_regress(
        {"a": {"shuffle_write": 1000, "spill_disk": 0}}, rec) == []
    # tolerance is a parameter: the same +9.8% fails a tighter bar
    assert byte_regress(
        {"c": {"shuffle_write": 549, "spill_disk": 0}}, rec,
        tolerance=0.05)
