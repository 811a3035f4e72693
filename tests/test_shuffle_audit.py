"""tools/shuffle_audit.py: the per-query shuffle-byte measurement must
read real task metrics from the status store (the 100-TB "minimize
shuffles" evidence is only as good as the meter)."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.shuffle_audit import (  # noqa: E402
    _DRAIN_LIMIT_S,
    drain_storage,
    measure,
    measure_query,
)


def _group_by(spark, _sf_dir):
    return spark.range(100_000).selectExpr("id % 13 AS k", "id AS v") \
        .groupBy("k").sum("v")


def _lone_run(spark, group, df):
    """op_layers totals of one ``df.count()`` under its own job group."""
    from perfbench.sparkstats import op_layers

    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        df.count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return op_layers(spark, [group])[group]


def test_measure_query_sees_a_shuffle(spark):
    m = measure_query(spark, "audit-test groupBy", _group_by, "unused")
    # one groupBy = one exchange: bytes match across the write/read
    # sides of the same exchange
    assert m["shuffle_write"] > 0
    assert m["shuffle_read"] == m["shuffle_write"]
    assert m["spill_disk"] == 0
    assert m["python_nodes"] == 0  # a JVM-only plan
    assert m["build_s"] >= 0


def test_measure_query_excludes_the_warm_run(spark):
    """The warm run and the measured run each build the DataFrame; only
    the second is summed, so the figure equals one run's bytes taken
    alone, not twice that."""
    calls = []

    def counted(s, d):
        calls.append(d)
        return _group_by(s, d)

    m = measure_query(spark, "audit-test warm", counted, "unused")
    assert len(calls) == 2
    # the measured group is cleared afterwards: a later job is not tagged
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    single = _lone_run(spark, "audit-test single", _group_by(spark, "unused"))
    assert m["shuffle_write"] == single["shuffle_write_bytes"] > 0


def test_measure_query_counts_python_nodes(spark, tmp_path):
    def py_plan(s, _d):
        return s.range(1_000, numPartitions=2).mapInArrow(
            lambda batches: batches, "id long")

    plan = tmp_path / "py_plan.txt"
    m = measure_query(spark, "audit-test python", py_plan, "unused", plan)
    assert m["python_nodes"] == 1
    assert "MapInArrow" in plan.read_text()  # --plans writes this file
    assert m["arrow_bytes_in"] > 0 and m["arrow_bytes_out"] > 0
    assert m["python_run_s"] >= 0 and m["python_start_init_s"] >= 0


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
    # final agg: it must shuffle SOMETHING (the partial-agg rows), read
    # back what it wrote, and the figure must exclude the warm run (a
    # double-counted warm run would double the bytes of a lone run)
    assert 0 < m["shuffle_write"] < 1_000_000
    assert m["shuffle_read"] == m["shuffle_write"]
    from xml_hive_spark.operators import all_queries

    alone = _lone_run(spark, "audit-test q1 alone",
                      all_queries()["q1_pricing_summary"].fn(spark, sf_dir))
    assert alone["shuffle_write_bytes"] == m["shuffle_write"]
    # a stage that reads no shuffle but feeds one: the parquet scan ran
    assert alone["scan_stage_run_s"] > 0


def test_regress_refuses_a_config_mismatch(tmp_path, monkeypatch):
    """Shuffle bytes follow the task count, so --regress against an
    artifact recorded at another core count or shuffle-partition count
    exits non-zero, naming both, before any query is measured."""
    import json
    import types

    import pytest

    from tools import shuffle_audit
    from xml_hive_spark import session

    art = tmp_path / "audit.json"
    art.write_text(json.dumps({
        "sf_dir": "sf", "cpus": 32, "shuffle_partitions": 32,
        "queries": {"q1_pricing_summary": {"shuffle_write": 1, "spill_disk": 0}},
    }))
    stopped = []
    fake = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(defaultParallelism=4),
        conf=types.SimpleNamespace(get=lambda key: "4"),
        stop=lambda: stopped.append(True),
    )

    def no_measuring(*_args, **_kw):
        raise AssertionError("measured despite a config mismatch")

    monkeypatch.setattr(session, "get_spark", lambda **_kw: fake)
    monkeypatch.setattr(shuffle_audit, "measure", no_measuring)
    monkeypatch.setattr(sys, "argv", ["shuffle_audit.py", "--sf-dir", "sf",
                                      "--regress", str(art)])
    with pytest.raises(SystemExit) as exc:
        shuffle_audit.main()
    msg = str(exc.value.code)
    assert exc.value.code not in (0, None)
    assert "cpus=32 shuffle_partitions=32" in msg
    assert "cpus=4 shuffle_partitions=4" in msg
    assert stopped == [True]

    current = shuffle_audit.recording_config(fake)
    assert current == {"cpus": 4, "shuffle_partitions": 4}
    assert shuffle_audit.config_mismatch(
        {"cpus": 4, "shuffle_partitions": 4}, current) is None
    # one setting off is enough; an unstamped artifact is not comparable
    assert shuffle_audit.config_mismatch(
        {"cpus": 4, "shuffle_partitions": 8}, current)
    assert shuffle_audit.config_mismatch({"queries": {}}, current)


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
