"""Structured Streaming: the streaming windowed aggregate must equal its
batch twin (same window expression, availableNow drain)."""

from __future__ import annotations

from xml_hive_spark.operators import all_queries
from xml_hive_spark.streaming import run_streaming_event_counts


def test_streaming_equals_batch(spark, sf_dir):
    stream_df = run_streaming_event_counts(spark, sf_dir)
    batch_df = all_queries()["tumbling_window_agg"].fn(spark, sf_dir)
    s = sorted(
        (r.window_start, r.event_type, r.n, round(r.sum_value, 6))
        for r in stream_df.collect()
    )
    b = sorted(
        (r.window_start, r.event_type, r.n, round(r.sum_value, 6))
        for r in batch_df.collect()
    )
    assert s == b
    assert len(s) > 0


def test_streaming_dedup_within_watermark(spark, sf_dir):
    """Watermarked streaming dedup: emitted rows have unique content keys
    within any watermark window; total is bounded by the batch distinct
    count (the stream may emit more than the global distinct because keys
    can legally reappear after the watermark expires their state)."""
    from xml_hive_spark.streaming.windowed import run_streaming_dedup

    out = run_streaming_dedup(spark, sf_dir)
    rows = out.collect()
    assert len(rows) > 0
    from xml_hive_spark.operators import t
    from pyspark.sql import functions as F

    ev = t(spark, sf_dir, "events")
    n_events = ev.count()
    n_distinct = (
        ev.select(F.get_json_object("props", "$.k").cast("int").alias("k"))
        .distinct()
        .count()
    )
    # dedup must remove something, and can't go below the true distinct
    assert n_distinct <= len(rows) < n_events


def test_stateful_sessionize_matches_batch_twin(spark, sf_dir):
    """applyInPandasWithState sessionization: every emitted session must
    equal its session_window batch twin field-for-field, and the
    event-time timeouts must actually flush sessions (nonzero output
    covering the old part of the stream)."""
    from xml_hive_spark.streaming.stateful import (
        batch_sessions_twin,
        run_streaming_sessionize,
    )

    streamed = run_streaming_sessionize(spark, sf_dir).collect()
    assert len(streamed) > 0  # timeouts fired across micro-batches
    twin = {
        (r.user_id, r.session_start_us): (r.session_end_us, r.n_events, r.sum_value_q)
        for r in batch_sessions_twin(spark, sf_dir).collect()
    }
    # no invented or distorted session: exact subset of the batch twin
    for r in streamed:
        assert twin[(r.user_id, r.session_start_us)] == (
            r.session_end_us,
            r.n_events,
            r.sum_value_q,
        )
    # no duplicates (exactly-once emission per closed session)
    keys = [(r.user_id, r.session_start_us) for r in streamed]
    assert len(keys) == len(set(keys))
    # coverage: sessions that ended a gap before the second file's start
    # (i.e. before the watermark the engine definitely reached) are ALL out
    ends = sorted(v[0] for v in twin.values())
    horizon = ends[len(ends) // 3]  # conservative: first file's range
    gap_us = 30 * 60 * 1_000_000
    expected_old = {
        k for k, v in twin.items() if v[0] + gap_us < horizon
    }
    emitted = set(keys)
    missing = expected_old - emitted
    assert not missing, f"{len(missing)} old sessions never flushed"


def test_stream_stream_join_equals_batch(spark, sf_dir):
    """Watermarked stream-stream attribution join: the availableNow drain
    over the finite events table must emit exactly the batch join's rows
    (inner joins emit eagerly — no rows withheld at end of stream), with
    no duplicates from state replay."""
    from xml_hive_spark.streaming.joins import (
        batch_join_twin,
        run_streaming_stream_join,
    )

    cols = ("user_id", "view_id", "purchase_id")
    streamed = [tuple(r[c] for c in cols)
                for r in run_streaming_stream_join(spark, sf_dir).collect()]
    batch = [tuple(r[c] for c in cols)
             for r in batch_join_twin(spark, sf_dir).collect()]
    assert len(batch) > 0  # the attribution window actually matches pairs
    assert len(streamed) == len(set(streamed))  # exactly-once emission
    assert sorted(streamed) == sorted(batch)


def test_stream_stream_outer_join_horizon_equality(spark, sf_dir):
    """Left-outer stream-stream join: matched rows equal the batch twin
    exactly (eager emission); null rows are exactly-once, are a subset
    of the batch twin's unmatched views, and every unmatched view whose
    no-match proof (view_ts + attribution window) predates the
    second-to-last batch's watermark MUST have been flushed."""
    from pyspark.sql import functions as F

    from xml_hive_spark.operators import t
    from xml_hive_spark.streaming.joins import (
        batch_join_outer_twin,
        run_streaming_stream_join_outer,
    )

    streamed = run_streaming_stream_join_outer(spark, sf_dir).collect()
    batch = batch_join_outer_twin(spark, sf_dir).collect()

    sm = {(r.user_id, r.view_id, r.purchase_id)
          for r in streamed if r.purchase_id is not None}
    bm = {(r.user_id, r.view_id, r.purchase_id)
          for r in batch if r.purchase_id is not None}
    assert sm == bm  # matched rows: full equality, emitted eagerly
    assert len(bm) > 0

    s_null = [r.view_id for r in streamed if r.purchase_id is None]
    assert len(s_null) == len(set(s_null))  # exactly-once null emission
    b_null = {r.view_id: r.view_ts for r in batch if r.purchase_id is None}
    assert set(s_null) <= set(b_null)  # never invent an unmatched view

    # provable horizon: the final batch applies the watermark advanced at
    # the end of file 2 (of 3) = maxts(file2) - 2h delay; any unmatched
    # view with view_ts + 30min attribution below that must be out
    ev = t(spark, sf_dir, "events")
    q23 = ev.select(F.unix_micros("ts").alias("us")).approxQuantile(
        "us", [2.0 / 3.0], 0.001
    )[0]
    wm2_us = q23 - 2 * 3600 * 1_000_000
    slack_us = 60 * 1_000_000  # quantile estimation slack
    horizon_us = wm2_us - 30 * 60 * 1_000_000 - slack_us
    import datetime as dt

    expected = {
        vid
        for vid, vts in b_null.items()
        if vts.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6 < horizon_us
    }
    missing = expected - set(s_null)
    assert not missing, f"{len(missing)} provably-unmatched views never flushed"
    assert len(expected) > 0  # the harness actually exercises the flush


def test_live_processing_time_trigger(spark, sf_dir):
    """The windowed pipeline under a LIVE processing-time trigger (not an
    availableNow drain): the query must produce at least one progress
    event whose micro-batch read non-zero input rows, proving the
    operators run under the latency shape production streams use. Bounded:
    the file source finds the events file in its first micro-batch; we
    poll recentProgress and stop as soon as rows are observed."""
    import time
    import uuid

    from pyspark.sql import functions as F

    from xml_hive_spark.session import scratch_dir
    from xml_hive_spark.streaming.windowed import streaming_events

    ev = streaming_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = f"live_trigger_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", scratch_dir("ckpt-"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.monotonic() + 25
        rows_seen = 0
        while time.monotonic() < deadline:
            rows_seen = sum(p["numInputRows"] for p in q.recentProgress)
            if rows_seen > 0:
                break
            time.sleep(0.25)
        assert rows_seen > 0, "no micro-batch consumed rows under the live trigger"
        assert q.isActive  # a live trigger keeps running, unlike availableNow
    finally:
        q.stop()


def test_streaming_neardup_equals_batch_twin(spark, sf_dir):
    """Streaming MinHash near-dedup must flag EXACTLY the docs the
    batch self-join twin flags (dup = shares any band bucket with an
    earlier-seq doc), across micro-batch boundaries — the state must
    carry first-arrival seqs between batches."""
    from xml_hive_spark.streaming.neardup import (
        batch_neardup_twin,
        run_streaming_neardup,
    )

    got = {r["doc_id"]: r["is_dup"]
           for r in run_streaming_neardup(spark, sf_dir).collect()}
    want = {r["doc_id"]: r["is_dup"]
            for r in batch_neardup_twin(spark, sf_dir).collect()}
    assert set(got) == set(want)
    diff = {k for k in want if got[k] != want[k]}
    assert not diff, f"{len(diff)} mismatched docs, e.g. {sorted(diff)[:5]}"
    # sanity: the corpus actually contains both classes
    assert any(want.values()) and not all(want.values())


def test_streaming_hll_equals_batch_registers(spark, sf_dir):
    """The streaming HLL drain must produce the exact batch register
    table (max is order-insensitive, availableNow is batch-equivalent),
    so the streamed estimate equals a batch-computed estimate over the
    same key column, and the estimate tracks the true distinct count."""
    from pyspark.sql import functions as F

    from xml_hive_spark.operators import t
    from xml_hive_spark.operators.scaleops import (
        hll_estimate_from_registers,
        hll_register_cols,
    )
    from xml_hive_spark.streaming.windowed import run_streaming_hll

    got = run_streaming_hll(spark, sf_dir).collect()[0]

    ev = t(spark, sf_dir, "events")
    reg, rho = hll_register_cols(F.col("user_id").cast("string"))
    batch_regs = (
        ev.select(reg.alias("reg"), rho.alias("rho"))
        .groupBy("reg").agg(F.max("rho").alias("mx"))
    )
    want = hll_estimate_from_registers(batch_regs).collect()[0]
    assert tuple(got) == tuple(want)

    n_exact = ev.select("user_id").distinct().count()
    assert abs(got["hll_est"] - n_exact) / n_exact < 3 * 1.04 / 16.0


def test_streaming_cdc_upsert_batch_boundary_independent(spark, sf_dir):
    """The upserted state must be independent of micro-batch slicing:
    a 1-batch drain and the 4-batch drain produce identical final
    states (last-write-wins keys on (ts, event_id), not arrival), and
    both equal the batch latest-per-user window."""
    from pyspark.sql import functions as F

    from xml_hive_spark.operators import t
    from xml_hive_spark.streaming import upsert as up

    four = [tuple(r) for r in up.run_streaming_cdc_upsert(spark, sf_dir).collect()]

    orig = up.stage_event_chunks
    up.stage_event_chunks = lambda s, d, n_files=4: orig(s, d, n_files=1)
    try:
        one = [tuple(r) for r in up.run_streaming_cdc_upsert(spark, sf_dir).collect()]
    finally:
        up.stage_event_chunks = orig
    assert four == one

    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    want = [
        tuple(r)
        for r in t(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
            F.col("ts").alias("last_ts"),
        )
        .orderBy("user_id")
        .collect()
    ]
    assert four == want


def test_streaming_quantile_histogram_equals_batch(spark, sf_dir):
    """The streamed histogram floors must equal a batch computation of
    the same bucket sketch, and each floor must bracket the exact
    percentile at the $1/100-cent width."""
    import math

    from pyspark.sql import functions as F

    from xml_hive_spark.operators import t
    from xml_hive_spark.streaming.windowed import (
        run_streaming_quantile_histogram,
    )

    got = run_streaming_quantile_histogram(spark, sf_dir).collect()[0]
    cents = sorted(
        r[0]
        for r in t(spark, sf_dir, "events")
        .select(F.round(F.col("value") * 100).cast("long"))
        .collect()
    )
    n = len(cents)
    for pnum, pden, floor in (
        (1, 2, got.p50_floor_cents),
        (9, 10, got.p90_floor_cents),
        (99, 100, got.p99_floor_cents),
    ):
        exact = cents[math.ceil(n * pnum / pden) - 1]
        assert floor <= exact < floor + 100


def test_streaming_vector_ingest_equals_batch(spark, sf_dir):
    """Streaming nearest-centroid routing must produce exactly the
    batch assignment's per-cluster counts (same persisted centroids,
    availableNow drain), and every vector must be routed somewhere."""
    from xml_hive_spark.operators import t
    from xml_hive_spark.operators.ann_index import ivf_pq_index
    from xml_hive_spark.streaming.vectors import (
        assign_clusters,
        run_streaming_vector_ingest,
    )

    got = sorted(
        map(tuple, run_streaming_vector_ingest(spark, sf_dir).collect())
    )
    idx = ivf_pq_index(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings")
    import pyspark.sql.functions as F

    want = sorted(
        map(
            tuple,
            assign_clusters(emb, idx.centroids)
            .groupBy("cluster")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_vectors"),
                F.min("vec_id").cast("long").alias("min_vec_id"),
            )
            .collect(),
        )
    )
    assert got == want
    assert sum(r[1] for r in got) == emb.count()


def test_outer_join_eviction_boundary_pinned(spark):
    """r9 oracle-semantics pin for streaming_stream_join_outer: the
    eviction watermark is the MIN across BOTH withWatermark nodes (each
    tracks max event time of rows flowing through it POST-FILTER), and
    the null-row cutoff is STRICT — a view whose attribution window
    closes exactly AT the watermark stays in state. Synthetic stream:
    views every 60 s over 6 h; the last purchase lands 45 min before
    the last view, pinning the purchase-side watermark below the global
    max. The oracle in streaming/joins.py encodes exactly this rule; if
    Spark's eviction semantics ever shift, this pin fails before the
    driver does."""
    import datetime
    import os
    import uuid

    from pyspark.sql import functions as F

    from xml_hive_spark.session import scratch_dir
    from xml_hive_spark.streaming.joins import _sides
    from xml_hive_spark.streaming.stateful import _STAGED_SCHEMA

    base = 1_700_000_000_000_000  # us
    span_s = 6 * 3600
    rows, eid = [], 0
    for s in range(0, span_s, 60):
        rows.append((eid, base + s * 1_000_000, 1 + (eid % 5), "view", 1.0, "{}"))
        eid += 1
    p_max = base + (span_s - 45 * 60) * 1_000_000  # purchase watermark pin
    rows.append((eid, p_max - 60_000_000, 999, "purchase", 1.0, "{}")); eid += 1
    rows.append((eid, p_max, 999, "purchase", 1.0, "{}")); eid += 1
    rows.append((eid, base + span_s * 1_000_000, 998, "view", 1.0, "{}")); eid += 1
    df = spark.createDataFrame(rows, schema=_STAGED_SCHEMA)

    out = scratch_dir("bound-pin-")
    bounds = [base + span_s * 1_000_000 // 3, base + 2 * span_s * 1_000_000 // 3]
    lo = None
    for i in range(3):
        hi = bounds[i] if i < 2 else None
        part = df
        if lo is not None:
            part = part.filter(F.col("ts") >= lo)
        if hi is not None:
            part = part.filter(F.col("ts") < hi)
        pdir = os.path.join(out, f"chunk={i}")
        part.coalesce(1).write.parquet(pdir)
        lo = hi
        for root, _, files in os.walk(pdir):
            for fn in files:
                os.utime(os.path.join(root, fn), (1_000_000 + i,) * 2)

    raw = (
        spark.readStream.schema(_STAGED_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(out)
    )
    ev = raw.withColumn("ts", F.timestamp_micros(F.col("ts")))
    j = _sides(ev, ev, how="left_outer")
    name = f"bound_pin_{uuid.uuid4().hex[:6]}"
    q = (
        j.writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", scratch_dir("ckpt-"))
        .trigger(availableNow=True).start()
    )
    assert q.awaitTermination(180)
    got = spark.table(name).collect()

    def us(t):
        return int(t.replace(tzinfo=datetime.timezone.utc).timestamp() * 1e6)

    emitted = {us(r["view_ts"]) for r in got if r["purchase_id"] is None}
    # watermark basis: MIN of (max view ts, max purchase ts) - 2h delay
    wm_ms = min(base + span_s * 1_000_000, p_max) // 1000 - 7_200_000
    for s in range(0, span_s, 60):
        v = base + s * 1_000_000
        margin = wm_ms - (v // 1000 + 1_800_000)
        if margin > 0:
            assert v in emitted, f"margin {margin} ms should have flushed"
        else:
            assert v not in emitted, f"margin {margin} ms must stay in state"


def test_vector_ingest_routing_is_true_nearest(spark, sf_dir):
    """Metric-level pin for assign_clusters: the routed cluster must be
    the TRUE Euclidean nearest centroid at the quantized scale. The
    stream-equals-batch twin shares assign_clusters, so it cannot see a
    broken metric — this pin exists because the r9 integer-centroid
    change briefly mixed unit-scale floats with 2^20-scale centroids,
    degenerating routing to argmin-by-centroid-magnitude, and the twin
    test stayed green."""
    import numpy as np

    from xml_hive_spark.operators import t
    from xml_hive_spark.operators.ann_index import ivf_pq_index
    from xml_hive_spark.streaming.vectors import assign_clusters

    idx = ivf_pq_index(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings")
    got = {r.vec_id: r.cluster
           for r in assign_clusters(emb, idx.centroids).collect()}
    c = np.asarray(idx.centroids, dtype=np.float64)
    for r in emb.select("vec_id", "embedding").limit(200).collect():
        x = np.floor(np.asarray(r.embedding, dtype=np.float64) * 1048576.0)
        true = int(np.argmin(((c - x) ** 2).sum(axis=1)))
        assert got[r.vec_id] == true, r.vec_id
    # and the spread is not degenerate
    from collections import Counter
    spread = Counter(got.values())
    assert len(spread) >= len(c) // 2


def test_dropdup_drain_timeout_stops_query(spark, sf_dir, monkeypatch):
    """A drain whose wait expires stops its query and raises instead of
    waiting for good (the replayed-events dropDuplicates stream once
    called ``awaitTermination()`` with no timeout)."""
    import pytest
    from pyspark.sql.streaming import StreamingQuery

    from xml_hive_spark.streaming.dropdup import run_streaming_dropdup

    monkeypatch.setattr(StreamingQuery, "awaitTermination",
                        lambda self, timeout=None: False)
    with pytest.raises(TimeoutError):
        run_streaming_dropdup(spark, sf_dir)
    assert spark.streams.active == []


def test_streaming_query_leaves_no_memory_table(spark, sf_dir):
    """A registry streaming query drops its memory-sink view once the
    result is resolved; the resolved result still reads every row."""
    def tables():
        return {tb.name for tb in spark.catalog.listTables()}

    before = tables()
    out = all_queries()["streaming_window_counts"].fn(spark, sf_dir)
    assert tables() == before
    assert out.count() == all_queries()["tumbling_window_agg"].fn(
        spark, sf_dir).count() > 0


def _stream_wait_sites(src: str) -> set[tuple[str, str]]:
    """(enclosing function, call) of every ``format("memory")`` sink
    and ``awaitTermination`` call in ``src``."""
    import ast

    sites = set()

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute):
                a = child.func.attr
                if a == "format" and any(
                    isinstance(x, ast.Constant) and x.value == "memory"
                    for x in child.args
                ):
                    sites.add((fn, "memory"))
                elif a == "awaitTermination":
                    sites.add((fn, a))
            visit(child, fn)

    visit(ast.parse(src), "<module>")
    return sites


def test_memory_sink_only_in_drain_lint():
    """Package code starts a memory sink only in ``streaming.drain`` and
    waits on a query only in ``streaming.finish``, so hand-written
    drains (and unbounded waits) cannot grow back. Red on a seeded
    violation, green on the package."""
    from pathlib import Path

    seeded = (
        "def run(df):\n"
        "    q = df.writeStream.format('memory').queryName('x').start()\n"
        "    q.awaitTermination()\n"
    )
    assert _stream_wait_sites(seeded) == {("run", "memory"),
                                          ("run", "awaitTermination")}

    pkg = Path(__file__).resolve().parent.parent / "xml_hive_spark"
    found = {
        (str(p.relative_to(pkg)), fn, call)
        for p in sorted(pkg.rglob("*.py"))
        for fn, call in _stream_wait_sites(p.read_text())
    }
    assert found == {
        ("streaming/__init__.py", "drain", "memory"),
        ("streaming/__init__.py", "finish", "awaitTermination"),
    }
