"""Stream-stream join with event-time bounds (attribution join).

The missing Structured Streaming operator family after windowed aggs,
watermarked dedup, and arbitrary-state sessionization: two unbounded
streams joined on a key plus an event-time range. The canonical use is
attribution — purchases joined to the views that preceded them within
an attribution window.

Scale shape: both sides are watermarked, so the state store holds only
rows inside the watermark horizon (view state is dropped once
``purchase_ts`` can no longer land in ``[view_ts, view_ts + window]``)
— bounded state regardless of stream length. The join itself
hash-partitions both streams on ``user_id``: one shuffle per side,
identical to the batch plan, and matches emit as they arrive (inner
join emits eagerly; it never waits for the watermark).

Determinism: with an ``availableNow`` drain over a finite input the
emitted set is exactly the batch join's result, which
tests/test_streaming.py asserts. The reference has no streaming at all
(batch ``InputFormat`` only, AvroFromXmlInputFormat.scala:15) —
extension scope, like the rest of streaming/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xml_hive_spark.operators import query
from xml_hive_spark.streaming import drain
from xml_hive_spark.streaming.windowed import streaming_events

_ATTRIBUTION = "30 minutes"


def _sides(views: DataFrame, purchases: DataFrame, how: str = "inner"):
    v = (
        views.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "2 hours")
    )
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("amount"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = v.join(
        p,
        F.expr(
            f"""
            user_id = p_user_id AND
            purchase_ts >= view_ts AND
            purchase_ts <= view_ts + interval {_ATTRIBUTION}
            """
        ),
        how,
    )
    return joined.select(
        "user_id", "view_id", "purchase_id", "view_ts", "purchase_ts", "amount"
    )


def run_streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution join as a real streaming query, drained availableNow."""
    out = _sides(streaming_events(spark, sf_dir), streaming_events(spark, sf_dir))
    return drain(out, "append")


def batch_join_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same attribution join in batch — the equality oracle."""
    from xml_hive_spark.operators import t

    ev = t(spark, sf_dir, "events")
    return _sides(ev, ev)


@query(
    "streaming_stream_join",
    oracle="""
WITH ev AS (
  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value
  FROM events
)
SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
       v.ts AS view_ts, p.ts AS purchase_ts, p.value AS amount
FROM ev v JOIN ev p
  ON p.user_id = v.user_id
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
""",
    tags=("streaming", "join"),
)
def streaming_stream_join(spark: SparkSession, sf: str) -> DataFrame:
    """Registry entry. FULL value oracle — INNER stream-stream joins
    emit matches eagerly (never held for the watermark), so the
    availableNow drain over the finite events table is exactly the
    batch attribution join, which the DuckDB range self-join twin
    computes directly; the same equality (plus exactly-once emission)
    is asserted in tests/test_streaming.py. The LEFT-OUTER variant
    stays rows-only: its null rows depend on the watermark horizon."""
    return run_streaming_stream_join(spark, sf)


def run_streaming_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER attribution join: views with no purchase inside the
    attribution window emit with null purchase columns — but only once
    the watermark PROVES no match can still arrive (view_ts +
    attribution window has passed the watermark). Unlike the inner join
    (eager emission), outer rows are held in state until that proof, so
    the watermark must actually advance: the events table is staged as
    time-ordered files replayed one per micro-batch
    (``stage_ordered_event_files``, the sessionizer's determinism
    harness), and the watermark moves between batches, flushing
    earlier-file unmatched views. State stays bounded by the same
    horizon. The still-open tail (views too recent for the final
    watermark) is the documented streaming-vs-batch delta; the equality
    harness in tests/test_streaming.py accounts for it exactly."""
    from xml_hive_spark.streaming.stateful import (
        _STAGED_SCHEMA,
        stage_ordered_event_files,
    )

    staged = stage_ordered_event_files(spark, sf_dir, n_files=3)
    raw = (
        spark.readStream.schema(_STAGED_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(staged)
    )
    ev = raw.withColumn("ts", F.timestamp_micros(F.col("ts")))
    out = _sides(ev, ev, how="left_outer")
    return drain(out, "append")


def batch_join_outer_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch left-outer twin — the full-history oracle the streamed
    result is compared against (matched rows must agree exactly; null
    rows agree below the provable watermark horizon)."""
    from xml_hive_spark.operators import t

    ev = t(spark, sf_dir, "events")
    return _sides(ev, ev, how="left_outer")


@query(
    "streaming_stream_join_outer",
    oracle="""
WITH ev AS (
  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value
  FROM events
),
j AS (
  SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
         v.ts AS view_ts, p.ts AS purchase_ts, p.value AS amount
  FROM ev v LEFT JOIN ev p
    ON p.user_id = v.user_id AND p.event_type = 'purchase'
   AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
  WHERE v.event_type = 'view'
)
SELECT user_id, view_id, purchase_id, view_ts, purchase_ts, amount
FROM j
WHERE purchase_id IS NOT NULL
   OR (epoch_us(view_ts) // 1000 + 1800000
       < (SELECT max(epoch_us(ts)) // 1000 FROM ev
          WHERE event_type = 'view') - 7200000
   AND epoch_us(view_ts) // 1000 + 1800000
       < (SELECT max(epoch_us(ts)) // 1000 FROM ev
          WHERE event_type = 'purchase') - 7200000)
""",
    tags=("streaming", "join", "outer"),
)
def streaming_stream_join_outer(spark: SparkSession, sf: str) -> DataFrame:
    """Registry entry. FULL value oracle (r9 rows-only conversion — the
    sessionize flushed-prefix argument applied to outer joins): matched
    rows are the batch attribution join verbatim (inner joins emit
    eagerly); a NULL row is emitted iff the view's join window provably
    closed under the final watermark — view ms + 30 min attribution
    strictly below the query watermark. The watermark is the MIN across
    BOTH withWatermark nodes (each tracks the max event time of rows
    flowing through it POST-FILTER), so the basis is
    min(max view ts, max purchase ts) − 2 h, NOT the global event max —
    found empirically: a synthetic stream with zero purchases emits
    ZERO nulls (the purchase-side watermark never advances), and a
    purchase-pinned boundary probe localized the cutoff exactly
    (margin 0 held in state, margin +60 s emitted → strict <,
    ms-quantized). Views whose window is still open stay in state and
    are never emitted; the WHERE arm reproduces that holdback with two
    NULL-safe comparisons (an empty side makes the predicate NULL →
    no nulls, exactly the stream's behavior). Validated stream-vs-SQL
    at sf0.001/0.01/0.1; the horizon-exact harness in
    tests/test_streaming.py remains."""
    return run_streaming_stream_join_outer(spark, sf)


@query(
    "streaming_static_join",
    oracle="""
SELECT c.c_mktsegment, e.event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(e.value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
""",
    tags=("streaming", "join", "static"),
)
def streaming_static_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-STATIC enrichment join — the bronze→silver shape: an
    unbounded event stream joined to a broadcast dimension (customer),
    then aggregated. Stateless per-row enrichment (no watermark state:
    only stream-stream joins buffer), so the static side is re-resolvable
    per micro-batch — at 100 TB/day of events the dimension broadcast is
    the only non-linear piece and it's O(|dim|).

    FULL value oracle: an availableNow drain of the whole landing dir is
    batch-equivalent, so DuckDB's plain batch join/aggregate over the
    same parquet must hash-match the drained stream exactly — the same
    stream-equals-batch contract ``xml_stream_scan`` pins."""
    from xml_hive_spark.operators import t

    ev = streaming_events(spark, sf)
    dim = F.broadcast(
        t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    )
    agg = (
        ev.join(dim, ev.user_id == dim.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(30,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )
    return drain(agg, "complete")
