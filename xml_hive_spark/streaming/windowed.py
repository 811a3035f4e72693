"""Streaming windowed aggregation over the events table.

Flow: file-source ``readStream`` (the landing-dir pattern — at scale this
is the bronze layer receiving micro-batches) → watermark → tumbling
window aggregate → ``availableNow`` trigger draining everything queued →
memory sink. ``availableNow`` gives exactly-once batch-equivalent
results, so the output is deterministic and testable against the batch
twin (``tumbling_window_agg``)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xml_hive_spark.operators import events, query
from xml_hive_spark.operators.scaleops import (
    HLL_EST_SQL,
    HLL_REG_SQL,
    HLL_RHO_SQL,
    HLL_SUM_SQL,
    hll_estimate_from_registers,
    hll_register_cols,
)
from xml_hive_spark.operators.timeseries import OHLC_ORACLE, ohlc_bars
from xml_hive_spark.streaming import drain


def streaming_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table as an unbounded stream (file source over the sf dir),
    ``ts`` normalized exactly like the batch loader
    (:func:`xml_hive_spark.operators.events`), so the stream is
    byte-identical to its batch twin whichever layout the file carries."""
    return events(
        spark, sf_dir,
        lambda r: r.option("pathGlobFilter", "events.parquet").parquet(sf_dir),
    )


def run_streaming_event_counts(
    spark: SparkSession, sf_dir: str, gap: str = "1 hour"
) -> DataFrame:
    """Run the tumbling-window count/sum as a real streaming query
    (watermark + window + availableNow) and return the drained result."""
    ev = streaming_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", gap).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"
        )
    )
    return drain(agg, "complete")


@query(
    "streaming_window_counts",
    oracle="""
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
""",
    tags=("streaming", "window"),
)
def streaming_window_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Registry entry: the streaming pipeline end-to-end. FULL value
    oracle — the drain runs in COMPLETE mode over a finite input, so
    the emitted table is exactly the batch tumbling aggregate and the
    ``tumbling_window_agg`` oracle applies verbatim (count/decimal-sum
    are mergeable); the same equality is asserted against the batch
    twin in tests/test_streaming.py."""
    return run_streaming_event_counts(spark, sf)


def run_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication with a watermark:
    ``dropDuplicatesWithinWatermark`` keeps per-key state only inside the
    watermark horizon (bounded state — the streaming twin of exact dedup;
    unbounded ``dropDuplicates`` state would grow forever at 100 TB/day).
    Keyed on the event's JSON payload value as a stand-in content key."""
    ev = streaming_events(spark, sf_dir)
    keyed = ev.withColumn(
        "content_key", F.get_json_object("props", "$.k").cast("int")
    )
    deduped = (
        keyed.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["content_key"])
    )
    return drain(deduped, "append")


def run_streaming_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-user count via the portable HLL sketch: the
    register table (reg → max rho) is a streaming aggregate in complete
    mode — max is mergeable, so state is bounded at 256 rows FOREVER,
    where streaming count(DISTINCT) is unsupported and
    dropDuplicates-then-count state grows with cardinality. The drained
    registers equal the batch registers exactly (availableNow), so the
    estimate admits a FULL DuckDB oracle — a value-checked streaming
    query, like streaming_static_join."""
    ev = streaming_events(spark, sf_dir)
    reg, rho = hll_register_cols(F.col("user_id").cast("string"))
    regs = (
        ev.select(reg.alias("reg"), rho.alias("rho"))
        .groupBy("reg")
        .agg(F.max("rho").alias("mx"))
    )
    return hll_estimate_from_registers(drain(regs, "complete"))


@query(
    "streaming_hll_distinct",
    oracle=f"""
WITH h AS (
  SELECT md5(CAST(user_id AS VARCHAR)) AS hx FROM events
),
r AS (
  SELECT {HLL_REG_SQL} AS reg,
         {HLL_RHO_SQL} AS rho
  FROM h
),
m AS (
  SELECT reg, MAX(rho) AS mx FROM r GROUP BY reg
),
s AS (
  SELECT {HLL_SUM_SQL}
  FROM m
)
SELECT CAST(256 - zeros AS BIGINT) AS nonzero_registers,
       {HLL_EST_SQL} AS hll_est
FROM s
""",
    tags=("streaming", "sketch", "hll"),
)
def streaming_hll_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Registry entry: bounded-state streaming distinct-count. The
    256-row register aggregate is the ONLY streaming state; the final
    harmonic estimate runs batch-side over the drained memory table.
    Full value oracle (DuckDB recomputes the identical registers from
    the identical md5 hashes — availableNow makes the drain
    batch-equivalent); stream-equals-batch is additionally pinned in
    tests/test_streaming.py."""
    return run_streaming_hll(spark, sf)


def run_streaming_quantile_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming QUANTILE estimation with bounded state: the
    fixed-width histogram (value-cents DIV 100 → ≤ ~500 buckets on
    this value range) is a complete-mode streaming aggregate — counts
    are mergeable, so state is bounded by the value range / width
    FOREVER, where exact streaming percentiles would buffer every row.
    The drained histogram equals the batch histogram (availableNow),
    and the p50/p90/p99 bucket-floor reads are pure integer
    comparisons, so the whole streaming sketch admits a FULL DuckDB
    oracle — the quantile sibling of ``run_streaming_hll`` (same
    design: sketch state in the stream, estimate batch-side)."""
    ev = streaming_events(spark, sf_dir)
    hist = (
        ev.select(
            F.expr(
                "CAST(round(value * 100) AS BIGINT) DIV 100"
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    from pyspark.sql import Window

    b = drain(hist, "complete")
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    total = b.agg(F.sum("n").alias("total"))
    c = b.select(
        "bucket", "n", F.sum("n").over(w).alias("cum")
    ).crossJoin(F.broadcast(total))

    def floor_at(num: int, den: int, alias: str):
        return (
            F.min(
                F.when(
                    F.col("cum") * den >= F.col("total") * num,
                    F.col("bucket"),
                )
            )
            * 100
        ).cast("long").alias(alias)

    return c.agg(
        floor_at(1, 2, "p50_floor_cents"),
        floor_at(9, 10, "p90_floor_cents"),
        floor_at(99, 100, "p99_floor_cents"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
    )


@query(
    "streaming_quantile_histogram",
    oracle="""
WITH b AS (
  SELECT CAST(round(value * 100) AS BIGINT) // 100 AS bucket,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY bucket
),
c AS (
  SELECT bucket, n,
         SUM(n) OVER (ORDER BY bucket) AS cum,
         (SELECT SUM(n) FROM b) AS total
  FROM b
)
SELECT CAST((SELECT MIN(bucket) FROM c
             WHERE cum * 2 >= total) * 100 AS BIGINT) AS p50_floor_cents,
       CAST((SELECT MIN(bucket) FROM c
             WHERE cum * 10 >= total * 9) * 100 AS BIGINT)
         AS p90_floor_cents,
       CAST((SELECT MIN(bucket) FROM c
             WHERE cum * 100 >= total * 99) * 100 AS BIGINT)
         AS p99_floor_cents,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS n_buckets
""",
    tags=("streaming", "sketch", "quantile", "histogram"),
)
def streaming_quantile_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Registry entry: bounded-state streaming quantiles (see
    :func:`run_streaming_quantile_histogram`). Full value oracle —
    DuckDB recomputes the identical integer histogram and bucket-floor
    reads; stream-equals-batch is additionally pinned in
    tests/test_streaming.py."""
    return run_streaming_quantile_histogram(spark, sf)


def run_streaming_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC bar construction (:func:`ohlc_bars`): all four OHLC
    aggregates are MERGEABLE, so complete-mode state is
    |series|×|hours| rows and the drained bars equal the batch bars
    exactly (availableNow), giving a streaming query a FULL value
    oracle."""
    bars = ohlc_bars(streaming_events(spark, sf_dir))
    return drain(bars, "complete").orderBy("event_type", "bar")


@query(
    "streaming_ohlc_bars",
    oracle=OHLC_ORACLE,
    tags=("streaming", "ohlc", "finance"),
)
def streaming_ohlc_bars(spark: SparkSession, sf: str) -> DataFrame:
    """Registry entry: streaming OHLC bars with bounded complete-mode
    state (see :func:`run_streaming_ohlc`); full value oracle — the
    batch ``ohlc_bars_hourly`` oracle applies verbatim because every
    OHLC aggregate is mergeable and availableNow drains
    batch-equivalently."""
    return run_streaming_ohlc(spark, sf)
