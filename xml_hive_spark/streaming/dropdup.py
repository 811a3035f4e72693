"""Exactly-once streaming ingestion under file replay: watermarked
dropDuplicates.

The bronze-layer reality this models: an at-least-once delivery system
lands the same file (or the same rows) more than once, and the stream
must be idempotent. Here the events table is staged TWICE into a
landing directory; the stream reads both copies, drops duplicates on
the event key, and the downstream aggregate must equal the plain batch
aggregate over the un-duplicated table — which is exactly what the
DuckDB oracle computes, making this the repo's only fully-oracled
stateful-streaming query.

Scale note: dedup state is keyed by event_id and lives in the state
store partitioned by key (RocksDB at real scale); the watermark bounds
how long a key must be remembered — with it, state size is
O(keys per watermark horizon), not O(all keys ever). Late duplicates
beyond the horizon would need a silver-layer MERGE (scd2_merge) as the
backstop.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xml_hive_spark.operators import events, query
from xml_hive_spark.session import scratch_dir
from xml_hive_spark.streaming import drain


def stage_replayed_events(spark: SparkSession, sf_dir: str) -> str:
    """Copy events.parquet into a fresh landing dir twice (two distinct
    file names) — the at-least-once replay scenario."""
    landing = Path(scratch_dir("replay-"))
    src = Path(sf_dir) / "events.parquet"
    shutil.copyfile(src, landing / "events_a.parquet")
    shutil.copyfile(src, landing / "events_b.parquet")
    return str(landing)


def run_streaming_dropdup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the doubled landing dir, dropDuplicates on event_id under
    a watermark, drain with availableNow into a memory sink, and return
    the per-type aggregate of the deduplicated rows."""
    landing = stage_replayed_events(spark, sf_dir)
    raw = events(spark, sf_dir, lambda r: r.parquet(landing))
    deduped = raw.withWatermark("ts", "2 hours").dropDuplicates(["event_id"])
    return (
        drain(deduped, "append")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        )
        .orderBy("event_type")
    )


@query(
    "streaming_dropdup_exactly_once",
    oracle="""
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    tags=("streaming", "dedup", "exactly-once"),
)
def streaming_dropdup_exactly_once(spark: SparkSession, sf: str) -> DataFrame:
    """Per-type count/sum after streaming the events table REPLAYED
    TWICE through watermarked dropDuplicates — correct exactly-once
    semantics make the doubled input invisible, so the oracle is the
    plain batch aggregate over the single-copy table."""
    return run_streaming_dropdup(spark, sf)
