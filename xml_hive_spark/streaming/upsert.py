"""Streaming CDC upsert: foreachBatch MERGE into a versioned parquet
state — the lakehouse streaming-ingest pattern (Structured Streaming
has no native UPDATE sink; every Delta/Iceberg streaming upsert is
foreachBatch + MERGE underneath).

Each micro-batch is reduced to its latest change per key, then merged
last-write-wins (event time, event id as tie-break) into the current
state snapshot; the snapshot is rewritten to a NEW versioned directory
per batch (atomic swap semantics — readers of version N never see a
half-written N+1, the same publish discipline as the ANN index
artifact). Because the merge key order is (ts, event_id) — total and
data-derived — the final state is independent of batch boundaries and
arrival order, so it equals the batch "latest event per user" query and
carries a FULL DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xml_hive_spark.operators import query
from xml_hive_spark.session import scratch_dir
from xml_hive_spark.streaming import finish


def _latest_per_key(df: DataFrame) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def stage_event_chunks(spark: SparkSession, sf_dir: str, n_files: int = 4) -> str:
    """Split events into ``n_files`` time-ordered chunk files (mtimes
    force the file-source admission order) — one micro-batch each under
    maxFilesPerTrigger=1."""
    from xml_hive_spark.operators import t as load

    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    out = scratch_dir("cdc-stage-")
    probs = [i / n_files for i in range(1, n_files)]
    bounds = ev.approxQuantile("event_id", probs, 0.0) if probs else []
    lo = None
    for i in range(n_files):
        hi = bounds[i] if i < len(bounds) else None
        part = ev
        if lo is not None:
            part = part.filter(F.col("event_id") >= int(lo))
        if hi is not None:
            part = part.filter(F.col("event_id") < int(hi))
        pdir = os.path.join(out, f"chunk={i}")
        part.coalesce(1).write.parquet(pdir)
        lo = hi
        for root, _, files in os.walk(pdir):
            for fn in files:
                os.utime(os.path.join(root, fn), (1_000_000 + i, 1_000_000 + i))
    return out


def run_streaming_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    staged = stage_event_chunks(spark, sf_dir)
    schema = spark.read.option("recursiveFileLookup", "true").parquet(staged).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(staged)
    )
    state_root = scratch_dir("cdc-state-")
    current = {"path": None, "version": 0}

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        incoming = _latest_per_key(batch_df)
        if current["path"] is not None:
            prior = batch_df.sparkSession.read.parquet(current["path"])
            incoming = _latest_per_key(prior.unionByName(incoming))
        current["version"] += 1
        new_path = os.path.join(state_root, f"v{current['version']}")
        incoming.write.mode("overwrite").parquet(new_path)
        current["path"] = new_path

    q = (
        raw.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", scratch_dir("ckpt-"))
        .trigger(availableNow=True)
        .start()
    )
    finish(q)
    return (
        spark.read.parquet(current["path"])
        .select(
            "user_id",
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
            F.col("ts").alias("last_ts"),
        )
        .orderBy("user_id")
    )


@query(
    "streaming_cdc_upsert",
    oracle="""
SELECT user_id,
       event_type AS last_type,
       value AS last_value,
       ts AS last_ts
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
             ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
ORDER BY user_id
""",
    tags=("streaming", "cdc", "upsert", "foreachBatch"),
)
def streaming_cdc_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """Registry entry: 4 micro-batches of event changes upserted
    last-write-wins into a versioned parquet state via foreachBatch;
    the final state must equal DuckDB's batch latest-event-per-user
    window — a FULL value oracle over a streaming-maintained table.
    State-version monotonicity and batch-boundary independence are
    additionally pinned in tests/test_streaming.py."""
    return run_streaming_cdc_upsert(spark, sf)
