"""Late-data semantics under a watermark, value-checked end to end.

The scenario every watermark exists for: a replayed/delayed upstream
delivers rows days after their event time. Here the final micro-batch
carries "ghost" rows — day-1 events re-sent with corrupted values —
after the watermark has advanced past day 28 and the day-1 window was
already emitted and evicted. Engine behavior is fully deterministic in
this controlled availableNow setup:

- ghost rows targeting EVICTED windows are DROPPED by the stateful
  aggregation's late-row filter (numRowsDroppedByWatermark) — their
  corrupted values must not contaminate any emitted window, and append
  mode must never re-emit an already-final window;
- append mode emits exactly the windows whose end <= final watermark —
  the trailing partial day is withheld.

Both behaviors are encoded in the DuckDB oracle (ghosts excluded by
construction, the window-completion cutoff re-derived from max(ts)), so
the driver hash-checks watermark semantics — not just row counts.

Scale note: state is one (window, event_type) aggregate per live
window; the watermark bounds live windows, so state is O(horizon), and
the late-row filter runs before state lookup (dropped rows never touch
the store).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from xml_hive_spark.operators import query
from xml_hive_spark.session import scratch_dir
from xml_hive_spark.streaming import drain
from xml_hive_spark.streaming.stateful import _epoch_us

_STAGED = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),  # staged epoch-micros
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def stage_late_data(spark: SparkSession, sf_dir: str) -> str:
    """THREE time-ordered files: [0] days 1-25, [1] days 25-28, [2] the
    rest PLUS ghost replays of the earliest day with values shifted
    +1000 (so any leak is a value-hash failure, not a silent count
    bump).

    Why three: Spark's aggregation drops a late row only once the
    watermark has passed its window AND the window's state was evicted
    at a prior batch boundary — a late row whose window is still live
    merges (measured on this engine; the docs' "dropped" wording is
    best-effort). File [1] advances the watermark past day 25 and its
    batch boundary evicts+emits the day-1..23 windows, so file [2]'s
    day-1 ghosts deterministically hit the evicted-window path and are
    dropped (observable as numRowsDroppedByWatermark)."""
    from xml_hive_spark.operators import t as load

    out = scratch_dir("late-")
    ev = load(spark, sf_dir, "events").select(
        "event_id", _epoch_us("ts").alias("ts"), "event_type", "value"
    )
    cutoff = ev.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    day_us = 86_400_000_000
    split1 = int(cutoff["lo"]) + 25 * day_us
    split2 = int(cutoff["lo"]) + 28 * day_us
    ghosts_end = int(cutoff["lo"]) + 1 * day_us
    ghosts = (
        ev.filter(F.col("ts") < ghosts_end)
        .withColumn("value", F.col("value") + 1000.0)
        .withColumn("event_id", F.col("event_id") + 10_000_000)
    )
    parts = [
        ev.filter(F.col("ts") < split1),
        ev.filter((F.col("ts") >= split1) & (F.col("ts") < split2)),
        ev.filter(F.col("ts") >= split2).unionAll(ghosts),
    ]
    for i, part in enumerate(parts):
        pdir = os.path.join(out, f"chunk={i}")
        part.coalesce(1).write.parquet(pdir)
        for root, _, files in os.walk(pdir):
            for fn in files:
                os.utime(os.path.join(root, fn), (1_000_000 + i,) * 2)
    return out


def run_streaming_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    staged = stage_late_data(spark, sf_dir)
    raw = (
        spark.readStream.schema(_STAGED)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(staged)
    )
    ev = raw.withColumn("ts", F.timestamp_micros(F.col("ts")))
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        )
        .select(
            F.col("w.start").cast("date").alias("day"), "event_type", "n", "cents"
        )
    )
    return drain(agg, "append").orderBy("day", "event_type")


@query(
    "streaming_late_data_drop",
    oracle="""
WITH m AS (SELECT max(ts) AS hi FROM events)
SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events, m
GROUP BY day, event_type, m.hi
HAVING CAST(day AS TIMESTAMP) + INTERVAL 1 DAY
         <= m.hi - INTERVAL 1 HOUR
ORDER BY day, event_type
""",
    tags=("streaming", "watermark", "late-data"),
)
def streaming_late_data_drop(spark: SparkSession, sf: str) -> DataFrame:
    """Per-day per-type counts after streaming with ghost late replays:
    the oracle is the plain batch aggregate over the ORIGINAL events
    only (ghosts dropped by the watermark) restricted to windows closed
    by the final watermark (append-mode completion rule). A leaked
    ghost fails the value hash (+1000 value shift); a mis-emitted
    trailing window fails the row count."""
    return run_streaming_late_data(spark, sf)
