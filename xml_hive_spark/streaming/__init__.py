"""Structured Streaming surface.

The reference is batch-only (``FileInputFormat``,
AvroFromXmlInputFormat.scala:15); streaming is part of this engine's
extension scope (SURVEY.md §2.B last row, §7 M6). The batch twins of
these operators (same ``F.window`` / ``session_window`` expressions) live
in ``operators/timeseries.py`` with DuckDB oracles; here the same plans
run under ``readStream`` → ``writeStream``, proven equal to batch in
tests/test_streaming.py.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from xml_hive_spark.session import scratch_dir

# Seconds a bounded ``availableNow`` drain may run before it is stopped.
DRAIN_TIMEOUT_S = 180


def finish(q: StreamingQuery) -> None:
    """Wait for an ``availableNow`` query to end; stop it and raise
    ``TimeoutError`` if it is still running after ``DRAIN_TIMEOUT_S``."""
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"availableNow drain did not finish within {DRAIN_TIMEOUT_S}s"
        )


def drain(df: DataFrame, mode: str) -> DataFrame:
    """Run streaming ``df`` to completion into a memory sink in output
    ``mode`` and return the table it wrote.

    The ``availableNow`` trigger drains everything queued exactly once,
    so over a finite input the result equals the batch twin. The sink's
    temp view is dropped once the result is resolved, so no query leaves
    a table in the session catalog."""
    spark = df.sparkSession
    name = f"drain_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", scratch_dir("ckpt-"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        finish(q)
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


from xml_hive_spark.streaming.windowed import (  # noqa: E402,F401
    run_streaming_event_counts,
    streaming_events,
)
