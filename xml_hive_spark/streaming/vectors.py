"""Streaming VECTOR ingest: embeddings arriving as files are assigned
to their nearest IVF centroid in-flight — the write path of a live ANN
index (the read path is ``operators/ann_index.py``'s persisted
build/search split): at 100 TB a vector corpus is not re-clustered per
batch; new vectors are routed to the EXISTING coarse structure and the
per-list counts (the index's fill-factor telemetry) update as a
bounded complete-mode aggregate (k rows forever).

FULL value oracle since r10: the r9 "seeded k-means isn't
SQL-expressible" blocker went stale the moment the coarse trainer
became md5-48-initialized and integer-exact — the DuckDB twin replays
the centroids via the shared coarse CTEs and the stream's euclidean
routing rule. Stream-equals-batch assignment stays pinned exactly in
tests/test_streaming.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xml_hive_spark.operators import query, t
from xml_hive_spark.session import scratch_dir
from xml_hive_spark.streaming import drain


def stage_embedding_chunks(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> str:
    """Write the embeddings table into n parquet files in a landing dir
    (the at-least-once file-arrival pattern of the other streaming
    harnesses)."""
    landing = scratch_dir("vec-landing-")
    emb = t(spark, sf_dir, "embeddings")
    emb.repartition(n_files).write.mode("overwrite").parquet(landing)
    return landing


def assign_clusters(df: DataFrame, centroids: np.ndarray) -> DataFrame:
    """Nearest-centroid assignment as an Arrow-batched pandas UDF over
    the broadcast (k, dim) centroid matrix — one einsum per batch.

    The index's centroids are 2^20-QUANTIZED INTEGERS since r9, so the
    incoming vectors are quantized to the SAME scale before the
    Euclidean argmin — mixing unit-scale floats with 2^20-scale
    centroids would let the ||c||^2 term dominate and degenerate the
    routing to argmin-by-centroid-magnitude (caught in the r9 review of
    the integer-centroid change; the stream-equals-batch twin shares
    this function, so only a metric-level check could see it). All
    integer arithmetic -> assignment is exact and
    parallelism-independent."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    from xml_hive_spark.operators.similarity import _quantize20

    c = np.asarray(centroids, dtype=np.int64)
    c_norm2 = (c * c).sum(axis=1)

    @pandas_udf(IntegerType())
    def nearest(col: pd.Series) -> pd.Series:
        x = _quantize20(np.stack(col.to_numpy()).astype(np.float64))
        d = c_norm2[None, :] - 2 * (x @ c.T)  # + ||x||² is rank-free
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    return df.withColumn("cluster", nearest(F.col("embedding")))


def run_streaming_vector_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from xml_hive_spark.operators.ann_index import ivf_pq_index

    idx = ivf_pq_index(spark, sf_dir)
    landing = stage_embedding_chunks(spark, sf_dir)
    schema = t(spark, sf_dir, "embeddings").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(landing)
    )
    counts = (
        assign_clusters(stream, idx.centroids)
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.min("vec_id").cast("long").alias("min_vec_id"),
        )
    )
    return drain(counts, "complete")


def _vector_ingest_oracle() -> str:
    """DuckDB twin (r10 — the stale 'seeded k-means isn't
    SQL-expressible' blocker fell when the coarse trainer went md5-48 +
    integer-exact in r9): replay the coarse centroids via the SHARED
    :func:`_coarse_ctes` prefix, then the stream's EUCLIDEAN routing
    rule — argmin(||c||² − 2·q·c), the ||q||²-free form
    ``assign_clusters`` uses, ties → lowest cluster — and the
    complete-mode per-list telemetry aggregate. The stream drains with
    availableNow, so its final complete-mode table equals this batch
    replay exactly (stream-equals-batch stays pinned in
    tests/test_streaming.py)."""
    from xml_hive_spark.operators.similarity import _coarse_ctes

    # the final-centroid CTE is named c{iters} by _coarse_ctes; derive
    # it from the SAME parameter so a default change cannot silently
    # leave this oracle joining a stale iteration (ADVICE r10)
    iters = 3
    return _coarse_ctes(iters=iters) + f""",
ea AS (
  SELECT vec_id, cluster FROM (
    SELECT s.vec_id, s.cluster,
           row_number() OVER (
             PARTITION BY s.vec_id
             ORDER BY n.ss - 2 * s.dt, s.cluster) AS rn
    FROM (SELECT v.vec_id, c.cluster, SUM(v.q * c.c) AS dt
          FROM qv v JOIN c{iters} c ON c.d = v.d
          GROUP BY v.vec_id, c.cluster) s
    JOIN (SELECT cluster, SUM(c * c) AS ss
          FROM c{iters} GROUP BY cluster) n
      ON n.cluster = s.cluster) x
  WHERE rn = 1
)
SELECT CAST(cluster AS INT) AS cluster,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(min(vec_id) AS BIGINT) AS min_vec_id
FROM ea GROUP BY cluster"""


@query("streaming_vector_ingest",
       oracle=_vector_ingest_oracle(),
       tags=("streaming", "ann", "ivf", "ingest"))
def streaming_vector_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """Registry entry: streaming nearest-centroid routing into the
    persisted IVF structure with bounded complete-mode state (k rows);
    see module docstring. FULL value oracle since r10
    (:func:`_vector_ingest_oracle`); stream-equals-batch stays pinned
    in tests."""
    return run_streaming_vector_ingest(spark, sf)
