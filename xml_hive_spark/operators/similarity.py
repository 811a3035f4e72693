"""Similarity search over the ``embeddings`` table (array<float>, dim 64).

Two paths per BASELINE.md north_star:
- brute-force cosine top-k — exact baseline, all JVM-side higher-order
  array functions (no Python in the row path);
- LSH-bucketed approximate top-k — the scale path: random-hyperplane
  signatures shrink the candidate join from O(Q·N) to O(Q·bucket).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xml_hive_spark.operators import fan_out, payload_side, query, t, table_rows


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def _q20col(x):
    """floor(x · 2^20) as BIGINT — the JVM-expression twin of
    :func:`_quantize20` (exact: a float32 value scaled by a power of
    two then floored is the same integer in every engine)."""
    return F.floor(x.cast("double") * F.lit(1048576.0)).cast("long")


def _dot_q(a, b):
    """Exact integer dot of two float vectors after 2^20 quantization —
    associative BIGINT sums, so the JVM fold and a SQL SUM over the
    dimension range produce the identical value."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: _q20col(x) * _q20col(y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _norm_q(a):
    """sqrt of the exact integer sum of squared quantized entries."""
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0).cast("long"),
            lambda acc, x: acc + _q20col(x) * _q20col(x),
        ).cast("double")
    )


@query(
    "cosine_topk_bruteforce",
    oracle="""
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
n AS (SELECT vec_id AS nid, embedding AS ne FROM embeddings),
pairs AS (
  SELECT qid, nid,
         round(
           (SELECT sum(CAST(qe[i + 1] AS DOUBLE) * CAST(ne[i + 1] AS DOUBLE))
            FROM range(64) r(i))
           / (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(ne, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
           4) AS cos_sim
  FROM q, n WHERE qid <> nid
)
SELECT qid, nid, cos_sim, rank FROM (
  SELECT qid, nid, cos_sim,
         row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank
  FROM pairs) x
WHERE rank <= 5
""",
    tags=("similarity", "ann", "array"),
)
def cosine_topk_bruteforce(spark: SparkSession, sf: str) -> DataFrame:
    """Exact cosine top-5 neighbors for query vectors (vec_id < 5).

    Plan: broadcast the (tiny) query side against the full corpus — a
    broadcast nested-loop whose cost is linear in corpus size; the per-query
    top-k is a ranking window partitioned by query (no global sort). This is
    the exact-scan baseline ANN variants are measured against."""
    emb = t(spark, sf, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
        )
    )
    n = fan_out(emb).select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("ne")
    )
    pairs = q.crossJoin(n).filter(F.col("qid") != F.col("nid"))
    cos = F.round(
        _dot(F.col("qe"), F.col("ne")) / (_norm(F.col("qe")) * _norm(F.col("ne"))), 4
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "nid")
    return (
        pairs.select("qid", "nid", cos.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )


def hyperplane_buckets(df: DataFrame, id_col: str, vec_col: str, n_planes: int = 8,
                       dim: int = 64) -> DataFrame:
    """Sign-random-projection bucket id per vector, shipped as literal
    JVM expressions — no Python UDF. PORTABLE since r9: planes are the
    md5-Rademacher ±1 vectors (prefixed ``lsh_`` so this 8-plane table
    is independent of the banded family's), and the projection runs on
    2^20-quantized INTEGER entries, so every sign bit is exact and the
    bucket id replays verbatim in SQL."""
    import hashlib

    bucket = F.lit(0)
    for p in range(n_planes):
        signs = [
            1 if int(hashlib.md5(f"lsh_{p}_{d}".encode())
                     .hexdigest()[0], 16) % 2 == 1 else -1
            for d in range(dim)
        ]
        plane = F.array(*[F.lit(s).cast("long") for s in signs])
        proj = F.aggregate(
            F.zip_with(F.col(vec_col), plane, lambda x, s: _q20col(x) * s),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj >= 0, F.lit(1 << p)).otherwise(0)
    return df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
                     bucket.alias("bucket"))


@query(
    "cosine_topk_lsh",
    oracle="""
WITH qv AS (
  SELECT vec_id, t.d,
         CAST(floor(CAST(embedding[t.d + 1] AS DOUBLE) * 1048576.0)
              AS BIGINT) AS q
  FROM embeddings CROSS JOIN range(0, 64) t(d)
),
planes AS (
  SELECT p.p, d.d,
         CASE WHEN CAST('0x' || substr(md5('lsh_' || CAST(p.p AS VARCHAR)
                    || '_' || CAST(d.d AS VARCHAR)), 1, 1) AS INT) % 2 = 1
              THEN 1 ELSE -1 END AS s
  FROM range(0, 8) p(p) CROSS JOIN range(0, 64) d(d)
),
proj AS (
  SELECT v.vec_id, pl.p, SUM(v.q * pl.s) AS pr
  FROM qv v JOIN planes pl ON pl.d = v.d
  GROUP BY v.vec_id, pl.p
),
bk AS (
  SELECT vec_id,
         SUM(CASE WHEN pr >= 0 THEN 1 << p ELSE 0 END) AS bucket
  FROM proj GROUP BY vec_id
),
ssq AS (SELECT vec_id, SUM(q * q) AS ss FROM qv GROUP BY vec_id),
pairs AS (
  SELECT a.vec_id AS qid, b.vec_id AS nid
  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
  WHERE a.vec_id < 5
),
dots AS (
  SELECT p.qid, p.nid, SUM(x.q * y.q) AS dq
  FROM pairs p JOIN qv x ON x.vec_id = p.qid
               JOIN qv y ON y.vec_id = p.nid AND y.d = x.d
  GROUP BY p.qid, p.nid
),
ranked AS (
  SELECT d.qid, d.nid,
         round(CAST(d.dq AS DOUBLE)
               / (sqrt(CAST(sa.ss AS DOUBLE)) * sqrt(CAST(sb.ss AS DOUBLE))),
               4) AS cos_sim,
         row_number() OVER (
           PARTITION BY d.qid
           ORDER BY CAST(d.dq AS DOUBLE)
                    / (sqrt(CAST(sa.ss AS DOUBLE))
                       * sqrt(CAST(sb.ss AS DOUBLE))) DESC, d.nid) AS rnk
  FROM dots d
  JOIN ssq sa ON sa.vec_id = d.qid
  JOIN ssq sb ON sb.vec_id = d.nid
)
SELECT qid, nid, cos_sim, CAST(rnk AS INT) AS rank
FROM ranked WHERE rnk <= 5
""",
    tags=("similarity", "ann", "lsh"),
)
def cosine_topk_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate cosine top-5 via random-hyperplane LSH (8 planes → 256
    buckets): candidates only within the query's bucket, then exact cosine
    + ranking window. Recall vs the brute-force baseline is asserted in
    tests/test_similarity.py.

    FULL value oracle since r9: md5-Rademacher planes over quantized
    integer entries (see :func:`hyperplane_buckets`) make the bucket
    ids exact, and the quantized cosine (ratio of exact int64
    aggregates via :func:`_dot_q`/:func:`_norm_q`) gives bit-identical
    ordering in both engines."""
    emb = t(spark, sf, "embeddings")
    bucketed = hyperplane_buckets(fan_out(emb), "vec_id", "embedding")
    q = F.broadcast(
        bucketed.filter(F.col("id") < 5).select(
            F.col("id").alias("qid"), F.col("vec").alias("qe"), F.col("bucket").alias("qb")
        )
    )
    n = bucketed.select(
        F.col("id").alias("nid"), F.col("vec").alias("ne"), F.col("bucket").alias("nb")
    )
    pairs = q.join(n, (F.col("qb") == F.col("nb")) & (F.col("qid") != F.col("nid")))
    cos_exact = _dot_q(F.col("qe"), F.col("ne")) / (
        _norm_q(F.col("qe")) * _norm_q(F.col("ne"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_raw").desc(), "nid")
    return (
        pairs.select("qid", "nid", cos_exact.alias("cos_raw"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("qid", "nid", F.round("cos_raw", 4).alias("cos_sim"), "rank")
    )


@query(
    "embedding_label_centroids",
    oracle="""
SELECT label, count(*) AS n,
       CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1048576.0) AS BIGINT)) AS BIGINT)
           / 1048576.0 / count(*) AS centroid_d0,
       CAST(sum(CAST(floor(CAST(embedding[2] AS DOUBLE) * 1048576.0) AS BIGINT)) AS BIGINT)
           / 1048576.0 / count(*) AS centroid_d1,
       CAST(sum(CAST(floor(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))
                * 1048576.0) AS BIGINT)) AS BIGINT) / 1048576.0 / count(*) AS avg_vec_sum
FROM embeddings GROUP BY label
""",
    tags=("similarity", "agg", "array"),
)
def embedding_label_centroids(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label centroid components — the aggregate shape of IVF
    coarse-quantizer training (k-means assignment step), expressed as a
    plain hash-agg over array elements."""
    emb = t(spark, sf, "embeddings")

    def q20(col):
        # floor(x * 2^20): power-of-two scaling is exact in IEEE doubles, so
        # the quantized integers (and their sums) match any engine bit-for-bit
        return F.floor(col * F.lit(1048576.0)).cast("long")

    vec_sum = F.aggregate("embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double"))
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(q20(F.element_at("embedding", 1).cast("double"))) / F.lit(1048576.0)
         / F.count(F.lit(1))).alias("centroid_d0"),
        (F.sum(q20(F.element_at("embedding", 2).cast("double"))) / F.lit(1048576.0)
         / F.count(F.lit(1))).alias("centroid_d1"),
        (F.sum(q20(vec_sum)) / F.lit(1048576.0) / F.count(F.lit(1))).alias("avg_vec_sum"),
    )


_Q20 = 1048576.0  # 2^20 vector quantization for exact cross-engine math


def _rademacher_planes(n_planes: int, dim: int = 64):
    """Deterministic ±1 projection planes: sign(p, d) = +1 iff the first
    md5 hex digit of ``"{p}_{d}"`` is odd. Replayable verbatim in SQL
    (``substr(md5(p || '_' || d), 1, 1)`` parity), unlike the seeded
    numpy Gaussians they replaced (r9 — the one thing keeping the
    sign-LSH family rows-only). Rademacher projections satisfy the same
    sign-LSH collision bound as Gaussians (Achlioptas 2001: ±1 entries
    are a valid database-friendly random projection). Cached per shape;
    returns (dim, n_planes) int64."""
    import hashlib

    import numpy as np

    key = (n_planes, dim)
    cached = _rademacher_planes.__dict__.get(key)
    if cached is None:
        cached = np.array(
            [
                [
                    1 if int(hashlib.md5(f"{p}_{d}".encode())
                             .hexdigest()[0], 16) % 2 == 1 else -1
                    for p in range(n_planes)
                ]
                for d in range(dim)
            ],
            dtype=np.int64,
        )
        _rademacher_planes.__dict__[key] = cached
    return cached


def _quantize20(m):
    """floor(v · 2^20) as int64 — exact in float64 (pure exponent shift
    of a float32 value) and identical to SQL's
    ``CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT)``."""
    import numpy as np

    return np.floor(np.asarray(m, dtype=np.float64) * _Q20).astype(np.int64)


def banded_signatures(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bands: int = 12,
    rows_per_band: int = 3,
    dim: int = 64,
) -> DataFrame:
    """Banded sign-random-projection signatures: ``bands`` independent
    hash tables of ``rows_per_band`` hyperplanes each (the OR-of-ANDs
    construction MinHash-LSH uses for Jaccard, here for angular
    similarity). A pair collides when ALL bits of ANY band agree:
    recall = 1-(1-p^r)^B with p = 1-θ/π, so cos 0.25 → ~0.93 and true
    near-dups (cos ≥ 0.9) → >0.9999 at B=12, r=3.

    PORTABLE since r9: planes are md5-derived Rademacher ±1 vectors and
    the projection runs on 2^20-quantized INTEGER vector entries, so
    every sign bit is exact integer arithmetic both engines replay
    identically (a float Gaussian projection's sign can flip in the
    last ulp between summation orders; an integer one cannot). The
    signature pass is one int64 matmul per Arrow batch.
    Returns (id, vec, sig: array<int> of per-band bucket values)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    planes = _rademacher_planes(bands * rows_per_band, dim)
    weights = 1 << np.arange(rows_per_band)

    @pandas_udf("array<int>")
    def sig(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        m = _quantize20(np.stack([np.asarray(v, dtype=np.float64)
                                  for v in vecs]))
        bits = (m @ planes) >= 0  # (n, bands*rows) — exact int sums
        vals = bits.reshape(len(vecs), bands, rows_per_band) @ weights
        return pd.Series(vals.tolist())

    return fan_out(df).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        sig(F.col(vec_col)).alias("sig"),
    )


@query(
    "dedup_embedding_cosine",
    oracle="""
WITH qv AS (
  SELECT vec_id, t.d,
         CAST(floor(CAST(embedding[t.d + 1] AS DOUBLE) * 1048576.0)
              AS BIGINT) AS q
  FROM embeddings CROSS JOIN range(0, 64) t(d)
),
planes AS (
  SELECT p.p, d.d,
         CASE WHEN CAST('0x' || substr(md5(CAST(p.p AS VARCHAR) || '_'
                    || CAST(d.d AS VARCHAR)), 1, 1) AS INT) % 2 = 1
              THEN 1 ELSE -1 END AS s
  FROM range(0, 36) p(p) CROSS JOIN range(0, 64) d(d)
),
proj AS (
  SELECT v.vec_id, pl.p, SUM(v.q * pl.s) AS pr
  FROM qv v JOIN planes pl ON pl.d = v.d
  GROUP BY v.vec_id, pl.p
),
bk AS (
  SELECT vec_id, p // 3 AS band,
         SUM(CASE WHEN pr >= 0 THEN 1 << (p % 3) ELSE 0 END) AS bucket
  FROM proj GROUP BY vec_id, p // 3
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
                      AND a.vec_id < b.vec_id
),
ssq AS (SELECT vec_id, SUM(q * q) AS ss FROM qv GROUP BY vec_id),
dots AS (
  SELECT c.id_a, c.id_b, SUM(x.q * y.q) AS dq
  FROM cand c JOIN qv x ON x.vec_id = c.id_a
              JOIN qv y ON y.vec_id = c.id_b AND y.d = x.d
  GROUP BY c.id_a, c.id_b
)
SELECT d.id_a, d.id_b,
       CAST(d.dq AS DOUBLE)
         / (sqrt(CAST(sa.ss AS DOUBLE)) * sqrt(CAST(sb.ss AS DOUBLE)))
         AS cos_sim
FROM dots d
JOIN ssq sa ON sa.vec_id = d.id_a
JOIN ssq sb ON sb.vec_id = d.id_b
WHERE CAST(d.dq AS DOUBLE)
        / (sqrt(CAST(sa.ss AS DOUBLE)) * sqrt(CAST(sb.ss AS DOUBLE))) > 0.25
""",
    tags=("similarity", "dedup"),
)
def dedup_embedding_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the semantic-dedup stage of
    an LLM data pipeline) over the FULL corpus — no id bound.

    Candidate generation is banded hyperplane LSH (``banded_signatures``):
    per band, vectors shuffle on (band, bucket) and only same-bucket
    pairs join — O(sum of bucket^2) work instead of the O(N^2) all-pairs
    self-join, which is what survives a 100x corpus. Candidates seen in
    several bands are deduplicated by key BEFORE the exact-cosine verify,
    so each surviving pair pays the dot product once. The verify step is
    exact, so every emitted pair truly exceeds the threshold (no false
    positives; recall vs the exact pair set is asserted in
    tests/test_similarity.py).

    FULL value oracle since r9: the planes are md5-derived Rademacher
    vectors, the sign bits are exact integer sums over 2^20-quantized
    entries, and the verify cosine is a ratio of exact integer
    aggregates — every stage replays verbatim in SQL, so the driver
    hash-checks candidate generation AND the verify (see
    banded_signatures / cosine_pair_kernel).

    Round-8 reshape (measured 6.38 → 2.32 s at sf0.1, identical rows):
    the candidate phase moves IDS ONLY — the earlier version carried
    both 64-float vectors through the (band, bucket) self-join exchange
    AND the cross-band dedupe (via first()-aggregates), ~60× the bytes
    of an id pair; vectors now attach exactly once per SURVIVING pair
    (the ``ann_join_topk`` candidate discipline). The signature table
    is persisted (double-sided self-join would otherwise run the
    signature UDF once per side — the signature-store pattern), and the
    exact-cosine verify is one numpy einsum per Arrow batch
    (:func:`cosine_pair_kernel`) instead of a ~200-step interpreted
    JVM fold per pair.

    Skewed buckets (near-constant corpora) can salt the bucket id with a
    low-cardinality shard key, trading a per-shard re-join — the standard
    skew remedy (tests/test_skew.py shows the pattern).

    SCALE DISPOSITION (r11 10x probe, SCALE.md §r11): measured runtime
    exponent 1.50 — but the OUTPUT exponent is 2.00 exactly (41,744 ->
    4,182,594 pairs at 10x): at θ=0.25 on this corpus's near-Gaussian
    cosine distribution ~2% of ALL pairs qualify, so the emitted pair
    set itself is quadratic and runtime is SUBLINEAR in its own output.
    This is a property of the low threshold, not of the plan; the
    banding (12x3) is the tuned recall point for θ=0.25 (raising r to
    shrink buckets collapses recall: p=0.58 per plane -> 0.58^7 per
    band). Production semantic dedup runs θ >= 0.85, where output is
    sparse and the same plan is candidate-bound — that regime is what
    ``ann_join_topk`` (adaptive banding, linear-at-scale) demonstrates."""
    return embedding_cosine_pairs(t(spark, sf, "embeddings"),
                                  "vec_id", "embedding", 0.25,
                                  n=table_rows(sf, "embeddings"),
                                  vec_path=f"{sf}/embeddings.parquet")


def embedding_cosine_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    bands: int = 12,
    rows_per_band: int = 3,
    n: int | None = None,
    vec_path: str | None = None,
) -> DataFrame:
    """The full banded-LSH → dedupe → attach → exact-verify pipeline of
    :func:`dedup_embedding_cosine`, parameterized on the threshold (and
    banding) so the sparse production regime (θ ≥ 0.85) is testable
    independently of the committed θ = 0.25 registry shape — the
    θ-sweep test (tests/test_similarity.py) pins that the quadratic
    growth the r11 scale probe measured at θ = 0.25 lives in the OUTPUT,
    not the plan: candidates are banding-bound and identical across θ,
    and the θ ≥ 0.85 pair set scales with the planted near-dup count.

    ``n``: caller-supplied corpus count (r13: the registry entry passes
    the parquet footer count — no scheduled job); None → count().

    ``vec_path``: the corpus parquet path, which must be the exact
    source of ``emb`` with (vec_id, embedding) columns (only the
    registry entry passes it); it lets :func:`score_candidates` side-load
    the vectors instead of attaching them to every candidate pair."""
    if n is None:
        n = emb.count()  # sizes the vector source
    sigs = banded_signatures(emb, id_col, vec_col, bands=bands,
                             rows_per_band=rows_per_band) \
        .select("id", "sig").persist()
    cand = sigs.select("id", F.posexplode("sig").alias("band", "bucket"))
    a = cand.select("band", "bucket", F.col("id").alias("id_a"))
    b = cand.select("band", "bucket", F.col("id").alias("id_b"))
    pairs = a.join(b, ["band", "bucket"]).filter(F.col("id_a") < F.col("id_b"))
    uniq = pairs.select("id_a", "id_b").distinct()
    return score_candidates(uniq, emb.select(id_col, vec_col), n, vec_path,
                            threshold=threshold)


#: Byte ceiling for the side-loaded vector table of
#: :func:`cosine_pair_kernel`. Every concurrent Python worker holds its
#: own copy, so peak memory is the cap times the worker count: 64 MB × 4
#: workers = 256 MB at local[4], one ``_ATTACH_BROADCAST_CAP`` broadcast.
_SIDELOAD_CAP = 64 << 20


def cosine_pair_kernel(pairs: DataFrame, *, threshold: float | None = None,
                       k: int | None = None,
                       vec_path: str | None = None) -> DataFrame:
    """Exact quantized cosine of candidate pairs, one mapInArrow pass with
    no exchange. ``pairs`` starts with two id columns (a, b); the output
    is (a, b, cos_sim) with the input's id names and types.

    Vector source:

    - ``vec_path=None`` (attach): columns 3 and 4 carry the two 64-float
      vectors, joined onto every pair;
    - ``vec_path`` (side-load): only the ids cross the boundary, and each
      task reads the parquet table's (vec_id, embedding) once, after its
      first non-empty batch. A missing id or a duplicate vec_id raises.

    Reducer (exactly one):

    - ``threshold``: keep the pairs with cos_sim > threshold;
    - ``k``: pairs are undirected; each is folded into BOTH endpoints'
      partition-local top-k (cosine is symmetric), phase one of the
      two-phase top-k of :func:`partial_topk_per_query`.

    Bytes: attach ships ~528 B per pair, because a vector crosses the
    JVM→Python boundary once per pair it is in; side-load ships ~16 B
    per pair plus one table read per task, bounded by
    :data:`_SIDELOAD_CAP`.

    Bit identity: both sources quantize the same float32 values through
    float64 (``t()`` pins the column to array<float>, and the side-load
    casts the parquet column to float32), so the 2^20-quantized int64
    vectors are equal. Dot products and squared norms are exact int64
    sums, and the per-row einsum/sqrt/divide expressions are the same in
    both, so every cos_sim is the same double, and the same double the
    DuckDB oracles compute."""
    import numpy as np
    import pyarrow as pa

    if (threshold is None) == (k is None):
        raise ValueError("cosine_pair_kernel: pass exactly one of threshold, k")
    cols = pairs.columns[:2] if vec_path is not None else pairs.columns[:4]
    sel = pairs.select(*cols)
    names = [*cols[:2], "cos_sim"]
    types = [f.dataType.simpleString() for f in sel.schema.fields[:2]]
    out_schema = f"{names[0]} {types[0]}, {names[1]} {types[1]}, cos_sim double"

    def fn(batches):
        table = None
        acc: dict = {}
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ca, cb = batch.column(0), batch.column(1)
            xa = ca.to_numpy(zero_copy_only=False)
            xb = cb.to_numpy(zero_copy_only=False)
            if vec_path is None:
                qa = _quantize20(_vector_matrix(batch.column(2), cols[2]))
                qb = _quantize20(_vector_matrix(batch.column(3), cols[3]))
                na = np.sqrt(np.einsum("ij,ij->i", qa, qa).astype(np.float64))
                nb = np.sqrt(np.einsum("ij,ij->i", qb, qb).astype(np.float64))
            else:
                if table is None:
                    table = _sideload_vectors(vec_path)
                vid, vmat, vnorm = table
                ia = _rows_of(vid, xa, vec_path)
                ib = _rows_of(vid, xb, vec_path)
                qa, qb, na, nb = vmat[ia], vmat[ib], vnorm[ia], vnorm[ib]
            cos = np.einsum("ij,ij->i", qa, qb).astype(np.float64) / (na * nb)
            if k is not None:
                _topk_accumulate(acc, xa, xb, cos, k)
                _topk_accumulate(acc, xb, xa, cos, k)
                arrow_types = (ca.type, cb.type, pa.float64())
            elif (m := cos > threshold).any():
                keep = pa.array(m)
                yield pa.RecordBatch.from_arrays(
                    [ca.filter(keep), cb.filter(keep), pa.array(cos[m])],
                    names=names,
                )
        if acc:
            yield _topk_batch(acc, arrow_types, names)

    return sel.mapInArrow(fn, out_schema)


def _vector_matrix(col, what: str):
    """(n, 64) float64 matrix of an Arrow list column; raises on null,
    ragged or wrong-length rows (see :func:`fixed_dim_matrix`)."""
    m = fixed_dim_matrix(col, 64)
    if m is None:
        raise ValueError(f"{what}: every vector must be non-null and 64 long")
    return m


def _sideload_vectors(vec_path: str):
    """(vec_id sorted, quantized vectors, their norms) of the parquet
    table at ``vec_path``; raises on a duplicate vec_id, which the attach
    join would have emitted once per copy."""
    import numpy as np
    import pyarrow.dataset as ds

    tab = ds.dataset(vec_path).to_table(columns=["vec_id", "embedding"])
    vid = np.asarray(tab.column("vec_id").to_numpy(zero_copy_only=False),
                     dtype=np.int64)
    m = _vector_matrix(tab.column("embedding").combine_chunks(), vec_path)
    vmat = _quantize20(m.astype(np.float32))
    order = np.argsort(vid, kind="stable")
    vid, vmat = vid[order], vmat[order]
    dup = vid[1:][vid[1:] == vid[:-1]]
    if len(dup):
        raise ValueError(f"{vec_path}: duplicate vec_id {dup[0]}")
    vnorm = np.sqrt(np.einsum("ij,ij->i", vmat, vmat).astype(np.float64))
    return vid, vmat, vnorm


def _rows_of(vid, ids, vec_path: str):
    """Row positions of ``ids`` in the sorted id array ``vid``; raises
    naming the first id that has no row."""
    import numpy as np

    pos = np.searchsorted(vid, ids)
    hit = pos < len(vid)
    hit[hit] = vid[pos[hit]] == ids[hit]
    if not hit.all():
        raise ValueError(f"{vec_path}: no vector for id {ids[~hit][0]}")
    return pos


def score_candidates(pairs: DataFrame, vecs: DataFrame, n: int,
                     vec_path: str | None, *, threshold: float | None = None,
                     k: int | None = None) -> DataFrame:
    """:func:`cosine_pair_kernel` over id pairs (a, b), with the vector
    source picked from the corpus size: side-load from ``vec_path`` while
    the table fits :data:`_SIDELOAD_CAP` (~600 B per vector) and the
    file is readable by tasks; otherwise attach (id, vector) rows of
    ``vecs`` to both ends, broadcast while small and sort-merge beyond
    (:func:`payload_side`). ``vec_path`` must hold exactly the rows of
    ``vecs`` as (vec_id, embedding); None forces attach."""
    import os

    if (vec_path is not None and vecs.columns == ["vec_id", "embedding"]
            and n * 600 <= _SIDELOAD_CAP and os.path.exists(vec_path)):
        return cosine_pair_kernel(pairs, threshold=threshold, k=k,
                                  vec_path=vec_path)
    a, b = pairs.columns
    vid, vec = vecs.columns
    side = payload_side(vecs, n * 600)
    attached = pairs.join(
        side.select(F.col(vid).alias(a), F.col(vec).alias("va")), a
    ).join(
        side.select(F.col(vid).alias(b), F.col(vec).alias("vb")), b
    ).select(a, b, "va", "vb")
    return cosine_pair_kernel(attached, threshold=threshold, k=k)


@query(
    "cosine_topk_ivf",
    oracle="""
WITH qv AS (
  SELECT e.vec_id, e.label, t.d,
         CAST(floor(CAST(e.embedding[t.d + 1] AS DOUBLE) * 1048576.0)
              AS BIGINT) AS q
  FROM embeddings e CROSS JOIN range(0, 64) t(d)
),
cent AS (
  SELECT label, d,
         (SUM(q) - ((SUM(q) % count(*)) + count(*)) % count(*))
           // count(*) AS c
  FROM qv GROUP BY label, d
),
css AS (SELECT label, SUM(c * c) AS ss FROM cent GROUP BY label),
ssq AS (SELECT vec_id, SUM(q * q) AS ss FROM qv GROUP BY vec_id),
qdotc AS (
  SELECT v.vec_id AS qid, c.label, SUM(v.q * c.c) AS dq
  FROM qv v JOIN cent c ON c.d = v.d
  WHERE v.vec_id < 5
  GROUP BY v.vec_id, c.label
),
probed AS (
  SELECT qid, label FROM (
    SELECT d.qid, d.label,
           row_number() OVER (
             PARTITION BY d.qid
             ORDER BY CAST(d.dq AS DOUBLE)
                      / (sqrt(CAST(sq.ss AS DOUBLE))
                         * sqrt(CAST(cs.ss AS DOUBLE))) DESC,
                      d.label) AS pr
    FROM qdotc d
    JOIN ssq sq ON sq.vec_id = d.qid
    JOIN css cs ON cs.label = d.label) x
  WHERE pr <= 3
),
pairs AS (
  SELECT p.qid, e.vec_id AS nid
  FROM probed p JOIN embeddings e ON e.label = p.label
  WHERE e.vec_id <> p.qid
),
dots AS (
  SELECT p.qid, p.nid, SUM(x.q * y.q) AS dq
  FROM pairs p JOIN qv x ON x.vec_id = p.qid
               JOIN qv y ON y.vec_id = p.nid AND y.d = x.d
  GROUP BY p.qid, p.nid
),
ranked AS (
  SELECT d.qid, d.nid,
         round(CAST(d.dq AS DOUBLE)
               / (sqrt(CAST(sa.ss AS DOUBLE)) * sqrt(CAST(sb.ss AS DOUBLE))),
               4) AS cos_sim,
         row_number() OVER (
           PARTITION BY d.qid
           ORDER BY CAST(d.dq AS DOUBLE)
                    / (sqrt(CAST(sa.ss AS DOUBLE))
                       * sqrt(CAST(sb.ss AS DOUBLE))) DESC, d.nid) AS rnk
  FROM dots d
  JOIN ssq sa ON sa.vec_id = d.qid
  JOIN ssq sb ON sb.vec_id = d.nid
)
SELECT qid, nid, cos_sim, CAST(rnk AS INT) AS rank
FROM ranked WHERE rnk <= 5
""",
    tags=("similarity", "ann", "ivf"),
)
def cosine_topk_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-style approximate top-5: the ``label`` column partitions the
    corpus into inverted lists; per-list centroids are computed as
    per-dimension means, each query probes its nprobe=3 nearest centroids
    and searches only those lists (candidate set = 3 lists, not the
    corpus). Exact cosine + per-query ranking window inside the probed
    lists.

    All-DataFrame composition: centroid build is one posexplode +
    hash-agg + sort-collect; probing is a broadcast query×centroid join.
    At scale the lists come from a k-means coarse quantizer and the same
    plan applies unchanged.

    FULL value oracle since r9: centroids are FLOOR-DIVIDED integer
    means of the 2^20-quantized entries (probing by cosine is
    scale-invariant, so an integer centroid ranks lists identically to
    a float one up to the 2^-20 grain — and exactly reproducibly), and
    both the probe similarity and the final cosine are ratios of exact
    int64 aggregates, bit-identical in any engine. Division-semantics
    trap (r10 fuzz finding): Spark ``DIV`` AND DuckDB's integer ``//``
    both TRUNCATE toward zero while numpy/Python ``//`` floors — so the
    Spark side floors explicitly via pmod and the SQL twin spells exact
    floor division the same way (the r9 oracle's bare ``//`` silently
    truncated negative means; see
    test_coarse_centroids_bitexact_vs_duckdb). Recall vs brute force
    stays asserted in tests/test_similarity.py."""
    emb = t(spark, sf, "embeddings")

    # per-label integer centroid: floor(sum(q20) / n) per dimension
    per_dim = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).groupBy("label", "pos").agg(
        F.expr(
            "(sum(CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT))"
            " - pmod(sum(CAST(floor(CAST(v AS DOUBLE) * 1048576.0)"
            " AS BIGINT)), count(1))) DIV count(1)"
        ).alias("c")
    )
    centroids = (
        per_dim.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("centroid")
        )
    )

    q = F.broadcast(
        emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
        )
    )
    # probe: nprobe=3 nearest centroids per query (broadcast nested loop
    # over ~#lists rows — constant-sized). Integer dot of the quantized
    # query against the already-integer centroid.
    qc = q.crossJoin(F.broadcast(centroids))
    qdotc = F.aggregate(
        F.zip_with(F.col("qe"), F.col("centroid"),
                   lambda x, c: _q20col(x) * c),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cnorm = F.sqrt(
        F.aggregate(
            F.col("centroid"), F.lit(0).cast("long"),
            lambda acc, c: acc + c * c,
        ).cast("double")
    )
    cdist = qdotc / (_norm_q(F.col("qe")) * cnorm)
    wprobe = Window.partitionBy("qid").orderBy(F.col("c_sim").desc(), "label")
    probed = (
        qc.select("qid", "qe", "label", cdist.alias("c_sim"))
        .withColumn("pr", F.row_number().over(wprobe))
        .filter(F.col("pr") <= 3)
        .select("qid", "qe", "label")
    )

    # search only the probed lists
    n = emb.select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("ne"), "label"
    )
    pairs = probed.join(n, "label").filter(F.col("qid") != F.col("nid"))
    cos_exact = _dot_q(F.col("qe"), F.col("ne")) / (
        _norm_q(F.col("qe")) * _norm_q(F.col("ne"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_raw").desc(), "nid")
    return (
        pairs.select("qid", "nid", cos_exact.alias("cos_raw"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("qid", "nid", F.round("cos_raw", 4).alias("cos_sim"), "rank")
    )


def fixed_dim_matrix(col, dim: int):
    """(n, dim) float64 matrix from an Arrow list column, or None when
    any row is null or not exactly ``dim`` long. The naive check
    ``len(flat) == n*dim`` passes for RAGGED batches whose lengths merely
    sum right (e.g. 63 + 65), silently splitting values across row
    boundaries — so row lengths are verified via the offsets buffer."""
    import numpy as np

    if col.null_count != 0:
        return None
    try:
        offs = col.offsets.to_numpy(zero_copy_only=False)
    except AttributeError:
        return None
    lens = np.diff(offs)
    if len(lens) != len(col) or not (lens == dim).all():
        return None
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64).reshape(-1, dim)


def _int_argmax_cosine(q, centroids):
    """Per-row argmax of cos(v, c) over INTEGER-quantized vectors and
    integer centroids: scores = (q @ cᵀ) / |c| — the dot is an exact
    int64 matmul and each score is one IEEE division of exact values,
    so the argmax (first-max tie rule = lowest cluster, numpy's and
    SQL's ``ORDER BY score DESC, cluster``) is identical in every
    engine. |v| is dropped (constant per row — argmax-invariant)."""
    import numpy as np

    cnorm = np.sqrt((centroids.astype(np.float64) ** 2).sum(axis=1))
    scores = (q @ centroids.T).astype(np.float64) / np.maximum(cnorm, 1e-12)
    return np.argmax(scores, axis=1)


def kmeans_assign(df: DataFrame, vec_col: str, centroids) -> DataFrame:
    """Add a ``cluster`` column: argmax cosine against the given INTEGER
    centroid matrix (numpy, shipped in the UDF closure — one
    Arrow-batched int64 matmul per batch; executors never see a
    collect). Exact arithmetic end to end (see _int_argmax_cosine)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    cents = np.asarray(centroids, dtype=np.int64)

    @pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        q = _quantize20(np.stack([np.asarray(v, dtype=np.float64)
                                  for v in vecs]))
        return pd.Series(_int_argmax_cosine(q, cents).astype("int32"))

    return df.withColumn("cluster", assign(F.col(vec_col)))


def train_kmeans_centroids(
    emb: DataFrame, vec_col: str = "embedding", k: int = 16, iters: int = 3,
    dim: int = 64,
):
    """Distributed Lloyd's iterations for the IVF coarse quantizer.

    Init: the k vectors with the smallest md5-48 of ``'km_' || vec_id``
    — deterministic, sample-free, one TakeOrdered, and (r9) replayable
    in SQL, unlike the seeded xxhash64 it replaced. Each iteration is
    ONE fused mapInArrow pass: every partition assigns its vectors
    (numpy matmul) and emits k partial rows (cluster, count, sum[dim])
    — the classic map-side-combine k-means step, so only P×k×dim
    partials cross the wire and only the k×dim centroid matrix reaches
    the driver (the MLlib communication pattern). Replaces an earlier
    posexplode → groupBy(cluster, pos) mean, which shuffled N×dim
    exploded rows per iteration — at 100 TB that shuffle IS the
    training cost; partials make it O(P·k·dim), independent of N.

    INTEGER-EXACT since r9 (the pagerank fixed-point discipline applied
    to Lloyd's): vectors are 2^20-quantized, assignment is the exact
    integer argmax-cosine (_int_argmax_cosine), partial sums are int64
    (associative — partition order cannot change them), and the update
    is a FLOOR-DIVIDED integer mean, so the same centroids fall out of
    Spark at any parallelism and of the unrolled SQL twin. Returns a
    numpy (k, dim) INT64 matrix of quantized centroids; empty clusters
    keep their previous centroid."""
    import numpy as np
    import pyarrow as pa

    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("km_"), F.col("vec_id").cast("string"))
                  .cast("binary")), 1, 12), 16, 10).cast("long")
    first = (
        emb.select(vec_col, h.alias("h"), "vec_id")
        .orderBy("h", "vec_id")
        .limit(k)
        .collect()
    )
    centroids = _quantize20(
        np.stack([np.asarray(r[0], dtype=np.float64) for r in first])
    )
    vecs = fan_out(emb.select(vec_col))

    def partials_for(cents):
        def fn(batches):
            sums = np.zeros((k, dim), dtype=np.int64)
            cnts = np.zeros(k, dtype=np.int64)
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                col = batch.column(0)
                m = fixed_dim_matrix(col, dim)
                if m is None:  # ragged/null rows: exact slow path
                    m = np.stack([
                        np.asarray(v, dtype=np.float64)
                        for v in col.to_pylist()
                    ])
                q = _quantize20(m)
                a = _int_argmax_cosine(q, cents)
                np.add.at(sums, a, q)  # means are over quantized values
                cnts += np.bincount(a, minlength=k)
            yield pa.record_batch(
                {
                    "cluster": pa.array(range(k), pa.int32()),
                    "cnt": pa.array(cnts, pa.int64()),
                    "s": pa.array(list(sums), pa.list_(pa.int64())),
                }
            )

        return vecs.mapInArrow(fn, "cluster int, cnt long, s array<long>")

    for _ in range(iters):
        rows = partials_for(centroids).collect()
        sums = np.zeros((k, dim), dtype=np.int64)
        cnts = np.zeros(k, dtype=np.int64)
        for r in rows:
            sums[r.cluster] += np.asarray(r.s, dtype=np.int64)
            cnts[r.cluster] += r.cnt
        nxt = centroids.copy()  # empty clusters keep their previous centroid
        nz = cnts > 0
        # FLOOR division (numpy // floors; DuckDB's integer // TRUNCATES
        # — the SQL twin spells exact floor via pmod, r10 fuzz finding)
        nxt[nz] = sums[nz] // cnts[nz, None]
        centroids = nxt
    return centroids


def _coarse_ctes(k: int = 16, iters: int = 3, nprobe: int = 4) -> str:
    """Shared CTE prefix replaying the coarse quantizer in SQL: md5-48
    init, unrolled integer Lloyd's (exact argmax-cosine assignment +
    floor-div centroid update, empty clusters COALESCE to the previous
    round), final corpus assignment (``afin``) and per-query probe
    lists (``probed``). Emitted verbatim into both the ivf_kmeans
    oracle and the r10 PQ oracles so the coarse replay stays ONE
    implementation."""
    body = ["""
WITH qv AS (
  SELECT vec_id, t.d,
         CAST(floor(CAST(embedding[t.d + 1] AS DOUBLE) * 1048576.0)
              AS BIGINT) AS q
  FROM embeddings CROSS JOIN range(0, 64) t(d)
),
init AS (
  SELECT vec_id, row_number() OVER (
           ORDER BY CAST('0x' || substr(md5('km_'
                    || CAST(vec_id AS VARCHAR)), 1, 12) AS BIGINT),
                    vec_id) - 1 AS cluster
  FROM embeddings QUALIFY cluster < """ + str(k) + """
),
c0 AS (
  SELECT i.cluster, v.d, v.q AS c
  FROM init i JOIN qv v ON v.vec_id = i.vec_id
)"""]
    prev = "c0"
    for it in range(1, iters + 1):
        body.append(f""",
s{it} AS (
  SELECT v.vec_id, c.cluster, SUM(v.q * c.c) AS dt
  FROM qv v JOIN {prev} c ON c.d = v.d
  GROUP BY v.vec_id, c.cluster
),
n{it} AS (SELECT cluster, SUM(c * c) AS ss FROM {prev} GROUP BY cluster),
a{it} AS (
  SELECT vec_id, cluster FROM (
    SELECT s.vec_id, s.cluster,
           row_number() OVER (
             PARTITION BY s.vec_id
             ORDER BY CAST(s.dt AS DOUBLE)
                      / greatest(sqrt(CAST(n.ss AS DOUBLE)), 1e-12) DESC,
                      s.cluster) AS rn
    FROM s{it} s JOIN n{it} n ON n.cluster = s.cluster) x
  WHERE rn = 1
),
u{it} AS (
  SELECT a.cluster, v.d,
         (SUM(v.q) - ((SUM(v.q) % count(*)) + count(*)) % count(*))
           // count(*) AS c
  FROM a{it} a JOIN qv v ON v.vec_id = a.vec_id
  GROUP BY a.cluster, v.d
),
c{it} AS (
  SELECT p.cluster, p.d, COALESCE(u.c, p.c) AS c
  FROM {prev} p LEFT JOIN u{it} u
    ON u.cluster = p.cluster AND u.d = p.d
)""")
        prev = f"c{it}"
    body.append(f""",
afin AS (
  SELECT vec_id, cluster FROM (
    SELECT s.vec_id, s.cluster,
           row_number() OVER (
             PARTITION BY s.vec_id
             ORDER BY CAST(s.dt AS DOUBLE)
                      / greatest(sqrt(CAST(n.ss AS DOUBLE)), 1e-12) DESC,
                      s.cluster) AS rn
    FROM (SELECT v.vec_id, c.cluster, SUM(v.q * c.c) AS dt
          FROM qv v JOIN {prev} c ON c.d = v.d
          GROUP BY v.vec_id, c.cluster) s
    JOIN (SELECT cluster, SUM(c * c) AS ss FROM {prev} GROUP BY cluster) n
      ON n.cluster = s.cluster) x
  WHERE rn = 1
),
probed AS (
  SELECT vec_id AS qid, cluster FROM (
    SELECT s.vec_id, s.cluster,
           row_number() OVER (
             PARTITION BY s.vec_id
             ORDER BY CAST(s.dt AS DOUBLE)
                      / greatest(sqrt(CAST(n.ss AS DOUBLE)), 1e-12) DESC,
                      s.cluster) AS rn
    FROM (SELECT v.vec_id, c.cluster, SUM(v.q * c.c) AS dt
          FROM qv v JOIN {prev} c ON c.d = v.d
          WHERE v.vec_id < 5
          GROUP BY v.vec_id, c.cluster) s
    JOIN (SELECT cluster, SUM(c * c) AS ss FROM {prev} GROUP BY cluster) n
      ON n.cluster = s.cluster) x
  WHERE rn <= {nprobe}
)""")
    return "".join(body)


def _kmeans_oracle(k: int = 16, iters: int = 3, nprobe: int = 4) -> str:
    """DuckDB twin of the integer Lloyd's pipeline, iterations unrolled
    (the pagerank-oracle pattern applied to ML training): the shared
    coarse replay (:func:`_coarse_ctes`) plus the quantized-cosine
    search over the probed lists."""
    return _coarse_ctes(k, iters, nprobe) + """,
ssq AS (SELECT vec_id, SUM(q * q) AS ss FROM qv GROUP BY vec_id),
pairs AS (
  SELECT p.qid, a.vec_id AS nid
  FROM probed p JOIN afin a ON a.cluster = p.cluster
  WHERE a.vec_id <> p.qid
),
dots AS (
  SELECT p.qid, p.nid, SUM(x.q * y.q) AS dq
  FROM pairs p JOIN qv x ON x.vec_id = p.qid
               JOIN qv y ON y.vec_id = p.nid AND y.d = x.d
  GROUP BY p.qid, p.nid
),
ranked AS (
  SELECT d.qid, d.nid,
         round(CAST(d.dq AS DOUBLE)
               / (sqrt(CAST(sa.ss AS DOUBLE)) * sqrt(CAST(sb.ss AS DOUBLE))),
               4) AS cos_sim,
         row_number() OVER (
           PARTITION BY d.qid
           ORDER BY CAST(d.dq AS DOUBLE)
                    / (sqrt(CAST(sa.ss AS DOUBLE))
                       * sqrt(CAST(sb.ss AS DOUBLE))) DESC, d.nid) AS rnk
  FROM dots d
  JOIN ssq sa ON sa.vec_id = d.qid
  JOIN ssq sb ON sb.vec_id = d.nid
)
SELECT qid, nid, cos_sim, CAST(rnk AS INT) AS rank
FROM ranked WHERE rnk <= 5"""


_PQ_QV_PREFIX = """
WITH qv AS (
  SELECT vec_id, t.d,
         CAST(floor(CAST(embedding[t.d + 1] AS DOUBLE) * 1048576.0)
              AS BIGINT) AS q
  FROM embeddings CROSS JOIN range(0, 64) t(d)
)"""


def _pq_training_ctes() -> str:
    """The codebook-training CTE chain (md5-48 sample → pb0 init →
    ``_PQ_ITERS`` unrolled Lloyd rounds; final codebook CTE is
    ``pb{_PQ_ITERS}``), assuming a ``qv`` CTE is already in scope.
    Factored out of :func:`_pq_oracle` so the cross-engine fuzz harness
    can SELECT the trained codebook directly and pit it against
    :func:`_pq_lloyd` on arbitrary inputs."""
    sub = 64 // _PQ_M
    body = [f""",
smp AS (
  SELECT vec_id, row_number() OVER (
           ORDER BY CAST('0x' || substr(md5('pq_'
                    || CAST(vec_id AS VARCHAR)), 1, 12) AS BIGINT),
                    vec_id) AS rn
  FROM embeddings QUALIFY rn <= {_PQ_SAMPLE}
),
sx AS (
  SELECT s.rn, v.vec_id, v.d // {sub} AS m, v.d % {sub} AS j, v.q
  FROM smp s JOIN qv v ON v.vec_id = s.vec_id
),
pb0 AS (
  SELECT m, rn - 1 AS code, j, q AS c FROM sx WHERE rn <= {_PQ_K}
)"""]
    prev = "pb0"
    for it in range(1, _PQ_ITERS + 1):
        body.append(f""",
pd{it} AS (
  SELECT x.vec_id, x.m, b.code, SUM((x.q - b.c) * (x.q - b.c)) AS ds
  FROM sx x JOIN {prev} b ON b.m = x.m AND b.j = x.j
  GROUP BY x.vec_id, x.m, b.code
),
pa{it} AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
           row_number() OVER (PARTITION BY vec_id, m
                              ORDER BY ds, code) AS rnk
    FROM pd{it}) z
  WHERE rnk = 1
),
pu{it} AS (
  SELECT a.m, a.code, x.j,
         (SUM(x.q) - ((SUM(x.q) % count(*)) + count(*)) % count(*))
           // count(*) AS c
  FROM pa{it} a JOIN sx x ON x.vec_id = a.vec_id AND x.m = a.m
  GROUP BY a.m, a.code, x.j
),
pb{it} AS (
  SELECT p.m, p.code, p.j, COALESCE(u.c, p.c) AS c
  FROM {prev} p LEFT JOIN pu{it} u
    ON u.m = p.m AND u.code = p.code AND u.j = p.j
)""")
        prev = f"pb{it}"
    return "".join(body)


def _pq_oracle(probed: bool) -> str:
    """DuckDB twin of the integer PQ pipeline (r10): replays codebook
    TRAINING (md5-48 sample, ``_PQ_ITERS`` Lloyd rounds per subspace —
    all ``_PQ_M`` subspaces ride the SAME unrolled CTEs via the ``m``
    grouping column, so the SQL does not grow with M), corpus ENCODING
    (argmin squared distance, ties → lowest code), the exact-int ADC
    over each query's lookup table, the shortlist cut by
    adc/sqrt(reconstructed-norm²) — one IEEE division of exact integers,
    bit-identical to Spark's — and the float-cosine re-rank in index
    order (the proven bruteforce-oracle formulation). ``probed=True``
    prepends the shared coarse k-means replay (:func:`_coarse_ctes`)
    and restricts candidates to each query's nprobe lists;
    ``probed=False`` is the exhaustive-ADC twin."""
    if probed:
        prefix = _coarse_ctes()
        cand = """
  SELECT p.qid, a.vec_id AS nid
  FROM probed p JOIN afin a ON a.cluster = p.cluster
  WHERE a.vec_id <> p.qid"""
    else:
        prefix = _PQ_QV_PREFIX
        cand = """
  SELECT q.vec_id AS qid, n.vec_id AS nid
  FROM embeddings q CROSS JOIN embeddings n
  WHERE q.vec_id < 5 AND n.vec_id <> q.vec_id"""
    sub = 64 // _PQ_M
    prev = f"pb{_PQ_ITERS}"
    body = [prefix, _pq_training_ctes(), f""",
fsv AS (SELECT vec_id, d // {sub} AS m, d % {sub} AS j, q FROM qv),
ed AS (
  SELECT x.vec_id, x.m, b.code, SUM((x.q - b.c) * (x.q - b.c)) AS ds
  FROM fsv x JOIN {prev} b ON b.m = x.m AND b.j = x.j
  GROUP BY x.vec_id, x.m, b.code
),
codes AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
           row_number() OVER (PARTITION BY vec_id, m
                              ORDER BY ds, code) AS rnk
    FROM ed) z
  WHERE rnk = 1
),
cbss AS (SELECT m, code, SUM(c * c) AS ss FROM {prev} GROUP BY m, code),
rnsq AS (
  SELECT c.vec_id, SUM(s.ss) AS nsq
  FROM codes c JOIN cbss s ON s.m = c.m AND s.code = c.code
  GROUP BY c.vec_id
),
tbl AS (
  SELECT q.qid, b.m, b.code, SUM(q.q * b.c) AS dp
  FROM (SELECT vec_id AS qid, d // {sub} AS m, d % {sub} AS j, q
        FROM qv WHERE vec_id < 5) q
  JOIN {prev} b ON b.m = q.m AND b.j = q.j
  GROUP BY q.qid, b.m, b.code
),
cand AS ({cand}
),
adcs AS (
  SELECT c.qid, c.nid, SUM(t.dp) AS adc
  FROM cand c
  JOIN codes k2 ON k2.vec_id = c.nid
  JOIN tbl t ON t.qid = c.qid AND t.m = k2.m AND t.code = k2.code
  GROUP BY c.qid, c.nid
),
short AS (
  SELECT qid, nid FROM (
    SELECT a.qid, a.nid,
           row_number() OVER (
             PARTITION BY a.qid
             ORDER BY CAST(a.adc AS DOUBLE)
                      / greatest(sqrt(CAST(n.nsq AS DOUBLE)), 1e-12) DESC,
                      a.nid) AS rs
    FROM adcs a JOIN rnsq n ON n.vec_id = a.nid) z
  WHERE rs <= {_PQ_SHORTLIST}
),
rr AS (
  SELECT s.qid, s.nid,
         round(
           (SELECT sum(CAST(qe.embedding[i + 1] AS DOUBLE)
                       * CAST(ne.embedding[i + 1] AS DOUBLE))
            FROM range(64) r(i))
           / (sqrt(list_sum(list_transform(qe.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(ne.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
           4) AS cos_sim
  FROM short s
  JOIN embeddings qe ON qe.vec_id = s.qid
  JOIN embeddings ne ON ne.vec_id = s.nid
)
SELECT qid, nid, cos_sim, rank FROM (
  SELECT qid, nid, cos_sim,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cos_sim DESC, nid) AS rank
  FROM rr) x
WHERE rank <= 5"""]
    return "".join(body)


@query(
    "cosine_topk_ivf_kmeans",
    oracle=_kmeans_oracle(),
    tags=("similarity", "ann", "ivf", "kmeans"),
)
def cosine_topk_ivf_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    """IVF with a TRAINED coarse quantizer: k-means (k=16, 3 Lloyd
    iterations) builds the inverted lists instead of borrowing the
    ``label`` column; queries probe their nprobe=4 nearest centroids and
    search only those lists. This is the shape that scales to 100 TB:
    training cost is iters × (one corpus pass + a k×dim collect), search
    cost is corpus/k × nprobe per query, and every step is a DataFrame
    op (the iterative driver loop is the one place collect() is
    legitimate — it moves k×dim ints, not data).

    FULL value oracle since r9 — ITERATIVE ML TRAINING driver-checked
    end to end: the integer Lloyd's recurrence (md5-48 init, exact
    argmax-cosine assignment over 2^20-quantized vectors, floor-div
    centroid update) is bit-stable across parallelism and engines, so
    the DuckDB twin unrolls the 3 iterations as CTEs (the pagerank
    pattern applied to model training) and replays init, every
    assignment, every update, the probe, and the quantized-cosine
    search. Recall vs brute force stays in tests/test_similarity.py."""
    emb = t(spark, sf, "embeddings")
    centroids = train_kmeans_centroids(emb, k=16, iters=3)
    assigned = kmeans_assign(
        emb.select("vec_id", "embedding"), "embedding", centroids
    )

    import numpy as np

    # the query batch is raw (vec_id, embedding), which assignment leaves
    # untouched, read on the driver without a Spark job
    q_rows = _query_batch_rows(sf)
    # per-query probe list: tiny (5 × k) — computed driver-side like the
    # centroid collect; at scale this is a broadcast of q × nprobe ints.
    # Exact integer probe scores; np.argsort is stable, so ties fall to
    # the lower cluster id — the SQL twin's (score DESC, cluster) order.
    cnorm = np.sqrt((centroids.astype(np.float64) ** 2).sum(axis=1))
    probe = []
    for r in q_rows:
        qq = _quantize20(np.asarray(r.embedding, dtype=np.float64))
        scores = (centroids @ qq).astype(np.float64) / np.maximum(cnorm, 1e-12)
        order = np.argsort(-scores, kind="stable")[:4]
        probe += [(int(r.vec_id), r.embedding, int(c)) for c in order]
    probed = F.broadcast(
        spark.createDataFrame(probe, "qid int, qe array<float>, cluster int")
    )

    n = assigned.select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("ne"), "cluster"
    )
    pairs = probed.join(n, "cluster").filter(F.col("qid") != F.col("nid"))
    cos_exact = _dot_q(F.col("qe"), F.col("ne")) / (
        _norm_q(F.col("qe")) * _norm_q(F.col("ne"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_raw").desc(), "nid")
    return (
        pairs.select("qid", "nid", cos_exact.alias("cos_raw"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("qid", "nid", F.round("cos_raw", 4).alias("cos_sim"), "rank")
    )


# ------------------------------------------------- product quantization (PQ)

_PQ_M = 16         # subspaces (64-dim → 16 × 4-dim subvectors)
_PQ_K = 16         # codewords per subspace → 4 bits/code, 16 codes/vector
_PQ_SAMPLE = 2048  # training sample size (driver-side, bounded)
_PQ_ITERS = 5      # Lloyd iterations per subspace (unrolled in the twin)
_PQ_SHORTLIST = 50  # ADC candidates per query fed to exact re-rank


def train_pq_codebooks(emb: DataFrame, vec_col: str = "embedding",
                       dim: int = 64):
    """Train per-subspace codebooks on a bounded, deterministic sample —
    the standard train-on-a-sample regime: PQ codebooks need thousands
    of vectors, not the corpus, so only sample × dim values reach the
    driver.

    INTEGER-EXACT since r10 (the r9 ivf_kmeans discipline applied to
    PQ): the sample is the ``_PQ_SAMPLE`` smallest md5-48 of
    ``'pq_' || vec_id`` (portable, replayable — replaces seeded
    xxhash64), training runs on 2^20-QUANTIZED int64 subvectors
    (embeddings are unit-norm, so skipping the float normalization the
    old path did is value-neutral), assignment is exact integer argmin
    of squared euclidean distance (ties → lowest code, numpy argmin's
    first-occurrence rule = SQL ``ORDER BY ds, code``), and the update
    is a FLOOR-DIVIDED integer mean (empty codes keep their previous
    centroid) — so the identical int64 codebooks fall out of numpy here
    and of the unrolled SQL twin, at any parallelism. All intermediates
    fit int64: |q| ≤ 2^22 ⇒ squared-diff sums ≤ 2^46·4, sample sums
    ≤ 2^22·2048. Returns numpy (M, K, dim/M) INT64."""
    import numpy as np

    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("pq_"), F.col("vec_id").cast("string"))
                  .cast("binary")), 1, 12), 16, 10).cast("long")
    rows = (
        emb.select(vec_col, h.alias("h"), "vec_id")
        .orderBy("h", "vec_id")
        .limit(_PQ_SAMPLE)
        .collect()
    )
    x = _quantize20(np.stack([np.asarray(r[0], dtype=np.float64)
                              for r in rows]))
    return _pq_lloyd(x, dim)


def _pq_lloyd(x, dim: int = 64):
    """Pure integer Lloyd core over the ORDERED quantized sample matrix
    (n, dim) int64 — factored out of :func:`train_pq_codebooks` so the
    cross-engine fuzz harness (tests/test_portable_hash.py) can pit it
    against the SQL twin's training CTEs on arbitrary inputs without a
    SparkSession."""
    import numpy as np

    sub = dim // _PQ_M
    books = np.empty((_PQ_M, _PQ_K, sub), dtype=np.int64)
    for m in range(_PQ_M):
        xs = x[:, m * sub : (m + 1) * sub]
        cb = xs[:_PQ_K].copy()  # deterministic init: first K sample rows
        for _ in range(_PQ_ITERS):
            d = ((xs[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            nxt = cb.copy()  # empty codes keep their previous centroid
            for k in range(_PQ_K):
                pts = xs[a == k]
                if len(pts):
                    # FLOOR division (numpy); the SQL twin spells exact
                    # floor via pmod — DuckDB's bare // truncates
                    nxt[k] = pts.sum(axis=0) // len(pts)
            cb = nxt
        books[m] = cb
    return books


def pq_encode(df: DataFrame, vec_col: str, books) -> DataFrame:
    """Add ``codes`` (BINARY, M/2 = 8 bytes) and ``nsq`` (BIGINT):
    nearest codeword per subspace of the 2^20-QUANTIZED vector, two
    4-bit codes nibble-packed per byte (code m is hex digit m of
    ``hex(codes)`` — high nibble first, so the ADC fold unpacks with one
    substring per code, all JVM-side), plus the exact squared norm of
    the RECONSTRUCTED vector (sum over m of ||books[m][code_m]||², int64
    — computed once at encode time so ADC scoring never re-derives it
    per candidate pair). 8 bytes + 1 long replace 256 bytes of floats —
    the compression that lets a 100 TB corpus's index live in memory.

    INTEGER-EXACT since r10: the argmin runs on int64 squared euclidean
    distances against the integer codebooks in the direct form
    ``((xs - cb)²).sum`` (exact; the old expanded-form float matmul
    could flip argmin ties in the last ulp), ties → lowest code — the
    identical codes fall out of the SQL twin's
    ``ORDER BY ds, code LIMIT 1``."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    sub = books.shape[2]
    cb_ssq = (books.astype(np.int64) ** 2).sum(axis=2)  # (M, K) exact

    @pandas_udf("codes binary, nsq long")
    def enc(vecs: pd.Series) -> pd.DataFrame:
        if len(vecs) == 0:
            return pd.DataFrame({"codes": pd.Series([], dtype="object"),
                                 "nsq": pd.Series([], dtype="int64")})
        x = _quantize20(np.stack([np.asarray(v, dtype=np.float64)
                                  for v in vecs]))
        out = np.empty((len(x), _PQ_M), dtype=np.uint8)
        nsq = np.zeros(len(x), dtype=np.int64)
        for m in range(_PQ_M):
            xs = x[:, m * sub : (m + 1) * sub]
            d = ((xs[:, None, :] - books[m][None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            out[:, m] = a
            nsq += cb_ssq[m][a]
        packed = (out[:, 0::2] << 4) | out[:, 1::2]  # (n, M/2) bytes
        return pd.DataFrame({
            "codes": [row.tobytes() for row in packed],
            "nsq": nsq,
        })

    return df.withColumn("_enc", enc(F.col(vec_col))).select(
        "*", F.col("_enc.codes").alias("codes"), F.col("_enc.nsq").alias("nsq")
    ).drop("_enc")


def _topk_accumulate(acc: dict, qid, nid, adc, k: int) -> None:
    """Fold one batch's (qid, nid, adc) numpy arrays into the running
    per-query top-k dict (adc desc, nid asc total order)."""
    import numpy as np

    for q in np.unique(qid):
        m = qid == q
        a, nn = adc[m], nid[m]
        if q in acc:
            a = np.concatenate([acc[q][0], a])
            nn = np.concatenate([acc[q][1], nn])
        if len(a) > k:
            keep = np.lexsort((nn, -a))[:k]
            a, nn = a[keep], nn[keep]
        acc[q] = (a, nn)


def _topk_batch(acc: dict, types, names):
    """Arrow batch of a per-query top-k accumulator (see
    :func:`_topk_accumulate`): one (qid, nid, score) row per kept
    neighbour, typed ``types``."""
    import numpy as np
    import pyarrow as pa

    cols = (
        np.concatenate([np.full(len(v[0]), q) for q, v in acc.items()]),
        np.concatenate([v[1] for v in acc.values()]),
        np.concatenate([v[0] for v in acc.values()]),
    )
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=ty) for c, ty in zip(cols, types)], names=names
    )


def partial_topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Partition-local partial top-``k`` per query over (qid, nid, adc)
    rows — phase one of a two-phase distributed top-k.

    A plain ``Window.partitionBy("qid")`` ranking shuffles every scored
    row into Q partitions: at a real query batch that is Q×N rows
    funneled through Q reducers — the skew bottleneck. This stage
    instead reduces WITHIN each existing partition (no exchange at all:
    mapInArrow preserves partitioning) to at most Q×k rows per
    partition, so the only shuffle in the plan — the final global merge
    window — carries Q×k×P rows, independent of corpus size. The cut is
    exact: the global top-k is a subset of the union of per-partition
    top-k's, with the same (adc desc, nid asc) total order on both
    phases."""
    sel = scored.select("qid", "nid", "adc")
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in sel.schema.fields
    )

    def fn(batches):
        acc: dict = {}  # qid -> (adc desc-sorted np arrays, nid)
        arrow_schema = None
        for batch in batches:
            arrow_schema = batch.schema
            qid = batch.column("qid").to_numpy(zero_copy_only=False)
            nid = batch.column("nid").to_numpy(zero_copy_only=False)
            adc = batch.column("adc").to_numpy(zero_copy_only=False)
            _topk_accumulate(acc, qid, nid, adc, k)
        if acc:
            # input dtypes pass through unchanged (qid may be int or long
            # depending on the caller)
            yield _topk_batch(acc, arrow_schema.types, arrow_schema.names)

    return sel.mapInArrow(fn, out_schema)


@query("cosine_topk_ivf_pq", oracle=_pq_oracle(probed=False),
       tags=("similarity", "ann", "pq"))
def cosine_topk_ivf_pq(spark: SparkSession, sf: str) -> DataFrame:
    """PQ-compressed ANN with asymmetric distance + exact re-rank: the
    corpus is product-quantized to M=16 4-bit codes; each query
    precomputes an (M × K) inner-product lookup table against the
    codebooks (ADC); candidate scoring is then 16 table lookups per
    vector — a JVM higher-order fold over the broadcast table, no
    Python in the scan — and only the ADC shortlist gets its true
    embeddings joined back for exact cosine re-ranking to top-5.

    Scale shape: the scan reads 16 4-bit codes (not 64 floats) per
    vector; the ADC table is a broadcast of q × 256 doubles; shortlist
    selection is TWO-phase (``partial_topk_per_query``): a
    partition-local exact top-``_PQ_SHORTLIST`` with no exchange, then a
    global merge window over Q×50×P rows — the Q×N-rows-into-Q-reducers
    funnel of a naive per-query window never happens. Re-rank touches a
    50-vector shortlist per query. Composes with the IVF coarse
    quantizer (``cosine_topk_ivf_pq_probed``) — kept exhaustive-ADC here
    so the recall test isolates PQ error. Codes come from the PERSISTED
    index artifact (``ann_index.ivf_pq_index`` — build once per corpus,
    amortized across queries); the exhaustive scan reads every list.

    FULL value oracle since r10 — PQ TRAINING driver-checked end to
    end: the integer codebook recurrence (md5-48 sample, exact-int
    assignment, floor-div update) is bit-stable across engines, so the
    DuckDB twin (:func:`_pq_oracle`) replays training, encoding, the
    exact-int ADC, the shortlist cut, and the re-rank. Recall vs brute
    force stays in tests/test_similarity.py."""
    from xml_hive_spark.operators.ann_index import ivf_pq_index

    emb = t(spark, sf, "embeddings")
    idx = ivf_pq_index(spark, sf)
    coded = idx.lists(spark)
    probed, _ = _adc_tables(spark, idx.books, sf)

    cand = probed.drop("qe").crossJoin(
        coded.select(F.col("vec_id").alias("nid"), "hx", "nsq")
    ).filter(F.col("qid") != F.col("nid"))
    scored = cand.select(
        "qid", "nid", _adc_fold().alias("adc_i"), "nsq"
    ).select("qid", "nid", _adc_score().alias("adc"))
    return _shortlist_rerank(scored, probed, emb)


from collections import namedtuple

_QRow = namedtuple("_QRow", ["vec_id", "embedding"])


def _query_batch_rows(sf: str) -> list:
    """The vec_id < 5 query batch, read on the driver from the embeddings
    parquet with a pushed-down filter — no Spark job. Entries go through
    float32 before widening to Python floats, the values a collect of
    ``t(spark, sf, 'embeddings')`` (array<float>) returns. A missing or
    unreadable table raises."""
    import numpy as np
    import pyarrow.dataset as _ds

    tab = _ds.dataset(f"{sf}/embeddings.parquet").to_table(
        columns=["vec_id", "embedding"], filter=_ds.field("vec_id") < 5)
    rows = [
        _QRow(int(i), [float(x) for x in np.asarray(e, dtype=np.float32)])
        for i, e in zip(tab.column("vec_id").to_pylist(),
                        tab.column("embedding").to_pylist())
    ]
    rows.sort(key=lambda r: r.vec_id)
    return rows


def _adc_tables(spark: SparkSession, books, sf: str):
    """Broadcast (qid, qe, tbl) with the per-query ADC lookup table
    T[m][k] = <q_sub_m, codebook[m][k]>, flattened M*K. Returns
    (broadcast DataFrame, collected query rows) so callers that also
    need the raw query vectors (probe-list derivation) reuse the ONE
    collect instead of re-implementing it.

    INTEGER-EXACT since r10: entries are int64 dot products of the
    2^20-quantized query subvectors with the integer codebooks
    (|q·c| ≤ 2^42·4 per entry, fold sum ≤ 2^48 — exact BIGINT), so the
    ADC fold total is the same integer in Spark's fold and the SQL
    twin's SUM, in any order."""
    import numpy as np

    q_rows = _query_batch_rows(sf)
    sub = books.shape[2]
    probe = []
    for r in q_rows:
        q = _quantize20(np.asarray(r.embedding, dtype=np.float64))
        tbl = [
            int(np.dot(q[m * sub : (m + 1) * sub], books[m][k]))
            for m in range(_PQ_M)
            for k in range(_PQ_K)
        ]
        probe.append((int(r.vec_id), r.embedding, tbl))
    df = F.broadcast(
        spark.createDataFrame(probe, "qid int, qe array<float>, tbl array<long>")
    )
    return df, q_rows


def _adc_fold():
    """Fold over the M nibble-packed codes: acc + tbl[m*K + code_m],
    all-int64 (exact, associative). ``hex(codes)`` renders the 8-byte
    binary as 16 hex digits with code m at digit m (pq_encode packs
    high-nibble-first to guarantee this), so unpacking is substring +
    conv — JVM built-ins inside whole-stage codegen, no Python and no
    binary-indexing UDF. Built lazily — F.expr needs an active
    session."""
    return F.expr(
        f"aggregate(sequence(0, {_PQ_M - 1}), CAST(0 AS BIGINT),"
        f" (acc, m) -> acc + element_at(tbl, m * {_PQ_K}"
        f" + CAST(conv(substring(hx, m + 1, 1), 16, 10) AS INT) + 1))"
    )


def _adc_score():
    """Shortlist ranking score: exact-int ADC over the reconstructed
    norm — CAST(adc AS DOUBLE) / sqrt(CAST(nsq AS DOUBLE)), one IEEE
    division of exact integers ⇒ bit-identical doubles in Spark and the
    SQL twin, so the top-``_PQ_SHORTLIST`` CUT (ties → nid) is the same
    set in both engines. The query's own norm is a per-qid constant —
    rank-invariant, dropped."""
    return F.col("adc_i").cast("double") / F.greatest(
        F.sqrt(F.col("nsq").cast("double")), F.lit(1e-12)
    )


def _with_hex_codes(df: DataFrame) -> DataFrame:
    """Project ``hx = hex(codes)`` once per row before ADC scoring —
    lambda bodies of higher-order functions are evaluated interpreted
    per element, so hex() inside the fold would run M times per row.
    Projected BEFORE the candidate join, it's computed once per corpus
    vector, not once per (query, vector) pair."""
    return df.withColumn("hx", F.hex("codes"))


def _shortlist_rerank(scored: DataFrame, probed: DataFrame,
                      emb: DataFrame) -> DataFrame:
    """Two-phase ADC shortlist (partition-local partial top-k → global
    merge over Q×50×P rows) followed by exact-cosine re-rank to top-5."""
    w_adc = Window.partitionBy("qid").orderBy(F.col("adc").desc(), "nid")
    shortlist = (
        partial_topk_per_query(scored, _PQ_SHORTLIST)
        .withColumn("r", F.row_number().over(w_adc))
        .filter(F.col("r") <= _PQ_SHORTLIST)
        .select("qid", "nid")
    )
    n = emb.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("ne"))
    cos = F.round(
        _dot(F.col("qe"), F.col("ne")) / (_norm(F.col("qe")) * _norm(F.col("ne"))), 4
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "nid")
    return (
        shortlist.join(n, "nid")
        .join(probed.select("qid", "qe"), "qid")
        .select("qid", "nid", cos.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )


@query("cosine_topk_ivf_pq_probed", oracle=_pq_oracle(probed=True),
       tags=("similarity", "ann", "ivf", "pq"))
def cosine_topk_ivf_pq_probed(spark: SparkSession, sf: str) -> DataFrame:
    """IVF × PQ composed — the full production ANN shape: a trained
    k-means coarse quantizer assigns every vector to an inverted list;
    each query probes its nprobe=4 nearest lists; ADC scoring runs ONLY
    inside the probed lists (candidate set ≈ nprobe/k of the corpus, vs
    exhaustive-ADC's full scan); then the same two-phase shortlist +
    exact re-rank.

    INDEX and SEARCH are separated the way production ANN systems do it:
    ``ann_index.ivf_pq_index`` builds (or loads) the persisted artifact —
    seeded k-means centroids + PQ codebooks + the encoded lists as a
    parquet directory PARTITIONED BY cluster — once per corpus, and this
    query is the search path only: ONE read of the query batch (ADC
    tables and probe lists derive from the same 5 rows) plus one DAG
    whose list scan is partition-PRUNED to the probed clusters
    (``cluster IN (...)`` → PartitionFilters, the columnar equivalent of
    an inverted-list seek; pinned in tests/test_ann_index.py).
    Candidate-count reduction is asserted in tests/test_similarity.py.

    FULL value oracle since r10 — the LAST bench headline to get one:
    the DuckDB twin (:func:`_pq_oracle(probed=True)`) prepends the
    shared coarse k-means replay (:func:`_coarse_ctes`) to the
    integer-PQ training/encoding/ADC replay, so probe selection, the
    ADC lookup, the shortlist cut, and the re-rank are all
    hash-checked at sf0.001/0.01/0.1."""
    from xml_hive_spark.operators.ann_index import ivf_pq_index, probe_clusters

    emb = t(spark, sf, "embeddings")
    idx = ivf_pq_index(spark, sf)

    # one read of the query batch: the ADC tables' query rows
    # also feed the coarse probe lists
    probed, q_rows = _adc_tables(spark, idx.books, sf)
    probes = [
        (int(r.vec_id), c)
        for r in q_rows
        for c in probe_clusters(idx, r.embedding, 4)
    ]
    probe_df = F.broadcast(spark.createDataFrame(probes, "qid int, cluster int"))

    # literal IN over the union of probed clusters prunes list partitions
    # at plan time; the probe_df join then routes each query to its own
    # nprobe lists
    wanted = sorted({c for _, c in probes})
    coded = (
        idx.lists(spark)
        .filter(F.col("cluster").isin(wanted))
        .select(F.col("vec_id").alias("nid"), "cluster", "hx", "nsq")
    )

    cand = (
        probed.drop("qe")
        .join(probe_df, "qid")
        .join(coded, "cluster")  # broadcast side is tiny → only probed lists scanned
        .filter(F.col("qid") != F.col("nid"))
    )
    scored = cand.select(
        "qid", "nid", _adc_fold().alias("adc_i"), "nsq"
    ).select("qid", "nid", _adc_score().alias("adc"))
    return _shortlist_rerank(scored, probed, emb)


@query(
    "ann_join_topk",
    oracle="""
WITH nv AS (
  -- adaptive rows-per-band (r11 scale-probe fix): r = max(5,
  -- floor(log2(n // 64))) via integer binary-digit count — the EXACT
  -- integer formula the Spark side computes with bit_length(), no
  -- floating log2 at decade boundaries. 16 bands; 2^r buckets/band
  -- tracks n/64 so per-bucket occupancy (and with it candidate-pair
  -- volume per vector) stays ~constant as the corpus grows. At every
  -- driver/bench SF (n <= 2000) r = 5, identical to the pre-r11 fixed
  -- banding.
  -- LEAST(30): band buckets are int32 (1 << (r-1) must fit); r = 30
  -- already means n ~ 2^36 vectors per band-bucket target of 64
  SELECT LEAST(30, GREATEST(5, length(printf('%b', count(*) // 64)) - 1))
         AS r
  FROM embeddings
),
qv AS (
  SELECT vec_id, t.d,
         CAST(floor(CAST(embedding[t.d + 1] AS DOUBLE) * 1048576.0)
              AS BIGINT) AS q
  FROM embeddings CROSS JOIN range(0, 64) t(d)
),
planes AS (
  -- static 1024-plane ceiling (range() cannot take subqueries),
  -- filtered to the 16*r planes actually used; covers r <= 64
  SELECT p.p, d.d,
         CASE WHEN CAST('0x' || substr(md5(CAST(p.p AS VARCHAR) || '_'
                    || CAST(d.d AS VARCHAR)), 1, 1) AS INT) % 2 = 1
              THEN 1 ELSE -1 END AS s
  FROM range(0, 1024) p(p) CROSS JOIN range(0, 64) d(d)
  WHERE p.p < 16 * (SELECT r FROM nv)
),
proj AS (
  SELECT v.vec_id, pl.p, SUM(v.q * pl.s) AS pr
  FROM qv v JOIN planes pl ON pl.d = v.d
  GROUP BY v.vec_id, pl.p
),
bk AS (
  SELECT vec_id, p // (SELECT r FROM nv) AS band,
         SUM(CASE WHEN pr >= 0 THEN 1 << (p % (SELECT r FROM nv))
                  ELSE 0 END) AS bucket
  FROM proj GROUP BY vec_id, p // (SELECT r FROM nv)
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
                      AND a.vec_id < b.vec_id
),
ssq AS (SELECT vec_id, SUM(q * q) AS ss FROM qv GROUP BY vec_id),
dots AS (
  SELECT c.id_a, c.id_b, SUM(x.q * y.q) AS dq
  FROM cand c JOIN qv x ON x.vec_id = c.id_a
              JOIN qv y ON y.vec_id = c.id_b AND y.d = x.d
  GROUP BY c.id_a, c.id_b
),
scored AS (
  SELECT d.id_a, d.id_b,
         CAST(d.dq AS DOUBLE)
           / (sqrt(CAST(sa.ss AS DOUBLE)) * sqrt(CAST(sb.ss AS DOUBLE)))
           AS adc
  FROM dots d
  JOIN ssq sa ON sa.vec_id = d.id_a
  JOIN ssq sb ON sb.vec_id = d.id_b
),
sym AS (
  SELECT id_a AS qid, id_b AS nid, adc FROM scored
  UNION ALL
  SELECT id_b AS qid, id_a AS nid, adc FROM scored
),
ranked AS (
  SELECT qid, nid, adc,
         row_number() OVER (PARTITION BY qid
                            ORDER BY adc DESC, nid) AS rnk
  FROM sym
)
SELECT qid, nid, round(adc, 4) AS cos_sim, CAST(rnk AS INT) AS rank
FROM ranked WHERE rnk <= 5
""",
    tags=("similarity", "ann", "join"),
)
def ann_join_topk(spark: SparkSession, sf: str) -> DataFrame:
    """ALL-corpus approximate top-k similarity JOIN: every vector gets
    its k=5 nearest neighbors — the batch shape of embedding-based
    retrieval/semantic-dedup over a whole corpus, where "queries" are
    the corpus itself (N queries, not a handful).

    This is where the two-phase top-k earns its keep: candidate pairs
    come from banded-LSH buckets (O(sum bucket^2), never all-pairs),
    deduped across bands BEFORE scoring so each surviving pair pays the
    dot product once, then the kernel's top-k reducer cuts each
    partition to <= N x k rows with NO exchange before the single global
    merge window — a per-query ranking window over the raw candidate
    set would funnel every candidate of a query into one reducer.

    The candidate phase moves IDS ONLY, and only UNDIRECTED pairs: the
    band self-join keeps qid < nid, the cross-band dedupe shuffles one
    (qid, nid) row (~16 B) per unordered pair, and the two 64-float
    vectors reach the cosine only for SURVIVING pairs (side-loaded or
    attached, :func:`score_candidates`) — scored once and folded into
    BOTH endpoints' top-k heaps (cosine is symmetric), halving
    dedupe/attach/score volume vs the directed formulation for an
    identical result. At 100 TB the
    candidate shuffles are the dominant network cost and this keeps them
    ~60x slimmer than carrying vectors through directed pairs
    (plan-pinned: no vector column below the dedupe exchange,
    tests/test_plans.py).

    Tuning: the all-corpus shape uses B=16 bands x ADAPTIVE r rows
    (2^r buckets per band) rather than the dedup default (12x3, 8
    buckets). r = max(5, floor(log2(n / 64))) — computed with exact
    integer bit_length, replayed in the oracle with the same integer
    formula — so the per-band bucket space tracks n/64 and per-bucket
    occupancy stays ~constant as the corpus grows. This is the r11
    scale-probe finding: at FIXED r=5 the bucket count is a constant
    32/band, so random-pair collisions make candidates a constant
    FRACTION of all-pairs — measured exponent 1.49 at the 10x corpus
    (1.8 s -> 57 s). With adaptive r the candidate volume per vector is
    flat and the measured exponent drops to ~1 (SCALE.md §r11).
    At every driver/bench SF (n <= 2000) the formula yields exactly
    r=5 — bit-identical results and timings to the pre-r11 banding.
    Recall: a cos≈0.86 neighbor agrees per plane with p≈0.83, so one
    of 16 bands matches with 1-(1-p^r)^16 ≈ 0.997 at r=8 (n=20k);
    moderate-similarity recall decays as r grows, which is the
    documented LSH precision/recall dial (floor asserted in tests at
    the SFs the tests run, where r=5). Scoring + phase-one top-k
    are FUSED in one mapInArrow (:func:`cosine_pair_kernel`): one BLAS
    einsum per Arrow batch instead of an interpreted ~200-step JVM
    aggregate lambda per pair.
    FULL value oracle since r9: md5-Rademacher planes over quantized
    integer entries make every candidate bit exact, and the quantized
    cosine (ratio of exact int64 aggregates) is the same double in any
    engine, so ordering and the 4-decimal rounding agree everywhere —
    the driver hash-checks the whole two-phase ANN join. Per-query
    recall vs exact brute force stays in tests/test_similarity.py."""
    emb = t(spark, sf, "embeddings")
    # The signature table is PERSISTED (like the IVF×PQ index artifact):
    # the band self-join consumes it twice (both join sides), and Spark
    # plans a fresh scan per side — without the cache the pandas-UDF
    # projection pass runs TWICE per execution. 16 ints per vector
    # (~0.4 % of the vectors themselves), so memory is corpus-count
    # bounded; at 100 TB this is the signature TABLE the pipeline
    # materializes next to the corpus (the phash-dedup fingerprint-store
    # pattern). Measured at sf0.1: 2.51 → 1.84 s with identical output.
    # exact integer twin of the oracle's GREATEST(5, bindigits(n//64)-1);
    # r13: the count comes from parquet footer metadata (table_rows) —
    # the old emb.count() spent a full scheduled job (~0.17 s at sf0.1)
    # to learn a number the footers already state
    n = table_rows(sf, "embeddings")
    # min(30): band buckets ride array<int>, so 1 << (r-1) must fit int32
    r = min(30, max(5, (n // 64).bit_length() - 1))
    # r13: persist (id, sig) ONLY — this query attaches vectors from
    # the corpus table below (payload_side), never from the cache, so
    # caching `vec` stored 64 floats/row (~10× the signature) that no
    # consumer read; now the cache matches the "16 ints per vector"
    # claim above
    sigs = banded_signatures(emb, "vec_id", "embedding",
                             bands=16, rows_per_band=r) \
        .select("id", "sig").persist()
    cand = sigs.select("id", F.posexplode("sig").alias("band", "bucket"))
    a = cand.select("band", "bucket", F.col("id").alias("qid"))
    b = cand.select("band", "bucket", F.col("id").alias("nid"))
    pairs = a.join(b, ["band", "bucket"]).filter(F.col("qid") < F.col("nid"))
    # dedupe band collisions before the expensive cosine on UNDIRECTED
    # pairs (band collision is symmetric, cosine is symmetric): the
    # dedupe shuffle, the vector-attach joins, and the einsum all touch
    # HALF the rows of the directed formulation; the fused partial top-k
    # folds each scored pair into both endpoints' heaps, so the directed
    # result is identical — still ids-only
    uniq = pairs.select("qid", "nid").distinct()
    scored = score_candidates(uniq, emb.select("vec_id", "embedding"), n,
                              f"{sf}/embeddings.parquet", k=5)
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "nid")
    return (
        scored
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("qid", "nid", F.round("cos_sim", 4).alias("cos_sim"), "rank")
    )


@query(
    "knn_classify_majority",
    oracle="""
WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS true_label
           FROM embeddings WHERE vec_id < 20),
n AS (SELECT vec_id AS nid, embedding AS ne, label FROM embeddings
      WHERE vec_id >= 20),
pairs AS (
  SELECT qid, true_label, nid, label,
         round(
           (SELECT sum(CAST(qe[i + 1] AS DOUBLE) * CAST(ne[i + 1] AS DOUBLE))
            FROM range(64) r(i))
           / (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(ne, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
           4) AS cos_sim
  FROM q, n
),
topk AS (
  SELECT qid, true_label, label FROM (
    SELECT qid, true_label, label,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cos_sim DESC, nid) AS rank
    FROM pairs) x
  WHERE rank <= 10
),
votes AS (
  SELECT qid, true_label, label,
         CAST(count(*) AS BIGINT) AS n_votes
  FROM topk GROUP BY qid, true_label, label
)
SELECT qid, true_label,
       CAST(label AS INT) AS predicted_label,
       n_votes
FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY n_votes DESC, label) AS vr
  FROM votes) v
WHERE vr = 1
""",
    tags=("similarity", "knn", "classification"),
)
def knn_classify_majority(spark: SparkSession, sf: str) -> DataFrame:
    """k-NN CLASSIFICATION over the embedding corpus — the serving-side
    use of the similarity machinery: 20 held-out query vectors are
    labeled by the majority vote of their 10 nearest neighbors (exact
    cosine, train split only), with deterministic tie-breaks at both
    stages (neighbor rank: cos DESC then id; vote: count DESC then
    label). Fully value-oracled INCLUDING the float cosine — both
    engines compute the identical double expression tree, rounded to
    4 places before ranking (the ``cosine_topk_bruteforce``
    convention), so the prediction itself is hash-checked.

    Scale shape: the query side broadcasts against one corpus scan
    (linear, the exact baseline); neighbor selection is TWO-phase via
    :func:`partial_topk_per_query` — partition-local exact top-10 with
    no exchange (the shuffle-free mapInArrow reduction the ANN ladder
    uses), so the only per-query window runs over the ≤10·P surviving
    candidates, never Q×N corpus rows funneled into Q reducers. Labels
    re-join onto the ≤Q×10 winner ids (broadcast the tiny side). The
    vote is two domain-sized hash-aggs. The IVF/PQ ladder swaps into
    the scan seamlessly when the corpus outgrows exact search."""
    emb = t(spark, sf, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qe"),
            F.col("label").alias("true_label"),
        )
    )
    n = fan_out(emb.filter(F.col("vec_id") >= 20)).select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").alias("ne"),
        "label",
    )
    pairs = q.crossJoin(n)
    cos = F.round(
        _dot(F.col("qe"), F.col("ne"))
        / (_norm(F.col("qe")) * _norm(F.col("ne"))),
        4,
    )
    scored = pairs.select("qid", "nid", cos.alias("adc"))
    # phase 1: exact partition-local top-10 per query, zero exchange;
    # phase 2: the global merge window sees ≤ 10·P rows per query
    part = partial_topk_per_query(scored, 10)
    wr = Window.partitionBy("qid").orderBy(F.col("adc").desc(), "nid")
    winners = (
        part.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= 10)
        .select("qid", "nid")
    )
    topk = n.select("nid", "label").join(F.broadcast(winners), "nid").join(
        F.broadcast(q.select("qid", "true_label")), "qid"
    )
    votes = topk.groupBy("qid", "true_label", "label").agg(
        F.count(F.lit(1)).cast("long").alias("n_votes")
    )
    wv = Window.partitionBy("qid").orderBy(F.col("n_votes").desc(), "label")
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            "qid",
            "true_label",
            F.col("label").cast("int").alias("predicted_label"),
            "n_votes",
        )
    )


@query(
    "maxsim_late_interaction",
    oracle="""
WITH toks AS (
  SELECT vec_id // 4 AS doc, vec_id % 4 AS tok, embedding AS e
  FROM embeddings
),
q AS (SELECT doc AS qdoc, tok AS qtok, e AS qe FROM toks WHERE doc < 2),
d AS (SELECT doc, tok, e FROM toks WHERE doc >= 2),
sims AS (
  SELECT q.qdoc, q.qtok, d.doc,
         round(
           (SELECT sum(CAST(qe[i + 1] AS DOUBLE) * CAST(e[i + 1] AS DOUBLE))
            FROM range(64) r(i))
           / (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
           4) AS s
  FROM q, d
),
best AS (
  SELECT qdoc, qtok, doc, MAX(s) AS mx FROM sims GROUP BY qdoc, qtok, doc
),
scored AS (
  SELECT qdoc, doc, round(SUM(mx), 4) AS maxsim
  FROM best GROUP BY qdoc, doc
)
SELECT qdoc, doc, maxsim, rank FROM (
  SELECT qdoc, doc, maxsim,
         row_number() OVER (PARTITION BY qdoc
                            ORDER BY maxsim DESC, doc) AS rank
  FROM scored) x
WHERE rank <= 3
""",
    tags=("similarity", "maxsim", "late-interaction", "colbert"),
)
def maxsim_late_interaction(spark: SparkSession, sf: str) -> DataFrame:
    """LATE-INTERACTION retrieval (the ColBERT MaxSim operator): both
    queries and documents are BAGS of token vectors (4 consecutive
    vec_ids form one multi-vector doc), and the score is
    Σ_{query token} max_{doc token} cos(q, d) — token-level matching
    that single-vector cosine collapses away. Top-3 docs per query,
    fully value-oracled including the float scoring (identical
    expression tree + the round-4 convention at BOTH reduction stages,
    so max/sum see identical doubles).

    Scale shape: token-pair similarities are a broadcast of the
    (benchmark-bounded) query token bag against one corpus scan; the
    two reductions (max per (query-token, doc), sum per (query, doc))
    are hash-aggs keyed on the doc; the final top-3 selection is
    TWO-phase via :func:`partial_topk_per_query` — partition-local
    exact top-3 with no exchange, so the per-query merge window sees
    ≤ 3·P scored docs, never N docs funneled into Q reducers. At
    corpus scale the doc-token scan is pruned first by a
    single-vector ANN shortlist (the ``ann_index`` two-stage serving
    pattern), which composes here as a filter on ``d`` ahead of the
    exact MaxSim."""
    emb = t(spark, sf, "embeddings").select(
        (F.col("vec_id") / 4).cast("long").alias("doc"),
        (F.col("vec_id") % 4).alias("tok"),
        F.col("embedding").alias("e"),
    )
    q = F.broadcast(
        emb.filter(F.col("doc") < 2).select(
            F.col("doc").alias("qdoc"),
            F.col("tok").alias("qtok"),
            F.col("e").alias("qe"),
        )
    )
    d = fan_out(emb.filter(F.col("doc") >= 2))
    sims = q.crossJoin(d).select(
        "qdoc", "qtok", "doc",
        F.round(
            _dot(F.col("qe"), F.col("e"))
            / (_norm(F.col("qe")) * _norm(F.col("e"))),
            4,
        ).alias("s"),
    )
    best = sims.groupBy("qdoc", "qtok", "doc").agg(F.max("s").alias("mx"))
    scored = best.groupBy("qdoc", "doc").agg(
        F.round(F.sum("mx"), 4).alias("maxsim")
    )
    # two-phase top-3: partition-local exact cut (no exchange), then the
    # bounded global merge window — same (score desc, id asc) order both
    # phases, so the cut is exact
    part = partial_topk_per_query(
        scored.select(
            F.col("qdoc").alias("qid"),
            F.col("doc").alias("nid"),
            F.col("maxsim").alias("adc"),
        ),
        3,
    )
    w = Window.partitionBy("qid").orderBy(F.col("adc").desc(), "nid")
    return (
        part.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("qid").alias("qdoc"),
            F.col("nid").alias("doc"),
            F.col("adc").alias("maxsim"),
            "rank",
        )
    )


@query(
    "hybrid_rank_fusion_rrf",
    oracle="""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
n AS (SELECT vec_id AS nid, embedding AS ne FROM embeddings
      WHERE vec_id <> 0),
scored AS (
  SELECT nid,
         round(
           (SELECT sum(CAST(qe[i + 1] AS DOUBLE) * CAST(ne[i + 1] AS DOUBLE))
            FROM range(64) r(i))
           / (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(ne, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
           4) AS cos_s,
         round(
           (SELECT sum(CAST(qe[i + 1] AS DOUBLE) * CAST(ne[i + 1] AS DOUBLE))
            FROM range(64) r(i)), 4) AS dot_s
  FROM q, n
),
cosr AS (
  SELECT nid, r_cos FROM (
    SELECT nid, row_number() OVER (ORDER BY cos_s DESC, nid) AS r_cos
    FROM scored) x
  WHERE r_cos <= 50
),
dotr AS (
  SELECT nid, r_dot FROM (
    SELECT nid, row_number() OVER (ORDER BY dot_s DESC, nid) AS r_dot
    FROM scored) x
  WHERE r_dot <= 50
)
SELECT COALESCE(c.nid, d.nid) AS nid,
       CAST(COALESCE(r_cos, 0) AS BIGINT) AS r_cos,
       CAST(COALESCE(r_dot, 0) AS BIGINT) AS r_dot,
       CAST(COALESCE(1000000 // (60 + r_cos), 0)
            + COALESCE(1000000 // (60 + r_dot), 0) AS BIGINT) AS rrf_milli
FROM cosr c FULL OUTER JOIN dotr d ON c.nid = d.nid
ORDER BY rrf_milli DESC, nid
LIMIT 10
""",
    tags=("similarity", "hybrid", "rrf", "rank-fusion"),
)
def hybrid_rank_fusion_rrf(spark: SparkSession, sf: str) -> DataFrame:
    """HYBRID retrieval by reciprocal-rank fusion — the standard way to
    merge rankings from incomparable scorers (BM25 + vectors in
    production; here two vector scorers with different geometry —
    normalized cosine vs raw inner product, which disagree whenever
    corpus norms vary): RRF = Σ 1/(60+rank), computed as EXACT integer
    micro-units (10^6 // (60+r) — no float fusion, so the fused
    ranking is hash-exact even where the two base scores are
    float-derived). Each scorer contributes only its own top-50
    shortlist (rank-cutoff semantics — the production RRF contract: a
    scorer that didn't retrieve a doc contributes nothing, surfaced as
    rank 0); top-10 fused, deterministic tie-breaks.

    Scale shape: each scorer's shortlist is ``orderBy().limit(50)`` —
    planned as TakeOrderedAndProject (per-partition partial top-k
    heaps, no single-reducer Exchange of the corpus; pinned in
    test_plans.py next to the BM25 pin). The only windows rank WITHIN
    a 50-row shortlist, and the fusion is a full outer join of two
    ≤50-row sides — at any corpus size the post-shortlist plan touches
    ≤100 rows."""
    emb = t(spark, sf, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    )
    n = fan_out(emb.filter(F.col("vec_id") != 0)).select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("ne")
    )
    scored = q.crossJoin(n).select(
        "nid",
        F.round(
            _dot(F.col("qe"), F.col("ne"))
            / (_norm(F.col("qe")) * _norm(F.col("ne"))),
            4,
        ).alias("cos_s"),
        F.round(_dot(F.col("qe"), F.col("ne")), 4).alias("dot_s"),
    ).persist()  # both scorers' shortlists consume it — score once
    # per-scorer shortlist FIRST (TakeOrderedAndProject — partial top-k
    # per partition, never a full-corpus single-partition window); the
    # rank window then runs over only the 50 survivors
    wc = Window.orderBy(F.col("cos_s").desc(), "nid")
    cosr = (
        scored.select("nid", "cos_s")
        .orderBy(F.col("cos_s").desc(), "nid")
        .limit(50)
        .select("nid", F.row_number().over(wc).cast("long").alias("r_cos"))
    )
    wd = Window.orderBy(F.col("dot_s").desc(), "nid")
    dotr = (
        scored.select("nid", "dot_s")
        .orderBy(F.col("dot_s").desc(), "nid")
        .limit(50)
        .select("nid", F.row_number().over(wd).cast("long").alias("r_dot"))
    )
    fused = cosr.join(dotr, "nid", "full_outer")
    rrf = (
        F.coalesce(F.expr("1000000 DIV (60 + r_cos)"), F.lit(0))
        + F.coalesce(F.expr("1000000 DIV (60 + r_dot)"), F.lit(0))
    ).cast("long")
    return (
        fused.select(
            "nid",
            F.coalesce("r_cos", F.lit(0)).cast("long").alias("r_cos"),
            F.coalesce("r_dot", F.lit(0)).cast("long").alias("r_dot"),
            rrf.alias("rrf_milli"),
        )
        .orderBy(F.col("rrf_milli").desc(), "nid")
        .limit(10)
    )
