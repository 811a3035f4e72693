"""Embedding-matrix operators: distributed PCA projection.

LLM-pipeline extension (no reference equivalent — SURVEY.md §2.B
extension block): dimensionality reduction is the standard preprocessing
step in front of ANN indexes (PQ trains better and lists balance better
on decorrelated, variance-ordered axes) and the classic whitening step
for embedding dedup.

Scale shape: PCA over N×64 needs only the 64×64 second-moment matrix —
ONE corpus pass emitting (count, sum[64], X᷀X[64×64]) partials per
partition via mapInArrow (the same map-side-combine pattern as the
k-means trainer), a driver-side eigendecomposition of the 64×64
covariance (bounded — never sees a data row), and one Arrow-batched
matmul pass to project. Nothing superlinear, nothing driver-heavy.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xml_hive_spark.operators import query, t


def pca_fit(emb: DataFrame, vec_col: str = "embedding", dim: int = 64,
            k: int = 8, return_evals: bool = False):
    """Fit PCA over a vector column: returns (mean[dim], components
    (dim, k)) with deterministic component signs (largest-|loading|
    coordinate made positive — eigenvector sign is otherwise arbitrary).
    With ``return_evals=True`` also returns the top-k eigenvalues
    (descending) — the per-component explained variances.

    One distributed pass: per-partition (n, Σx, ΣxxT) partials; the
    driver combines P partials and eigendecomposes the 64×64 covariance.
    Driver traffic is P×(1+dim+dim²) floats — independent of N."""
    import numpy as np
    import pyarrow as pa

    vecs = emb.select(vec_col)

    def partials(batches):
        from xml_hive_spark.operators.similarity import fixed_dim_matrix

        n = 0
        s = np.zeros(dim)
        g = np.zeros((dim, dim))
        for batch in batches:
            if batch.num_rows == 0:
                continue
            col = batch.column(0)
            m = fixed_dim_matrix(col, dim)
            if m is None:  # ragged/null rows: exact slow path
                m = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in col.to_pylist()]
                )
            n += len(m)
            s += m.sum(axis=0)
            g += m.T @ m
        yield pa.record_batch(
            {
                "n": pa.array([n], pa.int64()),
                "s": pa.array([s.tolist()], pa.list_(pa.float64())),
                "g": pa.array([g.reshape(-1).tolist()], pa.list_(pa.float64())),
            }
        )

    rows = vecs.mapInArrow(
        partials, "n long, s array<double>, g array<double>"
    ).collect()
    n = sum(r.n for r in rows)
    if n == 0:
        raise ValueError(
            "pca_fit: empty corpus — no vectors to fit (a 0/0 mean would "
            "silently propagate NaN into every projection)"
        )
    s = np.sum([np.asarray(r.s) for r in rows], axis=0)
    g = np.sum([np.asarray(r.g).reshape(dim, dim) for r in rows], axis=0)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order]  # (dim, k)
    for j in range(comps.shape[1]):  # deterministic signs
        i = int(np.argmax(np.abs(comps[:, j])))
        if comps[i, j] < 0:
            comps[:, j] = -comps[:, j]
    if return_evals:
        return mean, comps, evals[order]
    return mean, comps


@query("embedding_pca_project", tags=("similarity", "pca", "embedding"))
def embedding_pca_project(spark: SparkSession, sf: str) -> DataFrame:
    """Project every embedding onto its corpus's top-8 principal
    components (centered), quantized to 6 decimals for a stable
    driver row check.

    Fit is :func:`pca_fit` (one partial-sums pass + a 64×64 driver
    eigh); projection is one Arrow-batched numpy matmul per batch with
    the (64×8) component matrix shipped in the UDF closure — the same
    broadcast-the-model shape as ``kmeans_assign``.

    Correctness disposition (final, re-audited r10): this stays
    ROWS-ONLY at the driver. The 64-d per-component explained variances
    are eigenvalues of a 64×64 covariance — there is no closed form
    past 4×4 (Abel–Ruffini) and DuckDB has no iterative eigensolver.
    An UNROLLED iterative twin was fully designed in r10 (integer
    power iteration: exact scaled-integer covariance, L∞
    renormalization, truncating division — all portable) and then
    REJECTED by measurement: the corpus eigen-spectrum is near-flat
    (λ₂/λ₁ = 0.93–0.99 at every SF), so a bounded-iteration power
    method converges to nothing PCA-like and the oracle would
    hash-check a deterministic non-PCA (SCALE.md, round-10 late). The
    machinery is value-checked two ways instead:
    ``pca_explained_variance_2d`` runs the SAME moment pipeline where
    the 2×2 eigenvalues DO have a closed form (full DuckDB hash
    oracle), and tests/test_embeddings.py pins numpy parity,
    orthonormality, variance ordering, and fit-vs-closed-form
    eigenvalue agreement."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    emb = t(spark, sf, "embeddings")
    mean, comps = pca_fit(emb, "embedding", dim=64, k=8)

    @pandas_udf("array<double>")
    def project(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        p = np.round((m - mean) @ comps, 6)
        return pd.Series(p.tolist())

    return emb.select("vec_id", project(F.col("embedding")).alias("pc")).select(
        "vec_id", F.to_json("pc").alias("pc_json")  # canonicalizer-safe (no
        # raw array cells — the driver harness cannot hash list cells)
    )


@query(
    "pca_explained_variance_2d",
    oracle="""
WITH m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(CAST(embedding[1] AS DOUBLE)
                       AS DECIMAL(30,6))) AS DOUBLE) AS sa,
         CAST(sum(CAST(CAST(embedding[2] AS DOUBLE)
                       AS DECIMAL(30,6))) AS DOUBLE) AS sb,
         CAST(sum(CAST(CAST(embedding[1] AS DOUBLE) * CAST(embedding[1] AS DOUBLE)
                       AS DECIMAL(30,6))) AS DOUBLE) AS saa,
         CAST(sum(CAST(CAST(embedding[2] AS DOUBLE) * CAST(embedding[2] AS DOUBLE)
                       AS DECIMAL(30,6))) AS DOUBLE) AS sbb,
         CAST(sum(CAST(CAST(embedding[1] AS DOUBLE) * CAST(embedding[2] AS DOUBLE)
                       AS DECIMAL(30,6))) AS DOUBLE) AS sab
  FROM embeddings
),
cov AS (
  SELECT n,
         saa / n - (sa / n) * (sa / n) AS va,
         sbb / n - (sb / n) * (sb / n) AS vb,
         sab / n - (sa / n) * (sb / n) AS cab
  FROM m
),
eig AS (
  SELECT n, va, vb,
         (va + vb) / 2.0e0 AS h,
         sqrt(((va - vb) / 2.0e0) * ((va - vb) / 2.0e0) + cab * cab) AS d
  FROM cov
)
SELECT n AS n_vectors,
       round(h + d, 6) AS ev_1,
       round(h - d, 6) AS ev_2,
       round(h - d, 6) AS recon_error_k1,
       round((h + d) / (va + vb), 6) AS ev_ratio_1
FROM eig
""",
    tags=("embeddings", "pca", "explained-variance"),
)
def pca_explained_variance_2d(spark: SparkSession, sf: str) -> DataFrame:
    """PER-COMPONENT EXPLAINED VARIANCE with a FULL value oracle — the
    SQL-verifiable witness for the PCA machinery: over the first two
    embedding coordinates the covariance eigenvalues have a closed form
    (λ = h ± sqrt(((va−vb)/2)² + cab²), h = (va+vb)/2), so the
    rotation-invariant scalars the 64-d fit can only be numpy-checked on
    are hash-checked here end to end: eigenvalues (= explained variance
    per component, descending), the k=1 reconstruction error (= λ₂, the
    variance PCA discards keeping one component), and the explained
    ratio λ₁/trace.

    Both engines run the IDENTICAL expression tree over decimal-exact
    moments (the ``dsum`` convention: each addend cast to
    DECIMAL(30,6), so the sums are order-independent and
    engine-identical; everything after is deterministic IEEE double
    arithmetic), making the float outputs hash-exact, not just close.
    tests/test_embeddings.py additionally pins :func:`pca_fit`'s
    iterative 2-d eigenvalues to this closed form — tying the rows-only
    64-d operator to a driver-hash-checked query.

    Scale shape: ONE corpus pass, one partial+final hash-agg emitting
    six scalars; the eigen arithmetic is a 1-row projection. Nothing
    grows with N."""
    emb = t(spark, sf, "embeddings")
    a = F.col("embedding")[0].cast("double")
    b = F.col("embedding")[1].cast("double")
    m = emb.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(a.cast("decimal(30,6)")).cast("double").alias("sa"),
        F.sum(b.cast("decimal(30,6)")).cast("double").alias("sb"),
        F.sum((a * a).cast("decimal(30,6)")).cast("double").alias("saa"),
        F.sum((b * b).cast("decimal(30,6)")).cast("double").alias("sbb"),
        F.sum((a * b).cast("decimal(30,6)")).cast("double").alias("sab"),
    )
    cov = m.select(
        "n",
        (F.col("saa") / F.col("n")
         - (F.col("sa") / F.col("n")) * (F.col("sa") / F.col("n"))).alias("va"),
        (F.col("sbb") / F.col("n")
         - (F.col("sb") / F.col("n")) * (F.col("sb") / F.col("n"))).alias("vb"),
        (F.col("sab") / F.col("n")
         - (F.col("sa") / F.col("n")) * (F.col("sb") / F.col("n"))).alias("cab"),
    )
    eig = cov.select(
        "n",
        "va",
        "vb",
        ((F.col("va") + F.col("vb")) / F.lit(2.0)).alias("h"),
        F.sqrt(
            ((F.col("va") - F.col("vb")) / F.lit(2.0))
            * ((F.col("va") - F.col("vb")) / F.lit(2.0))
            + F.col("cab") * F.col("cab")
        ).alias("d"),
    )
    return eig.select(
        F.col("n").alias("n_vectors"),
        F.round(F.col("h") + F.col("d"), 6).alias("ev_1"),
        F.round(F.col("h") - F.col("d"), 6).alias("ev_2"),
        F.round(F.col("h") - F.col("d"), 6).alias("recon_error_k1"),
        F.round((F.col("h") + F.col("d")) / (F.col("va") + F.col("vb")), 6)
        .alias("ev_ratio_1"),
    )


@query(
    "pca_project_2d",
    oracle="""
WITH m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(CAST(embedding[1] AS DOUBLE)
                       AS DECIMAL(30,6))) AS DOUBLE) AS sa,
         CAST(sum(CAST(CAST(embedding[2] AS DOUBLE)
                       AS DECIMAL(30,6))) AS DOUBLE) AS sb,
         CAST(sum(CAST(CAST(embedding[1] AS DOUBLE) * CAST(embedding[1] AS DOUBLE)
                       AS DECIMAL(30,6))) AS DOUBLE) AS saa,
         CAST(sum(CAST(CAST(embedding[2] AS DOUBLE) * CAST(embedding[2] AS DOUBLE)
                       AS DECIMAL(30,6))) AS DOUBLE) AS sbb,
         CAST(sum(CAST(CAST(embedding[1] AS DOUBLE) * CAST(embedding[2] AS DOUBLE)
                       AS DECIMAL(30,6))) AS DOUBLE) AS sab
  FROM embeddings
),
cov AS (
  SELECT sa / n AS m0, sb / n AS m1,
         saa / n - (sa / n) * (sa / n) AS va,
         sbb / n - (sb / n) * (sb / n) AS vb,
         sab / n - (sa / n) * (sb / n) AS cab
  FROM m
),
eig AS (
  SELECT m0, m1, va, cab,
         (va + vb) / 2.0e0 AS h,
         sqrt(((va - vb) / 2.0e0) * ((va - vb) / 2.0e0) + cab * cab) AS d
  FROM cov
),
vv AS (
  SELECT m0, m1, cab AS v0, (h + d) - va AS v1 FROM eig
),
nrm AS (
  SELECT m0, m1, v0, v1, sqrt(v0 * v0 + v1 * v1) AS nm FROM vv
)
SELECT e.vec_id AS vec_id,
       round(((CAST(e.embedding[1] AS DOUBLE) - m0) * v0
              + (CAST(e.embedding[2] AS DOUBLE) - m1) * v1) / nm, 6) AS pc1
FROM embeddings e, nrm
WHERE nm > 0
""",
    tags=("embeddings", "pca", "projection"),
)
def pca_project_2d(spark: SparkSession, sf: str) -> DataFrame:
    """PCA PROJECTION with a FULL value oracle — closes the witness
    chain the 64-d operator can't: ``pca_explained_variance_2d``
    hash-checks the fit's EIGENVALUES; this query hash-checks an actual
    per-row PROJECTION, because in 2-d the top eigenVECTOR also has a
    closed form: v = (cab, λ₁ − va) (direct from (C − λ₁I)v = 0),
    needing only sqrt and division — every op IEEE-deterministic, so
    both engines compute the identical double before the shared
    round(6).

    Fit and projection are ONE Catalyst plan, no driver model state at
    all: the moments aggregate to a single row (decimal-exact ``dsum``
    sums — order-independent), the eigenvector arithmetic is a 1-row
    projection, and the model row is broadcast back onto the corpus via
    crossJoin — the broadcast-the-model join shape at any scale. The
    degenerate diagonal-covariance case (‖v‖ = 0) filters identically
    in both engines rather than hashing NaNs. numpy-parity (up to
    eigenvector sign) pinned in tests/test_embeddings.py."""
    emb = t(spark, sf, "embeddings")
    a = F.col("embedding")[0].cast("double")
    b = F.col("embedding")[1].cast("double")
    m = emb.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(a.cast("decimal(30,6)")).cast("double").alias("sa"),
        F.sum(b.cast("decimal(30,6)")).cast("double").alias("sb"),
        F.sum((a * a).cast("decimal(30,6)")).cast("double").alias("saa"),
        F.sum((b * b).cast("decimal(30,6)")).cast("double").alias("sbb"),
        F.sum((a * b).cast("decimal(30,6)")).cast("double").alias("sab"),
    )
    cov = m.select(
        (F.col("sa") / F.col("n")).alias("m0"),
        (F.col("sb") / F.col("n")).alias("m1"),
        (F.col("saa") / F.col("n")
         - (F.col("sa") / F.col("n")) * (F.col("sa") / F.col("n"))).alias("va"),
        (F.col("sbb") / F.col("n")
         - (F.col("sb") / F.col("n")) * (F.col("sb") / F.col("n"))).alias("vb"),
        (F.col("sab") / F.col("n")
         - (F.col("sa") / F.col("n")) * (F.col("sb") / F.col("n"))).alias("cab"),
    )
    eig = cov.select(
        "m0", "m1", "va", "cab",
        ((F.col("va") + F.col("vb")) / F.lit(2.0)).alias("h"),
        F.sqrt(
            ((F.col("va") - F.col("vb")) / F.lit(2.0))
            * ((F.col("va") - F.col("vb")) / F.lit(2.0))
            + F.col("cab") * F.col("cab")
        ).alias("d"),
    )
    vv = eig.select(
        "m0", "m1",
        F.col("cab").alias("v0"),
        ((F.col("h") + F.col("d")) - F.col("va")).alias("v1"),
    )
    nrm = vv.select(
        "m0", "m1", "v0", "v1",
        F.sqrt(F.col("v0") * F.col("v0") + F.col("v1") * F.col("v1"))
        .alias("nm"),
    )
    return (
        emb.crossJoin(F.broadcast(nrm))
        .where(F.col("nm") > 0)
        .select(
            "vec_id",
            F.round(
                ((a - F.col("m0")) * F.col("v0")
                 + (b - F.col("m1")) * F.col("v1")) / F.col("nm"),
                6,
            ).alias("pc1"),
        )
    )


@query(
    "embedding_drift_monitor",
    oracle="""
WITH halves AS (
  SELECT CASE WHEN vec_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS half,
         embedding
  FROM embeddings
),
per_dim AS (
  SELECT half, t.i AS dim,
         CAST(sum(CAST(CAST(embedding[t.i + 1] AS DOUBLE)
                       AS DECIMAL(30,6))) AS DOUBLE) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM halves CROSS JOIN range(0, 64) t(i)
  GROUP BY half, dim
),
shift AS (
  SELECT r.dim,
         round(abs(r.s / r.n - c.s / c.n), 6) AS mean_shift
  FROM per_dim r JOIN per_dim c ON r.dim = c.dim
  WHERE r.half = 'ref' AND c.half = 'cur'
)
SELECT CAST(count(*) AS BIGINT) AS n_dims,
       round(max(mean_shift), 6) AS max_shift,
       CAST((SELECT dim FROM shift ORDER BY mean_shift DESC, dim LIMIT 1)
            AS BIGINT) AS worst_dim
FROM shift
""",
    tags=("embeddings", "drift", "monitoring"),
)
def embedding_drift_monitor(spark: SparkSession, sf: str) -> DataFrame:
    """EMBEDDING DRIFT monitor — the production check that a new model
    version or data source hasn't shifted the vector distribution:
    per-dimension mean of a reference split vs the current split
    (even/odd vec_id stands in for yesterday/today), max absolute
    mean-shift and the worst dimension. Sums ride the decimal-exact
    ``dsum`` convention (order-independent, engine-identical) and the
    final per-dim division/abs/round is one identical expression tree,
    so the drift score itself is hash-checked.

    Scale shape: ONE posexplode pass + a (2 × 64)-row aggregate —
    map-side combine absorbs the corpus; the monitor's output is
    O(dims) regardless of corpus size, and the per-dim summary table
    is the mergeable artifact a daily job would persist."""
    emb = t(spark, sf, "embeddings")
    halves = emb.select(
        F.when(F.col("vec_id") % 2 == 0, "ref").otherwise("cur").alias("half"),
        F.posexplode("embedding").alias("dim", "x"),
    )
    per_dim = halves.groupBy("half", "dim").agg(
        F.sum(F.col("x").cast("double").cast("decimal(30,6)"))
        .cast("double")
        .alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    r = per_dim.filter(F.col("half") == "ref").select(
        "dim", (F.col("s") / F.col("n")).alias("mr")
    )
    c = per_dim.filter(F.col("half") == "cur").select(
        F.col("dim").alias("dim_c"), (F.col("s") / F.col("n")).alias("mc")
    )
    shift = r.join(c, r.dim == c.dim_c).select(
        "dim", F.round(F.abs(F.col("mr") - F.col("mc")), 6).alias("mean_shift")
    )
    worst = (
        shift.orderBy(F.col("mean_shift").desc(), "dim")
        .limit(1)
        .select(F.col("dim").cast("long").alias("worst_dim"))
    )
    return (
        shift.agg(
            F.count(F.lit(1)).cast("long").alias("n_dims"),
            F.round(F.max("mean_shift"), 6).alias("max_shift"),
        )
        .crossJoin(F.broadcast(worst))
    )


_Q20I = 1 << 20  # integer twin of similarity._Q20


def _int_matrix(col, dim: int):
    """(n, dim) INT64 matrix from an Arrow list<int64> column, or None
    on nulls/ragged rows — the integer twin of
    :func:`similarity.fixed_dim_matrix` (float64 would lose exactness
    past 2^53 in the gradient partials; int64 keeps the whole reduction
    exact). Row lengths verified via the offsets buffer, same as the
    sibling."""
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
    return np.ascontiguousarray(flat.reshape(-1, dim)).astype(
        np.int64, copy=False
    )


def _tdiv(a: int, b: int) -> int:
    """Truncating integer division (toward zero) for positive ``b`` —
    the convention Spark's ``div`` and DuckDB's ``//`` share (Python's
    ``//`` floors, so the driver-side twin needs this helper)."""
    q = abs(a) // b
    return -q if a < 0 else q


def logreg_fit(
    emb: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "y",
    dim: int = 64,
    iters: int = 20,
) -> list[int]:
    """Distributed full-batch logistic-regression training, PORTABLE
    AND BIT-REPRODUCIBLE (r10 rewrite): returns the ``dim + 1``
    quantized integer weights (scale 2^20, bias last).

    The r9 blocker on oracling this operator was that libm ``exp()`` is
    not bit-reproducible across engines. The r10 trainer removes exp()
    from the loop entirely: the link is the rational fast sigmoid
    p = 0.5 + (0.5·z)/(1 + |z|) — an increasing link whose integral is
    convex, so full-batch GD on the induced surrogate loss still
    descends (pinned in tests) — evaluated in a FIXED-ORDER IEEE double
    expression; everything else is exact integer arithmetic:

    - features xq = floor(x·2^20) (the ``q20`` convention), bias 2^20;
    - per-row score dotq = Σ wq·xq — exact int64 (|dotq| ≤ 2^48), a
      literal-weights codegen expression, no UDF, no join;
    - z = dotq/2^40 (one exact-operand IEEE division), pq = floor(p·2^20);
    - gradient gq_j = Σ (pq − yq)·xq_j — INTEGER sums (int64 only
      within one guarded Arrow batch; cross-batch and driver combines
      are arbitrary-precision Python ints), so partial aggregation is
      ORDER-FREE: any partitioning, any executor count, any add order
      produces the same bits at ANY corpus size;
    - update wq −= tdiv(gq, n·2^20) in exact driver-side Python ints.

    That makes training results independent of cluster size AND
    engine — the property a 1000-executor retraining job needs for
    reproducibility audits — and SQL-replayable (the driver oracle
    unrolls the loop as materialized CTEs). Per iteration: ONE
    mapInArrow pass over the persisted quantized corpus emitting each
    partition's int64 gradient partial (numpy integer matmul — exact,
    so the combine is order-free), summed on the driver in arbitrary-
    precision Python ints; driver state is 65 ints. (A 65-column
    SQL-aggregate formulation was tried first and spent 1.5 s/step on
    plan compilation alone — the arrow pass has a constant-size plan;
    numbers in SCALE.md.)"""
    import math

    import numpy as np
    import pyarrow as pa

    # fail-loud overflow contract (the ASCII-guard philosophy): the
    # int64 quantization and matmuls below would WRAP SILENTLY on
    # adversarial-magnitude features, diverging from the arbitrary-
    # precision references instead of erroring — so the magnitude is
    # checked on the RAW doubles, before any long cast exists. Normal
    # embedding-like data (|x| ≲ 1 → mx ≈ 2^20) sits ~2^14 under the
    # bound.
    # r13: one setup job instead of two — the row count and the
    # magnitude guard ride the same aggregate (both are full-scan
    # scalars; scheduling them separately paid one extra job)
    n, mxd = emb.agg(
        F.count(F.lit(1)),
        F.max(
            F.expr(
                f"aggregate({vec_col}, CAST(0.0 AS DOUBLE),"
                " (a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))"
            )
        ),
    ).collect()[0]
    if n == 0:
        raise ValueError("logreg_fit: empty corpus")
    mx = int(math.floor(float(mxd or 0.0) * _Q20I)) + _Q20I  # + bias/floor margin
    # the cross-batch accumulator is arbitrary-precision Python ints,
    # so the only int64 surface in the gradient is the PER-ARROW-BATCH
    # matmul — bounded by maxRecordsPerBatch, independent of corpus
    # size (n never appears in an overflow bound: the fit is valid at
    # any scale for sane feature magnitudes)
    batch_cap = int(
        emb.sparkSession.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    )
    if batch_cap <= 0:
        batch_cap = n  # unlimited batches: a partition is one batch
    if batch_cap * _Q20I * mx > (1 << 62):
        raise ValueError(
            f"logreg_fit: per-batch gradient partials may overflow int64 "
            f"(maxRecordsPerBatch={batch_cap}, max|xq|={mx}) — rescale "
            "features or lower spark.sql.execution.arrow.maxRecordsPerBatch"
        )

    qdf = emb.select(
        (F.col(label_col).cast("long") * F.lit(_Q20I)).alias("yq"),
        F.concat(
            F.expr(
                f"transform({vec_col}, v -> CAST(floor(CAST(v AS DOUBLE)"
                " * 1048576.0) AS BIGINT))"
            ),
            F.array(F.lit(_Q20I).cast("long")),
        ).alias("xs"),
    ).persist()
    try:
        w = [0] * (dim + 1)
        for _ in range(iters):
            wmax = max(abs(v) for v in w)
            if (dim + 1) * wmax * mx > (1 << 62):
                raise ValueError(
                    "logreg_fit: per-row scores may overflow int64 "
                    f"(max|wq|={wmax}, max|xq|={mx}) — rescale features"
                )
            wb = np.asarray(w, dtype=np.int64)  # |w| << 2^63

            def grad_partials(batches):
                # exact arbitrary-precision cross-batch accumulator —
                # the int64 surface is only the per-batch matmul below,
                # whose bound (batch_cap·2^20·mx ≤ 2^62) was checked at
                # fit start; partials ship as decimal strings because a
                # partition's exact sum can exceed int64 at real scale
                g = [0] * (dim + 1)
                for b in batches:
                    if b.num_rows == 0:
                        continue
                    yq = b.column("yq").to_numpy(zero_copy_only=False)
                    m = _int_matrix(b.column("xs"), dim + 1)
                    if m is None:  # ragged/null rows: exact slow path
                        m = np.asarray(
                            b.column("xs").to_pylist(), dtype=np.int64
                        )
                    dot = m @ wb  # exact: 65·wmax·mx guarded above
                    z = dot.astype(np.float64) / float(1 << 40)
                    p = 0.5 + (0.5 * z) / (1.0 + np.abs(z))
                    pq = np.floor(p * 1048576.0).astype(np.int64)
                    gb = m.T @ (pq - yq)  # exact per batch (guarded)
                    for j in range(dim + 1):
                        g[j] += int(gb[j])
                yield pa.record_batch(
                    {"g": pa.array([[str(v) for v in g]],
                                   pa.list_(pa.string()))}
                )

            parts = qdf.mapInArrow(grad_partials, "g array<string>").collect()
            gt = [sum(int(r.g[j]) for r in parts) for j in range(dim + 1)]
            w = [w[j] - _tdiv(gt[j], n * _Q20I) for j in range(dim + 1)]
        return w
    finally:
        qdf.unpersist()


def _logreg_iteration_ctes(r: int) -> str:
    """One unrolled GD step for the DuckDB twin of :func:`logreg_fit`:
    per-row integer score vs ``w{r-1}``, the fixed-order fast-sigmoid
    expression (the identical IEEE tree the Spark side evaluates),
    integer gradient sums, truncating-division weight update.
    MATERIALIZED is load-bearing twice over: each ``w{r}`` is referenced
    by both ``d{r+1}`` and ``w{r+1}``, so inlined CTEs would expand
    2^iters; and inlined scans would reopen the parquet file per
    reference (fd exhaustion at 20 iterations)."""
    return f""",
d{r} AS MATERIALIZED (
  SELECT f.vec_id,
         CAST(CAST(sum(f.xq * w.wq) AS BIGINT) AS DOUBLE)
             / 1099511627776.0 AS z
  FROM feat f JOIN w{r - 1} w ON f.j = w.j GROUP BY f.vec_id
),
r{r} AS MATERIALIZED (
  SELECT d.vec_id,
         CAST(floor((0.5 + (0.5 * d.z) / (1.0 + abs(d.z)))
                    * 1048576.0) AS BIGINT) - l.yq AS rq
  FROM d{r} d JOIN lab l ON d.vec_id = l.vec_id
),
g{r} AS MATERIALIZED (
  -- no BIGINT cast: this is the ONE corpus-size-dependent sum in the
  -- replay (n terms of |rq*xq| <= 2^41), and the Spark trainer's
  -- cross-batch accumulator is arbitrary-precision Python int, so the
  -- twin must ride DuckDB's HUGEINT through the gradient too or it
  -- would overflow at n >~ 2^22 where the fit succeeds. The per-vec
  -- sums (d{{r}}/fin: 65 terms, |xq|<=2^20, |wq|<~2^26) stay BIGINT.
  SELECT f.j, sum(r.rq * f.xq) AS gq
  FROM feat f JOIN r{r} r ON f.vec_id = r.vec_id GROUP BY f.j
),
w{r} AS MATERIALIZED (
  SELECT w.j, w.wq - g.gq // (1048576 * (SELECT n FROM nn)) AS wq
  FROM w{r - 1} w JOIN g{r} g ON w.j = g.j
)"""


def _logreg_training_ctes(iters: int = 20) -> str:
    """The WITH-prefix replaying the full training loop: quantized
    feature table (bias as feature 64), binary labels, then ``iters``
    unrolled GD steps ending at ``w{iters}``. Shared by the registry
    oracle and the cross-engine training fuzz
    (tests/test_portable_hash.py)."""
    parts = ["""
WITH feat AS MATERIALIZED (
  SELECT vec_id, t.j AS j,
         CASE WHEN t.j = 64 THEN CAST(1048576 AS BIGINT)
              ELSE CAST(floor(CAST(embedding[t.j + 1] AS DOUBLE)
                              * 1048576.0) AS BIGINT) END AS xq
  FROM embeddings CROSS JOIN range(0, 65) t(j)
),
lab AS MATERIALIZED (
  SELECT vec_id, CAST(label % 2 AS BIGINT) AS y,
         CAST(label % 2 AS BIGINT) * 1048576 AS yq
  FROM embeddings
),
nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
w0 AS MATERIALIZED (
  SELECT CAST(t.j AS BIGINT) AS j, CAST(0 AS BIGINT) AS wq
  FROM range(0, 65) t(j))"""]
    for r in range(1, iters + 1):
        parts.append(_logreg_iteration_ctes(r))
    return "".join(parts)


def _logreg_oracle(iters: int = 20) -> str:
    """Full DuckDB twin of the r10 portable trainer: the training
    replay plus the confusion summary + Σ|wq| witness from the final
    weights."""
    parts = [_logreg_training_ctes(iters)]
    parts.append(f""",
fin AS MATERIALIZED (
  SELECT f.vec_id, CAST(sum(f.xq * w.wq) AS BIGINT) AS dotq
  FROM feat f JOIN w{iters} w ON f.j = w.j GROUP BY f.vec_id
),
l1 AS (SELECT CAST(sum(abs(wq)) AS BIGINT) AS w_l1q FROM w{iters})
SELECT l.y AS true_class,
       CASE WHEN fin.dotq > 0 THEN CAST(1 AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS predicted_class,
       CAST(count(*) AS BIGINT) AS n,
       (SELECT w_l1q FROM l1) AS w_l1q
FROM fin JOIN lab l ON fin.vec_id = l.vec_id
GROUP BY 1, 2, 4
ORDER BY true_class, predicted_class""")
    return "".join(parts)


@query("logreg_train_distributed", oracle=_logreg_oracle(20),
       tags=("embeddings", "ml", "iterative", "logistic-regression"))
def logreg_train_distributed(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed LOGISTIC-REGRESSION training over the embedding
    corpus (binary target: odd label) — the supervised member of the
    iterative family (k-means, PCA, PageRank, BPE): 20 full-batch
    gradient steps, each ONE codegen scan + global aggregate over the
    persisted quantized corpus; the driver state is 65 integer weights.

    FULL value oracle since r10 (was rows-only: "iterated sigmoid GD —
    exp() is not cross-libm bit-reproducible"): the r10 trainer
    (:func:`logreg_fit`) replaced exp() with the rational fast sigmoid
    and made every cross-row reduction an exact integer sum, so the
    whole training run is bit-reproducible across engines, partition
    layouts, and cluster sizes — the DuckDB twin unrolls the identical
    20 steps as materialized CTEs. Exact integer-weight replay parity,
    surrogate-loss descent, accuracy-above-majority, and decision
    agreement with the exp-sigmoid float reference are pinned in
    tests/test_embeddings.py.

    Output: per true class, prediction counts from the trained model
    (bounded confusion summary) + the Σ|wq| weight witness — the
    constant column makes the driver hash cover the weights themselves,
    not just the decisions they induce."""
    emb = t(spark, sf, "embeddings").select(
        "embedding", (F.col("label") % 2).cast("long").alias("y")
    )
    w = logreg_fit(emb)
    w_l1q = sum(abs(v) for v in w)
    dot = sum(
        (F.lit(w[i]) * F.floor(
            F.col("embedding")[i].cast("double") * F.lit(1048576.0)
        ).cast("long") for i in range(1, 64)),
        start=F.lit(w[0]) * F.floor(
            F.col("embedding")[0].cast("double") * F.lit(1048576.0)
        ).cast("long"),
    ) + F.lit(w[64] * _Q20I)
    return (
        emb.select(
            F.col("y").alias("true_class"),
            (dot > 0).cast("long").alias("predicted_class"),
        )
        .groupBy("true_class", "predicted_class")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn("w_l1q", F.lit(w_l1q).cast("long"))
        .orderBy("true_class", "predicted_class")
    )
