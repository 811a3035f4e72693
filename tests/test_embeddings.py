"""Distributed PCA (operators/embeddings.py): the mapInArrow partial-sums
fit must agree with a straight numpy PCA over the collected corpus, and
the projection query must be a faithful application of that model.
"""

from __future__ import annotations

import json

import numpy as np

from pyspark.sql import functions as F

from xml_hive_spark.operators import all_queries, t
from xml_hive_spark.operators.embeddings import pca_fit


def _corpus(spark, sf_dir):
    rows = (
        t(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows])
    x = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    return ids, x


class TestPcaFit:
    def test_matches_numpy(self, spark, sf_dir):
        ids, x = _corpus(spark, sf_dir)
        mean, comps = pca_fit(t(spark, sf_dir, "embeddings"), k=8)
        assert np.allclose(mean, x.mean(axis=0), atol=1e-9)
        cov = np.cov(x, rowvar=False, bias=True)
        evals, evecs = np.linalg.eigh(cov)
        order = np.argsort(evals)[::-1][:8]
        ref = evecs[:, order]
        # eigenvector sign is arbitrary — compare up to sign per column
        for j in range(8):
            d = min(
                np.abs(comps[:, j] - ref[:, j]).max(),
                np.abs(comps[:, j] + ref[:, j]).max(),
            )
            assert d < 1e-6, (j, d)

    def test_2d_evals_match_closed_form_query(self, spark, sf_dir):
        """Ties the rows-only 64-d operator to the hash-oracled witness:
        pca_fit's iterative eigh over the first two coordinates must
        reproduce the closed-form 2x2 eigenvalues the
        pca_explained_variance_2d query (and its DuckDB oracle) compute."""
        emb2 = t(spark, sf_dir, "embeddings").select(
            F.array(
                F.col("embedding")[0], F.col("embedding")[1]
            ).alias("embedding")
        )
        mean, comps, evals = pca_fit(emb2, dim=2, k=2, return_evals=True)
        row = (
            all_queries()["pca_explained_variance_2d"]
            .fn(spark, sf_dir)
            .collect()[0]
        )
        # the query's moments are decimal-truncated at 6 decimals (the
        # engine-portability convention); the fit's are exact float64 —
        # agreement to ~1e-6 is the designed overlap
        assert abs(evals[0] - row.ev_1) < 2e-6, (evals, row)
        assert abs(evals[1] - row.ev_2) < 2e-6, (evals, row)
        assert row.recon_error_k1 == row.ev_2
        assert evals[0] >= evals[1] > 0

    def test_components_orthonormal_and_variance_ordered(self, spark, sf_dir):
        ids, x = _corpus(spark, sf_dir)
        mean, comps = pca_fit(t(spark, sf_dir, "embeddings"), k=8)
        assert np.allclose(comps.T @ comps, np.eye(8), atol=1e-9)
        proj = (x - mean) @ comps
        var = proj.var(axis=0)
        assert all(var[i] >= var[i + 1] - 1e-12 for i in range(7)), var


class TestProjectionQuery:
    def test_projection_matches_model(self, spark, sf_dir):
        ids, x = _corpus(spark, sf_dir)
        mean, comps = pca_fit(t(spark, sf_dir, "embeddings"), k=8)
        expected = {
            int(i): np.round((v - mean) @ comps, 6)
            for i, v in zip(ids, x)
        }
        out = all_queries()["embedding_pca_project"].fn(spark, sf_dir).collect()
        assert len(out) == len(ids)
        for r in out:
            got = np.array(json.loads(r.pc_json))
            # both sides round(6); partial-sum order can flip the last
            # digit at a rounding boundary
            assert np.allclose(got, expected[r.vec_id], atol=2e-6)


def _py_quantized_logreg(x, y01, iters):
    """Single-process exact-int reference of the r10 portable trainer
    (embeddings.logreg_fit): same quantization, same fixed-order
    fast-sigmoid IEEE tree, same truncating-division update."""
    import math

    import numpy as np

    from xml_hive_spark.operators.embeddings import _Q20I, _tdiv

    xq = [
        [int(v) for v in np.floor(xi * 1048576.0).astype(np.int64)] + [_Q20I]
        for xi in np.asarray(x, dtype=np.float64)
    ]
    yq = [int(v) * _Q20I for v in y01]
    n = len(xq)
    w = [0] * 65
    for _ in range(iters):
        g = [0] * 65
        for row, yv in zip(xq, yq):
            dot = sum(wj * xj for wj, xj in zip(w, row))
            # float(dot) FIRST: cast-then-divide, the exact two-step
            # both engines execute (numpy astype / DuckDB CAST) — a
            # one-step int/float true division is correctly rounded
            # and could differ beyond 2^53
            z = float(dot) / float(1 << 40)
            p = 0.5 + (0.5 * z) / (1.0 + abs(z))
            r = math.floor(p * 1048576.0) - yv
            for j in range(65):
                g[j] += r * row[j]
        w = [wj - _tdiv(gj, n * _Q20I) for wj, gj in zip(w, g)]
    return w, xq


class TestLogregDistributed:
    def test_exact_integer_replay(self, spark, sf_dir):
        """The distributed trainer must match the single-process
        exact-int reference BIT FOR BIT (integer equality, not
        allclose) — the portability property the r10 rewrite exists
        for: same weights regardless of partitioning or engine. Also:
        the query's confusion summary must beat the majority class and
        its decisions must substantially agree with the float
        exp-sigmoid reference trained the same way."""
        import numpy as np
        import pyspark.sql.functions as F

        from xml_hive_spark.operators import all_queries, t
        from xml_hive_spark.operators.embeddings import logreg_fit

        emb = t(spark, sf_dir, "embeddings").select(
            "embedding", (F.col("label") % 2).cast("long").alias("y")
        )
        w = logreg_fit(emb)
        rows = emb.collect()
        x = np.array([list(r.embedding) for r in rows], dtype=np.float64)
        y = np.array([r.y for r in rows], dtype=np.float64)
        wn, xq = _py_quantized_logreg(x, y.astype(int), 20)
        assert w == wn  # exact integers — the whole point

        out = all_queries()["logreg_train_distributed"].fn(spark, sf_dir)
        res = out.collect()
        total = sum(r.n for r in res)
        correct = sum(r.n for r in res if r.true_class == r.predicted_class)
        majority = max(y.mean(), 1 - y.mean())
        assert correct / total > majority
        assert all(r.w_l1q == sum(abs(v) for v in w) for r in res)

        # decision agreement with the classic exp-sigmoid trainer: the
        # fast-sigmoid surrogate must learn essentially the same
        # boundary (measured 0.88-0.89 across SFs)
        xb = np.hstack([x, np.ones((len(y), 1))])
        wf = np.zeros(65)
        for _ in range(20):
            p = 1.0 / (1.0 + np.exp(-(xb @ wf)))
            wf = wf - (xb.T @ (p - y)) / len(y)
        pred_exp = (xb @ wf) > 0
        pred_q = np.array(
            [sum(wj * xj for wj, xj in zip(w, row)) > 0 for row in xq]
        )
        assert (pred_q == pred_exp).mean() > 0.8

    def test_surrogate_loss_descends(self, spark, sf_dir):
        """More iterations must not increase the surrogate loss the
        fast-sigmoid gradient descends: L(w) = mean(F(z) − y·z) with
        F' = p, F(z) = 0.5·z + 0.5·sign(z)·(|z| − log1p(|z|)) — convex
        because p is increasing (quantization adds ≤2^-20 noise per
        step, hence the tolerance)."""
        import numpy as np
        import pyspark.sql.functions as F

        from xml_hive_spark.operators import t
        from xml_hive_spark.operators.embeddings import logreg_fit

        emb = t(spark, sf_dir, "embeddings").select(
            "embedding", (F.col("label") % 2).cast("long").alias("y")
        )
        rows = emb.collect()
        x = np.array([list(r.embedding) for r in rows], dtype=np.float64)
        y = np.array([r.y for r in rows], dtype=np.float64)
        xb = np.hstack([x, np.ones((len(y), 1))])

        def loss(wq):
            w = np.array(wq, dtype=np.float64) / 1048576.0
            z = xb @ w
            fz = 0.5 * z + 0.5 * np.sign(z) * (np.abs(z) - np.log1p(np.abs(z)))
            return float(np.mean(fz - y * z))

        w5 = logreg_fit(emb, iters=5)
        w20 = logreg_fit(emb, iters=20)
        assert loss(w20) <= loss(w5) + 1e-6


def test_logreg_overflow_guard_fails_loudly(spark):
    """Adversarial-magnitude features must raise, not wrap silently in
    the int64 matmuls (which would diverge from the arbitrary-precision
    references instead of erroring)."""
    import pytest

    from xml_hive_spark.operators.embeddings import logreg_fit

    big = 1.0e13  # xq ~ 2^63.1 -> n * 2^20 * mx blows the bound
    df = spark.createDataFrame(
        [([big] * 64, 1), ([-big] * 64, 0)], "embedding array<double>, y long"
    )
    with pytest.raises(ValueError, match="overflow"):
        logreg_fit(df, iters=1)



def test_pca_fit_rejects_null_vectors(spark):
    """A batch of exactly ``dim`` null vectors must raise, not fit an
    all-NaN mean."""
    import pytest

    df = spark.createDataFrame([(None,)] * 64, "embedding array<float>").coalesce(1)
    with pytest.raises(Exception, match="embedding: every vector must be non-null and 64 long"):
        pca_fit(df)


def test_logreg_fit_rejects_a_ragged_batch(spark):
    """63 + 65 values sum to two 64-rows: the fit must raise, not split
    values across the row boundary."""
    import pytest

    from xml_hive_spark.operators.embeddings import logreg_fit

    rows = [([0.5] * 64, i % 2) for i in range(8)] + [([0.5] * 63, 0), ([0.5] * 65, 1)]
    df = spark.createDataFrame(rows, "embedding array<float>, y long").coalesce(1)
    with pytest.raises(Exception, match=r"embedding \+ bias: every vector must be non-null and 65 long"):
        logreg_fit(df, iters=1)

def test_pca_project_2d_matches_numpy(spark, sf_dir):
    """The closed-form 2-d projection query must agree (up to
    eigenvector sign) with numpy: eigh over the first two coordinates,
    project onto the top component."""
    rows = (
        t(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    )
    x = np.stack(
        [np.asarray(r.embedding[:2], dtype=np.float64) for r in rows]
    )
    ids = [int(r.vec_id) for r in rows]
    cov = np.cov(x, rowvar=False, bias=True)
    evals, evecs = np.linalg.eigh(cov)
    v = evecs[:, np.argmax(evals)]
    expected = dict(zip(ids, (x - x.mean(axis=0)) @ v))
    out = all_queries()["pca_project_2d"].fn(spark, sf_dir).collect()
    assert len(out) == len(ids)
    sign = None
    for r in out:
        e = expected[r.vec_id]
        if sign is None and abs(e) > 1e-6:
            sign = 1.0 if abs(r.pc1 - e) < abs(r.pc1 + e) else -1.0
        if sign is not None:
            assert abs(r.pc1 - sign * e) < 1e-5, (r.vec_id, r.pc1, e)


def test_logreg_invariant_to_partitioning_and_batch_split(spark, sf_dir):
    """THE portability claim, tested directly: the trained weights must
    be bit-identical under different partition layouts AND different
    Arrow batch boundaries (the cross-batch accumulator is exact Python
    ints, so where Spark cuts batches cannot matter)."""
    import pyspark.sql.functions as F

    from xml_hive_spark.operators import t
    from xml_hive_spark.operators.embeddings import logreg_fit

    emb = t(spark, sf_dir, "embeddings").select(
        "embedding", (F.col("label") % 2).cast("long").alias("y")
    )
    w_a = logreg_fit(emb.repartition(7), iters=5)
    w_b = logreg_fit(emb.coalesce(1), iters=5)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, "10000")
    try:
        spark.conf.set(key, "7")  # force many tiny, oddly-cut batches
        w_c = logreg_fit(emb.repartition(3), iters=5)
    finally:
        spark.conf.set(key, old)
    assert w_a == w_b == w_c
