"""Similarity-search tests: brute-force correctness on a crafted corpus,
and LSH recall measured against the brute-force baseline on real data."""

from __future__ import annotations

import pytest

from xml_hive_spark.operators import all_queries


class TestBruteForce:
    def test_self_similarity_excluded_and_ranked(self, spark, sf_dir):
        df = all_queries()["cosine_topk_bruteforce"].fn(spark, sf_dir)
        rows = df.collect()
        by_q = {}
        for r in rows:
            by_q.setdefault(r.qid, []).append(r)
        for qid, rs in by_q.items():
            assert len(rs) == 5
            ranks = sorted(r.rank for r in rs)
            assert ranks == [1, 2, 3, 4, 5]
            sims = [r.cos_sim for r in sorted(rs, key=lambda x: x.rank)]
            assert sims == sorted(sims, reverse=True)
            assert all(r.nid != qid for r in rs)
            assert all(-1.0 <= r.cos_sim <= 1.0 for r in rs)


class TestLSH:
    def test_lsh_results_subset_quality(self, spark, sf_dir):
        """LSH top-k must (a) only return same-bucket candidates whose
        exact cosine matches brute-force's value for that pair (up to
        the r9 2^-20 quantization grain), (b) return exactly the top-5
        OF THE QUERY'S BUCKET (the contract a single-table LSH can
        actually promise), and (c) produce a healthy bucket spread.

        NOTE the assertion this test deliberately does NOT make:
        overlap with the GLOBAL top-5. Single-table sign-LSH with 8
        planes collides a cos≈0.3 pair with p = (1−θ/π)^8 ≈ 2 %, so
        zero global-top-5 overlap happens ~60 % of the time for ANY
        plane draw — the pre-r9 version of this assertion passed on a
        lucky seed. Recall floors belong to the BANDED construction
        (dedup_embedding_cosine / ann_join_topk tests), whose
        OR-of-bands design actually provides them."""
        from xml_hive_spark.operators.similarity import hyperplane_buckets
        from xml_hive_spark.operators import t as load

        brute = all_queries()["cosine_topk_bruteforce"].fn(spark, sf_dir).collect()
        lsh = all_queries()["cosine_topk_lsh"].fn(spark, sf_dir).collect()
        brute_cos = {(r.qid, r.nid): r.cos_sim for r in brute}
        # (a) cosine agreement on overlapping pairs
        for r in lsh:
            if (r.qid, r.nid) in brute_cos:
                assert abs(r.cos_sim - brute_cos[(r.qid, r.nid)]) < 1e-5
        # (b) per-query results are exactly the bucket's own top-5
        emb = load(spark, sf_dir, "embeddings")
        b = {r.id: r.bucket
             for r in hyperplane_buckets(emb, "vec_id", "embedding").collect()}
        by_q: dict = {}
        for r in lsh:
            by_q.setdefault(r.qid, []).append(r)
        for qid, rs in by_q.items():
            assert all(b[r.nid] == b[qid] for r in rs)
            n_bucket_mates = sum(
                1 for v, bk in b.items() if bk == b[qid] and v != qid
            )
            assert len(rs) == min(5, n_bucket_mates)
        # (c) buckets neither degenerate nor vacuous: >= 32 distinct of
        # 256 at 500+ vectors, and no bucket holds > 20 % of the corpus
        from collections import Counter
        spread = Counter(b.values())
        assert len(spread) >= 32
        assert max(spread.values()) <= max(2, len(b) // 5)


class TestIVF:
    def test_ivf_recall_and_agreement(self, spark, sf_dir):
        brute = all_queries()["cosine_topk_bruteforce"].fn(spark, sf_dir).collect()
        ivf = all_queries()["cosine_topk_ivf"].fn(spark, sf_dir).collect()
        brute_cos = {(r.qid, r.nid): r.cos_sim for r in brute}
        ivf_set = {(r.qid, r.nid) for r in ivf}
        # every query answered with a full top-5 from the probed lists
        by_q = {}
        for r in ivf:
            by_q.setdefault(r.qid, []).append(r.rank)
        assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())
        # cosine values agree exactly with brute force on shared pairs
        for r in ivf:
            if (r.qid, r.nid) in brute_cos:
                assert abs(r.cos_sim - brute_cos[(r.qid, r.nid)]) < 1e-9
        # probing 3 of 10 lists must still recover part of the true top-5
        assert len(ivf_set & set(brute_cos)) > 0

    def test_ivf_kmeans_recall_and_agreement(self, spark, sf_dir):
        """The k-means-trained quantizer must behave like the label-list
        variant: full top-5 per query, exact cosines on shared pairs,
        nonzero recall of the true top-5 from nprobe=4 of k=16 lists."""
        brute = all_queries()["cosine_topk_bruteforce"].fn(spark, sf_dir).collect()
        ivf = all_queries()["cosine_topk_ivf_kmeans"].fn(spark, sf_dir).collect()
        brute_cos = {(r.qid, r.nid): r.cos_sim for r in brute}
        by_q = {}
        for r in ivf:
            by_q.setdefault(r.qid, []).append(r.rank)
        assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())
        assert set(by_q) == {r.qid for r in brute}
        for r in ivf:
            if (r.qid, r.nid) in brute_cos:
                assert abs(r.cos_sim - brute_cos[(r.qid, r.nid)]) < 1e-9
        assert len({(r.qid, r.nid) for r in ivf} & set(brute_cos)) > 0

    def test_kmeans_training_is_deterministic_and_converging(self, spark, sf_dir):
        import numpy as np

        from xml_hive_spark.operators import t as load
        from xml_hive_spark.operators.similarity import train_kmeans_centroids

        emb = load(spark, sf_dir, "embeddings")
        c1 = train_kmeans_centroids(emb, k=8, iters=2)
        c2 = train_kmeans_centroids(emb, k=8, iters=2)
        assert np.array_equal(c1, c2)  # seeded init + deterministic aggs
        assert c1.shape == (8, 64)
        assert np.isfinite(c1).all()


class TestEmbeddingDedupLSH:
    def test_recall_and_exactness_vs_numpy_ground_truth(self, spark, sf_dir):
        """dedup_embedding_cosine (banded LSH candidates + exact verify):
        every emitted pair must truly exceed the threshold (no false
        positives beyond the 2^-20 quantization grain — the r9
        quantized-cosine trades a ~1e-6 value shift for bit-exact
        cross-engine reproducibility), and recall vs the exact
        all-pairs set must meet the banding construction's bound."""
        import numpy as np

        rows = (
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .select("vec_id", "embedding")
            .collect()
        )
        ids = np.array([r.vec_id for r in rows])
        m = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
        nrm = np.linalg.norm(m, axis=1)
        cos = (m @ m.T) / np.outer(nrm, nrm)
        iu = np.triu_indices(len(ids), k=1)
        Q_TOL = 1e-5  # bound on |quantized cos - float cos| at 2^-20
        truth = {
            (int(min(ids[i], ids[j])), int(max(ids[i], ids[j]))): cos[i, j]
            for i, j in zip(*iu)
            if cos[i, j] > 0.25 - Q_TOL
        }

        got = all_queries()["dedup_embedding_cosine"].fn(spark, sf_dir).collect()
        got_pairs = {(r.id_a, r.id_b): r.cos_sim for r in got}

        # no false positives; cosine within the quantization grain
        for (a, b), c in got_pairs.items():
            assert (a, b) in truth, f"false positive pair {(a, b)}"
            assert abs(c - truth[(a, b)]) < Q_TOL

        # recall: theory gives ~0.93 at cos=0.25 rising toward 1 for
        # nearer pairs; assert a conservative floor
        recall = len(got_pairs) / max(1, len(truth))
        assert recall >= 0.6, f"recall {recall:.3f} over {len(truth)} true pairs"

    def test_no_cartesian_or_allpairs_join(self, spark, sf_dir):
        """The plan must contain no CartesianProduct and no non-equi-only
        self-join: candidates come from the (band, bucket) equi-join."""
        df = all_queries()["dedup_embedding_cosine"].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_theta_sweep_sparse_regime_is_output_linear(self, spark, sf_dir):
        """VERDICT r11 item 4 (the committed-regime decision): the r11
        scale probe measured the θ = 0.25 registry shape output-quadratic
        (output exponent exactly 2.00 — at that threshold ~2 % of ALL
        pairs qualify on this corpus). Re-parameterizing the registry
        entry to the production regime θ ≥ 0.85 would hash an EMPTY set
        at every test SF (the synthetic corpus's max off-diagonal cosine
        is ~0.5), so the θ = 0.25 shape stays committed and THIS test
        pins the disposition instead, on a planted corpus at two scales:

        * θ = 0.85 emits exactly the planted near-dup pairs at both
          scales — sparse, and LINEAR in the planted count (3x corpus →
          3x pairs), i.e. the production regime is output-linear;
        * θ = 0.25 on the SAME corpus and SAME plan (identical banding,
          identical candidate stage) grows far superlinearly — the
          quadratic lives in the OUTPUT the low threshold requests,
          not in the pipeline.
        """
        import numpy as np

        from xml_hive_spark.operators.similarity import embedding_cosine_pairs

        base = np.stack([
            np.asarray(r.embedding, dtype=np.float64)
            for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .orderBy("vec_id").limit(200).select("embedding").collect()
        ])
        n, dim = base.shape
        rng = np.random.default_rng(7)
        plant = 10  # near-dups planted per copy: cos(v, v+0.3|v|u) ≈ 0.96

        def corpus(copies: int):
            rows, expected = [], set()
            stride = n + plant
            for c in range(copies):
                # per-copy orthogonal transform (circular shift + signs):
                # within-copy cosines preserved, cross-copy ~N(0, 1/64)
                signs = np.where(
                    np.random.default_rng(100 + c).random(dim) < 0.5, -1.0, 1.0)
                m = np.roll(base, c, axis=1) * signs
                for i in range(n):
                    rows.append((c * stride + i, m[i].tolist()))
                for p in range(plant):
                    v = m[p]
                    noise = rng.standard_normal(dim)
                    dup = v + 0.3 * np.linalg.norm(v) * noise / np.linalg.norm(noise)
                    rows.append((c * stride + n + p, dup.tolist()))
                    expected.add((c * stride + p, c * stride + n + p))
            df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
            return df, expected

        counts = {}
        for copies in (1, 3):
            df, expected = corpus(copies)
            sparse = embedding_cosine_pairs(df, "vec_id", "embedding", 0.85)
            got = {(r.id_a, r.id_b) for r in sparse.collect()}
            assert got == expected, (
                f"θ=0.85 at {copies}x: {len(got)} pairs vs "
                f"{len(expected)} planted")
            counts[copies] = len(got)
            counts[f"dense{copies}"] = embedding_cosine_pairs(
                df, "vec_id", "embedding", 0.25).count()
        assert counts[3] == 3 * counts[1]  # sparse regime: output-linear
        # dense regime on the same plan: output superlinear (≈ quadratic;
        # cross-copy noise cosines exceed 0.25 at ~2σ rate)
        assert counts["dense3"] > 5 * counts["dense1"]


class TestCosinePairKernel:
    """Bad vector input to the shared cosine pair kernel must raise and
    name the problem, under both reducers, never score a pair against
    the wrong vector."""

    REDUCERS = pytest.mark.parametrize(
        "reducer", [{"threshold": -1.0}, {"k": 5}], ids=["threshold", "topk"]
    )

    @staticmethod
    def _vec_table(tmp_path, ids):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        vecs = np.random.default_rng(3).standard_normal((len(ids), 64))
        path = str(tmp_path / "vecs.parquet")
        pq.write_table(pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array([v.tolist() for v in vecs],
                                  pa.list_(pa.float32())),
        }), path)
        return path

    @REDUCERS
    def test_sideload_missing_id_raises(self, spark, tmp_path, reducer):
        from xml_hive_spark.operators.similarity import cosine_pair_kernel

        path = self._vec_table(tmp_path, [0, 2, 4])
        pairs = spark.createDataFrame([(0, 1), (2, 4)], "a long, b long")
        with pytest.raises(Exception, match="no vector for id 1"):
            cosine_pair_kernel(pairs.coalesce(1), vec_path=path,
                               **reducer).collect()

    @REDUCERS
    def test_sideload_duplicate_vec_id_raises(self, spark, tmp_path, reducer):
        from xml_hive_spark.operators.similarity import cosine_pair_kernel

        path = self._vec_table(tmp_path, [0, 1, 1, 2])
        pairs = spark.createDataFrame([(0, 1), (0, 2)], "a long, b long")
        with pytest.raises(Exception, match="duplicate vec_id 1"):
            cosine_pair_kernel(pairs.coalesce(1), vec_path=path,
                               **reducer).collect()

    @REDUCERS
    def test_attach_ragged_batch_raises(self, spark, reducer):
        """63 + 65 values sum to two 64-rows: the batch must raise, not
        reshape values across the row boundary."""
        from xml_hive_spark.operators.similarity import cosine_pair_kernel

        rows = [(0, 1, [0.5] * 63, [0.25] * 64),
                (2, 3, [0.5] * 65, [0.25] * 64)]
        pairs = spark.createDataFrame(
            rows, "a long, b long, va array<float>, vb array<float>"
        ).coalesce(1)
        with pytest.raises(Exception, match="non-null and 64 long"):
            cosine_pair_kernel(pairs, **reducer).collect()


def test_kmeans_training_rejects_a_ragged_batch(spark):
    """63 + 65 values sum to two 64-rows: training must raise, not
    split values across the row boundary."""
    from xml_hive_spark.operators.similarity import train_kmeans_centroids

    rows = [(i, [float(i % 5) + 1.0] * 64) for i in range(20)]
    rows += [(20, [1.0] * 63), (21, [1.0] * 65)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").coalesce(1)
    with pytest.raises(Exception, match="embedding: every vector must be non-null and 64 long"):
        train_kmeans_centroids(df, k=4, iters=1)


def test_kmeans_assign_rejects_a_ragged_batch(spark):
    """63 + 65 values sum to two 64-rows: assignment must raise a
    ValueError naming the column, not reshape values across the row
    boundary; well-formed rows go to their nearest centroid."""
    import numpy as np

    from xml_hive_spark.operators.similarity import kmeans_assign

    cents = np.eye(4, 64, dtype=np.int64) * 1000
    good = spark.createDataFrame([(0, [0.0, 2.0] + [0.0] * 62), (1, [3.0] + [0.0] * 63)],
                                 "vec_id long, emb_vec array<float>")
    assert [r.cluster for r in kmeans_assign(good, "emb_vec", cents)
            .orderBy("vec_id").collect()] == [1, 0]
    ragged = spark.createDataFrame([(0, [1.0] * 63), (1, [1.0] * 65)],
                                   "vec_id long, emb_vec array<float>").coalesce(1)
    with pytest.raises(Exception,
                       match="ValueError: emb_vec: every vector must be non-null and 64 long"):
        kmeans_assign(ragged, "emb_vec", cents).collect()


class TestPQ:
    def test_pq_recall_and_exact_rerank(self, spark, sf_dir):
        """IVF-PQ: ADC shortlist + exact re-rank must recover most of the
        brute-force top-5, and every emitted cos_sim must equal the exact
        value (re-rank computes true cosine, so PQ error may only affect
        WHICH candidates surface, never their reported scores)."""
        from xml_hive_spark.operators import all_queries

        brute = all_queries()["cosine_topk_bruteforce"].fn(spark, sf_dir).collect()
        pq = all_queries()["cosine_topk_ivf_pq"].fn(spark, sf_dir).collect()
        truth = {}
        for r in brute:
            truth.setdefault(r.qid, set()).add(r.nid)
        exact_cos = {(r.qid, r.nid): r.cos_sim for r in brute}
        got = {}
        for r in pq:
            got.setdefault(r.qid, set()).add(r.nid)
            if (r.qid, r.nid) in exact_cos:
                assert abs(r.cos_sim - exact_cos[(r.qid, r.nid)]) < 1e-9
        hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
        total = sum(len(v) for v in truth.values())
        recall = hits / total
        # 16 codewords x 16 subspaces on near-random 64-dim vectors: the
        # 10x shortlist + exact re-rank recovers well over half of top-5
        assert recall >= 0.5, f"PQ recall {recall:.3f}"

    def test_pq_training_deterministic(self, spark, sf_dir):
        from xml_hive_spark.operators import t
        from xml_hive_spark.operators.similarity import train_pq_codebooks

        emb = t(spark, sf_dir, "embeddings")
        b1 = train_pq_codebooks(emb)
        b2 = train_pq_codebooks(emb)
        assert (b1 == b2).all()

    def test_partial_topk_is_exact(self, spark):
        """Two-phase top-k must equal the naive single-window top-k on a
        multi-partition input with duplicate scores (tie-break by nid)."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from xml_hive_spark.operators.similarity import partial_topk_per_query

        rows = [
            (q, n, float((n * 7 + q) % 13)) for q in range(3) for n in range(200)
        ]
        df = spark.createDataFrame(rows, "qid int, nid long, adc double").repartition(8)
        k = 10
        w = Window.partitionBy("qid").orderBy(F.col("adc").desc(), "nid")
        naive = sorted(
            (r.qid, r.nid)
            for r in df.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= k)
            .collect()
        )
        two_phase = sorted(
            (r.qid, r.nid)
            for r in partial_topk_per_query(df, k)
            .withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= k)
            .collect()
        )
        assert two_phase == naive

    def test_ivf_pq_probed_recall_and_candidate_bound(self, spark, sf_dir):
        """IVF×PQ composition: candidates come from the probed lists only
        (≈ nprobe/k of the corpus, asserted with slack for skewed
        clusters), reported scores are exact, and recall stays usable."""
        from pyspark.sql import functions as F

        from xml_hive_spark.operators import all_queries, t
        from xml_hive_spark.operators.similarity import (
            kmeans_assign,
            train_kmeans_centroids,
        )

        emb = t(spark, sf_dir, "embeddings")
        n_corpus = emb.count()
        centroids = train_kmeans_centroids(emb, k=16, iters=3)
        sizes = {
            r.cluster: r.n
            for r in kmeans_assign(emb.select("vec_id", "embedding"), "embedding", centroids)
            .groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        # probed candidate pool is bounded by the 4 largest lists << corpus
        worst4 = sum(sorted(sizes.values(), reverse=True)[:4])
        assert worst4 < n_corpus, "probing must restrict the candidate pool"

        brute = all_queries()["cosine_topk_bruteforce"].fn(spark, sf_dir).collect()
        probed = all_queries()["cosine_topk_ivf_pq_probed"].fn(spark, sf_dir).collect()
        exact_cos = {(r.qid, r.nid): r.cos_sim for r in brute}
        truth, got = {}, {}
        for r in brute:
            truth.setdefault(r.qid, set()).add(r.nid)
        for r in probed:
            got.setdefault(r.qid, set()).add(r.nid)
            if (r.qid, r.nid) in exact_cos:
                assert abs(r.cos_sim - exact_cos[(r.qid, r.nid)]) < 1e-9
        hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
        recall = hits / sum(len(v) for v in truth.values())
        # probing compounds IVF misses on top of PQ error — near-random
        # 64-dim vectors make this the hardest regime; the composition
        # must still beat chance by far
        assert recall >= 0.3, f"IVF-PQ probed recall {recall:.3f}"


class TestAnnJoin:
    def test_adaptive_rows_per_band_cross_engine_parity(self):
        """r11 adaptive banding: the Spark side computes
        r = min(30, max(5, bit_length(n // 64) - 1)) with exact Python
        integers; the oracle replays it as LEAST(30, GREATEST(5,
        length(printf('%b', n // 64)) - 1)) in DuckDB. Pin the two
        formulas equal across every bit-length boundary and the driver
        SF corpus sizes — a one-off divergence would flip the whole
        banding structure and hash-mismatch the entire result."""
        import duckdb

        ns = [1, 63, 64, 127, 128, 200, 500, 2000, 4095, 4096, 4097,
              8191, 8192, 20000, 200000, 10**6, 10**9, 1 << 41]
        for n in ns:
            py = min(30, max(5, (n // 64).bit_length() - 1))
            db = duckdb.sql(
                f"SELECT LEAST(30, GREATEST(5,"
                f" length(printf('%b', {n} // 64)) - 1))"
            ).fetchone()[0]
            assert py == db, (n, py, db)
        # driver/bench SFs must keep the pre-r11 value exactly
        for n in (200, 500, 2000):
            assert min(30, max(5, (n // 64).bit_length() - 1)) == 5, n

    def test_ann_join_topk_recall_and_shape(self, spark, sf_dir):
        """All-corpus ANN join: exactly-once (qid, nid) pairs, ranks
        1..<=5 per query, exact reported cosines, and recall vs the
        brute-force top-5 on the queries brute force covers."""
        from pyspark.sql import functions as F

        from xml_hive_spark.operators import all_queries

        rows = all_queries()["ann_join_topk"].fn(spark, sf_dir).collect()
        keys = [(r.qid, r.nid) for r in rows]
        assert len(keys) == len(set(keys))
        by_q = {}
        for r in rows:
            by_q.setdefault(r.qid, []).append(r.rank)
        for q, ranks in by_q.items():
            assert sorted(ranks) == list(range(1, len(ranks) + 1)), q

        brute = all_queries()["cosine_topk_bruteforce"].fn(spark, sf_dir).collect()
        truth = {}
        exact_cos = {}
        for r in brute:
            truth.setdefault(r.qid, set()).add(r.nid)
            exact_cos[(r.qid, r.nid)] = r.cos_sim
        got = {q: {r.nid for r in rows if r.qid == q} for q in truth}
        for r in rows:
            if (r.qid, r.nid) in exact_cos:
                assert abs(r.cos_sim - exact_cos[(r.qid, r.nid)]) < 1e-9
        hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
        recall = hits / sum(len(v) for v in truth.values())
        # banded LSH at B=12,r=3 on near-random vectors: collisions are
        # rare by design for low-cosine neighbors; the join must still
        # find a solid share of the exact top-5
        assert recall >= 0.3, f"ann_join recall {recall:.3f}"


def test_coarse_centroids_bitexact_vs_duckdb(spark, sf_dir):
    """The trained coarse centroids themselves — not just the search
    output — must be bit-identical between numpy training and the SQL
    twin's unrolled replay. Until r10 the oracles used DuckDB's ``//``,
    which TRUNCATES toward zero on integers while numpy ``//`` floors:
    499 of 1024 centroid entries (every negative non-exact mean)
    differed by one, and six oracles were green only because argmin/
    argmax never happened to sit within one unit of a tie on the test
    corpora (found by the r10 PQ training fuzz, pinned here so the
    landmine stays dead). The fix spells exact floor division via pmod
    in the SQL; Spark/numpy sides are unchanged."""
    import duckdb

    from xml_hive_spark.operators import t
    from xml_hive_spark.operators.similarity import (
        _coarse_ctes,
        train_kmeans_centroids,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    sql = (_coarse_ctes()
           + "\nSELECT cluster, d, CAST(c AS BIGINT) AS c FROM c3")
    duck = {(cl, d): c for cl, d, c in con.execute(sql).fetchall()}
    con.close()
    cents = train_kmeans_centroids(
        t(spark, sf_dir, "embeddings"), k=16, iters=3
    )
    bad = [
        (cl, d, duck[(cl, d)], int(cents[cl, d]))
        for cl in range(16) for d in range(64)
        if duck[(cl, d)] != int(cents[cl, d])
    ]
    assert not bad, f"{len(bad)} centroid entries diverge: {bad[:5]}"
