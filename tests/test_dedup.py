"""Dedup operator tests: planted near-duplicates must be recalled by the
MinHash-LSH and SimHash pipelines (the rows-only registry entries get
their real correctness evidence here)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xml_hive_spark.operators.dedup import (
    _hash48,
    exact_jaccard,
    lsh_candidate_pairs,
    minhash_signatures_with_sets,
    shingles,
    simhash48,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the spark engine "
    "shuffles partitions across the cluster and the optimizer prunes "
    "columns from the scan before the join begins its probe phase"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        # near-dup of 0: one word changed
        (1, BASE.replace("lazy", "sleepy")),
        # near-dup of 0: one clause appended
        (2, BASE + " and the sink writes parquet"),
        # unrelated
        (3, "completely different content about databases and storage "
            "engines with columnar formats and vectorized execution kernels "
            "that scan compressed pages directly without materializing rows"),
        (4, "yet another unrelated document mentioning streams watermarks "
            "and stateful operators that expire old keys when the event "
            "time passes beyond the configured lateness threshold"),
        # exact dup of 3
        (5, "completely different content about databases and storage "
            "engines with columnar formats and vectorized execution kernels "
            "that scan compressed pages directly without materializing rows"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def signatures(sh, num_perm):
    """The signature stage ``dedup_minhash_lsh`` runs, on shingles ``sh``."""
    return minhash_signatures_with_sets(
        sh.select("id", _hash48("sh").alias("shh")), num_perm=num_perm)


class TestMinHashLSH:
    def test_planted_near_dups_recalled(self, docs):
        sh = shingles(docs)
        sig = signatures(sh, num_perm=32)
        pairs = lsh_candidate_pairs(sig, bands=8, rows=4)
        verified = exact_jaccard(pairs, sh)
        found = {(r.id_a, r.id_b): r.jaccard for r in verified.collect()}
        assert (0, 1) in found and found[(0, 1)] > 0.5
        assert (0, 2) in found and found[(0, 2)] > 0.5
        assert (3, 5) in found and found[(3, 5)] == 1.0
        # unrelated docs must not pair with jaccard > 0.5
        high = {k for k, v in found.items() if v > 0.5}
        assert (0, 3) not in high and (0, 4) not in high and (3, 4) not in high

    def test_signature_width(self, docs):
        sig = signatures(shingles(docs), num_perm=16)
        assert sig.columns == ["id"] + [f"m{i}" for i in range(16)] + ["shs"]

    def test_exact_dup_identical_signature(self, docs):
        sig = signatures(shingles(docs), num_perm=32)
        rows = {r["id"]: (tuple(r)[1:-1], sorted(r["shs"])) for r in sig.collect()}
        assert rows[3] == rows[5]


class TestSimHash:
    def test_exact_dup_identical_simhash(self, docs):
        sig = simhash48(docs)
        rows = {r["id"]: r.simhash for r in sig.collect()}
        assert rows[3] == rows[5]

    def test_near_dup_small_hamming(self, docs, spark):
        sig = simhash48(docs)
        rows = {r["id"]: r.simhash for r in sig.collect()}
        ham_01 = bin(rows[0] ^ rows[1]).count("1")
        ham_03 = bin((rows[0] ^ rows[3]) & ((1 << 48) - 1)).count("1")
        assert ham_01 <= 12  # one-word edit moves few bits
        assert ham_03 > 12  # unrelated docs are far apart


class TestShingles:
    def test_shingle_contents(self, spark):
        df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
        got = {r.sh for r in shingles(df).collect()}
        assert got == {"a b c", "b c d"}

    def test_short_doc_partial_shingle(self, spark):
        df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        got = [r.sh for r in shingles(df).collect()]
        assert got == ["a b"]


def test_hash_dedup_equals_text_dedup(spark, sf_dir):
    from xml_hive_spark.operators import all_queries

    by_text = all_queries()["dedup_exact"].fn(spark, sf_dir)
    by_hash = all_queries()["dedup_exact_by_hash"].fn(spark, sf_dir)
    a = sorted((r.keep_id, r.n_copies) for r in by_text.collect())
    b = sorted((r.keep_id, r.n_copies) for r in by_hash.collect())
    assert a == b


def test_connected_components_chain_and_clique(spark):
    """Min-label propagation on a crafted graph: a 7-node chain (worst
    case for per-hop propagation), a triangle, and an isolated edge —
    labels must converge to each component's minimum node id."""
    from xml_hive_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(10, 16)]       # 10-16 connected
    tri = [(2, 5), (5, 9), (2, 9)]                    # {2,5,9}
    pair = [(100, 42)]                                # {42,100}
    edges = spark.createDataFrame(chain + tri + pair, "src long, dst long")
    got = {r.id: r.lbl for r in connected_components(edges).collect()}
    assert {got[i] for i in range(10, 17)} == {10}
    assert got[2] == got[5] == got[9] == 2
    assert got[42] == got[100] == 42


class TestSetSimJoinPrefix:
    def test_prefix_filter_prunes_pairs_and_is_exact(self, spark, sf_dir):
        """The prefix-shingle candidate join must examine FAR fewer
        pairs than all-pairs while (per the DuckDB oracle) still finding
        every Jaccard>=0.8 pair — exactness with pruning is the whole
        point, and 8-gram shingles make rare features exist even on this
        31-word synthetic vocabulary (word tokens measurably cannot)."""
        from pyspark.sql import functions as F, Window

        from xml_hive_spark.operators import all_queries, t

        d = (
            t(spark, sf_dir, "documents")
            .filter(F.col("n_chars") < 400)
            .select("doc_id", F.lower(F.col("text")).alias("tx"))
            .filter(F.length("tx") >= 8)
        )
        n = d.count()
        toks = d.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr("transform(sequence(1, length(tx) - 7),"
                           " i -> substring(tx, i, 8))")
                )
            ).alias("tok"),
        )
        sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
        freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
        w = Window.partitionBy("doc_id").orderBy("df", "tok")
        pref = (
            toks.join(freq, "tok")
            .withColumn("rn", F.row_number().over(w))
            .join(sizes, "doc_id")
            .filter(F.col("rn") <= F.col("sz") - F.ceil(F.col("sz") * 4 / 5) + 1)
            .select("doc_id", "tok", "sz")
        )
        cand = (
            pref.select(F.col("doc_id").alias("a_id"), "tok",
                        F.col("sz").alias("sa"))
            .join(pref.select(F.col("doc_id").alias("b_id"), "tok",
                              F.col("sz").alias("sb")), "tok")
            .filter((F.col("a_id") < F.col("b_id"))
                    & (F.col("sb") * 5 >= F.col("sa") * 4)
                    & (F.col("sa") * 5 >= F.col("sb") * 4))
            .select("a_id", "b_id")
            .distinct()
            .count()
        )
        all_pairs = n * (n - 1) // 2
        # ~6.6% of all-pairs at sf0.001 (15x pruning; the tiny-corpus
        # worst case — selectivity improves with corpus size since
        # shingle df grows sublinearly vs pairs quadratically)
        assert cand < all_pairs * 0.10, (cand, all_pairs)

        out = all_queries()["setsim_join_prefix"].fn(spark, sf_dir).collect()
        assert out, "planted near-dups must qualify at Jaccard >= 0.8"
        for r in out:  # integer threshold honoured exactly
            assert r.inter_n * 5 >= r.union_n * 4
            assert r.a_id < r.b_id


class TestPlagiarismDetect:
    """Cross-query invariants tying plagiarism_detect (t = 0.8) to
    setsim_containment_join (t = 0.9) — both ride containment_pairs,
    so threshold monotonicity and attribution shape are checkable
    without an oracle."""

    def test_one_row_per_contained_doc_and_verdicts(self, spark, sf_dir):
        from xml_hive_spark.operators import all_queries

        rows = all_queries()["plagiarism_detect"].fn(spark, sf_dir).collect()
        ids = [r.a_id for r in rows]
        assert len(ids) == len(set(ids))  # argmax emits exactly one source
        for r in rows:
            assert r.a_id % 5 == 2  # only batch docs are probed
            assert r.a_id != r.src_id
            assert 0 < r.inter_n <= r.a_sz
            assert r.inter_n * 10 >= r.a_sz * 8  # the t=0.8 floor holds
            if r.inter_n == r.a_sz:
                assert r.verdict == "verbatim"
            elif r.inter_n * 10 >= r.a_sz * 9:
                assert r.verdict == "near_verbatim"
            else:
                assert r.verdict == "partial"

    def test_t09_pairs_are_subset_of_t07_report_domain(self, spark, sf_dir):
        """Every BATCH doc (doc_id % 5 = 2) contained at t = 0.9 must
        appear in the t = 0.8 report (thresholds are nested and the
        probe restriction only trims the A side), and its attributed
        source must achieve at least the 0.9-pair's intersection
        (argmax)."""
        from xml_hive_spark.operators import all_queries

        strict = all_queries()["setsim_containment_join"].fn(spark, sf_dir)
        report = {r.a_id: r for r in
                  all_queries()["plagiarism_detect"].fn(spark, sf_dir).collect()}
        for r in strict.filter(F.col("a_id") % 5 == 2).collect():
            assert r.a_id in report
            assert report[r.a_id].inter_n >= r.inter_n


class TestContainmentPairsBruteForce:
    """Randomized brute-force equivalence for ``containment_pairs``
    across the (t, EXTRA, probe_pred) space the r13 parameterization
    opened up. The counted pigeonhole's losslessness claim is
    constructive (any pair missing c_req = pl − m prefix tokens has
    more than m misses), but the two registry consumers only exercise
    (9/10, EXTRA=4) and (8/10, EXTRA=29) on the driver corpora — this
    pins the whole lattice, including EXTRA=0 (the minimal prefix) and
    a probe-side predicate, against a shingle-set brute force on an
    adversarial micro-corpus (planted substring containments, edited
    near-misses, sub-8-char docs that must be filtered, duplicate
    texts)."""

    @staticmethod
    def _corpus(tmp_path, spark, seed):
        import random
        rng = random.Random(seed)
        alpha = "abcdef "  # tiny alphabet -> dense shingle collisions
        texts = {}
        did = 0
        for _ in range(18):  # base docs
            texts[did] = "".join(rng.choice(alpha)
                                 for _ in range(rng.randint(12, 60)))
            did += 1
        for _ in range(10):  # planted containment: base text + padding
            src = rng.choice(list(texts.values()))
            pad = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 30)))
            texts[did] = (src + pad) if rng.random() < 0.5 else (pad + src)
            did += 1
        for _ in range(6):  # near-miss: contained text with one edit
            src = rng.choice(list(texts.values()))
            if len(src) > 10:
                i = rng.randint(1, len(src) - 2)
                texts[did] = src[:i] + rng.choice(alpha) + src[i + 1:]
                did += 1
        texts[did] = rng.choice(list(texts.values())); did += 1  # exact dup
        texts[did] = "short"; did += 1  # < 8 chars: must be filtered
        import pandas as pd
        p = str(tmp_path / "documents.parquet")
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())}
                     ).to_parquet(p)
        return str(tmp_path), texts

    @staticmethod
    def _brute(texts, t_num, t_den, probe):
        sh = {i: {tx[j:j + 8] for j in range(len(tx) - 7)}
              for i, tx in texts.items() if len(tx) >= 8}
        out = set()
        for a, sa in sh.items():
            if not probe(a):
                continue
            for b, sb in sh.items():
                if a != b and len(sa & sb) * t_den >= len(sa) * t_num:
                    out.add((a, b, len(sa & sb), len(sa)))
        return out

    @pytest.mark.parametrize("seed,t_num,t_den,extra,mod", [
        (1, 9, 10, 4, None),    # setsim_containment_join's shape
        (2, 8, 10, 0, None),    # minimal prefix, fatter miss budget
        (3, 8, 10, 29, 5),      # plagiarism_detect's shape (batch side)
        (4, 7, 10, 2, None),    # beyond both registry thresholds
        (5, 9, 10, 0, 3),      # strict t, minimal prefix, probe pred
    ])
    def test_matches_brute_force(self, spark, tmp_path, seed, t_num,
                                 t_den, extra, mod):
        from xml_hive_spark.operators.dedup import containment_pairs

        sf, texts = self._corpus(tmp_path, spark, seed)
        pred = (None if mod is None
                else (lambda c, m=mod: c % m == 1))
        got = {(r.a_id, r.b_id, r.inter_n, r.a_sz)
               for r in containment_pairs(
                   spark, sf, t_num=t_num, t_den=t_den, extra=extra,
                   probe_pred=pred).collect()}
        want = self._brute(texts, t_num, t_den,
                           (lambda a: True) if mod is None
                           else (lambda a: a % mod == 1))
        assert got == want, (
            f"missing={sorted(want - got)[:5]} extra={sorted(got - want)[:5]}")
        assert want, "corpus must plant at least one containment"


class TestSimhashBlockPairPigeonhole:
    """Exhaustive pin of the r13 block-pair blocking math. The recall
    claim ('hamming ≤ 3 → some pair table matches') and the canonical-
    table dedup both reduce to properties of the 5-block decomposition
    of the 48-bit XOR — checkable exhaustively in pure Python over all
    C(48,0)+C(48,1)+C(48,2)+C(48,3) = 18,473 error patterns, no Spark
    and no corpus, so a silent edit to _SIMHASH_BLOCKS/_SIMHASH_PAIRS
    that breaks the pigeonhole can never reach the join."""

    @staticmethod
    def _pyblock(x, b):
        from xml_hive_spark.operators.dedup import _SIMHASH_BLOCKS
        off, width = _SIMHASH_BLOCKS[b]
        return (x >> off) & ((1 << width) - 1)

    @staticmethod
    def _xors_up_to_h3():
        from itertools import combinations
        yield 0
        for k in (1, 2, 3):
            for bits in combinations(range(48), k):
                x = 0
                for b in bits:
                    x |= 1 << b
                yield x

    def test_blocks_partition_48_bits(self):
        from xml_hive_spark.operators.dedup import (_SIMHASH_BLOCKS,
                                                    _SIMHASH_PAIRS)
        covered = []
        for off, width in _SIMHASH_BLOCKS:
            covered.extend(range(off, off + width))
        assert sorted(covered) == list(range(48))  # disjoint, complete
        assert len(_SIMHASH_PAIRS) == 10
        assert len(set(_SIMHASH_PAIRS)) == 10

    def test_recall_and_canonical_exhaustive(self):
        from xml_hive_spark.operators.dedup import _SIMHASH_PAIRS
        for x in self._xors_up_to_h3():
            clean = [self._pyblock(x, b) == 0 for b in range(5)]
            tables = [ti for ti, (i, j) in enumerate(_SIMHASH_PAIRS)
                      if clean[i] and clean[j]]
            # pigeonhole: ≤3 errors touch ≤3 blocks → ≥2 clean → ≥1 table
            assert tables, f"xor {x:012x} recalled by no pair table"
            # the canonical filter (first all-clean table) keeps exactly
            # one of the duplicate emissions
            assert min(tables) in tables and len(set(tables)) == len(tables)

    def test_h4_can_escape_every_table(self):
        """h = 4 sits OUTSIDE the guarantee: one error in four distinct
        blocks dirties every pair. Pins that the scheme's promise is
        exactly ≤ 3 — if this ever starts passing recall, the block
        layout changed and the collision-constant math in the
        dedup_simhash docstring is stale."""
        from xml_hive_spark.operators.dedup import (_SIMHASH_BLOCKS,
                                                    _SIMHASH_PAIRS)
        x = 0
        for off, _ in _SIMHASH_BLOCKS[:4]:
            x |= 1 << off
        clean = [self._pyblock(x, b) == 0 for b in range(5)]
        assert not [ti for ti, (i, j) in enumerate(_SIMHASH_PAIRS)
                    if clean[i] and clean[j]]

    def test_column_extractor_matches_python(self, spark):
        """The Spark Column twin (_simhash_block) must agree with the
        pure-Python mirror the exhaustive proofs above run on."""
        import random
        from xml_hive_spark.operators.dedup import _simhash_block

        rng = random.Random(13)
        sigs = [rng.getrandbits(48) for _ in range(200)]
        df = spark.createDataFrame([(s,) for s in sigs], "simhash long")
        cols = [_simhash_block(F.col("simhash"), b).alias(f"b{b}")
                for b in range(5)]
        for row, s in zip(df.select(*cols).collect(), sigs):
            for b in range(5):
                assert row[f"b{b}"] == self._pyblock(s, b)
