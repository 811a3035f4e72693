"""Deduplication operators over the ``documents`` table (BASELINE.md
north_star: LLM-data-pipeline dedup).

All pipelines are pure DataFrame compositions (JVM-side hashing — the
portable 48-bit md5 slice for everything an oracle replays, ``xxhash64``
where the hash never leaves Spark; no Python in the hot path) and
shuffle only on (doc/signature) keys, so they scale horizontally: the
MinHash-LSH path is the standard shingle → k minhashes → band →
bucket-join design whose join fan-out is bounded by bucket size, not
corpus size.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xml_hive_spark.operators import (band_pairs, dim_side, fan_out,
                                      payload_side, persisted, query, t,
                                      table_bytes)

# ------------------------------------------------------------- exact dedup


@query(
    "dedup_exact",
    oracle="""
SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
       min(n_chars) AS n_chars
FROM documents GROUP BY text
""",
    tags=("dedup", "exact"),
)
def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup by full text: hash-aggregate on the content key,
    canonical row = min doc_id. One shuffle on text hash.

    At 100 TB you'd group on ``xxhash64(text)`` (verify on collision) so
    the shuffle carries 8-byte keys, not document bodies — shown in
    ``dedup_exact_by_hash``."""
    docs = t(spark, sf, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min("n_chars").alias("n_chars"),
    ).select("keep_id", "n_copies", "n_chars")


@query(
    "dedup_exact_by_lang",
    oracle="""
SELECT lang, CAST(count(DISTINCT text) AS BIGINT) AS n_unique, count(*) AS n_docs
FROM documents GROUP BY lang
""",
    tags=("dedup", "exact"),
)
def dedup_exact_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    docs = t(spark, sf, "documents")
    return docs.groupBy("lang").agg(
        F.countDistinct("text").alias("n_unique"),
        F.count(F.lit(1)).alias("n_docs"),
    )


# ------------------------------------------------------- minhash building


def shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Implementation note (measured at sf0.1): an Arrow-batched pandas UDF
    (0.4s warm) beats the higher-order-function formulation
    (transform+slice, 5.7s — HOF lambdas are expression-interpreted, not
    codegen'd) and the window-lead formulation (1.6s + an extra shuffle on
    (id, pos)). The UDF is partition-local — no shuffle — so it scales
    linearly with corpus size."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    @pandas_udf(ArrayType(StringType()))
    def mk_shingles(texts: pd.Series) -> pd.Series:
        out = []
        for txt in texts:
            ws = txt.lower().split()
            # max(...,1): docs shorter than n yield one partial shingle,
            # matching sequence(0, greatest(size-n, 0)) semantics
            out.append(
                list({" ".join(ws[i : i + n]) for i in range(max(len(ws) - n + 1, 1))})
            )
        return pd.Series(out)

    return fan_out(df).select(
        F.col(id_col).alias("id"), F.explode(mk_shingles(text_col)).alias("sh")
    )

_MINHASH_P = 2147483647  # Mersenne prime 2^31 - 1: permutation modulus


import functools


@functools.lru_cache(maxsize=None)
def _minhash_ab(num_perm: int = 32) -> tuple[tuple[int, int], ...]:
    """Deterministic (a, b) constants for the k universal-hash
    permutations h_i(x) = (a_i * x + b_i) mod P, derived from a fixed
    LCG walk so the SAME literals land in the Spark expressions and in
    the generated DuckDB twin. a in [1, P-1], b in [0, P-1]; with
    x < P < 2^31 every product stays under 2^62 — exact BIGINT range in
    both engines."""
    pairs, x = [], 0x5DEECE66D
    for _ in range(num_perm):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = x % (_MINHASH_P - 1) + 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = x % _MINHASH_P
        pairs.append((a, b))
    return tuple(pairs)


def _hash48(col) -> "F.Column":
    """Portable 48-bit hash: first 12 md5 hex chars as BIGINT (the repo's
    cross-engine hash convention; DuckDB twin
    ``CAST('0x' || substr(md5(x), 1, 12) AS BIGINT)``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("binary")), 1, 12), 16, 10).cast(
        "long"
    )


def _perm_min_sql(src_col: str, num_perm: int) -> list[str]:
    """The k min-of-permutation aggregates over a 48-bit hash column as
    SQL, shared by the Spark builder and the DuckDB twin — one md5 per
    row upstream, then k multiply-mod ops (cheaper than the k seeded
    xxhash64 calls they replaced)."""
    return [
        f"MIN(({a} * ({src_col} % {_MINHASH_P}) + {b}) % {_MINHASH_P}) AS m{i}"
        for i, (a, b) in enumerate(_minhash_ab(num_perm))
    ]


def _perm_mins(src_col: str, num_perm: int) -> list:
    """:func:`_perm_min_sql` as Columns: each string builds in one py4j
    call, where a Column tree costs one per node."""
    return [F.expr(e) for e in _perm_min_sql(src_col, num_perm)]


def lsh_candidate_pairs(sig: DataFrame, bands: int = 8, rows: int = 4) -> DataFrame:
    """Band the wide signature (bands × rows columns) into :func:`band_pairs`
    keys: candidate pairs (id_a, id_b) collide on at least one full band.
    A band's key is the struct of its raw signature values, not a hash of
    them (r9: the xxhash64 band key was engine-specific AND carried a
    theoretical collision-admits-candidate hole; raw values join exactly
    and replay in SQL)."""
    keys = [
        F.struct(*[F.col(f"m{b * rows + r}").alias(f"r{r}") for r in range(rows)])
        for b in range(bands)
    ]
    return band_pairs(sig, "id", keys)


def exact_jaccard(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """Verify candidates with true shingle-set Jaccard."""
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sh.select(F.col("id").alias("id_a"), "sh")
    sb = sh.select(F.col("id").alias("id_b"), "sh")
    inter = (
        pairs.join(sa, "id_a").join(sb, ["id_b", "sh"]).groupBy("id_a", "id_b").agg(
            F.count(F.lit(1)).alias("n_inter")
        )
    )
    na = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .na.fill({"n_inter": 0})
        .join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4
            ).alias("jaccard"),
        )
    )


def minhash_signatures_with_sets(
    hashed: DataFrame, num_perm: int = 32
) -> DataFrame:
    """Wide signature (id, m0..m{k-1}, shs): k universal-hash permutations
    of the 48-bit md5 shingle hash as k min aggregates, AND the hashed
    shingle set (``collect_set``), in a single hash-agg: one shuffle of
    the shingle rows with map-side partial mins, no k-fold row blowup,
    and the expensive map side (text scan → shingle UDF → hash → partial
    aggs) runs once while Catalyst's ReuseExchange serves every
    downstream consumer — banding and both verify sides — from the same
    shuffle files. Input: (id, shh) with 48-bit portable shingle hashes."""
    return hashed.groupBy("id").agg(
        *_perm_mins("shh", num_perm), F.collect_set("shh").alias("shs")
    )


def _minhash_oracle(bands: int = 8, rows: int = 4, num_perm: int = 32) -> str:
    """DuckDB twin of the full MinHash-LSH pipeline: shingling (the
    pandas UDF's ``text.lower().split()`` ≡ regex split + drop-empties,
    DISTINCT 3-gram set, one partial shingle for short docs), 48-bit md5
    hashes, the k unrolled min-of-permutation aggregates with the SAME
    (a, b) literals, band blocking on raw signature values, and the
    exact-Jaccard verify over distinct hash sets. Out-of-envelope docs
    (> 512 tokens) fail loudly as an oracle-domain error."""
    mins = ",\n         ".join(_perm_min_sql("shh", num_perm))
    band_sel = "\n  UNION ALL ".join(
        "SELECT id, {b} AS band_id, {cols} FROM sig".format(
            b=b,
            cols=", ".join(
                f"m{b * rows + r} AS r{r}" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    band_eq = " AND ".join(f"a.r{r} = b.r{r}" for r in range(rows))
    return f"""
WITH ws AS (
  SELECT doc_id AS id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS w
  FROM documents
),
guard AS (
  SELECT CASE WHEN (SELECT COALESCE(max(len(w)), 0) FROM ws) > 512
    THEN CAST('dedup_minhash_lsh ORACLE DOMAIN ERROR: doc has '
              || CAST((SELECT max(len(w)) FROM ws) AS VARCHAR)
              || ' tokens, beyond the range(512) shingle sweep' AS BIGINT)
    WHEN (SELECT count(*) FROM documents
          WHERE strlen(text) <> length(text)) > 0
    THEN CAST('dedup_minhash_lsh ORACLE DOMAIN ERROR: non-ASCII text — '
              || 'Python str.lower / DuckDB lower diverge on dotted-I '
              || 'and final sigma' AS BIGINT)
    ELSE 0 END AS ok
),
sh AS (
  SELECT DISTINCT id, array_to_string(list_slice(w, t.i + 1, t.i + 3), ' ') AS s
  FROM ws CROSS JOIN range(0, 512) t(i)
  WHERE t.i <= greatest(len(w) - 3, 0)
),
hd AS (
  SELECT DISTINCT id, CAST('0x' || substr(md5(s), 1, 12) AS BIGINT) AS shh
  FROM sh
),
sig AS (
  SELECT id,
         {mins}
  FROM hd GROUP BY id
),
sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS n_sh FROM hd GROUP BY id),
band AS (
  {band_sel}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM band a JOIN band b
    ON a.band_id = b.band_id AND {band_eq} AND a.id < b.id
),
inter AS (
  SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM cand c
  JOIN hd x ON x.id = c.id_a
  JOIN hd y ON y.id = c.id_b AND y.shh = x.shh
  GROUP BY c.id_a, c.id_b
)
SELECT c.id_a, c.id_b,
       round(CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
             / (na.n_sh + nb.n_sh - COALESCE(i.n_inter, 0)), 4) AS jaccard
FROM cand c
LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
JOIN sizes na ON na.id = c.id_a
JOIN sizes nb ON nb.id = c.id_b
WHERE round(CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
            / (na.n_sh + nb.n_sh - COALESCE(i.n_inter, 0)), 4) >= 0.5
  AND (SELECT ok FROM guard) = 0
ORDER BY c.id_a, c.id_b
"""


@query("dedup_minhash_lsh", oracle=_minhash_oracle(), tags=("dedup", "minhash", "lsh"))
def dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash(32) + LSH(8 bands × 4 rows, ~0.6 Jaccard threshold) near-dup
    candidate pairs, verified with exact shingle Jaccard.

    Scale shape: shingles are hashed to 48 bits before anything shuffles
    (the verify join used to move shingle STRINGS); signatures and
    shingle sets come out of ONE aggregation, and the signature table is
    PERSISTED — it has three consumers (the band explode plus both sides
    of the verify join) and relying on exchange reuse across them
    measured a 1.44 → 0.85 s difference at sf0.1 (the signature-store
    pattern: a production pipeline materializes signatures next to the
    corpus); verification intersects two bounded arrays per candidate
    pair (``array_intersect``) instead of re-joining exploded shingle
    rows.

    FULL value oracle since r9 (was rows-only under seeded xxhash64):
    permutations are now universal hashes (a_i·x + b_i) mod (2^31−1)
    over the portable 48-bit md5 shingle hash — one md5 + 32
    multiply-mods per row instead of 32 xxhash64 calls, every
    intermediate exact BIGINT in both engines — and band blocking joins
    on RAW signature values (the old 64-bit band hash was
    engine-specific and carried a theoretical collision-admits-candidate
    hole). The DuckDB twin replays shingling, hashing, all 32 unrolled
    permutation mins, banding, and the exact-Jaccard verify; recall on
    planted near-duplicates stays pinned in tests/test_dedup.py."""
    docs = t(spark, sf, "documents")
    hashed = shingles(docs).select("id", _hash48("sh").alias("shh"))
    sig = persisted(minhash_signatures_with_sets(hashed, num_perm=32))
    pairs = lsh_candidate_pairs(sig, bands=8, rows=4)
    # corpus-sized shingle-set (+ signature) payload: broadcast only
    # while provably small, sort-merge beyond the cap (r11 probe
    # class). ×32 proxy: the set tables measure 17–19× their parquet,
    # so the ×8 this replaced was ~2.2× UNDER, not safe-side as its
    # comment claimed (measured r13, pinned in tests/test_plans.py).
    sig_sized = payload_side(sig, table_bytes(sf, "documents") * 32)
    sa = sig_sized.select(F.col("id").alias("id_a"), F.col("shs").alias("sa"))
    sb = sig_sized.select(F.col("id").alias("id_b"), F.col("shs").alias("sb"))
    n_inter = F.size(F.array_intersect("sa", "sb"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                n_inter / (F.size("sa") + F.size("sb") - n_inter), 4
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
        .orderBy("id_a", "id_b")
    )


# ----------------------------------------------------------------- simhash


_SIMHASH_BITS = 48


def simhash48(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """48-bit SimHash over word unigrams: per-bit signed vote weighted by
    term frequency, all as one hash-agg (48 conditional sums, one
    shuffle on id).

    PORTABLE hash (r9 rows-only conversion, was 64-bit xxhash64): token
    hash = first 48 md5 bits ('0x'+12-hex-chars → BIGINT, the repo's
    portable-hash convention from the sketch family), so the whole
    signature — votes, tie rule (sum > 0 strictly), bit packing — is
    recomputable in any engine with md5 and the dedup_simhash registry
    entry carries a full value hash. 48 bits keeps every intermediate
    in exact BIGINT range in both engines; the near-dup geometry is
    unchanged (expected unrelated hamming 24 of 48 vs 32 of 64, planted
    near-dups still ≤ a few bits, pinned in tests/test_dedup.py)."""
    tokens = fan_out(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w"),
    ).select(
        "id",
        F.conv(F.substring(F.md5(F.col("w").cast("binary")), 1, 12), 16, 10)
        .cast("long")
        .alias("h"),
    )
    # SQL strings: each builds in one py4j call, where a Column tree
    # costs one per node (about 900 here, most of the query's build)
    votes = [
        F.expr(f"sum(CASE WHEN (h & {1 << b}) != 0 THEN 1 ELSE -1 END) AS b{b}")
        for b in range(_SIMHASH_BITS)
    ]
    packed = " + ".join(
        ["CAST(0 AS BIGINT)"]
        + [f"CASE WHEN b{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
           for b in range(_SIMHASH_BITS)]
    )
    return tokens.groupBy("id").agg(*votes).selectExpr("id", f"{packed} AS simhash")


def _simhash_oracle() -> str:
    """DuckDB twin of the 48-bit portable SimHash pipeline, vote sums
    unrolled one per bit (the pagerank-oracle pattern). Integer
    arithmetic end to end — token hashes are the same md5 slices, the
    tie rule (vote sum > 0 strictly) is written identically, and the
    chunk blocking + hamming filter mirror the Spark plan."""
    vote_cols = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(_SIMHASH_BITS)
    )
    packed = "\n          + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(_SIMHASH_BITS)
    )
    return f"""
WITH guard AS (
  SELECT CASE WHEN (SELECT count(*) FROM documents
                    WHERE strlen(text) <> length(text)) > 0
    THEN CAST('dedup_simhash ORACLE DOMAIN ERROR: non-ASCII text — '
              || 'engine lower() implementations diverge on dotted-I '
              || 'and final sigma' AS BIGINT)
    ELSE 0 END AS ok
),
tok AS (
  SELECT id, CAST('0x' || substr(md5(w), 1, 12) AS BIGINT) AS h
  FROM (SELECT doc_id AS id,
               unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
        FROM documents)
  WHERE (SELECT ok FROM guard) = 0
),
votes AS (
  SELECT id,
         {vote_cols}
  FROM tok GROUP BY id
),
sig AS (
  SELECT id,
         {packed}
         AS simhash
  FROM votes
),
ck AS (
  SELECT id, simhash, t.c AS chunk_id,
         (simhash >> CAST(12 * t.c AS BIGINT)) & 4095 AS chunk
  FROM sig CROSS JOIN range(0, 4) t(c)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         a.simhash AS sa, b.simhash AS sb
  FROM ck a JOIN ck b
    ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk AND a.id < b.id
)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
"""


# 5-block decomposition of the 48-bit signature (widths 10,10,10,9,9 at
# offsets 0,10,20,30,39) and the C(5,2)=10 block-pair tables (Manku,
# Jain & Das Sarma, "Detecting Near-Duplicates for Web Crawling",
# WWW'07 §3 — permute-and-block generalized to pair keys). Hamming ≤ 3
# errors touch at most 3 blocks, so at least 2 blocks are clean and some
# pair table matches exactly: recall for h ≤ 3 is guaranteed by
# pigeonhole, same as the retired 4×12 single-chunk scheme, but the key
# is ~20 bits wide instead of 12.
_SIMHASH_BLOCKS = [(0, 10), (10, 10), (20, 10), (30, 9), (39, 9)]
_SIMHASH_PAIRS = [
    (i, j) for i in range(5) for j in range(i + 1, 5)
]


def _simhash_block(col, b):
    off, width = _SIMHASH_BLOCKS[b]
    return F.shiftright(col, off).bitwiseAND(F.lit((1 << width) - 1))


@query("dedup_simhash", oracle=_simhash_oracle(), tags=("dedup", "simhash"))
def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup pairs: 10-table block-pair blocking (5 blocks of
    10/10/10/9/9 bits; every pair of blocks is a ~20-bit join key;
    recall for Hamming ≤ 3 guaranteed by pigeonhole — see
    _SIMHASH_BLOCKS), then exact Hamming ≤ 3 via bit_count(xor). The
    signature table is persisted — the pair self-join consumes it on
    both sides and would otherwise run the 48-vote hash-agg twice
    (measured 2.00 → 1.46 s at sf0.1; the signature-store pattern).

    r13 blocking upgrade: pair keys cut the random-collision constant
    of the retired 4×12-bit single-chunk blocking 51× (10/2¹⁹·⁵ vs
    4/2¹²), candidates 230 M → 39 M at 500 k docs (SCALE.md r13). The
    hamming filter runs on the (simhash_a, simhash_b) payload of
    :func:`band_pairs`, which emits each pair once, from its first
    all-clean pair table.

    FULL value oracle since r9 (was rows-only under xxhash64): the
    portable md5-slice SimHash is replayed in SQL end to end — same
    token hashes (parity probed: identical token count AND hash sum at
    sf0.001/0.01), 48 unrolled vote sums, same strict-positive tie
    rule — so the driver hash-checks the entire near-dedup pipeline.
    Recall on planted near-dups stays pinned in tests/test_dedup.py."""
    docs = t(spark, sf, "documents")
    sig = persisted(simhash48(docs))
    keys = [
        _simhash_block(F.col("simhash"), i) * F.lit(1 << _SIMHASH_BLOCKS[j][1])
        + _simhash_block(F.col("simhash"), j)
        for i, j in _SIMHASH_PAIRS
    ]
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return (
        band_pairs(sig, "id", keys, payload=("simhash",))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= 3)
        .orderBy("id_a", "id_b")
    )


# ------------------------------------------------------------ ngram jaccard


@query(
    "dedup_ngram_jaccard",
    oracle="""
WITH words AS (
  SELECT DISTINCT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w
  FROM documents WHERE doc_id < 200
), sizes AS (
  SELECT doc_id, count(*) AS n_w FROM words GROUP BY doc_id
), cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM documents a JOIN documents b
    ON a.lang = b.lang AND a.doc_id < b.doc_id
   AND abs(a.n_chars - b.n_chars) <= 10
  WHERE a.doc_id < 200 AND b.doc_id < 200
), inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cand c
  JOIN words wa ON wa.doc_id = c.id_a
  JOIN words wb ON wb.doc_id = c.id_b AND wb.w = wa.w
  GROUP BY c.id_a, c.id_b
)
SELECT c.id_a, c.id_b,
       round(CAST(coalesce(n_inter, 0) AS DOUBLE)
             / (sa.n_w + sb.n_w - coalesce(n_inter, 0)), 4) AS jaccard
FROM cand c
LEFT JOIN inter USING (id_a, id_b)
JOIN sizes sa ON sa.doc_id = c.id_a
JOIN sizes sb ON sb.doc_id = c.id_b
WHERE round(CAST(coalesce(n_inter, 0) AS DOUBLE)
            / (sa.n_w + sb.n_w - coalesce(n_inter, 0)), 4) >= 0.5
""",
    tags=("dedup", "jaccard"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Word-level Jaccard near-dup detection with a blocking prefilter
    (same lang, close length) — the SQL-expressible cousin of MinHash
    (integer set arithmetic → exact DuckDB oracle). doc_id < 200 bounds
    the candidate set; in production blocking would be by length bucket +
    lang partition."""
    docs = t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    words = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.lower("text"), r"\s+"))).alias("w")
    )
    sizes = words.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_w"))
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("lang").alias("lang_a"), F.col("n_chars").alias("nc_a"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("lang").alias("lang_b"), F.col("n_chars").alias("nc_b"))
    cand = a.join(
        b,
        (F.col("lang_a") == F.col("lang_b"))
        & (F.col("id_a") < F.col("id_b"))
        & (F.abs(F.col("nc_a") - F.col("nc_b")) <= 10),
    ).select("id_a", "id_b")
    wa = words.select(F.col("doc_id").alias("id_a"), "w")
    wb = words.select(F.col("doc_id").alias("id_b"), "w")
    inter = (
        cand.join(wa, "id_a").join(wb, ["id_b", "w"]).groupBy("id_a", "id_b").agg(
            F.count(F.lit(1)).alias("n_inter")
        )
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_w").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_w").alias("n_b"))
    jac = F.round(
        F.coalesce(F.col("n_inter"), F.lit(0)).cast("double")
        / (F.col("n_a") + F.col("n_b") - F.coalesce(F.col("n_inter"), F.lit(0))),
        4,
    )
    return (
        cand.join(inter, ["id_a", "id_b"], "left")
        .join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


@query(
    "dedup_exact_by_hash",
    oracle="""
SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents GROUP BY text
""",
    tags=("dedup", "exact", "hash"),
)
def dedup_exact_by_hash(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup at 100 TB: group on ``xxhash64(text)`` so the shuffle
    carries 8-byte keys instead of document bodies; collisions would be
    verified by re-grouping the (tiny) multi-member buckets on full text.

    FULL value oracle despite xxhash64 being Spark-only: the hash never
    appears in the OUTPUT — (keep_id, n_copies) is a pure function of
    the text partition, so DuckDB groups by ``text`` directly and must
    produce the identical row set. A 64-bit collision would surface as
    a hash mismatch here, which is exactly the check we want.
    Equivalence to text-keyed dedup is also asserted in
    tests/test_dedup.py."""
    docs = t(spark, sf, "documents")
    return (
        docs.groupBy(F.xxhash64("text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keep_id", "n_copies")
    )


# ------------------------------------------- dedup cluster formation (graph)


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iters: int = 16
) -> DataFrame:
    """Distributed connected components by min-label propagation:
    every node starts labeled with itself; each iteration joins labels
    across edges (both directions) and keeps the per-node minimum,
    until a fixpoint. Returns (id, lbl) with lbl = the component's
    smallest node id.

    Scale shape: per iteration — one join of the (symmetrized) edge
    list with the label table and one min hash-agg, both
    hash-partitioned on node id; ``localCheckpoint`` truncates lineage
    each round (iterative plans otherwise double in depth and
    re-execute history; on a cluster the durable variant is
    ``checkpoint`` to the DFS). The driver loop moves one scalar
    (the changed-count) per iteration, never data. Iteration count is
    graph diameter — for dedup graphs (near-clique clusters plus short
    bridges) that's single digits, not corpus size."""
    # Symmetrize via ONE explode pass (a unionAll of two projections
    # would re-run the caller's edge derivation once per direction) and
    # PERSIST: sym is the loop invariant — consumed once per iteration,
    # and without the cache every label round re-derives the caller's
    # whole candidate-pair pipeline (the pagerank/bfs edge-list lesson;
    # measured 8.96 -> 6.06 s min-cold for dedup_cluster_components at
    # sf0.1, identical clusters — the remainder is the per-iteration
    # localCheckpoint + fixpoint-probe floor).
    sym = persisted(edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
            )
        ).alias("e")
    ).select("e.a", "e.b"))
    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        nbr = (
            sym.join(labels.withColumnRenamed("id", "a"), "a")
            .select(F.col("b").alias("id"), "lbl")
        )
        nxt = (
            labels.union(nbr).groupBy("id").agg(F.min("lbl").alias("lbl"))
        ).localCheckpoint()
        changed = (
            nxt.withColumnRenamed("lbl", "new_lbl")
            .join(labels, "id")
            .filter(F.col("new_lbl") != F.col("lbl"))
            .limit(1)
            .count()
        )
        labels = nxt
        if changed == 0:
            break
    return labels


@query(
    "dedup_cluster_components",
    oracle="""
WITH b AS (
  SELECT doc_id, lang, n_chars // 50 AS bucket FROM documents
),
islands AS (
  SELECT lang, bucket,
         bucket - CAST(row_number() OVER (PARTITION BY lang ORDER BY bucket) AS BIGINT)
             AS island
  FROM (SELECT DISTINCT lang, bucket FROM b)
)
SELECT CAST(min(doc_id) AS BIGINT) AS cluster_rep,
       CAST(count(*) AS BIGINT)    AS n_docs
FROM b JOIN islands USING (lang, bucket)
GROUP BY lang, island
ORDER BY cluster_rep
""",
    tags=("dedup", "graph", "components"),
)
def dedup_cluster_components(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup cluster formation: after candidate pairing, the final step
    of corpus dedup is grouping pairwise matches into clusters and
    electing one representative — transitive closure, which SQL alone
    can't express for arbitrary graphs. Here the match graph is
    deterministic (same (lang, n_chars DIV 50) bucket = duplicate
    clique; adjacent non-empty buckets within a language = near-dup
    bridge), so components are provably the per-language maximal runs
    of occupied buckets — which IS SQL-expressible (gaps-and-islands),
    giving the iterative distributed algorithm a full value oracle:
    the DuckDB CTE derives the same clusters analytically."""
    docs = t(spark, sf, "documents").select(
        "doc_id", "lang", (F.col("n_chars") / 50).cast("bigint").alias("bucket")
    )
    # clique edges: each doc to its bucket's minimum doc
    bmin = docs.groupBy("lang", "bucket").agg(F.min("doc_id").alias("rep"))
    clique = (
        docs.join(bmin, ["lang", "bucket"])
        .filter(F.col("doc_id") != F.col("rep"))
        .select(F.col("doc_id").alias("src"), F.col("rep").alias("dst"))
    )
    # bridge edges: bucket rep to the next occupied bucket's rep (lead
    # window per language) when exactly adjacent
    w = Window.partitionBy("lang").orderBy("bucket")
    bridges = (
        bmin.withColumn("nxt_bucket", F.lead("bucket").over(w))
        .withColumn("nxt_rep", F.lead("rep").over(w))
        .filter(F.col("nxt_bucket") == F.col("bucket") + 1)
        .select(F.col("rep").alias("src"), F.col("nxt_rep").alias("dst"))
    )
    comp = connected_components(clique.union(bridges))
    return (
        comp.groupBy("lbl")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            F.col("lbl").cast("bigint").alias("cluster_rep"),
            F.col("n_docs").cast("bigint"),
        )
        .orderBy("cluster_rep")
    )


def _shingle_stages(d: DataFrame, sf: str):
    """Char-8-gram staging of documents ``d`` (doc_id, tx) shared by the
    exact set joins: ``(ranked, sets_sized)``.

    Shingles come from an Arrow-batched UDF (HOF transform lambdas are
    expression-interpreted: 5.7 s vs 0.4 s at sf0.1) and are hashed to
    8-byte longs before anything shuffles (xxhash64 collisions over a
    ~1e4 universe are ~1e-11). ``toks`` and ``sets`` (per-doc token set
    and size) are persisted: they feed several consumers each, the
    staging tables a production ppjoin materializes between stages.
    ``ranked`` is every (doc_id, tok, df, rn, sz) row, ``rn`` being the
    token's rank in the document under the global rarest-first order;
    callers persist what they derive from it. The corpus-sized joins
    carry size guards: the vocabulary df table is a skinny dim
    (:func:`dim_side`; its static estimate ducks under the broadcast
    threshold and AQE never demotes the broadcast, so the ×32 parquet
    proxy keeps the broadcast at driver/bench SFs and pins shuffle-hash
    beyond), the per-doc size map rides the plain parquet-bytes proxy
    (a 3.6× over-estimate of its real rows), and ``sets_sized`` is the
    token-set payload for the verify attach (:func:`payload_side`; the
    set table measures 17–19× its parquet, so ×32). The proxies are
    pinned in tests/test_plans.py."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    @pandas_udf(ArrayType(StringType()))
    def grams(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [list({tx[i : i + 8] for i in range(len(tx) - 7)}) for tx in texts]
        )

    toks = persisted(fan_out(d).select(
        "doc_id", F.explode(grams("tx")).alias("g")
    ).select("doc_id", F.xxhash64("g").alias("tok")))
    sets = persisted(toks.groupBy("doc_id").agg(
        F.collect_set("tok").alias("toks"), F.count(F.lit(1)).alias("sz")
    ))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    ranked = (
        toks.join(dim_side(freq, table_bytes(sf, "documents") * 32), "tok")
        .withColumn("rn", F.row_number().over(w))
        .join(dim_side(sets.select("doc_id", "sz"),
                       table_bytes(sf, "documents")), "doc_id")
    )
    sets_sized = payload_side(sets, table_bytes(sf, "documents") * 32)
    return ranked, sets_sized


@query(
    "setsim_join_prefix",
    oracle=r"""
WITH d AS (
  SELECT doc_id, lower(text) AS tx
  FROM documents WHERE n_chars < 400 AND len(lower(text)) >= 8
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(tx) - 6),
                                      i -> substr(tx, i, 8))) AS toks
  FROM d
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS inter_n,
       CAST(len(a.toks) + len(b.toks)
            - len(list_intersect(a.toks, b.toks)) AS BIGINT) AS union_n
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.toks, b.toks)) * 5
      >= (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) * 4
""",
    tags=("dedup", "setsim", "join"),
)
def setsim_join_prefix(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT set-similarity self-join (8-char shingle sets, Jaccard >=
    0.8) via PREFIX + LENGTH filtering — the ppjoin family's core idea,
    and the exact counterpart to the probabilistic MinHash/SimHash
    dedups: every qualifying pair is found (no recall loss — modulo
    64-bit shingle-hash collisions, ~1e-11 over this universe; the
    string-set DuckDB oracle would surface one as a hash mismatch),
    yet no all-pairs comparison happens.

    FEATURE CHOICE IS THE SCALE LEVER, measured on this corpus: the
    first cut used word tokens, and this corpus's synthetic vocabulary
    is 31 words (min document frequency 184 of 3.5k docs at sf0.1) — no
    word prefix can be selective, and the bench showed it (11.6 s).
    Character 8-gram shingles re-establish the rare-feature premise on
    ANY corpus (12.9k distinct shingles here, 10th-percentile df = 3),
    because shingles encode token ORDER, not just membership. Prefix
    filter: rarest-first global shingle order; a set of size s keeps its
    p = s - ceil(t*s) + 1 rarest shingles; two sets with Jaccard >= t
    MUST share a prefix shingle (pigeonhole), so candidates come from an
    equi-join on prefix shingles, pruned further by the size band
    t*|A| <= |B| <= |A|/t. Verification counts the true intersection
    only for survivors; the threshold is integer arithmetic
    (inter*5 >= union*4) — bit-exact cross-engine."""
    T_NUM, T_DEN = 4, 5  # Jaccard threshold 0.8 as exact integers

    d = (
        t(spark, sf, "documents")
        .filter(F.col("n_chars") < 400)
        .select("doc_id", F.lower(F.col("text")).alias("tx"))
        .filter(F.length("tx") >= 8)
    )
    ranked, sets_sized = _shingle_stages(d, sf)
    pref = persisted(ranked.filter(
        F.col("rn") <= F.col("sz") - F.ceil(F.col("sz") * T_NUM / T_DEN) + 1
    ).select("doc_id", "tok", "sz", "rn"))
    # length filter (ppjoin's second prune): Jaccard >= t forces
    # t*|A| <= |B| <= |A|/t, so size-incompatible prefix collisions are
    # dropped INSIDE the candidate join. The POSITIONAL filter (ppjoin's
    # third prune) uses where the shared token sits in each set's global
    # order: tokens strictly before position rn in A can't all be common
    # at the FIRST shared token, so overlap <= min(sa-ra, sb-rb) + 1;
    # Jaccard >= t needs overlap >= t/(1+t)*(sa+sb), i.e.
    # (min+1)*(T_NUM+T_DEN) >= (sa+sb)*T_NUM in exact integers. Applied
    # at EVERY shared prefix token and OR-ed by the distinct: for a truly
    # qualifying pair the first-shared-token instance always satisfies
    # the bound, so the prune is lossless — measured 487k -> 62.5k
    # candidate pairs at sf0.1 (7.8x), which is what the verify stage
    # shuffles arrays for.
    cand = (
        pref.select(F.col("doc_id").alias("a_id"), "tok",
                    F.col("sz").alias("sa"), F.col("rn").alias("ra"))
        .join(
            pref.select(F.col("doc_id").alias("b_id"), "tok",
                        F.col("sz").alias("sb"), F.col("rn").alias("rb")),
            "tok",
        )
        .filter(
            (F.col("a_id") < F.col("b_id"))
            & (F.col("sb") * T_DEN >= F.col("sa") * T_NUM)
            & (F.col("sa") * T_DEN >= F.col("sb") * T_NUM)
            & (
                (F.least(F.col("sa") - F.col("ra"),
                         F.col("sb") - F.col("rb")) + 1)
                * (T_NUM + T_DEN)
                >= (F.col("sa") + F.col("sb")) * T_NUM
            )
        )
        .select("a_id", "b_id")
        .distinct()
    )
    # verification: one array_intersect per surviving pair (bounded
    # arrays of longs), not a re-exploded shingle join
    sa = sets_sized.select(F.col("doc_id").alias("a_id"),
                           F.col("toks").alias("ta"), F.col("sz").alias("sa"))
    sb = sets_sized.select(F.col("doc_id").alias("b_id"),
                           F.col("toks").alias("tb"), F.col("sz").alias("sb"))
    return (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.size(F.array_intersect("ta", "tb")).cast("bigint")
            .alias("inter_n"),
            "sa",
            "sb",
        )
        .select(
            "a_id",
            "b_id",
            "inter_n",
            (F.col("sa") + F.col("sb") - F.col("inter_n"))
            .cast("bigint")
            .alias("union_n"),
        )
        .filter(F.col("inter_n") * T_DEN >= F.col("union_n") * T_NUM)
    )


@query(
    "decontaminate_eval_ngrams",
    oracle="""
WITH words AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents
), idx AS (
  SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i FROM words
), grams AS (
  SELECT DISTINCT doc_id,
         array_to_string(w[CAST(i AS INT):CAST(i AS INT) + 7], ' ') AS g
  FROM idx
), eval_grams AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0
), tr AS (
  SELECT doc_id, count(*) AS n_grams FROM grams WHERE doc_id % 50 <> 0
  GROUP BY doc_id
), hits AS (
  SELECT g.doc_id, count(*) AS n_shared
  FROM grams g JOIN eval_grams e USING (g)
  WHERE g.doc_id % 50 <> 0
  GROUP BY g.doc_id
)
SELECT t.doc_id,
       CAST(t.n_grams AS BIGINT) AS n_grams,
       CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
       round(CAST(coalesce(h.n_shared, 0) AS DOUBLE) / t.n_grams, 4)
           AS contamination,
       coalesce(h.n_shared, 0) > 0 AS contaminated
FROM tr t LEFT JOIN hits h USING (doc_id)
""",
    tags=("dedup", "decontamination", "ngram"),
)
def decontaminate_eval_ngrams(spark: SparkSession, sf: str) -> DataFrame:
    """Train/eval decontamination by word-8-gram overlap — the standard
    leakage guard of an LLM data pipeline (GPT-3 used 13-grams; 8 fits
    these short docs): every training document is scored by how many of
    its distinct 8-grams appear anywhere in the held-out eval split
    (``doc_id % 50 = 0`` stands in for the benchmark set). Near-dups of
    eval documents surface with contamination ≈ 1; clean docs ride
    along with 0 so the output is the full scored training corpus.

    Scale shape: the eval n-gram set is bounded by the BENCHMARK size
    (fixed, small — thousands of docs regardless of corpus scale), so
    it is the one side this repo broadcasts on principle; the training
    side never shuffles raw n-gram strings — both sides join on
    ``xxhash64`` of the gram (8-byte keys; same trick as
    dedup_exact_by_hash), and per-doc distinct-gram dedup happens
    map-side before the join. One broadcast hash join + one hash-agg,
    no all-pairs anything."""
    docs = t(spark, sf, "documents")
    w = F.split(F.lower("text"), r"\s+")
    grams = (
        docs.select("doc_id", w.alias("w"))
        .filter(F.size("w") >= 8)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, size(w) - 7),"
                        " i -> array_join(slice(w, i, 8), ' '))"
                    )
                )
            ).alias("g"),
        )
        .select("doc_id", F.xxhash64("g").alias("gh"))
    )
    is_eval = F.col("doc_id") % 50 == 0
    eval_grams = grams.filter(is_eval).select("gh").distinct()
    train = grams.filter(~is_eval)
    n_grams = train.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    hits = (
        train.join(F.broadcast(eval_grams), "gh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    shared = F.coalesce(F.col("n_shared"), F.lit(0).cast("long"))
    return (
        n_grams.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            shared.alias("n_shared"),
            F.round(shared.cast("double") / F.col("n_grams"), 4).alias(
                "contamination"
            ),
            (shared > 0).alias("contaminated"),
        )
    )


@query(
    "split_leakage_safe",
    oracle="""
WITH clus AS (
  SELECT doc_id, n_chars,
         min(doc_id) OVER (PARTITION BY lang, n_chars // 50) AS cluster_rep
  FROM documents
),
sp AS (
  SELECT doc_id, n_chars, cluster_rep,
         CASE WHEN CAST('0x' || substr(md5(CAST(cluster_rep AS VARCHAR)), 1, 12)
                        AS BIGINT) * 10 < 2251799813685248 THEN 'train'
              WHEN CAST('0x' || substr(md5(CAST(cluster_rep AS VARCHAR)), 1, 12)
                        AS BIGINT) * 10 < 2533274790395904 THEN 'val'
              ELSE 'test' END AS split
  FROM clus
)
SELECT split,
       CAST(count(DISTINCT cluster_rep) AS BIGINT) AS n_clusters,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars_sum
FROM sp GROUP BY split ORDER BY split
""",
    tags=("split", "dedup", "leakage"),
)
def split_leakage_safe(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe train/val/test split (80/10/10): the split is a
    deterministic hash of the DUPLICATE-CLUSTER representative, not the
    document — every member of a duplicate cluster lands in the same
    split, so a training document can never have a near-duplicate in
    the eval splits (the leakage a per-doc random split guarantees at
    scale). Clusters here are the duplicate cliques of the blocking
    key (same language, same 50-char length bucket — the candidate
    cliques of ``dedup_cluster_components``), keeping the whole
    composition SQL-derivable for a FULL value oracle; a general
    near-dup graph plugs its ``connected_components`` label into the
    identical split expression. The split decision itself is the
    ``sample_hash_bucket`` portability contract — u48 · 10 < k · 2^48,
    integer-exact on any engine with md5.

    Scale shape: one window keyed by the blocking key (equivalently a
    self-join-free groupBy-min broadcast back), a per-row hash
    expression, and one 3-group aggregate — no corpus self-join, no
    collect, no skew (bucket sizes are bounded by the blocking
    design)."""
    docs = t(spark, sf, "documents").select(
        "doc_id",
        "n_chars",
        "lang",
        (F.col("n_chars") / 50).cast("bigint").alias("bucket"),
    )
    wc = Window.partitionBy("lang", "bucket")
    clus = docs.select(
        "doc_id", "n_chars", F.min("doc_id").over(wc).alias("cluster_rep")
    )
    u48 = F.conv(
        F.substring(
            F.md5(F.col("cluster_rep").cast("string").cast("binary")), 1, 12
        ),
        16,
        10,
    ).cast("long")
    split = (
        F.when(u48 * 10 < F.lit(2251799813685248), "train")
        .when(u48 * 10 < F.lit(2533274790395904), "val")
        .otherwise("test")
    )
    return (
        clus.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.countDistinct("cluster_rep").cast("long").alias("n_clusters"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars_sum"),
        )
        .orderBy("split")
    )


@query(
    "dedup_incremental_ingest",
    oracle="""
WITH corpus AS (
  SELECT * FROM documents WHERE doc_id % 10 <> 0
),
incoming AS (
  SELECT * FROM documents WHERE doc_id % 10 = 0
)
SELECT i.doc_id,
       CASE WHEN EXISTS (SELECT 1 FROM corpus c
                         WHERE md5(c.text) = md5(i.text))
              THEN 'exact_dup'
            WHEN EXISTS (SELECT 1 FROM corpus c
                         WHERE c.lang = i.lang
                           AND substr(c.text, 1, 40) = substr(i.text, 1, 40))
              THEN 'prefix_dup'
            ELSE 'new' END AS verdict
FROM incoming i
""",
    tags=("dedup", "incremental", "ingestion"),
)
def dedup_incremental_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """INCREMENTAL dedup at ingestion time — the production shape the
    batch self-joins (``dedup_exact``, ``setsim_join_prefix``) feed
    into: a small incoming batch (doc_id % 10 = 0 stands in) is
    classified against the EXISTING corpus without ever joining the
    corpus to itself: 'exact_dup' (text md5 already present),
    'prefix_dup' (same language + identical 40-char prefix — the cheap
    blocking-key signal), else 'new'. Every check is an equi-join of
    the batch against a corpus-side DISTINCT key projection.

    Scale shape: at 100 TB the corpus side reduces to its key columns
    (16-byte hashes / 40-char prefixes) ONCE — in production that
    projection is the stored dedup index, exactly like the persisted
    ANN artifact — and each ingest batch is a broadcast-or-shuffle
    equi-join of batch-size against index-size; the corpus is never
    self-joined and never rescanned per document (the oracle's EXISTS
    subqueries are the semantic spec, not the plan)."""
    docs = t(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    incoming = docs.filter(F.col("doc_id") % 10 == 0)
    seen_hash = corpus.select(
        F.md5(F.col("text").cast("binary")).alias("h")
    ).distinct()
    seen_prefix = corpus.select(
        "lang", F.substring("text", 1, 40).alias("pfx")
    ).distinct()
    inc = incoming.select(
        "doc_id",
        "lang",
        F.md5(F.col("text").cast("binary")).alias("h"),
        F.substring("text", 1, 40).alias("pfx"),
    )
    exact = inc.join(seen_hash, "h").select("doc_id").withColumn(
        "is_exact", F.lit(True)
    )
    pfx = inc.join(seen_prefix, ["lang", "pfx"]).select("doc_id").distinct().withColumn(
        "is_pfx", F.lit(True)
    )
    return (
        inc.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(pfx, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("is_exact"), "exact_dup")
            .when(F.col("is_pfx"), "prefix_dup")
            .otherwise("new")
            .alias("verdict"),
        )
    )


def containment_pairs(
    spark: SparkSession, sf: str, t_num: int = 9, t_den: int = 10,
    extra: int = 4, probe_pred=None,
) -> DataFrame:
    """EXACT set-CONTAINMENT join (|A∩B| / |A| ≥ t over char-8-gram
    shingle sets) — Broder's other similarity measure: resemblance
    (Jaccard, ``setsim_join_prefix``) finds near-equal pairs,
    containment finds documents mostly INCLUDED in another (quotes,
    supersets, doc-within-doc) and is inherently ASYMMETRIC, so pairs
    are directed (a contained-in b) and both directions can qualify.

    Same exact-filter machinery as the Jaccard join, adapted to the
    asymmetric threshold: only the PROBE side (A) is pruned to its
    p = s − ⌈t·s⌉ + 1 rarest shingles (pigeonhole: missing all of them
    caps the intersection below t·|A|); the index side (B) keeps every
    token, and the only size constraint is one-sided (|B|·10 ≥ |A|·9 —
    containment has no upper length bound, which is exactly why the
    Jaccard prefix join can't answer it). Candidate prune: a
    DEEPER-PREFIX COUNTED pigeonhole. A qualifying pair misses at most
    m = sa − ⌈t·sa⌉ of A's tokens, so among A's first
    pl = min(sa, m + 1 + EXTRA) tokens (global rarest-first order) B
    must contain at least c_req = pl − m — the classic pigeonhole
    (EXTRA = 0, "share ≥ 1 rare token") extended to "share ≥ 1+EXTRA
    of a slightly longer prefix", still exactly lossless. The prefix
    join's rows are COUNTED per pair and pairs below c_req drop before
    the expensive verify; EXTRA = 4 is the measured wall-clock minimum
    (SCALE.md). No per-row positional filter: deeper in the extended
    prefix it can reject a qualifying pair's row and so corrupt the
    count. Staging is :func:`_shingle_stages`. Verification is one
    array_intersect per candidate; the threshold is exact integer
    arithmetic (inter·t_den ≥ |A|·t_num), bit-identical to the naive
    O(n²) DuckDB oracle — zero recall loss, no all-pairs comparison.

    ``t_num``/``t_den`` set the threshold and ``extra`` the prune depth
    (``plagiarism_detect`` runs t = 0.8). ``probe_pred`` restricts which
    documents are PROBED (the A side); the index side, the global df
    ranking, and the verify sets always cover the full corpus, so a
    probed document's pairs are exactly the all-corpus pairs with that
    a_id."""
    T_NUM, T_DEN = t_num, t_den
    EXTRA = extra  # prefix deepened by EXTRA -> share >= 1+EXTRA tokens

    d = (
        t(spark, sf, "documents")
        .select("doc_id", F.lower(F.col("text")).alias("tx"))
        .filter(F.length("tx") >= 8)
    )
    ranked, sets_sized = _shingle_stages(d, sf)
    ranked = persisted(ranked)
    # m = allowed misses; pl = deepened prefix; c_req = pl − m shared
    # tokens required (exact pigeonhole, lossless at any EXTRA ≥ 0)
    m_col = F.col("sz") - F.ceil(F.col("sz") * T_NUM / T_DEN)
    pl_col = F.least(F.col("sz"), m_col + 1 + EXTRA)
    probe = (
        ranked.filter(F.col("rn") <= pl_col)
        .select(F.col("doc_id").alias("a_id"), "tok",
                F.col("sz").alias("sa"),
                (pl_col - m_col).alias("c_req"))
    )
    if probe_pred is not None:
        # probe restriction lands BEFORE the prefix join, so the raw
        # join volume (Σ df over probed prefixes — the t = 0.7 spill
        # site) shrinks with the batch, not after the damage
        probe = probe.filter(probe_pred(F.col("a_id")))
    index = ranked.select(F.col("doc_id").alias("b_id"), "tok",
                          F.col("sz").alias("sb"))
    cand = (
        probe.join(index, "tok")
        .filter(
            (F.col("a_id") != F.col("b_id"))
            & (F.col("sb") * T_DEN >= F.col("sa") * T_NUM)
        )
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("c"), F.first("c_req").alias("c_req"))
        .filter(F.col("c") >= F.col("c_req"))
        .select("a_id", "b_id")
    )
    sa = sets_sized.select(F.col("doc_id").alias("a_id"),
                           F.col("toks").alias("ta"),
                           F.col("sz").alias("a_sz"))
    sb = sets_sized.select(F.col("doc_id").alias("b_id"),
                           F.col("toks").alias("tb"))
    return (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.size(F.array_intersect("ta", "tb")).cast("bigint")
            .alias("inter_n"),
            F.col("a_sz").cast("bigint").alias("a_sz"),
        )
        .filter(F.col("inter_n") * T_DEN >= F.col("a_sz") * T_NUM)
    )


@query(
    "setsim_containment_join",
    oracle=r"""
WITH d AS (
  SELECT doc_id, lower(text) AS tx
  FROM documents WHERE len(lower(text)) >= 8
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(tx) - 6),
                                      i -> substr(tx, i, 8))) AS toks
  FROM d
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS inter_n,
       CAST(len(a.toks) AS BIGINT) AS a_sz
FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
WHERE len(list_intersect(a.toks, b.toks)) * 10 >= len(a.toks) * 9
""",
    tags=("dedup", "setsim", "containment", "join"),
)
def setsim_containment_join(spark: SparkSession, sf: str) -> DataFrame:
    """Directed containment pairs at t = 0.9 — see
    :func:`containment_pairs` for the machinery (r13: the r12 body
    moved there verbatim so ``plagiarism_detect`` can share it; output
    re-verified identical at sf0.01/sf0.1 after the motion)."""
    return containment_pairs(spark, sf, t_num=9, t_den=10, extra=4)


@query(
    "plagiarism_detect",
    oracle=r"""
WITH d AS (
  SELECT doc_id, lower(text) AS tx
  FROM documents WHERE len(lower(text)) >= 8
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(tx) - 6),
                                      i -> substr(tx, i, 8))) AS toks
  FROM d
),
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS inter_n,
         CAST(len(a.toks) AS BIGINT) AS a_sz
  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
  WHERE a.doc_id % 5 = 2
    AND len(list_intersect(a.toks, b.toks)) * 10 >= len(a.toks) * 8
),
best AS (
  SELECT a_id, b_id, inter_n, a_sz,
         row_number() OVER (PARTITION BY a_id
                            ORDER BY inter_n DESC, b_id) AS rn
  FROM pairs
)
SELECT a_id, b_id AS src_id, inter_n, a_sz,
       CASE WHEN inter_n = a_sz THEN 'verbatim'
            WHEN inter_n * 10 >= a_sz * 9 THEN 'near_verbatim'
            ELSE 'partial' END AS verdict
FROM best WHERE rn = 1
""",
    tags=("dedup", "setsim", "containment", "plagiarism"),
)
def plagiarism_detect(spark: SparkSession, sf: str) -> DataFrame:
    """Plagiarism attribution report, BATCH-vs-CORPUS: for every
    submitted document (doc_id % 5 = 2 stands in for the submission
    batch, the ``dedup_incremental_ingest`` framing) whose char-8
    shingle set is ≥ 80 % contained in any other document of the full
    corpus, the single best SOURCE (argmax containment, ties to the
    smallest doc_id) and a verdict class — 'verbatim' (every shingle
    present), 'near_verbatim' (≥ 90 %), else 'partial'. The production
    shape on top of a containment join: dedup answers "is this a
    copy", plagiarism detection answers "of WHAT, and how much" — and
    production plagiarism checks screen a submission batch against a
    reference corpus, not the corpus against itself.

    Exercises the r12 counted-pigeonhole prune (VERDICT r12 item 6) in
    a different miss-budget regime than ``setsim_containment_join``'s
    t = 0.9: at t = 0.8 the allowed misses m ≈ 0.2·|A| (vs 0.1·|A|)
    and the r12-optimal EXTRA = 4 is WEAK — on this boilerplate-heavy
    corpus pairs share ≥ 5 deep-prefix tokens easily, so at the 10×
    corpus c ≥ 5 left 3.42 M of 14.6 M distinct pairs alive (output:
    990 rows) and every survivor dragged the ~2 KB set attach through
    the verify join (~70 GB of spill at 100× — the disk death the
    first cut measured). The prune depth must scale with the miss
    budget: the r13 sweep at the 10× corpus (EXTRA ∈ {4, 14, 29, 49}:
    survivors 3.42 M → 62 k → 1,180 → 1,090 while raw prefix-join rows
    only grow 46 M → 67 M → 99 M → 147 M) bottoms at EXTRA = 29, where
    survivors ≈ output and the verify attach is trivial. Lossless at
    any EXTRA by the counted pigeonhole, so the sweep is a pure
    perf knob — same discipline as the r12 EXTRA = 4 sweep at t = 0.9.

    Scale lessons (r13, measured the expensive way — both shapes were
    BUILT and killed with numbers): (1) the first cut was ALL-corpus
    at t = 0.7 — linear per decade but with a 14.5× raw-volume
    constant over t = 0.9 (prefix-join rows 53.4 M at sf0.1 → 534 M at
    the 10× corpus, exactly ×10; the pair-count aggregation of those
    rows spilled the box's disk to death mid-probe). (2) batch-framed
    t = 0.7 still ground past 10 minutes at the 100× corpus (~1.07 G
    raw rows — the 30 %-depth prefix reaches boilerplate shingles with
    huge df on this templated corpus). t = 0.8 finds the IDENTICAL
    report rows on the driver corpus (the contained docs here are
    near-verbatim, so 0.7 and 0.8 select the same pairs) at half the
    prefix depth. The batch predicate lands on the probe side BEFORE
    the prefix join, so raw volume shrinks 5× at the source; the
    index side, global df ranking, and verify sets stay corpus-wide,
    so a submitted doc's report row is identical to what the
    all-corpus query would emit for it. At 100 TB the probe side is
    the (bounded) ingest batch and the raw volume is
    Θ(batch_tokens × avg df) — independent of how the rest of the
    corpus grows relative to itself.

    The argmax is one window (row_number over a_id, inter_n DESC,
    b_id) on the verified pairs — candidate-bound like its input, no
    extra scan of the corpus."""
    pairs = containment_pairs(
        spark, sf, t_num=8, t_den=10, extra=29,
        probe_pred=lambda doc_id: doc_id % 5 == 2,
    )
    w = Window.partitionBy("a_id").orderBy(F.desc("inter_n"), F.col("b_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "a_id",
            F.col("b_id").alias("src_id"),
            "inter_n",
            "a_sz",
            F.when(F.col("inter_n") == F.col("a_sz"), "verbatim")
            .when(F.col("inter_n") * 10 >= F.col("a_sz") * 9, "near_verbatim")
            .otherwise("partial")
            .alias("verdict"),
        )
    )
