"""Corpus language-model statistics for LLM data curation: n-gram
novelty/memorization scoring, TF-IDF salient terms, and BPE tokenizer
training (pair-count statistics fully oracled; the iterative merge
learner rows-only with pure-Python parity in tests/test_lm.py).

These are the corpus-level statistics a pretraining pipeline computes
between dedup and packing: novelty scores flag boilerplate/memorized
text, TF-IDF surfaces document keywords for clustering/mixing, and BPE
merges ARE tokenizer training.

Scale notes (100 TB): every aggregation is keyed on a token/bigram/pair
(high cardinality, naturally spread); the bigram→count join is the only
fat shuffle and AQE broadcast-demotes it when the vocabulary side is
small. The BPE learner collects exactly ONE (pair, count) row per merge
iteration — bounded model state, like the k-means/PQ codebook loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xml_hive_spark.operators import query, t, table_rows

# lowercased whitespace tokens, empties dropped — the one tokenizer all
# three queries and both engines share
_SPARK_TOKENS = "filter(split(lower(text), '\\\\s+'), w -> w <> '')"
_DUCK_TOKENS = "list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '')"


@query(
    "text_ngram_novelty",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, {_DUCK_TOKENS} AS ws FROM documents
),
big AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1),
                        i -> ws[i] || ' ' || ws[i + 1])) AS bg
  FROM tok
),
corpus AS (
  SELECT bg, CAST(count(*) AS BIGINT) AS c FROM big GROUP BY bg
)
SELECT b.doc_id AS doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(CASE WHEN c.c = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS novel_bigrams,
       CAST(sum(c.c) AS BIGINT) AS freq_sum,
       CAST(sum(c.c) AS DOUBLE) / count(*) AS avg_bigram_freq
FROM big b JOIN corpus c USING (bg)
GROUP BY b.doc_id
ORDER BY doc_id
""",
    tags=("text", "lm", "novelty", "dedup-adjacent"),
)
def text_ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document bigram novelty: how many of a doc's word bigrams are
    unique to it in the corpus, and the average corpus frequency of its
    bigrams — a standard memorization/boilerplate signal (low novelty +
    high avg frequency ⇒ templated text; the integer-only cousin of
    average-n-gram-logprob scoring, chosen so the oracle hash is exact).

    Scale shape: one explode to bigram grain, one hash-agg keyed on the
    bigram string, one bigram-keyed shuffle join back (skewed head
    bigrams are spread by Spark's AQE skew-join; at 100 TB you'd salt
    the top-k head explicitly), one final agg keyed on doc_id. No
    driver state."""
    docs = t(spark, sf, "documents")
    # size guard: Spark's sequence(1, 0) yields a DESCENDING [1, 0], not
    # an empty array like DuckDB's generate_series — 1-token docs must be
    # filtered, not relied on to produce zero bigrams
    tok = docs.select("doc_id", F.expr(_SPARK_TOKENS).alias("ws")).where(
        F.size("ws") >= 2
    )
    big = tok.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " i -> concat(ws[i - 1], ' ', ws[i]))"
            )
        ).alias("bg"),
    )
    corpus = big.groupBy("bg").agg(F.count(F.lit(1)).cast("long").alias("c"))
    return (
        big.join(corpus, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("long")
            .alias("novel_bigrams"),
            F.sum("c").cast("long").alias("freq_sum"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "novel_bigrams",
            "freq_sum",
            (F.col("freq_sum").cast("double") / F.col("n_bigrams")).alias(
                "avg_bigram_freq"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "tfidf_top_terms",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, term
),
df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS score,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY CAST(tf.tf * n.n_docs AS DOUBLE) / df.df
                                     DESC, tf.term) AS rk
  FROM tf JOIN df USING (term), n
)
SELECT doc_id, CAST(rk AS INT) AS rk, term, tf, df, score
FROM scored WHERE rk <= 3
ORDER BY doc_id, rk
""",
    tags=("text", "tfidf", "keywords"),
)
def tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (linear idf = N/df, so the score
    is an exact two-integer division — same ranking as log-idf for the
    per-document ordering, without cross-engine libm drift), ties broken
    by term.

    Scale shape: explode → (doc, term) hash-agg → term-keyed df agg
    (broadcast back when small, shuffle-join otherwise — AQE decides) →
    per-document row_number window (PARTITIONed by doc_id: frames are
    per-doc vocabularies, never a global sort). The corpus size N is the
    one driver scalar — read from parquet footer metadata (r14; the
    old ``docs.count()`` spent a full scheduled scan to learn a number
    the footers already state)."""
    docs = t(spark, sf, "documents")
    n_docs = table_rows(sf, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.expr(_SPARK_TOKENS)).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    score = (F.col("tf") * F.lit(n_docs)).cast("double") / F.col("df")
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        tf.join(df, "term")
        .withColumn("score", score)
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= 3)
        .select("doc_id", "rk", "term", "tf", "df", "score")
        .orderBy("doc_id", "rk")
    )


@query(
    "bpe_pair_counts",
    oracle=f"""
WITH tok AS (
  SELECT unnest({_DUCK_TOKENS}) AS w FROM documents
),
wf AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n FROM tok
  WHERE length(w) >= 2 GROUP BY w
),
pairs AS (
  SELECT unnest(list_transform(generate_series(1, length(w) - 1),
                               i -> substr(w, CAST(i AS INT), 2))) AS pair,
         n
  FROM wf
)
SELECT pair, CAST(sum(n) AS BIGINT) AS n_occurrences
FROM pairs GROUP BY pair
ORDER BY n_occurrences DESC, pair
LIMIT 20
""",
    tags=("text", "bpe", "tokenizer"),
)
def bpe_pair_counts(spark: SparkSession, sf: str) -> DataFrame:
    """The first BPE tokenizer-training iteration: corpus-weighted
    counts of adjacent character pairs, top-20 (the argmax of this table
    IS the first BPE merge). Pair statistics run over the DISTINCT word
    table weighted by word frequency — the classic trick that makes BPE
    training corpus-size-independent (cost scales with |vocab|, not
    tokens).

    Scale shape: one token explode + word-keyed hash-agg (the corpus
    pass), then all pair work happens on the distinct-word table — tiny
    relative to the corpus. Final top-20 is orderBy().limit() →
    TakeOrderedAndProject, partial top-k per partition."""
    docs = t(spark, sf, "documents")
    wf = (
        docs.select(F.explode(F.expr(_SPARK_TOKENS)).alias("w"))
        .where(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    pairs = wf.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> substring(w, i, 2))"
            )
        ).alias("pair"),
        "n",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(20)
    )


# SQL fold that merges every non-overlapping occurrence of the adjacent
# symbol pair (a, b) in a symbol array, left to right — the BPE apply
# step, run entirely JVM-side. State: (out array, carry symbol).
_MERGE_EXPR = """
CASE WHEN syms IS NULL THEN NULL ELSE
  aggregate(
    syms,
    struct(CAST(array() AS ARRAY<STRING>) AS out, CAST(NULL AS STRING) AS carry),
    (acc, s) -> CASE
      WHEN acc.carry = {a} AND s = {b}
        THEN struct(concat(acc.out, array(concat(acc.carry, s))) AS out,
                    CAST(NULL AS STRING) AS carry)
      WHEN acc.carry IS NULL
        THEN struct(acc.out AS out, s AS carry)
      ELSE struct(concat(acc.out, array(acc.carry)) AS out, s AS carry)
    END,
    acc -> CASE WHEN acc.carry IS NULL THEN acc.out
                ELSE concat(acc.out, array(acc.carry)) END)
END
"""


def bpe_learn(spark: SparkSession, sf: str, n_merges: int = 6) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges over the document corpus.

    Each iteration: count adjacent symbol pairs on the distinct-word
    table (weighted by word frequency), take the argmax pair — ONE row
    to the driver, the entire per-iteration model state — then apply
    the merge to every word's symbol array with a JVM-side aggregate()
    fold (no Python in the loop). Greedy left-to-right non-overlapping
    application, the reference BPE semantics (mirrored by the
    pure-Python implementation in tests/test_lm.py).

    At 100 TB the word-frequency table is the only corpus-sized pass;
    the merge loop runs on |vocab| rows.

    Two scale lessons from the r11 10x probe (the first cut took 7+ min
    at the 10x corpus on ONE core — jstack showed nested interpreted
    ArrayAggregate folds inside a single task):
    * the vocab groupBy's output gets AQE-coalesced to 1-2 partitions
      at small-to-mid scale, and every later per-merge projection
      inherits that layout — the EXPLICIT hash repartition below (an
      explicit partition count is exempt from AQE coalescing) spreads
      the interpreted merge folds across all cores;
    * each iteration's wf must be PERSISTED: the merge expressions
      stack lineage, so un-cached iteration r re-applies all r-1
      previous folds — O(m^2) interpreted fold passes; caching makes
      it O(m) (each fold applied exactly once). The previous
      iteration's cache is dropped once the next is materialized.
    Measured at the 10x corpus: hang (killed at 7 min) -> ~11 s."""
    docs = t(spark, sf, "documents")
    wf = (
        docs.select(F.explode(F.expr(_SPARK_TOKENS)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn("syms", F.split("w", ""))
        .repartition(spark.sparkContext.defaultParallelism, "w")
        .persist()
    )
    prev = wf
    merges = []
    for rank in range(1, n_merges + 1):
        # sequence(1, 0) is descending in Spark — single-symbol words
        # must be excluded before pair generation
        pairs = wf.where(F.size("syms") >= 2).select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1),"
                    " i -> struct(syms[i - 1] AS a, syms[i] AS b))"
                )
            ).alias("p"),
            "n",
        )
        top = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .collect()  # exactly one (pair, count) row — the model update
            # (this scan also materializes wf's cache for this rank)
        )
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        merges.append((rank, a, b, a + b, cnt))
        la, lb = a.replace("'", "\\'"), b.replace("'", "\\'")
        if prev is not wf:
            prev.unpersist()  # rank r-1 cache: all consumers done
        prev = wf
        wf = wf.withColumn(
            "syms", F.expr(_MERGE_EXPR.format(a=f"'{la}'", b=f"'{lb}'"))
        ).persist()
    out = spark.createDataFrame(
        merges, "rank INT, left STRING, right STRING, merged STRING, n BIGINT"
    )
    if prev is not wf:
        prev.unpersist()
    wf.unpersist()
    return out


def _bpe_merge_ctes(r: int) -> str:
    """One unrolled BPE training iteration for the DuckDB twin: pair
    counts over ``v{r-1}``, argmax ``m{r}`` ((count desc, pair asc) —
    binary collation in both engines), then the greedy left-to-right
    non-overlapping apply producing ``v{r}``.

    The apply step is the part long believed non-SQL-expressible; it has
    a closed form. A position ``i`` "hits" when (syms[i], syms[i+1]) =
    (a, b). Two hits can only be adjacent when a = b (a hit at i-1 and
    at i forces syms[i] = b and syms[i] = a), so greedy LTR application
    reduces to gaps-and-islands parity: within each maximal run of
    consecutive hit positions, merges start at odd ranks (an isolated
    hit is rank 1 → always starts). A position is consumed iff its
    predecessor started a merge. Verified against the pure-Python
    greedy reference on run-heavy adversarial corpora in
    tests/test_lm.py::test_bpe_oracle_matches_python_reference and by
    hypothesis fuzz over random two-symbol corpora.

    Every CTE is MATERIALIZED: v{r-1} is referenced twice per
    iteration (pair counts + apply), so inlining expands the plan
    2^n_merges-fold — measured 3.31 s → 0.77 s at sf0.1 for the
    6-merge oracle (same lesson as the logreg twin, which at 20
    iterations also exhausted file descriptors un-materialized)."""
    return f"""
p{r} AS MATERIALIZED (
  SELECT a, b, CAST(sum(n) AS BIGINT) AS cnt FROM (
    SELECT syms[CAST(i AS INT)] AS a, syms[CAST(i AS INT) + 1] AS b, n
    FROM v{r - 1}, unnest(generate_series(1, len(syms) - 1)) t(i)
    WHERE len(syms) >= 2
  ) GROUP BY a, b
),
m{r} AS MATERIALIZED (SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1),
e{r} AS MATERIALIZED (
  SELECT v.w, v.n, CAST(t.i AS INT) AS pos, v.syms[CAST(t.i AS INT)] AS s,
         v.syms[CAST(t.i AS INT) + 1] AS ns,
         CASE WHEN CAST(t.i AS INT) < len(v.syms)
                   AND v.syms[CAST(t.i AS INT)] = m.a
                   AND v.syms[CAST(t.i AS INT) + 1] = m.b
              THEN 1 ELSE 0 END AS hit
  FROM v{r - 1} v CROSS JOIN m{r} m,
       unnest(generate_series(1, len(v.syms))) t(i)
),
y{r} AS MATERIALIZED (
  SELECT *, pos - row_number() OVER (PARTITION BY w, hit ORDER BY pos) AS isl
  FROM e{r}
),
z{r} AS MATERIALIZED (
  SELECT *,
         CASE WHEN hit = 1
              AND row_number() OVER (PARTITION BY w, hit, isl ORDER BY pos)
                  % 2 = 1
              THEN 1 ELSE 0 END AS st
  FROM y{r}
),
c{r} AS MATERIALIZED (
  SELECT *, coalesce(lag(st) OVER (PARTITION BY w ORDER BY pos), 0) AS consumed
  FROM z{r}
),
v{r} AS MATERIALIZED (
  SELECT w, n,
         list(CASE WHEN st = 1 THEN s || ns ELSE s END ORDER BY pos) AS syms
  FROM c{r} WHERE consumed = 0
  GROUP BY w, n
)"""


def _bpe_oracle(n_merges: int = 6) -> str:
    """Full DuckDB twin of :func:`bpe_learn`: the word-frequency table
    seeded from the shared tokenization convention, ``n_merges``
    iterations unrolled via :func:`_bpe_merge_ctes`, and the merge table
    assembled from the per-iteration argmax CTEs. Assumes the corpus
    yields at least ``n_merges`` distinct pairs (true at every driver
    SF; the Spark side breaks early on exhaustion, the oracle would
    instead propagate an empty CTE)."""
    parts = [f"""
WITH v0 AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n,
         list_transform(generate_series(1, length(w)),
                        i -> substr(w, CAST(i AS INT), 1)) AS syms
  FROM (SELECT unnest({_DUCK_TOKENS}) AS w FROM documents)
  GROUP BY w
)"""]
    for r in range(1, n_merges + 1):
        parts.append("," + _bpe_merge_ctes(r))
    sel = "\nUNION ALL\n".join(
        f'SELECT CAST({r} AS INT) AS "rank", a AS "left", b AS "right",'
        f" a || b AS merged, cnt AS n FROM m{r}"
        for r in range(1, n_merges + 1)
    )
    parts.append(f'\nSELECT * FROM ({sel}) ORDER BY "rank"')
    return "".join(parts)


@query("bpe_learn_merges", oracle=_bpe_oracle(6),
       tags=("text", "bpe", "tokenizer", "iterative"))
def bpe_learn_merges(spark: SparkSession, sf: str) -> DataFrame:
    """First 6 learned BPE merges (rank, pair, merged symbol, count).

    FULL value oracle since r10 (was rows-only: "iterative argmax is
    not SQL-expressible" — the argmax unrolls like the k-means oracle,
    and the greedy merge apply turned out to have a gaps-and-islands
    closed form, see :func:`_bpe_merge_ctes`). Exact parity against a
    pure-Python BPE reference on the same corpus is asserted in
    tests/test_lm.py for the Spark loop AND for the oracle SQL on
    adversarial run-heavy corpora."""
    return bpe_learn(spark, sf, 6)
