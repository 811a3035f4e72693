"""Corpus-curation operators: provenance reporting, language-mix
rebalancing, PII redaction, and content-defined chunking.

These are the governance/preparation steps a pretraining corpus passes
through around the dedup/quality gates: per-source accounting (what am
I training on?), mixture reweighting (DoReMi-style sampling weights to
hit a target language mix), PII scrubbing (regexp surgery, counted and
hash-verified), and content-defined chunk boundaries (the
shift-invariant chunking that makes storage/dedup robust to insertions,
as in LBFS/restic-style CDC).

Scale notes (100 TB): everything here is either a per-row projection
(redaction, chunking — pure codegen or one expression per row) or a
domain-sized aggregate (|sources|, |langs| rows out). No driver state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xml_hive_spark.operators import query, t, table_rows

_DUCK_TOKENS = "list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '')"
_SPARK_TOKENS = "filter(split(lower(text), '\\\\s+'), w -> w <> '')"


@query(
    "corpus_provenance_report",
    oracle=f"""
WITH s AS (
  SELECT source, lang, n_chars,
         len({_DUCK_TOKENS}) AS n_words
  FROM documents
),
tot AS (SELECT count(*) AS n FROM documents)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT lang) AS INT) AS n_langs,
       CAST(sum(n_words) AS BIGINT) AS total_words,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(count(*) AS DOUBLE) / any_value(tot.n) AS corpus_share
FROM s, tot
GROUP BY source
ORDER BY source
""",
    tags=("curation", "provenance", "reporting"),
)
def corpus_provenance_report(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source corpus accounting: document/word/char volume, language
    coverage, and share of corpus — the provenance table every dataset
    card starts from.

    Scale shape: one scan, one hash-agg keyed on source (plus the
    multi-distinct Expand for the language count), |sources| rows out;
    the corpus total is the one driver scalar."""
    docs = t(spark, sf, "documents")
    # r13: footer-metadata count (no Spark job) — see table_rows
    n_total = table_rows(sf, "documents")
    return (
        docs.select(
            "source", "lang", "n_chars",
            F.size(F.expr(_SPARK_TOKENS)).alias("n_words"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count_distinct("lang").cast("int").alias("n_langs"),
            F.sum("n_words").cast("long").alias("total_words"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            (F.count(F.lit(1)).cast("double") / F.lit(n_total)).alias(
                "corpus_share"
            ),
        )
        .orderBy("source")
    )


@query(
    "corpus_mix_weights",
    oracle="""
WITH l AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
),
t AS (
  SELECT CAST(count(*) AS BIGINT) AS total,
         CAST(count(DISTINCT lang) AS BIGINT) AS k
  FROM documents
)
SELECT lang, n_docs,
       CAST(n_docs AS DOUBLE) / t.total AS current_share,
       1.0 / t.k AS target_share,
       CAST(t.total AS DOUBLE) / (t.k * n_docs) AS sampling_weight
FROM l, t
ORDER BY lang
""",
    tags=("curation", "mixing", "rebalancing"),
)
def corpus_mix_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Language-mix rebalancing weights: for each language, the sampling
    weight that moves the corpus from its current share to a uniform
    target mix (weight = target/current = total/(k·n)) — the reweighting
    step of mixture-tuning pipelines (DoReMi et al. learn the target;
    the plumbing is this query).

    Every ratio is an exact integer/integer IEEE division — bit-stable
    cross-engine. Scale: one hash-agg to |langs| rows, two driver
    scalars."""
    docs = t(spark, sf, "documents")
    row = docs.agg(
        F.count(F.lit(1)).alias("total"), F.count_distinct("lang").alias("k")
    ).collect()[0]
    total, k = int(row["total"]), int(row["k"])
    return (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .select(
            "lang",
            "n_docs",
            (F.col("n_docs").cast("double") / F.lit(total)).alias(
                "current_share"
            ),
            (F.lit(1.0) / F.lit(k)).alias("target_share"),
            (F.lit(float(total)) / (F.lit(k) * F.col("n_docs"))).alias(
                "sampling_weight"
            ),
        )
        .orderBy("lang")
    )


_EMAIL_RE = "[a-z0-9]+@[a-z]+\\.com"
_PHONE_RE = "555-[0-9]{4}"


@query(
    "text_pii_redact",
    oracle=f"""
WITH injected AS (
  SELECT doc_id,
         'contact user' || CAST(doc_id AS VARCHAR)
           || '@example.com or 555-'
           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           || ' ' || text AS body
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(body, '{_EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(body, '{_PHONE_RE}')) AS INT) AS n_phones,
       md5(regexp_replace(regexp_replace(body, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
FROM injected
ORDER BY doc_id
""",
    tags=("curation", "pii", "redaction"),
)
def text_pii_redact(spark: SparkSession, sf: str) -> DataFrame:
    """PII detection + redaction: deterministic synthetic PII (an email
    and a phone derived from doc_id) is injected into every document on
    BOTH engines, then counted with regexp extraction and scrubbed with
    regexp_replace; the md5 of the redacted body is value-checked, so
    the oracle proves the two regex engines (Java util.regex vs RE2)
    agree byte-for-byte on these patterns — the portability constraint
    a PII pipeline actually has to verify. DuckDB needs the explicit
    'g' flag (Spark's regexp_replace is global by default).

    Scale: pure per-row projection, whole-stage codegen, no shuffle
    (the ORDER BY is presentation-only)."""
    docs = t(spark, sf, "documents")
    body = F.concat(
        F.lit("contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" "), F.col("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(body, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return (
        docs.select("doc_id", body.alias("body"))
        .select(
            "doc_id",
            F.size(F.regexp_extract_all("body", F.lit(_EMAIL_RE), 0))
            .cast("int")
            .alias("n_emails"),
            F.size(F.regexp_extract_all("body", F.lit(_PHONE_RE), 0))
            .cast("int")
            .alias("n_phones"),
            F.md5(
                F.regexp_replace(
                    F.regexp_replace("body", _EMAIL_RE, "<EMAIL>"),
                    _PHONE_RE,
                    "<PHONE>",
                ).cast("binary")
            ).alias("redacted_md5"),
        )
        .orderBy("doc_id")
    )


# boundary decision: first md5 byte of the 8-gram at position i < 4
# (p = 1/64) — engine-portable nibble arithmetic, same spirit as the
# HLL register address in scaleops.py
_DUCK_B = (
    "((strpos('0123456789abcdef', substr(md5(substr(tx, i, 8)), 1, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(md5(substr(tx, i, 8)), 2, 1)) - 1)) < 4"
)
_SPARK_B = (
    "CAST(conv(substring(md5(CAST(substring(tx, i, 8) AS BINARY)), 1, 2), 16, 10)"
    " AS INT) < 4"
)


@query(
    "chunk_content_defined",
    oracle=f"""
WITH d AS (
  SELECT doc_id, lower(text) AS tx FROM documents WHERE len(text) >= 8
),
b AS (
  SELECT doc_id, len(tx) AS n,
         list_filter(generate_series(1, len(tx) - 7), i -> {_DUCK_B})
           AS bounds
  FROM d
)
SELECT doc_id,
       CAST(len(bounds) + 1 AS INT) AS n_chunks,
       CAST(coalesce(bounds[1], n) AS INT) AS first_chunk_len,
       CAST(coalesce(bounds[len(bounds)], 0) AS INT) AS last_boundary
FROM b
ORDER BY doc_id
""",
    tags=("curation", "chunking", "cdc"),
)
def chunk_content_defined(spark: SparkSession, sf: str) -> DataFrame:
    """Content-defined chunk boundaries (LBFS/restic-style CDC): a chunk
    boundary falls wherever the hash of the local 8-char window lands in
    the bottom 1/64 of its range — boundaries depend only on CONTENT, so
    an insertion shifts at most one chunk instead of re-chunking the
    whole document (the property fixed-width chunking lacks, and the
    reason dedup-friendly storage uses CDC).

    The boundary hash is the first md5 byte, computed with the same
    engine-portable nibble arithmetic as the HLL sketch. Scale note: the
    per-position md5 inside a HOF lambda is expression-interpreted —
    fine for the oracle corpus; the production path would fuse a
    polynomial rolling hash into the Arrow scan (the flat.py gearbox
    pattern), keeping the same boundary rule. Per-row projection, no
    shuffle."""
    d = (
        t(spark, sf, "documents")
        .where(F.length("text") >= 8)
        .select("doc_id", F.lower(F.col("text")).alias("tx"))
    )
    bounds = F.expr(
        f"filter(sequence(1, length(tx) - 7), i -> {_SPARK_B})"
    )
    return (
        d.select("doc_id", F.length("tx").alias("n"), bounds.alias("bounds"))
        .select(
            "doc_id",
            (F.size("bounds") + 1).cast("int").alias("n_chunks"),
            F.coalesce(F.try_element_at("bounds", F.lit(1)), F.col("n"))
            .cast("int")
            .alias("first_chunk_len"),
            F.coalesce(F.try_element_at("bounds", F.lit(-1)), F.lit(0))
            .cast("int")
            .alias("last_boundary"),
        )
        .orderBy("doc_id")
    )


# r14: hash-aggregable min-doc_id dedup representative. ``min(struct(
# doc_id, lang, n_chars))`` picks the right row but a struct aggregation
# buffer is not UnsafeRow-mutable, so Spark plans it as a SortAggregate —
# a map-side AND a reduce-side sort of every (md5, ids) row that exist
# only because of the buffer type (r13 verdict item 1). Packing the
# payload into fixed-width DECIMAL(38,0) values whose ordering is
# doc_id-major makes every buffer mutable and the whole dedup a
# HashAggregate: min(doc_id·10^12 + n_chars) and
# min(doc_id·10^17 + enc(lang)) both select the SAME row (doc_id is the
# documents primary key — unique, so the high digits alone decide), and
# the payload decodes back exactly. Loud domain guards (the oracle-
# domain-error convention): lang must be 1-7 UTF-8 bytes with first
# byte >= 0x10 (⇒ enc(lang) = its big-endian bytes < 2^56 < 10^17, and
# its hex form keeps no leading zero, so conv→unhex round-trips the
# exact bytes; ascii() of any multi-byte first char is >= 0x80, so the
# check is one comparison, no regex), n_chars must sit in [0, 10^12). doc_id ≤ 2^63 keeps both products < 10^37 — inside
# DECIMAL(38,0) for any long id. NULL in any field raises (docs PK
# columns are non-null by contract; min() silently dropping a NULL-
# packed row would diverge from the window semantics).
_PACK_CHARS = 10**12
_PACK_LANG = 10**17


def dedup_min_id_reps(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, n_chars) of the min-doc_id representative per
    distinct ``text`` (keyed on md5) — bit-equal to
    ``min(doc_id) OVER (PARTITION BY md5(text))`` row selection, planned
    as a pure HashAggregate (no sorts)."""
    pc = F.expr(
        f"CAST(doc_id AS DECIMAL(20,0)) * {_PACK_CHARS} + CASE"
        f" WHEN n_chars >= 0 AND n_chars < {_PACK_CHARS} THEN n_chars"
        " ELSE raise_error(concat('corpus_curation_pipeline DOMAIN"
        " ERROR: n_chars ', CAST(n_chars AS STRING),"
        " ' outside the packed-decimal slot [0, 10^12)')) END"
    )
    pl = F.expr(
        f"CAST(doc_id AS DECIMAL(20,0)) * {_PACK_LANG} + CASE"
        " WHEN octet_length(lang) BETWEEN 1 AND 7 AND ascii(lang) >= 16"
        " THEN CAST(conv(hex(lang), 16, 10) AS DECIMAL(18,0))"
        " ELSE raise_error(concat('corpus_curation_pipeline DOMAIN"
        " ERROR: lang ', coalesce(lang, '<NULL>'),"
        " ' must be 1-7 bytes with first byte >= 0x10 — packed-decimal"
        " lang encoding does not round-trip')) END"
    )
    # group on the raw 16-byte digest, not its 32-char hex rendering —
    # unhex(md5(x)) ↔ md5(x) is bijective (fixed-width digest), so the
    # groups are identical and the exchange key is half the bytes
    return (
        docs.groupBy(
            F.unhex(F.md5(F.col("text").cast("binary"))).alias("k")
        )
        .agg(F.min(pc).alias("p_c"), F.min(pl).alias("p_l"))
        .select(
            F.expr(f"CAST(p_c div {_PACK_CHARS} AS BIGINT)").alias("doc_id"),
            F.expr(
                f"decode(unhex(conv(CAST(CAST(p_l % {_PACK_LANG} AS"
                " BIGINT) AS STRING), 10, 16)), 'UTF-8')"
            ).alias("lang"),
            F.expr(f"CAST(p_c % {_PACK_CHARS} AS BIGINT)").alias("n_chars"),
        )
    )


@query(
    "corpus_curation_pipeline",
    oracle="""
WITH deduped AS (  -- stage 1: exact dedup, min-id representative per text
  SELECT doc_id, lang, n_chars, text
  FROM (
    SELECT doc_id, lang, n_chars, text,
           min(doc_id) OVER (PARTITION BY md5(text)) AS rep
    FROM documents
  ) WHERE doc_id = rep
),
quality AS (  -- stage 2: length + distinct-word-ratio gate
  SELECT doc_id, lang, n_chars, text
  FROM (
    SELECT d.*,
           len(string_split(text, ' ')) AS n_words,
           len(list_distinct(string_split(text, ' '))) AS n_distinct
    FROM deduped d
  ) WHERE n_words >= 20 AND n_distinct * 10 >= n_words * 3
),
grams AS (
  SELECT doc_id,
         array_to_string(
           (string_split(text, ' '))[CAST(i AS INT):CAST(i AS INT) + 7],
           ' ') AS g
  FROM (SELECT doc_id, text,
               unnest(generate_series(1, len(string_split(text, ' ')) - 7))
                 AS i
        FROM quality)
),
eval_grams AS (
  SELECT DISTINCT g.g
  FROM documents d
  JOIN (SELECT doc_id, array_to_string(
              (string_split(text, ' '))[CAST(i AS INT):CAST(i AS INT) + 7],
              ' ') AS g
        FROM (SELECT doc_id, text,
                     unnest(generate_series(1,
                        len(string_split(text, ' ')) - 7)) AS i
              FROM documents)) g USING (doc_id)
  WHERE d.doc_id % 50 = 0
),
clean AS (  -- stage 3: eval decontamination (train docs only)
  SELECT q.doc_id, q.lang, q.n_chars FROM quality q
  WHERE q.doc_id % 50 <> 0
    AND NOT EXISTS (
      SELECT 1 FROM grams gr JOIN eval_grams e ON gr.g = e.g
      WHERE gr.doc_id = q.doc_id)
),
sp AS (  -- stage 4: deterministic 80/10/10 hash split
  SELECT lang, n_chars,
         CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                        AS BIGINT) * 10 < 2251799813685248 THEN 'train'
              WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                        AS BIGINT) * 10 < 2533274790395904 THEN 'val'
              ELSE 'test' END AS split
  FROM clean
)
SELECT split, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars_sum
FROM sp GROUP BY split, lang ORDER BY split, lang
""",
    tags=("curation", "pipeline", "dedup", "quality", "decontamination"),
)
def corpus_curation_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The END-TO-END curation pipeline as ONE composed plan — the
    query a user of this engine actually ships: exact dedup (min-id
    representative per md5 of the text) → quality gate (≥ 20 words and
    ≥ 30 % distinct-word ratio, the Gopher-style repetition rule) →
    eval-set n-gram decontamination (drop any training doc sharing a
    word-8-gram with the held-out split — the
    ``decontaminate_eval_ngrams`` guard applied as a filter) →
    leakage-safe 80/10/10 hash split — reduced to the per-(split,
    lang) corpus accounting. Every stage is hash-checked at once: a
    doc surviving a stage it shouldn't (or dropped wrongly) moves a
    count and breaks the driver's value gate.

    Scale shape (restructured r13 — guide §2.3/§2.4 "shuffle keys and
    metadata instead of payloads"): the r7–r12 plan ran the dedup as a
    ``min(doc_id) OVER (PARTITION BY md5(text))`` window, which hash-
    partitions and SORTS the full text corpus — and because both the
    clean branch and the contamination branch consumed it, Catalyst
    planned that corpus-wide text shuffle TWICE (two identical
    Exchange+Sort+Window subtrees over ~sum(text) bytes; no exchange
    reuse — the branches prune different columns). Measured at sf0.1:
    8 exchanges, 3 scans, 2 full-text sorts (plans/r13/
    corpus_curation_pipeline_before.txt). Now the dedup is a
    HASH aggregate (:func:`dedup_min_id_reps`): min over packed
    DECIMAL(38,0) encodings whose ordering is doc_id-major — doc_id is
    unique, so both packed mins select the min-doc_id representative
    and its (lang, n_chars) decode back exactly (r13 shipped this as
    ``min(struct(...))``, whose struct buffer forced a SortAggregate —
    two sorts of every (md5, ids) row bought by the buffer type alone;
    r14 packed the payload into mutable fixed-width buffers, sorts
    gone, bytes unchanged). Partial (map-side) aggregation means the
    one dedup shuffle moves ~64 B per row (md5 key + two decimals)
    instead of document text, and it happens ONCE: zero text bytes
    cross any exchange in the whole pipeline. The quality gate and the
    contamination probe are pure functions of ``text``, and duplicate
    groups are keyed on md5(text), so every group member passes or
    fails together — both commute with the dedup and run BEFORE it
    (quality row-local pre-shuffle; grams straight off the scan). The
    contamination side may now emit non-representative/eval doc_ids
    too; they are harmless in the anti-join because ``clean`` holds
    only train-split representatives (superset argument, outputs
    bit-identical — oracle-verified at sf0.001/0.01/0.1). Dup-factor
    cost note: the text-free exchanges were bought with redundant gram
    hashing of duplicate texts — the contamination probe explodes ALL
    quality train docs, so its map-side explode+hash work grows with
    the corpus duplication factor (output unchanged; on a duplicate-
    heavy corpus that CPU term is the deliberate trade against
    shuffling text). Stages: two narrow shuffles (dedup agg, final
    agg) + one broadcast anti-join, one DAG, nothing materialized."""
    docs = t(spark, sf, "documents")
    wsplit = F.split(F.col("text"), " ")
    quality = (
        docs.withColumn("n_words", F.size(wsplit))
        .withColumn("n_distinct", F.size(F.array_distinct(wsplit)))
        .filter(
            (F.col("n_words") >= 20)
            & (F.col("n_distinct") * 10 >= F.col("n_words") * 3)
        )
    )
    reps = dedup_min_id_reps(quality)

    def gram_hashes(df: DataFrame) -> DataFrame:
        w = F.split(F.col("text"), " ")
        return (
            df.select("doc_id", w.alias("w"))
            .filter(F.size("w") >= 8)
            .select(
                "doc_id",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(w) - 7),"
                        " i -> xxhash64(array_join(slice(w, i, 8), ' ')))"
                    )
                ).alias("gh"),
            )
        )

    eval_grams = (
        gram_hashes(docs.filter(F.col("doc_id") % 50 == 0))
        .select("gh")
        .distinct()
    )
    contaminated = (
        gram_hashes(quality.filter(F.col("doc_id") % 50 != 0))
        .join(F.broadcast(eval_grams), "gh")
        .select("doc_id")
        .distinct()
    )
    clean = (
        reps.filter(F.col("doc_id") % 50 != 0)
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "lang", "n_chars")
    )
    u48 = F.conv(
        F.substring(
            F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 12
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
        clean.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars_sum"),
        )
        .orderBy("split", "lang")
    )


@query(
    "filter_top_decile_docs",
    oracle="""
WITH thr AS (
  SELECT lang, quantile_cont(n_chars, 0.9) AS p90
  FROM documents GROUP BY lang
)
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(min(d.n_chars) AS BIGINT) AS min_chars,
       CAST(sum(d.n_chars) AS BIGINT) AS chars_sum
FROM documents d JOIN thr ON thr.lang = d.lang
WHERE d.n_chars >= thr.p90
GROUP BY d.lang ORDER BY d.lang
""",
    tags=("curation", "percentile", "filter"),
)
def filter_top_decile_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Percentile-threshold filtering — keep each language's top decile
    by length (the data-mix shaping move of corpus curation: thresholds
    are computed PER GROUP from the data, not hardcoded): exact p90 per
    language (one percentile aggregate — the proven
    ``percentile``/``quantile_cont`` bit-parity from agg_percentiles),
    broadcast back, filter, account.

    Scale shape: one group-sized aggregate (|langs| rows) broadcast
    into a scan-level filter — the selection itself adds NO shuffle;
    the exact percentile is the only sorted structure and it sorts each
    group once. At petabyte group sizes the drop-in replacement is the
    histogram sketch (``sketch_quantile_histogram``) at the same
    call-site."""
    docs = t(spark, sf, "documents")
    thr = docs.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.9)").alias("p90")
    )
    return (
        docs.join(F.broadcast(thr), "lang")
        .filter(F.col("n_chars") >= F.col("p90"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.sum("n_chars").cast("long").alias("chars_sum"),
        )
        .orderBy("lang")
    )
