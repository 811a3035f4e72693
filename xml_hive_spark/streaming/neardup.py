"""Streaming MinHash near-duplicate detection — the online twin of the
batch banded-LSH dedup (operators/dedup.py): documents arrive in a
stream and each is flagged against everything that arrived BEFORE it,
the shape of a continuously-fed training-data pipeline (filter dups at
ingest, not in a nightly batch).

Plan shape (scale-first):

- a row kernel (``band_buckets`` through ``operators.map_rows``)
  computes each document's MinHash band buckets executor-side (B rows
  per doc, ids + 8-byte buckets only — document text never enters the
  stateful shuffle);
- ``applyInPandasWithState`` keyed by ``(band, bucket)`` holds ONE
  number per occupied bucket (the smallest arrival seq seen) — state
  is O(distinct buckets), not O(documents), and a document is a hit in
  a bucket iff a strictly smaller seq reached that bucket first
  (same-micro-batch ties resolved by seq order inside the group);
- the per-doc verdict is an OR over its B band hits — a tiny batch
  aggregate over the drained sink.

The reference has no streaming surface at all; this composes two
extension tiers (streaming + near-dedup). Exactness oracle: the batch
twin (explode buckets → self-join on (band, bucket) with seq' < seq)
computes the identical dup set by definition, asserted in
tests/test_streaming.py.
"""

from __future__ import annotations

import os
from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from xml_hive_spark.operators import map_rows, persisted, query
from xml_hive_spark.session import scratch_dir
from xml_hive_spark.streaming import drain

_BANDS = 8
_ROWS = 2  # minhash rows per band → 16 permutations


def _minhash_buckets(text: str) -> list[int]:
    """One bucket per band from 3-word shingles. PORTABLE hashing since
    r9 (was crc32 chains — no CRC32 in DuckDB, which kept the registry
    entry rows-only): shingle hash = first 48 md5 bits, permutations =
    the batch family's universal hashes (a_j·x + b_j) mod (2^31−1) with
    the SAME LCG-derived literals, band bucket = its two row-mins
    packed injectively into one BIGINT (m_a·2^31 + m_b < 2^62). Short
    texts fall back to whole-text shingles so every doc occupies every
    band."""
    import hashlib

    from xml_hive_spark.operators.dedup import _MINHASH_P, _minhash_ab

    words = text.lower().split()
    shingles = (
        [" ".join(words[i : i + 3]) for i in range(len(words) - 2)]
        or [" ".join(words) or ""]
    )
    n_perm = _BANDS * _ROWS
    ab = _minhash_ab(n_perm)
    mins = [_MINHASH_P] * n_perm
    for s in shingles:
        hp = int(hashlib.md5(s.encode()).hexdigest()[:12], 16) % _MINHASH_P
        for j, (a, b) in enumerate(ab):
            h = (a * hp + b) % _MINHASH_P
            if h < mins[j]:
                mins[j] = h
    return [
        mins[b * _ROWS] * (1 << 31) + mins[b * _ROWS + 1]
        for b in range(_BANDS)
    ]


_BUCKETS = "doc_id long, seq long, band int, bucket long"


def band_buckets(did, seq, text):
    """Row kernel: B rows of ``_BUCKETS`` for one (doc, seq, text)."""
    for band, bucket in enumerate(_minhash_buckets(str(text))):
        yield int(did), int(seq), band, bucket


_STATE = StructType([StructField("min_seq", LongType())])
_HIT = StructType([
    StructField("doc_id", LongType()),
    StructField("seq", LongType()),
    StructField("band", IntegerType()),
    StructField("hit", BooleanType()),
])


def _bucket_fn(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    min_prev = state.get[0] if state.exists else None
    frames = list(pdfs)  # the iterator OBJECT is always truthy — test
    # the materialized list, or pd.concat([]) raises on an empty group
    if not frames:
        return
    rows = pd.concat(frames)
    if not len(rows):
        return
    rows = rows.sort_values("seq")
    out = {"doc_id": [], "seq": [], "band": [], "hit": []}
    cur = min_prev
    for did, seq, band in zip(rows["doc_id"], rows["seq"], rows["band"]):
        out["doc_id"].append(int(did))
        out["seq"].append(int(seq))
        out["band"].append(int(band))
        out["hit"].append(cur is not None and cur < int(seq))
        if cur is None or int(seq) < cur:
            cur = int(seq)
    state.update((int(cur),))
    yield pd.DataFrame(out)


def stage_ordered_documents(spark: SparkSession, sf_dir: str,
                            n_files: int = 3) -> str:
    """Documents split into ``n_files`` parquet files by doc_id range
    with ascending mtimes, so the file source replays them in arrival
    order (seq = doc_id). Test/demo scaffolding — a real landing dir
    already arrives in order."""
    from xml_hive_spark.operators import t as load

    out = scratch_dir("neardup-")
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("doc_id").alias("seq"), "text"
    )
    ids = list(docs.select(
        F.percentile_approx("doc_id", [i / n_files for i in range(1, n_files)],
                            10000).alias("q")).collect()[0][0])
    lo = None
    for i in range(n_files):
        hi = ids[i] if i < len(ids) else None
        part = docs
        if lo is not None:
            part = part.filter(F.col("doc_id") >= int(lo))
        if hi is not None:
            part = part.filter(F.col("doc_id") < int(hi))
        pdir = os.path.join(out, f"chunk={i}")
        part.coalesce(1).write.parquet(pdir)
        lo = hi
        for root, _, files in os.walk(pdir):
            for fn in files:
                os.utime(os.path.join(root, fn), (1_000_000 + i, 1_000_000 + i))
    return out


_STAGED = ("doc_id long, seq long, text string")


def run_streaming_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged ordered files → one micro-batch each → band buckets →
    stateful first-seq-wins per bucket → availableNow drain → per-doc
    OR of band hits."""
    raw = (
        spark.readStream.schema(_STAGED)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(stage_ordered_documents(spark, sf_dir))
    )
    hits = (
        map_rows(raw, _BUCKETS, band_buckets)
        .groupBy("band", "bucket")
        .applyInPandasWithState(
            _bucket_fn, _HIT, _STATE, "append",
            GroupStateTimeout.NoTimeout,
        )
    )
    return (
        drain(hits, "append")
        .groupBy("doc_id")
        .agg(F.max("hit").alias("is_dup"))
        .orderBy("doc_id")
    )


@query(
    "streaming_dedup_minhash",
    oracle="""
WITH ws AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS w
  FROM documents
),
guard AS (
  SELECT CASE WHEN (SELECT COALESCE(max(len(w)), 0) FROM ws) > 512
    THEN CAST('streaming_dedup_minhash ORACLE DOMAIN ERROR: doc beyond '
              || 'the range(512) shingle sweep' AS BIGINT)
    WHEN (SELECT count(*) FROM documents
          WHERE strlen(text) <> length(text)) > 0
    THEN CAST('streaming_dedup_minhash ORACLE DOMAIN ERROR: non-ASCII '
              || 'text — engine lower() implementations diverge' AS BIGINT)
    ELSE 0 END AS ok
),
sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(w, t.i + 1, t.i + 3), ' ') AS s
  FROM ws CROSS JOIN range(0, 512) t(i)
  WHERE t.i <= greatest(len(w) - 3, 0)
    AND (SELECT ok FROM guard) = 0
),
hd AS (
  SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s), 1, 12) AS BIGINT) AS shh
  FROM sh
),
sig AS (
  SELECT doc_id,
         MIN((1817744323 * (shh % 2147483647) + 1991548402) % 2147483647) AS m0,
         MIN((1455621887 * (shh % 2147483647) + 2004649363) % 2147483647) AS m1,
         MIN((487171149 * (shh % 2147483647) + 748347981) % 2147483647) AS m2,
         MIN((54095623 * (shh % 2147483647) + 1080316566) % 2147483647) AS m3,
         MIN((359902949 * (shh % 2147483647) + 840486481) % 2147483647) AS m4,
         MIN((422672625 * (shh % 2147483647) + 514315077) % 2147483647) AS m5,
         MIN((1574968125 * (shh % 2147483647) + 499863824) % 2147483647) AS m6,
         MIN((306853201 * (shh % 2147483647) + 296475365) % 2147483647) AS m7,
         MIN((1822992699 * (shh % 2147483647) + 1916846303) % 2147483647) AS m8,
         MIN((1527153947 * (shh % 2147483647) + 465909699) % 2147483647) AS m9,
         MIN((1923036923 * (shh % 2147483647) + 438910777) % 2147483647) AS m10,
         MIN((306384507 * (shh % 2147483647) + 860581414) % 2147483647) AS m11,
         MIN((1815961697 * (shh % 2147483647) + 937479430) % 2147483647) AS m12,
         MIN((458493787 * (shh % 2147483647) + 984414468) % 2147483647) AS m13,
         MIN((320749777 * (shh % 2147483647) + 126698445) % 2147483647) AS m14,
         MIN((1726450267 * (shh % 2147483647) + 1626903236) % 2147483647) AS m15
  FROM hd GROUP BY doc_id
),
band AS (
  SELECT doc_id, 0 AS band, m0 * 2147483648 + m1 AS bucket FROM sig
  UNION ALL SELECT doc_id, 1 AS band, m2 * 2147483648 + m3 AS bucket FROM sig
  UNION ALL SELECT doc_id, 2 AS band, m4 * 2147483648 + m5 AS bucket FROM sig
  UNION ALL SELECT doc_id, 3 AS band, m6 * 2147483648 + m7 AS bucket FROM sig
  UNION ALL SELECT doc_id, 4 AS band, m8 * 2147483648 + m9 AS bucket FROM sig
  UNION ALL SELECT doc_id, 5 AS band, m10 * 2147483648 + m11 AS bucket FROM sig
  UNION ALL SELECT doc_id, 6 AS band, m12 * 2147483648 + m13 AS bucket FROM sig
  UNION ALL SELECT doc_id, 7 AS band, m14 * 2147483648 + m15 AS bucket FROM sig
),
firsts AS (
  SELECT band, bucket, min(doc_id) AS first_id FROM band GROUP BY band, bucket
)
SELECT b.doc_id, bool_or(b.doc_id > f.first_id) AS is_dup
FROM band b JOIN firsts f ON f.band = b.band AND f.bucket = b.bucket
GROUP BY b.doc_id ORDER BY b.doc_id
""",
    tags=("streaming", "stateful", "dedup", "minhash"),
)
def streaming_dedup_minhash(spark: SparkSession, sf: str) -> DataFrame:
    """Registry entry. FULL value oracle (r9 rows-only conversion): the
    first-seq-wins state machine is order-independent once the landing
    files replay in seq order — a doc is a dup iff its seq exceeds the
    MINIMUM seq of any band bucket it occupies, which is one window/
    group-by away in SQL. With the bucket hash made portable
    (md5-48 + the batch family's universal-hash permutations, two
    row-mins packed injectively per band), the DuckDB twin recomputes
    buckets from the text and replays the verdict exactly — the driver
    now hash-checks the full streaming ingest-dedup path. Exact
    equality with the batch self-join twin remains pinned in
    tests/test_streaming.py."""
    return run_streaming_neardup(spark, sf)


def batch_neardup_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ground truth by definition: doc is a dup iff an earlier-seq doc
    shares any (band, bucket)."""
    from xml_hive_spark.operators import t as load

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("doc_id").alias("seq"), "text"
    )
    bb = persisted(map_rows(docs, _BUCKETS, band_buckets))
    earlier = bb.select(
        "band", "bucket", F.col("seq").alias("prev_seq")
    )
    dup_ids = (
        bb.join(earlier, ["band", "bucket"])
        .filter(F.col("prev_seq") < F.col("seq"))
        .select("doc_id")
        .distinct()
    )
    return (
        docs.join(dup_ids.withColumn("d", F.lit(True)), "doc_id", "left")
        .select("doc_id", F.coalesce("d", F.lit(False)).alias("is_dup"))
        .orderBy("doc_id")
    )
