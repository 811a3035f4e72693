"""Partitioned storage round-trip: Hive-style partitioned writes and
partition-pruned reads.

The reference's storage layer is read-only over whatever file layout
Hive gives it (one task per FileSplit, AvroFromXmlInputFormat.scala:
20-23) and its only sink is the test-harness Avro writer
(TestAvroTranformer.scala:53-66). A real lakehouse engine needs the
write side too: ``partitionBy`` directory layout so that selective
reads list only matching partitions — at 100 TB, partition pruning is
the difference between listing/reading one ``lang=en/`` subtree and
scanning the whole corpus. The pruning itself is Catalyst's
(PartitionFilters on the file index); the plan pin lives in
tests/test_plans.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xml_hive_spark.operators import dsum, query, t
from xml_hive_spark.session import scratch_dir

_ROUNDTRIP_DIR: dict[tuple[str, str], str] = {}


def _roundtrip_dir(kind: str, sf: str) -> str:
    """This process's scratch directory for the ``kind`` output written
    from the tables in ``sf``: made on first use and the same for every
    later query of the process (``snapshot_change_feed`` reads the
    history ``time_travel_read`` wrote); no other process reads it."""
    if (kind, sf) not in _ROUNDTRIP_DIR:
        _ROUNDTRIP_DIR[kind, sf] = scratch_dir(f"rt-{kind}-")
    return _ROUNDTRIP_DIR[kind, sf]


def partitioned_documents(spark: SparkSession, sf: str) -> DataFrame:
    """documents written once per process and sf as lang-partitioned
    parquet in :func:`_roundtrip_dir`; returns the read-back DataFrame
    whose scans carry PartitionFilters for lang predicates."""
    out = _roundtrip_dir("part_docs", sf)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        (
            t(spark, sf, "documents")
            .repartition("lang")  # one task per partition dir: no
            # small-file explosion (N_tasks × N_langs files otherwise)
            .write.mode("overwrite")
            .partitionBy("lang")
            .parquet(out)
        )
    return spark.read.parquet(out)


@query(
    "partitioned_write_roundtrip",
    oracle="""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE lang = 'en'
GROUP BY source
ORDER BY source
""",
    tags=("sink", "partitioning", "pruning"),
)
def partitioned_write_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Write documents Hive-partitioned by lang, read back with a lang
    filter (pruned to the one partition directory), aggregate — the
    oracle runs the same aggregate on the original table, so the
    round-trip proves the partitioned sink loses nothing and the
    pruned read sees exactly the partition's rows."""
    docs = partitioned_documents(spark, sf)
    return (
        docs.filter(F.col("lang") == "en")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("source")
    )


@query(
    "csv_roundtrip",
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang ORDER BY lang
""",
    tags=("source", "sink", "csv"),
)
def csv_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """CSV sink → CSV source round-trip (header + explicit schema on
    read — schema inference at 100 TB means reading everything twice).
    The text column exercises quoting/escaping; the oracle aggregates
    the original table, so any row lost or mangled in the round-trip
    breaks the hash."""
    out = _roundtrip_dir("csv", sf)
    docs = t(spark, sf, "documents")
    docs.write.mode("overwrite").option("header", "true").option(
        "escape", '"'
    ).csv(out)
    back = (
        spark.read.schema(docs.schema)
        .option("header", "true")
        .option("escape", '"')
        # quoted fields may span physical lines (documents with embedded
        # newlines); without multiLine those rows fail to parse on read
        .option("multiLine", "true")
        .csv(out)
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


@query(
    "json_roundtrip",
    oracle="""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(string_split_regex(text, '\\s+'))) AS BIGINT) AS total_words
FROM documents
GROUP BY source ORDER BY source
""",
    tags=("source", "sink", "json"),
)
def json_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """JSON-lines sink → source round-trip with explicit schema on read;
    the standard interchange format for document corpora. Word counts on
    the round-tripped text prove string fidelity through JSON escaping."""
    out = _roundtrip_dir("json", sf)
    docs = t(spark, sf, "documents")
    docs.write.mode("overwrite").json(out)
    back = spark.read.schema(docs.schema).json(out)
    return (
        back.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split(F.col("text"), r"\s+")).cast("bigint")).alias(
                "total_words"
            ),
        )
        .orderBy("source")
    )


@query(
    "orc_roundtrip",
    oracle="""
SELECT p_brand,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(CAST(p_retailprice AS DECIMAL(30,6))) AS DOUBLE) AS total_price
FROM part
GROUP BY p_brand ORDER BY p_brand
""",
    tags=("source", "sink", "orc"),
)
def orc_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """ORC sink → ORC source round-trip (the other columnar format the
    Hive world the reference lives in actually runs on — a Hive SerDe
    user migrating here keeps their ORC lake readable). Vectorized
    reader + predicate pushdown come with Spark's native orc source;
    the oracle aggregates the ORIGINAL parquet table, so a row lost or
    value mangled in either direction breaks the hash."""
    out = _roundtrip_dir("orc", sf)
    part = t(spark, sf, "part")
    part.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return (
        back.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            dsum("p_retailprice").alias("total_price"),
        )
        .orderBy("p_brand")
    )


@query(
    "avro_roundtrip",
    oracle="""
SELECT n_nationkey, n_name, n_regionkey FROM nation
""",
    tags=("source", "sink", "avro"),
)
def avro_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Avro OCF sink → source round-trip through the pure-Python codec
    (``sources/avro_ocf.py`` — the reference's only sink is an Avro
    container writer, TestAvroTranformer.scala:53-66; this container has
    no spark-avro jar, so the executable path is our own
    spec-conformant OCF implementation): executors each write one
    deflate-block container per partition, the read packs the part
    files into read tasks, and the oracle is the ORIGINAL table
    row-for-row — any encode/decode divergence (varint zigzag, block
    framing, sync markers, deflate) breaks the value hash."""
    from xml_hive_spark.sources.avro_ocf import read_avro_ocf, write_avro_ocf

    out = _roundtrip_dir("avro", sf)
    nation = t(spark, sf, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    write_avro_ocf(nation, out)
    return read_avro_ocf(spark, out, nation.schema)


@query(
    "compact_small_files",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
""",
    tags=("storage", "compaction", "maintenance"),
)
def compact_small_files(spark: SparkSession, sf: str) -> DataFrame:
    """Small-files compaction as a query: fragment the events table
    into ~48 tiny files (the shape a per-trigger streaming sink or an
    over-parallel task wave leaves behind), then compact SIZE-AWARE —
    target file count = ceil(total_bytes / 32 MiB), floored at 1 — and
    aggregate from the compacted copy. The oracle aggregates the
    original table: compaction must be value-invisible; the file-count
    and size-bound effects are asserted in tests/test_compaction.py.

    Why it's an operator and not an afterthought: at 100 TB a
    landing-zone table accretes millions of KB-files and every scan
    pays one task + one open per file; scheduled compaction is the
    maintenance op that keeps scans at maxPartitionBytes granularity.
    The rewrite is one exchange (repartition to the computed count);
    reading back the compacted copy proves the round trip, exactly like
    the format round-trip family above."""
    ev = t(spark, sf, "events")
    frag = scratch_dir("compact-") + "/frag"
    ev.repartition(48).write.mode("overwrite").parquet(frag)

    total = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(frag)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, -(-total // (32 * 1024 * 1024)))
    out = scratch_dir("compact-") + "/compacted"
    (
        spark.read.parquet(frag)
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(out)
    )
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("sum_value"),
        )
        .orderBy("event_type")
    )


@query(
    "time_travel_read",
    oracle="""
SELECT 1 AS version,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders WHERE o_orderdate < DATE '1995-01-01'
UNION ALL
SELECT 2, CAST(count(*) AS BIGINT),
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
FROM orders
UNION ALL
SELECT 3, CAST(count(*) AS BIGINT),
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
FROM orders
""",
    tags=("storage", "lakehouse", "time-travel", "manifest"),
)
def time_travel_read(spark: SparkSession, sf: str) -> DataFrame:
    """Manifest-based snapshot isolation + time travel — the
    Delta/Iceberg read mechanic from plain parquet + a JSON log:
    version 1 commits the pre-1995 order files, version 2 APPENDS the
    1995+ files (manifest = v1 files + new files; old files untouched),
    version 3 COMPACTS (rewrites both data sets into one, manifest
    swaps removed-for-added files). The query then reads ALL THREE
    versions via their manifests — after later versions were committed
    — and aggregates each: v1 must still see only pre-1995 rows
    (snapshot isolation), v3 must equal v2 (compaction is
    value-invisible). The DuckDB oracle recomputes each snapshot from
    the source table, so a manifest leaking files across versions
    breaks the hash.

    Scale shape: a manifest read is an explicit file list handed to the
    parquet source — planning cost is O(files in THAT version), never a
    directory listing of the whole table history; appends and
    compactions are new files + a new manifest, no in-place mutation
    anywhere (the property that makes concurrent readers safe)."""
    import json

    out = _roundtrip_dir("timetravel", sf)
    orders = t(spark, sf, "orders")
    pre = orders.filter(F.col("o_orderdate") < "1995-01-01")
    post = orders.filter(F.col("o_orderdate") >= "1995-01-01")
    d1, d2, d3 = (os.path.join(out, d) for d in ("data1", "data2", "data3"))
    pre.write.mode("overwrite").parquet(d1)
    post.write.mode("overwrite").parquet(d2)
    spark.read.parquet(d1, d2).write.mode("overwrite").parquet(d3)
    manifests = {1: [d1], 2: [d1, d2], 3: [d3]}
    for v, files in manifests.items():
        with open(os.path.join(out, f"manifest-v{v}.json"), "w") as fh:
            json.dump({"version": v, "files": files}, fh)

    def read_version(v: int) -> DataFrame:
        with open(os.path.join(out, f"manifest-v{v}.json")) as fh:
            files = json.load(fh)["files"]
        return spark.read.parquet(*files)

    parts = []
    for v in (1, 2, 3):
        parts.append(
            read_version(v).agg(
                F.lit(v).alias("version"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                .cast("long")
                .alias("total_cents"),
            )
        )
    res = parts[0]
    for p in parts[1:]:
        res = res.unionAll(p)
    return res


@query(
    "vacuum_unreferenced",
    oracle="""
SELECT CAST(2 AS BIGINT) AS n_dirs_removed,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
""",
    tags=("storage", "lakehouse", "vacuum", "retention"),
)
def vacuum_unreferenced(spark: SparkSession, sf: str) -> DataFrame:
    """VACUUM — the retention half of the manifest-log lifecycle
    (``time_travel_read`` is the read half): a fresh three-version
    history (commit pre-1995 → append 1995+ → compact into one
    rewritten data set) is built, then every data directory NOT
    referenced by the LATEST manifest is deleted (the two pre-compaction
    sets) and the latest snapshot is re-read and aggregated. The oracle
    pins both that exactly the two unreferenced directories were
    reclaimed and that the surviving snapshot still equals the source
    table — vacuum must reclaim space without touching live data.
    Older snapshots intentionally become unreadable past retention:
    that is the Delta/Iceberg VACUUM contract.

    Scale shape: the reclaim set is computed from MANIFESTS (a set
    difference over file lists — O(history), no data scan); deletion is
    pure storage ops. A production variant adds a retention horizon
    (keep manifests newer than N days); the mechanism is identical."""
    import json
    import shutil

    out = scratch_dir("vacuum-")
    orders = t(spark, sf, "orders")
    d1, d2, d3 = (os.path.join(out, d) for d in ("data1", "data2", "data3"))
    orders.filter(F.col("o_orderdate") < "1995-01-01").write.parquet(d1)
    orders.filter(F.col("o_orderdate") >= "1995-01-01").write.parquet(d2)
    spark.read.parquet(d1, d2).write.parquet(d3)
    manifests = {1: [d1], 2: [d1, d2], 3: [d3]}
    for v, files in manifests.items():
        with open(os.path.join(out, f"manifest-v{v}.json"), "w") as fh:
            json.dump({"version": v, "files": files}, fh)

    with open(os.path.join(out, "manifest-v3.json")) as fh:
        live = set(json.load(fh)["files"])
    all_dirs = {d1, d2, d3}
    removed = sorted(all_dirs - live)
    for d in removed:
        shutil.rmtree(d)
    latest = spark.read.parquet(*sorted(live))
    return latest.agg(
        F.lit(len(removed)).cast("long").alias("n_dirs_removed"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("total_cents"),
    )


@query(
    "snapshot_change_feed",
    oracle="""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_added,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS added_cents
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01'
GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
    tags=("storage", "lakehouse", "change-feed", "diff"),
)
def snapshot_change_feed(spark: SparkSession, sf: str) -> DataFrame:
    """CHANGE FEED derived from snapshots — the Delta "change data
    feed" capability computed the portable way: two manifest snapshots
    of the time-travel history (v1 = pre-1995 commit, v2 = append) are
    diffed with EXCEPT ALL, and the added rows aggregate per status.
    The oracle recomputes the append set from the source predicate, so
    a diff that leaks, drops, or duplicates one row breaks the hash.

    Scale shape: EXCEPT ALL plans as a hash-partitioned anti-
    aggregation on the full row — at 100 TB you'd diff on a key +
    row-hash projection instead of wide rows (same plan shape, skinnier
    shuffle); manifest-level file pruning (files present in v2 but not
    v1) cuts the scan to changed files FIRST, which is exactly what the
    file lists make cheap — planning is O(history), the scan is
    O(changed files)."""
    import json

    out = _roundtrip_dir("timetravel", sf)
    mf = os.path.join(out, "manifest-v2.json")
    if not os.path.exists(mf):
        time_travel_read(spark, sf).collect()  # build the 3-version history

    def read_version(v: int) -> DataFrame:
        with open(os.path.join(out, f"manifest-v{v}.json")) as fh:
            files = json.load(fh)["files"]
        return spark.read.parquet(*files)

    with open(mf) as fh:
        v2_files = set(json.load(fh)["files"])
    with open(os.path.join(out, "manifest-v1.json")) as fh:
        v1_files = set(json.load(fh)["files"])
    changed = sorted(v2_files - v1_files)  # manifest-level file pruning
    added = spark.read.parquet(*changed).exceptAll(read_version(1))
    return (
        added.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_added"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("added_cents"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "parquet_codec_zstd",
    oracle="""
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS price_cents
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
    tags=("storage", "parquet", "compression", "zstd"),
)
def parquet_codec_zstd(spark: SparkSession, sf: str) -> DataFrame:
    """Compression-codec control on the parquet sink: lineitem written
    with ZSTD (the 100 TB default — snappy's speed with ~30 % smaller
    files; at fleet scale codec choice is a storage-bill lever) and
    read back for the oracle aggregate — codec choice must be
    value-invisible, which the hash gate proves. The size effect
    (zstd < snappy on this data) is pinned separately in
    tests/test_compaction.py since file sizes aren't oracle-visible.

    Scale note: column-chunk compression composes with every other
    layout lever here (Z-order clustering, bucketing, compaction
    targets) — it changes bytes, never plans."""
    out = _roundtrip_dir("zstd", sf)
    li = t(spark, sf, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    li.write.mode("overwrite").option("compression", "zstd").parquet(out)
    back = spark.read.parquet(out)
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("price_cents"),
        )
        .orderBy("l_returnflag")
    )
