"""Small-files control — the operational 100 TB concern the reference
never faces (Hive hands it whole files): a naive parallel write emits
one file per task regardless of size; the compaction pattern is
repartition to a target file count (or partition columns) plus
``maxRecordsPerFile`` as the upper bound."""

from __future__ import annotations

from pathlib import Path


def _parquet_files(d: str) -> list[Path]:
    return [p for p in Path(d).rglob("*.parquet") if p.is_file()]


def test_repartition_controls_file_count(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    naive = str(tmp_path / "naive")
    docs.repartition(16).write.mode("overwrite").parquet(naive)
    assert len(_parquet_files(naive)) == 16  # one file per task

    compacted = str(tmp_path / "compacted")
    docs.repartition(2).write.mode("overwrite").parquet(compacted)
    assert len(_parquet_files(compacted)) == 2

    # both layouts hold identical data
    a = spark.read.parquet(naive).count()
    b = spark.read.parquet(compacted).count()
    assert a == b == docs.count()


def test_max_records_per_file_caps_file_size(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    out = str(tmp_path / "capped")
    (
        docs.repartition(1)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 100)
        .parquet(out)
    )
    files = _parquet_files(out)
    # one writer task, but the record cap splits output into ceil(n/100)
    assert len(files) == -(-n // 100)
    assert spark.read.parquet(out).count() == n


def test_compact_small_files_query_reduces_files(spark, sf_dir):
    """The registry compaction op must actually reduce the file count to
    the size-aware target (tiny corpus -> 1 file) while the oracle
    (run by verify_local/the driver) proves values are untouched."""
    from xml_hive_spark.operators import all_queries

    df = all_queries()["compact_small_files"].fn(spark, sf_dir)
    assert df.count() >= 1  # materializes the whole pipeline
    # the compacted dir is the newest 'compact-*' scratch: locate via
    # the scratch root of this process
    import glob
    import os

    from xml_hive_spark import session

    roots = glob.glob(os.path.join(session._SCRATCH_ROOT, "compact-*", "compacted"))
    newest = max(roots, key=os.path.getmtime)
    files = _parquet_files(newest)
    assert 1 <= len(files) <= 2  # sf0.001 events << 32 MiB target


def test_zstd_smaller_than_snappy(spark, sf_dir, tmp_path):
    """The zstd codec must actually shrink the same data vs snappy
    (the size effect the parquet_codec_zstd oracle can't see), and
    both copies must read back identically."""
    import os

    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag", "l_extendedprice", "l_comment"
        if "l_comment" in spark.read.parquet(
            f"{sf_dir}/lineitem.parquet").columns else "l_quantity"
    )
    d = str(tmp_path)

    def write(codec):
        p = os.path.join(d, codec)
        li.coalesce(1).write.mode("overwrite").option(
            "compression", codec).parquet(p)
        return sum(
            os.path.getsize(os.path.join(p, f))
            for f in os.listdir(p) if f.endswith(".parquet")
        )

    zstd, snappy = write("zstd"), write("snappy")
    assert zstd < snappy, (zstd, snappy)
    a = spark.read.parquet(os.path.join(d, "zstd")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
    ).collect()
    b = spark.read.parquet(os.path.join(d, "snappy")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
    ).collect()
    assert a == b
