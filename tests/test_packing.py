"""Small-file packing: ``read_xml`` and ``read_avro_ocf`` group runs of
small whole files into one read task by Spark's small-file rule
(``reader.pack_runs`` with the session's ``pack_params``), while
byte-range splits of a multi-split file stay one per task. A packed read must return exactly the rows of
the unpacked read, in the same order."""

from __future__ import annotations

import bz2
import gzip
from contextlib import contextmanager

import pytest
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from xml_hive_spark.reader import (
    _read_split,
    pack_params,
    pack_runs,
    plan_annotated_splits,
    read_xml,
    resolve_paths,
    tag_corrupt_field,
)


def _field(name, dtype, kind="element"):
    return StructField(name, dtype, True, metadata={"xmlKind": kind, "xmlName": name})


FLAT = StructType([_field("id", IntegerType(), "attribute"),
                   _field("v", StringType())])
NESTED = StructType([_field("id", IntegerType(), "attribute"),
                     _field("t", ArrayType(IntegerType()))])


def _doc(ids, extra: str = "") -> bytes:
    body = "".join(f'<r id="{i}"><v>x{i}</v><t>{i}</t><t>{i + 1}</t></r>' for i in ids)
    return f"<log>{body}{extra}</log>".encode()


def _write(path, data: bytes) -> None:
    if path.name.endswith(".gz"):
        data = gzip.compress(data, mtime=0)
    elif path.name.endswith(".bz2"):
        data = bz2.compress(data)
    path.write_bytes(data)


def _unpacked(path, schema, partition_bytes, mode="FAILFAST"):
    """Rows of the one-task-per-split read, in split order."""
    splits = plan_annotated_splits(resolve_paths(str(path)), "r", partition_bytes)
    return [tuple(row) for s in splits for row in _read_split(s, "r", schema, mode)]


@contextmanager
def _open_cost(spark, nbytes: int):
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(nbytes))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def test_rule_packs_whole_files_and_keeps_ranges_alone(spark):
    # default open cost 4 MiB at local[4]: 12 equal small files make
    # 4 tasks of 3; a byte-range split closes the run and stays alone
    assert spark.sparkContext.defaultParallelism == 4
    whole = [(f"f{i}", 100, True) for i in range(12)]
    pack = pack_params(spark)
    assert pack_runs(whole, 128 << 20, *pack) == [
        [f"f{i}" for i in range(j, j + 3)] for j in range(0, 12, 3)
    ]
    groups = pack_runs(
        whole[:1] + [("big@0", 100, False), ("big@100", 100, False)] + whole[1:],
        128 << 20, *pack)
    assert groups == [["f0"], ["big@0"], ["big@100"], ["f1", "f2", "f3", "f4"],
                      ["f5", "f6", "f7", "f8"], ["f9", "f10", "f11"]]
    # partition_bytes caps a task: every whole file alone
    assert len(pack_runs(whole, 1024, *pack)) == 12


def test_mixed_dir_same_rows_same_order(spark, tmp_path):
    d = tmp_path / "mixed"
    d.mkdir()
    names = ["a0.xml", "a1.xml.gz", "a2.xml.bz2", "b_big.xml",
             "c0.xml", "c1.xml.gz", "c2.xml.bz2"]
    start = 0
    for name in names:
        n = 400 if name == "b_big.xml" else 4
        _write(d / name, _doc(range(start, start + n)))
        start += n
    partition_bytes = 2048
    splits = plan_annotated_splits(resolve_paths(str(d)), "r", partition_bytes)
    big_splits = sum(s[0].endswith("b_big.xml") for s in splits)
    assert big_splits > 5
    with _open_cost(spark, 64):
        for schema in (FLAT, NESTED):  # fused columnar path and row path
            df = read_xml(spark, str(d), "r", schema=schema,
                          partition_bytes=partition_bytes)
            # the six small files share tasks; the big file's ranges do not
            assert big_splits < df.rdd.getNumPartitions() < len(splits)
            got = [tuple(r) for r in df.collect()]
            assert got == _unpacked(d, schema, partition_bytes)
            assert [r[0] for r in got] == list(range(start))


def test_twelve_small_files_four_tasks(spark, tmp_path):
    d = tmp_path / "twelve"
    d.mkdir()
    for i in range(12):
        _write(d / f"f{i:02d}.xml", _doc(range(10 * i, 10 * i + 10)))
    df = read_xml(spark, str(d), "r", schema=FLAT)
    assert df.rdd.getNumPartitions() == 4
    assert [r.id for r in df.collect()] == list(range(120))


@pytest.fixture
def corrupt_dir(tmp_path):
    """Twelve small files (three per packed task); the middle file of the
    first task holds a record that fails coercion and one that fails to
    parse."""
    d = tmp_path / "corrupt"
    d.mkdir()
    for i in range(12):
        extra = ('<r id="oops"><v>bad</v></r><r id="9"><v>y</r>'
                 if i == 1 else "")
        _write(d / f"f{i:02d}.xml", _doc(range(10 * i, 10 * i + 10), extra))
    return d


def test_corrupt_record_permissive_in_packed_task(spark, corrupt_dir):
    df = read_xml(spark, str(corrupt_dir), "r", schema=FLAT, mode="PERMISSIVE",
                  corrupt_column="_corrupt")
    assert df.rdd.getNumPartitions() == 4
    got = [tuple(r) for r in df.collect()]
    want = _unpacked(corrupt_dir, tag_corrupt_field(FLAT, "_corrupt"),
                     128 << 20, "PERMISSIVE")
    assert got == want
    bad = [r for r in got if r[2] is not None]
    assert len(bad) == 2 and all(r[0] is None for r in bad)
    assert len(got) == 122


def test_corrupt_record_dropmalformed_in_packed_task(spark, corrupt_dir):
    df = read_xml(spark, str(corrupt_dir), "r", schema=FLAT, mode="DROPMALFORMED")
    assert df.rdd.getNumPartitions() == 4
    got = [tuple(r) for r in df.collect()]
    assert got == _unpacked(corrupt_dir, FLAT, 128 << 20, "DROPMALFORMED")
    assert [r[0] for r in got] == list(range(120))


def test_empty_files_skipped(spark, tmp_path):
    d = tmp_path / "empties"
    d.mkdir()
    for i in range(6):
        _write(d / f"f{i}.xml", _doc(range(3 * i, 3 * i + 3)))
        (d / f"f{i}_empty.xml").write_bytes(b"")
    (d / "z_empty.xml.gz").write_bytes(b"")
    df = read_xml(spark, str(d), "r", schema=FLAT)
    assert [r.id for r in df.collect()] == list(range(18))

    only_empty = tmp_path / "only_empty"
    only_empty.mkdir()
    (only_empty / "e.xml").write_bytes(b"")
    assert read_xml(spark, str(only_empty), "r", schema=FLAT).collect() == []


def test_avro_many_part_files_every_record_once(spark, tmp_path):
    import os

    from xml_hive_spark.sources.avro_ocf import read_avro_ocf, write_avro_ocf

    df = spark.range(600).selectExpr("cast(id as int) as a",
                                     "concat('s', id) as b").repartition(12)
    out = str(tmp_path / "parts")
    write_avro_ocf(df, out)
    assert len([f for f in os.listdir(out) if f.endswith(".avro")]) == 12
    back = read_avro_ocf(spark, out, df.schema)
    assert back.rdd.getNumPartitions() == 4
    rows = back.collect()
    assert sorted(r.a for r in rows) == list(range(600))
    assert all(r.b == f"s{r.a}" for r in rows)
