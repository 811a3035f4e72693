"""Avro OCF sink/source round-trip: every supported Spark type survives
write → read bit-for-bit, the container layout is spec-correct (magic,
metadata, sync markers), and the distributed writer produces one file
per non-empty partition. Reference parity: the reference's only sink is
an Avro container writer (TestAvroTranformer.scala:53-66)."""

from __future__ import annotations

from datetime import date, datetime
from decimal import Decimal

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from xml_hive_spark.sources.avro_ocf import (
    read_avro_ocf,
    read_ocf_file,
    struct_to_avro_schema,
    write_avro_ocf,
    write_ocf_file,
)

WIDE = StructType(
    [
        StructField("i", IntegerType(), True),
        StructField("l", LongType(), False),
        StructField("s", StringType(), True),
        StructField("d", DoubleType(), True),
        StructField("f", FloatType(), True),
        StructField("b", BooleanType(), True),
        StructField("raw", BinaryType(), True),
        StructField("dt", DateType(), True),
        StructField("ts", TimestampType(), True),
        StructField("dec", DecimalType(12, 3), True),
        StructField("arr", ArrayType(IntegerType(), True), True),
        StructField("m", MapType(StringType(), LongType(), True), True),
        StructField(
            "nested",
            StructType(
                [
                    StructField("x", StringType(), True),
                    StructField("y", LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

ROWS = [
    (
        1, -42, "héllo ⚡", 1.5, 2.25, True, bytearray(b"\x00\x01\xff"),
        date(2024, 2, 29), datetime(2023, 7, 1, 12, 34, 56, 789012),
        Decimal("12345.678"), [1, None, 3], {"a": 1, "b": None},
        ("deep", 9),
    ),
    (None, 2**62, None, None, None, None, None, None, None, None, None, None, None),
    (-(2**31), -(2**62), "", -0.0, float("inf"), False, bytearray(b""),
     date(1969, 12, 31), datetime(1969, 12, 31, 23, 59, 59, 999999),
     Decimal("-0.001"), [], {}, (None, None)),
]


def test_file_roundtrip(tmp_path):
    p = str(tmp_path / "t.avro")
    n = write_ocf_file(iter(ROWS), WIDE, p)
    assert n == len(ROWS)
    back = list(read_ocf_file(p, WIDE))
    assert len(back) == len(ROWS)
    for orig, got in zip(ROWS, back):
        assert tuple(got) == tuple(orig)


def test_blocks_with_byte_sizes_decode():
    """An array or map may come in several blocks, and a negative block
    count is followed by the block's byte size: the spec allows both,
    though this module's writer emits one plain block."""
    from xml_hive_spark.sources.avro_ocf import _raw_decoder, _Reader

    # [1, 2] as one sized block (-2, 2 bytes) and [3] as a plain block
    arr = _Reader(bytes([3, 4, 2, 4, 2, 6, 0]))
    assert _raw_decoder(ArrayType(LongType(), False))(arr) == [1, 2, 3]
    assert arr.pos == 7
    # {"a": 1} as a sized block (-1, 3 bytes): key length 1, "a", 1
    m = _Reader(bytes([1, 6, 2]) + b"a" + bytes([2, 0]))
    assert _raw_decoder(MapType(StringType(), LongType(), False))(m) == {"a": 1}


def test_container_layout(tmp_path):
    p = str(tmp_path / "t.avro")
    write_ocf_file(iter(ROWS), WIDE, p, codec="null")
    raw = open(p, "rb").read()
    assert raw[:4] == b"Obj\x01"
    assert b"avro.schema" in raw and b"avro.codec" in raw
    sch = struct_to_avro_schema(WIDE)
    assert sch["type"] == "record"
    assert [f["name"] for f in sch["fields"]] == WIDE.fieldNames()
    # nullable → null union with default
    i_field = sch["fields"][0]
    assert i_field["type"][0] == "null" and i_field["default"] is None


def test_corrupt_sync_detected(tmp_path):
    p = str(tmp_path / "t.avro")
    write_ocf_file(iter(ROWS), WIDE, p, codec="null")
    raw = bytearray(open(p, "rb").read())
    raw[-1] ^= 0xFF  # flip a sync byte
    open(p, "wb").write(raw)
    with pytest.raises(ValueError, match="sync marker"):
        list(read_ocf_file(p, WIDE))


def test_spark_roundtrip_distributed(spark, tmp_path):
    df = spark.createDataFrame(
        [Row(a=i, b=f"s{i}", c=float(i) / 4) for i in range(1000)]
    ).repartition(4)
    out = str(tmp_path / "avro_out")
    write_avro_ocf(df, out)
    import os

    parts = [f for f in os.listdir(out) if f.endswith(".avro")]
    assert len(parts) == 4  # one file per partition, executor-written
    back = read_avro_ocf(spark, out, df.schema)
    assert "MapInArrow avro_ocf_scan" in back._jdf.queryExecution().executedPlan().toString()
    assert back.count() == 1000
    assert back.agg(F.sum("a"), F.sum("c")).collect() == df.agg(
        F.sum("a"), F.sum("c")
    ).collect()
    assert sorted(r.b for r in back.select("b").collect()) == sorted(
        f"s{i}" for i in range(1000)
    )

    # every type, with nulls, through both Arrow conversions: rows out of
    # Spark into the writer's tuples, and the reader's tuples back in
    wide = spark.createDataFrame(ROWS, WIDE).repartition(2)
    write_avro_ocf(wide, str(tmp_path / "wide"))
    back = read_avro_ocf(spark, str(tmp_path / "wide"), WIDE)
    assert back.schema == WIDE
    assert sorted(map(tuple, back.collect()), key=repr) == sorted(
        map(tuple, wide.collect()), key=repr)

    # an empty frame writes no part file and reads back as 0 rows
    empty = str(tmp_path / "empty")
    write_avro_ocf(spark.createDataFrame([], WIDE), empty)
    assert not [f for f in os.listdir(empty) if f.endswith(".avro")]
    assert read_avro_ocf(spark, empty, WIDE).collect() == []


def test_write_avro_wrapper_falls_back(spark, tmp_path):
    from xml_hive_spark.sources.xml_sink import write_avro

    df = spark.createDataFrame([(1, "x"), (2, "y")], "a int, b string")
    out = str(tmp_path / "wrapped")
    write_avro(df, out)  # no spark-avro jar here → OCF fallback
    back = read_avro_ocf(spark, out, df.schema)
    assert sorted((r.a, r.b) for r in back.collect()) == [(1, "x"), (2, "y")]


def _ids(spark, path):
    schema = StructType([StructField("id", LongType(), False)])
    return sorted(r.id for r in read_avro_ocf(spark, path, schema).collect())


def test_append_keeps_earlier_parts(spark, tmp_path):
    """Each write names its parts apart, so an append of a one-partition
    frame sits beside the earlier one-partition write."""
    out = str(tmp_path / "t")
    write_avro_ocf(spark.range(3).coalesce(1), out)
    write_avro_ocf(spark.range(10, 12).coalesce(1), out, mode="append")
    assert _ids(spark, out) == [0, 1, 2, 10, 11]
    write_avro_ocf(spark.range(5, 7).coalesce(1), out, mode="overwrite")
    assert _ids(spark, out) == [5, 6]
    with pytest.raises(FileExistsError):
        write_avro_ocf(spark.range(1), out, mode="errorifexists")


def test_ignore_leaves_existing_path(spark, tmp_path):
    out = str(tmp_path / "t")
    write_avro_ocf(spark.range(3).coalesce(1), out)
    write_avro_ocf(spark.range(20, 22), out, mode="ignore")
    assert _ids(spark, out) == [0, 1, 2]
    write_avro_ocf(spark.range(2), str(tmp_path / "new"), mode="ignore")
    assert _ids(spark, str(tmp_path / "new")) == [0, 1]


def test_unknown_save_mode_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="save mode"):
        write_avro_ocf(spark.range(1), str(tmp_path / "t"), mode="apend")
    assert not (tmp_path / "t").exists()


def test_timestamp_holds_the_instant_off_utc(tmp_path, monkeypatch):
    """pyspark hands the writer naive local times; the part file holds
    the UTC instant (timestamp-micros), and the reader gives the same
    naive local time back."""
    import time
    from datetime import timezone

    import pyarrow as pa
    from pyspark.sql.conversion import ArrowTableToRowsConversion

    monkeypatch.setenv("TZ", "America/Los_Angeles")
    time.tzset()
    try:
        struct = StructType([StructField("ts", TimestampType(), True)])
        table = pa.table({"ts": pa.array([datetime(2023, 7, 1, 12, tzinfo=timezone.utc)],
                                         pa.timestamp("us", tz="UTC"))})
        rows = ArrowTableToRowsConversion.convert(table, struct, return_as_tuples=True)
        assert rows == [(datetime(2023, 7, 1, 5),)]  # naive local
        p = str(tmp_path / "ts.avro")
        write_ocf_file(rows, struct, p)
        raw = StructType([StructField("ts", LongType(), True)])
        assert list(read_ocf_file(p, raw)) == [(1688212800000000,)]
        assert list(read_ocf_file(p, struct)) == rows
    finally:
        monkeypatch.undo()
        time.tzset()
