"""XML sink round-trip (our split-safe reader consumes the built-in
writer's output) and the streaming XML source (exactly-once per file)."""

from __future__ import annotations

import shutil
import time
from pathlib import Path

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from xml_hive_spark.reader import read_xml
from xml_hive_spark.sources.xml_sink import write_avro, write_xml
from xml_hive_spark.sources.xml_stream import register_stream


def _el(name, dtype, nullable=True):
    return StructField(
        name, dtype, nullable, metadata={"xmlKind": "element", "xmlName": name}
    )


class TestXmlSinkRoundtrip:
    def test_write_then_read_back(self, spark, tmp_path):
        df = spark.createDataFrame(
            [
                (1, "alpha", 1.5, ["x", "y"]),
                (2, "beta", 2.5, None),
                (3, "gamma<&>", 3.5, ["z"]),  # escaping must survive
            ],
            "k long, name string, score double, tags array<string>",
        )
        out = str(tmp_path / "xml_out")
        write_xml(df, out, row_tag="item", root_tag="items")

        schema = StructType(
            [
                _el("k", LongType()),
                _el("name", StringType()),
                _el("score", DoubleType()),
                _el("tags", ArrayType(StringType(), containsNull=False)),
            ]
        )
        back = read_xml(spark, out + "/*.xml", row_tag="item", schema=schema)
        got = sorted(map(tuple, back.collect()))
        want = sorted(map(tuple, df.collect()))
        assert got == want

    def test_avro_sink(self, spark, tmp_path):
        from xml_hive_spark.sources.xml_sink import avro_available

        df = spark.range(10).selectExpr("id", "id * 2 AS dbl")
        out = str(tmp_path / "avro_out")
        write_avro(df, out)
        if avro_available(spark):
            back = spark.read.format("avro").load(out)
        else:
            # no spark-avro jar here: write_avro transparently used the
            # pure-Python OCF writer; read back through its source twin
            from xml_hive_spark.sources.avro_ocf import read_avro_ocf

            back = read_avro_ocf(spark, out, df.schema)
        assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


class TestXmlStreamSource:
    def test_exactly_once_per_file(self, spark, tmp_path, fixtures_dir):
        register_stream(spark)
        landing = tmp_path / "landing"
        landing.mkdir()
        shutil.copy(fixtures_dir / "books" / "data.xml", landing / "batch1.xml")

        stream = (
            spark.readStream.format("xmlhive-stream")
            .option("xsd", str(fixtures_dir / "books" / "schema.xsd"))
            .option("sepTagType", "bookType")
            .option("rowTag", "book")
            .option("path", str(landing))
            .load()
        )
        name = "xml_stream_sink"
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            assert spark.table(name).count() == 3

            # drop a second file → only its records arrive (no re-emit)
            second = (fixtures_dir / "books" / "data.xml").read_text()
            (landing / "batch2.xml").write_text(second)
            q.processAllAvailable()
            assert spark.table(name).count() == 6
            titles = [r.title for r in spark.table(name).select("title").collect()]
            assert titles.count("Midnight Rain") == 0  # our own fixture data only
            assert titles.count("Streams and Watermarks") == 2
        finally:
            q.stop()

    def _books_stream(self, spark, tmp_path, fixtures_dir, **options):
        register_stream(spark)
        landing = tmp_path / "landing"
        landing.mkdir()
        shutil.copy(fixtures_dir / "books" / "data.xml", landing / "books.xml")
        reader = (spark.readStream.format("xmlhive-stream")
                  .option("xsd", str(fixtures_dir / "books" / "schema.xsd"))
                  .option("sepTagType", "bookType")
                  .option("rowTag", "book")
                  .option("path", str(landing)))
        for k, v in options.items():
            reader = reader.option(k, v)
        return landing, reader.load()

    def test_nested_stream_rows_equal_read_xml(self, spark, tmp_path, fixtures_dir):
        """The books schema's ``tag`` array makes it nested: the stream
        reads it through the batch reader's nested path, as Arrow
        batches, and returns read_xml's rows."""
        from xml_hive_spark.streaming import drain

        landing, stream = self._books_stream(spark, tmp_path, fixtures_dir)
        got = drain(stream, "append").orderBy("title").collect()
        want = read_xml(spark, str(landing), "book",
                        xsd=fixtures_dir / "books" / "schema.xsd",
                        sep_tag_type="bookType").orderBy("title").collect()
        assert [r["tag"] for r in want] == [None, ["spark", "olap"], ["streaming"]]
        assert got == want

    def test_stream_honours_rich_types(self, spark, tmp_path, fixtures_dir):
        """``richTypes=true`` types ``publish_date`` as a date on the
        stream too, as it does for read_xml."""
        from xml_hive_spark.streaming import drain

        _, stream = self._books_stream(spark, tmp_path, fixtures_dir, richTypes="true")
        assert stream.schema["publish_date"].dataType.simpleString() == "date"
        years = {r.publish_date.year for r in drain(stream, "append").collect()}
        assert years == {2014, 2011, 2019}

    def test_planner_side_needs_no_package(self, spark, tmp_path, fixtures_dir):
        """The stream's planner process gets no addPyFile path: the source
        as register_stream pickles it resolves its schema and plans a
        batch in an interpreter that imports no xml_hive_spark module."""
        import os
        import subprocess
        import sys

        from pyspark import cloudpickle

        from xml_hive_spark.sources.xml_stream import XmlHiveStreamDataSource

        register_stream(spark)
        landing = tmp_path / "landing"
        landing.mkdir()
        shutil.copy(fixtures_dir / "books" / "data.xml", landing / "books.xml")
        src = XmlHiveStreamDataSource({
            "xsd": str(fixtures_dir / "books" / "schema.xsd"), "sepTagType": "bookType",
            "rowTag": "book", "path": str(landing), "richTypes": "true"})
        script = (
            "import pickle, sys\n"
            "src = pickle.loads(sys.stdin.buffer.read())\n"
            "reader = src.streamReader(src.schema())\n"
            "parts = reader.partitions(reader.initialOffset(), reader.latestOffset())\n"
            "assert not [m for m in sys.modules if m.startswith('xml_hive_spark')]\n"
            "print(len(parts), src.schema()['publish_date'].dataType.simpleString())\n"
        )
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        out = subprocess.run([sys.executable, "-c", script], input=cloudpickle.dumps(src),
                             cwd=tmp_path, env=env, capture_output=True)
        assert out.returncode == 0, out.stderr.decode()[-2000:]
        assert out.stdout.split() == [b"1", b"date"]

    def test_stream_requires_rowtag(self, spark, tmp_path):
        register_stream(spark)
        import pytest
        from pyspark.sql.types import StringType, StructField, StructType

        q = (
            spark.readStream.format("xmlhive-stream")
            .schema(StructType([StructField("a", StringType())]))
            .option("path", str(tmp_path))
            .load()
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        try:
            with pytest.raises(Exception, match="rowTag"):
                q.processAllAvailable()
        finally:
            q.stop()


def test_stream_max_files_per_trigger(tmp_path):
    """maxFilesPerTrigger: each latestOffset advance admits at most N
    new files (deterministic name order), a backlog drains over
    successive advances, and partitions() covers exactly the admitted
    delta. Unbounded (default) admits everything at once."""
    import json

    from pyspark.sql.types import (IntegerType, StringType, StructField,
                                   StructType)

    from xml_hive_spark.sources.xml_stream import XmlStreamReader

    sch = StructType([
        StructField("id", IntegerType(), True,
                    metadata={"xmlKind": "attribute", "xmlName": "id"}),
        StructField("v", StringType(), True,
                    metadata={"xmlKind": "element", "xmlName": "v"}),
    ])
    for i in range(5):
        (tmp_path / f"f{i}.xml").write_bytes(
            b"<r><rec id='%d'><v>x</v></rec></r>" % i
        )
    rd = XmlStreamReader(sch, {"path": str(tmp_path), "rowtag": "rec",
                               "maxfilespertrigger": "2"})
    start = rd.initialOffset()
    seen_counts = []
    offsets = [start]
    for _ in range(4):
        end = rd.latestOffset()
        seen_counts.append(len(json.loads(end["files"])))
        offsets.append(end)
    assert seen_counts == [2, 4, 5, 5]  # 2-at-a-time drain, then stable
    # partitions() covers exactly the newly admitted files per advance
    p1 = rd.partitions(offsets[0], offsets[1])
    p2 = rd.partitions(offsets[1], offsets[2])
    p3 = rd.partitions(offsets[2], offsets[3])
    assert len({p.path for p in p1}) == 2
    assert len({p.path for p in p2}) == 2
    assert len({p.path for p in p3}) == 1
    # files admitted in sorted name order
    assert sorted({p.path for p in p1}) == [
        str(tmp_path / "f0.xml"), str(tmp_path / "f1.xml")]

    unbounded = XmlStreamReader(sch, {"path": str(tmp_path),
                                      "rowtag": "rec"})
    end = unbounded.latestOffset()
    assert len(json.loads(end["files"])) == 5
