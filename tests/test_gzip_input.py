"""Gzip-compressed XML inputs: .xml.gz files take ONE whole-member
split (non-splittable codec semantics) and must produce exactly the
rows of their uncompressed twin through every read path — plain
read_xml, the xmlhive DataSource (fused columnar scan), pushed
filters, sampled schema inference, and the streaming source."""

from __future__ import annotations

import gzip
import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from xml_hive_spark.reader import (
    GZIP_SPLIT_END,
    plan_splits,
    read_xml,
)

SCHEMA = StructType([
    StructField("id", LongType(), True,
                metadata={"xmlKind": "attribute", "xmlName": "id"}),
    StructField("cat", StringType(), True,
                metadata={"xmlKind": "element", "xmlName": "cat"}),
    StructField("val", IntegerType(), True,
                metadata={"xmlKind": "element", "xmlName": "val"}),
])


def _corpus(n=400):
    recs = "\n".join(
        f'<rec id="{i}"><cat>c{i % 7}</cat><val>{i * 3}</val></rec>'
        for i in range(n)
    )
    return ("<ds>\n" + recs + "\n</ds>").encode()


@pytest.fixture()
def twin(tmp_path):
    data = _corpus()
    plain = tmp_path / "d.xml"
    plain.write_bytes(data)
    gz = tmp_path / "d.xml.gz"
    gz.write_bytes(gzip.compress(data))
    return str(plain), str(gz)


def test_gz_gets_single_whole_member_split(twin):
    _, gz = twin
    splits = plan_splits([gz], partition_bytes=1024)  # tiny budget
    assert splits == [(gz, 0, GZIP_SPLIT_END)]  # never split


def test_read_xml_gz_equals_plain(spark, twin):
    plain, gz = twin
    a = sorted(map(tuple, read_xml(spark, plain, "rec", schema=SCHEMA).collect()))
    b = sorted(map(tuple, read_xml(spark, gz, "rec", schema=SCHEMA).collect()))
    assert a == b and len(a) == 400


def test_pushed_filter_on_gz(spark, twin):
    plain, gz = twin
    cond = (F.col("val") > 600) & F.col("cat").startswith("c3")
    a = sorted(r["id"] for r in
               read_xml(spark, plain, "rec", schema=SCHEMA).filter(cond).collect())
    b = sorted(r["id"] for r in
               read_xml(spark, gz, "rec", schema=SCHEMA).filter(cond).collect())
    assert a == b and len(a) > 0


def test_directory_listing_includes_gz(spark, tmp_path):
    (tmp_path / "a.xml").write_bytes(_corpus(10))
    (tmp_path / "b.xml.gz").write_bytes(gzip.compress(_corpus(5)))
    df = read_xml(spark, str(tmp_path), "rec", schema=SCHEMA)
    assert df.count() == 15


def test_inference_reads_gz(spark, twin):
    _, gz = twin
    df = read_xml(spark, gz, "rec")  # no schema → sampled inference
    assert df.count() == 400
    assert set(df.columns) == {"id", "cat", "val"}


def test_stream_source_gz_partitions(tmp_path):
    from xml_hive_spark.sources.xml_stream import XmlStreamReader

    (tmp_path / "x.xml.gz").write_bytes(gzip.compress(_corpus(20)))
    rd = XmlStreamReader(SCHEMA, {"path": str(tmp_path), "rowtag": "rec"})
    start = rd.initialOffset()
    end = rd.latestOffset()
    assert len(json.loads(end["files"])) == 1
    parts = rd.partitions(start, end)
    assert len(parts) == 1
    assert (parts[0].start, parts[0].end) == (0, GZIP_SPLIT_END)
    rows = list(rd.read(parts[0]))
    total = sum(getattr(b, "num_rows", 1) for b in rows)
    assert total == 20


def test_bz2_reads_like_gz(spark, tmp_path):
    import bz2

    data = _corpus(60)
    (tmp_path / "c.xml.bz2").write_bytes(bz2.compress(data))
    df = read_xml(spark, str(tmp_path / "c.xml.bz2"), "rec", schema=SCHEMA)
    assert df.count() == 60
    splits = plan_splits([str(tmp_path / "c.xml.bz2")], partition_bytes=64)
    assert splits[0][1:] == (0, GZIP_SPLIT_END)


class TestBoundedCompressedRead:
    def test_raw_limit_hides_appended_member(self, tmp_path):
        """open_xml(raw_limit=N) must decompress exactly the first N
        compressed bytes: a gzip member appended AFTER the offset was
        recorded is invisible — the streaming exactly-once bound."""
        import gzip

        from xml_hive_spark.reader import open_xml

        m1 = gzip.compress(b"<r><i><a>1</a></i><i><a>2</a></i></r>")
        p = tmp_path / "d.xml.gz"
        p.write_bytes(m1)
        recorded = p.stat().st_size
        p.write_bytes(m1 + gzip.compress(b"<r><i><a>99</a></i></r>"))

        with open_xml(str(p)) as f:  # unbounded: sees both members
            assert b"99" in f.read()
        with open_xml(str(p), raw_limit=recorded) as f:
            data = f.read()
        assert b"<a>2</a>" in data and b"99" not in data

    def test_raw_limit_bz2_read_and_seek(self, tmp_path):
        """The bz2 bounded path must actually READ (and survive seeks):
        BZ2File.seek() routes through DecompressReader.seekable() →
        raw.seekable(); _BoundedRaw without a seekable() crashed every
        streaming read of a .xml.bz2 partition (gzip hid the bug because
        _PaddedFile hardcodes seekable()=True)."""
        import bz2

        from xml_hive_spark.reader import open_xml

        m1 = bz2.compress(b"<r><i><a>1</a></i><i><a>2</a></i></r>")
        p = tmp_path / "d.xml.bz2"
        p.write_bytes(m1)
        recorded = p.stat().st_size
        p.write_bytes(m1 + bz2.compress(b"<r><i><a>99</a></i></r>"))

        with open_xml(str(p), raw_limit=recorded) as f:
            assert f.seekable()
            data = f.read()
            f.seek(0)  # the _Buf rewind path the streaming source exercises
            assert f.read() == data
        assert b"<a>2</a>" in data and b"99" not in data

    def test_stream_source_reads_bz2_partition(self, tmp_path):
        """End-to-end: the streaming source's read() path over a .xml.bz2
        file (regression — previously crashed with AttributeError on
        _BoundedRaw.seekable)."""
        import bz2

        from xml_hive_spark.sources.xml_stream import XmlStreamReader

        (tmp_path / "x.xml.bz2").write_bytes(bz2.compress(_corpus(20)))
        rd = XmlStreamReader(SCHEMA, {"path": str(tmp_path), "rowtag": "rec"})
        parts = rd.partitions(rd.initialOffset(), rd.latestOffset())
        assert len(parts) == 1
        rows = list(rd.read(parts[0]))
        total = sum(getattr(b, "num_rows", 1) for b in rows)
        assert total == 20

    def test_stream_read_fused_scan_honours_raw_limit(self, tmp_path):
        """The streaming read() of a flat schema (fused scan) over an
        .xml.gz with entity-bearing records and a member appended after
        admission: rows equal the exact path bounded at the admitted
        size, and the appended member's records are absent."""
        from xml_hive_spark.reader import _read_split
        from xml_hive_spark.sources.xml_stream import XmlStreamReader

        recs = "\n".join(
            f'<rec id="{i}"><cat>{"a&amp;b" if i % 9 == 0 else f"c{i}"}'
            f'</cat><val>{"12e" if i % 50 == 7 else i * 3}</val></rec>'
            for i in range(300)
        )
        m1 = gzip.compress(("<ds>\n" + recs + "\n</ds>\n").encode())
        p = tmp_path / "s.xml.gz"
        p.write_bytes(m1)
        rd = XmlStreamReader(SCHEMA, {"path": str(tmp_path), "rowtag": "rec",
                                      "mode": "PERMISSIVE"})
        parts = rd.partitions(rd.initialOffset(), rd.latestOffset())
        assert len(parts) == 1 and parts[0].raw_limit == len(m1)
        p.write_bytes(m1 + gzip.compress(
            b'<ds><rec id="9999"><cat>late</cat><val>1</val></rec></ds>'))

        got = [tuple(r.values()) for b in rd.read(parts[0])
               for r in b.to_pylist()]
        pt = parts[0]
        want = list(_read_split((pt.path, pt.start, pt.end, pt.state,
                                 pt.depth), "rec", SCHEMA, "PERMISSIVE",
                                raw_limit=pt.raw_limit))
        assert got == want and len(got) == 300
        assert (9, "a&b", 27) in got and (None, None, None) in got
        assert all(r[0] != 9999 for r in got)

    def test_span_reread_is_one_forward_handle(self, tmp_path, monkeypatch):
        """Rejected captures in many batches of one .xml.gz split are
        re-read through ONE extra handle whose seeks only move forward,
        so the member is decompressed twice in total, not once more per
        batch from byte 0."""
        import xml_hive_spark.reader as reader_mod
        from xml_hive_spark.flat import FlatAssembler
        from xml_hive_spark.reader import _read_split

        recs = "\n".join(
            f'<rec id="{i}"><cat>c{i}</cat>'
            f'<val>{"12e" if i % 40 == 7 else i}</val></rec>'
            for i in range(400)
        )
        p = tmp_path / "r.xml.gz"
        p.write_bytes(gzip.compress(("<ds>\n" + recs + "\n</ds>\n").encode()))
        opened, seeks = [], []  # seeks: offsets on the re-read handle
        real_open = reader_mod.open_xml

        def spy_open(path, raw_limit=None):
            fh = real_open(path, raw_limit=raw_limit)
            real_seek = fh.seek

            def seek(off, whence=0):
                if whence == 0 and len(opened) == 2 and fh is opened[1]:
                    seeks.append(off)
                return real_seek(off, whence)

            fh.seek = seek
            opened.append(fh)
            return fh

        monkeypatch.setattr(reader_mod, "open_xml", spy_open)
        split = (str(p), 0, GZIP_SPLIT_END, "TEXT", 0)
        asm = FlatAssembler.try_create(SCHEMA, "PERMISSIVE")
        got = [tuple(r.values())
               for b in asm.fused_split_batches(split, "rec", batch_rows=32)
               for r in b.to_pylist()]
        monkeypatch.undo()
        assert got == list(_read_split(split, "rec", SCHEMA, "PERMISSIVE"))
        assert sum(r[2] is None for r in got) == 10
        assert len(opened) == 2
        assert len(seeks) >= 5 and seeks == sorted(set(seeks))

    def test_stream_partition_carries_raw_limit(self, tmp_path):
        """The streaming source records the admitted size as the
        partition's raw cap and absorbs checkpointed offsets into the
        admission floor (restart: no re-admission of committed files)."""
        import gzip
        import json as _json

        from pyspark.sql.types import (
            LongType, StringType, StructField, StructType,
        )

        from xml_hive_spark.sources.xml_stream import XmlHiveStreamDataSource

        p = tmp_path / "a.xml.gz"
        p.write_bytes(gzip.compress(b"<r><i><a>1</a></i></r>"))
        schema = StructType([StructField("a", LongType(), True,
                             metadata={"xmlKind": "element", "xmlName": "a"})])
        src = XmlHiveStreamDataSource(
            {"rowTag": "i", "path": str(tmp_path), "maxFilesPerTrigger": "1"}
        )
        reader = src.streamReader(schema)
        start = reader.initialOffset()
        end = reader.latestOffset()
        parts = reader.partitions(start, end)
        assert len(parts) == 1 and parts[0].raw_limit == p.stat().st_size

        # simulate restart: fresh reader, committed offset = end
        reader2 = src.streamReader(schema)
        assert reader2.partitions(end, end) == []  # absorbs the floor
        # a second landed file is admitted immediately despite the cap
        q = tmp_path / "b.xml.gz"
        q.write_bytes(gzip.compress(b"<r><i><a>2</a></i></r>"))
        end2 = reader2.latestOffset()
        files = _json.loads(end2["files"])
        assert str(q) in files, "restart floor must not eat the admission cap"
