"""Reader tests: byte-level record scanner, schema-directed assembly,
golden-row round trips for the fixture trio, split safety, and parity
against the reference's own fixtures (golden values per FIXTURES.md)."""

from __future__ import annotations

import io

import pytest

from tests.conftest import FIXTURES, REFERENCE_FIXTURES
from xml_hive_spark.reader import (
    iter_record_spans,
    parse_record,
    plan_splits,
    read_xml,
)
from xml_hive_spark.xsd import xsd_to_struct


def _spans(data: bytes, tag: str, start=0, end=None):
    return list(iter_record_spans(io.BytesIO(data), tag, start, end or len(data)))


class TestRecordScanner:
    def test_basic(self):
        data = b"<r><a>1</a><a>2</a></r>"
        recs = [r for _, r in _spans(data, "a")]
        assert recs == [b"<a>1</a>", b"<a>2</a>"]

    def test_prefix_collision(self):
        data = b"<bookstore><book>x</book></bookstore>"
        recs = [r for _, r in _spans(data, "book")]
        assert recs == [b"<book>x</book>"]

    def test_self_closing(self):
        data = b'<r><m a="1"/><m a="2" /></r>'
        recs = [r for _, r in _spans(data, "m")]
        assert recs == [b'<m a="1"/>', b'<m a="2" />']

    def test_nested_same_tag(self):
        data = b"<r><d><d>inner</d>tail</d></r>"
        recs = [r for _, r in _spans(data, "d")]
        assert recs == [b"<d><d>inner</d>tail</d>"]

    def test_gt_inside_attribute_quote(self):
        data = b'<r><a note="x>y">v</a></r>'
        recs = [r for _, r in _spans(data, "a")]
        assert recs == [b'<a note="x>y">v</a>']

    def test_comment_skipped(self):
        data = b"<r><!-- <a>no</a> --><a>yes</a></r>"
        recs = [r for _, r in _spans(data, "a")]
        assert recs == [b"<a>yes</a>"]

    def test_cdata_skipped(self):
        data = b"<r><a><![CDATA[</a>]]></a><a>2</a></r>"
        recs = [r for _, r in _spans(data, "a")]
        assert recs[0] == b"<a><![CDATA[</a>]]></a>"
        assert recs[1] == b"<a>2</a>"

    def test_range_ownership(self):
        """A record belongs to the split containing its start tag; splits
        never duplicate or drop records regardless of the cut point."""
        data = b"<r>" + b"".join(
            b"<a>%d</a>" % i for i in range(100)
        ) + b"</r>"
        for cut in range(1, len(data), 7):
            left = [r for _, r in _spans(data, "a", 0, cut)]
            right = [r for _, r in _spans(data, "a", cut, len(data))]
            assert len(left) + len(right) == 100, f"cut={cut}"


class TestAssembly:
    def test_books_golden_rows(self):
        st = xsd_to_struct(FIXTURES / "books" / "schema.xsd", "bookType")
        data = (FIXTURES / "books" / "data.xml").read_bytes()
        rows = [parse_record(r, st) for _, r in _spans(data, "book")]
        assert len(rows) == 3
        assert rows[0] == (
            "sb001",
            "Hart, Ada",
            "Distributed Query Planning",
            "Systems",
            31.5,
            "2014-03-09",
            "Shuffle boundaries, broadcast joins,\n      and adaptive execution.",
            ["spark", "olap"],
        )
        # missing optional attribute → None; missing optional array → None
        assert rows[1][0] is None
        assert rows[1][7] is None
        assert rows[2][7] == ["streaming"]

    def test_members_attr_only(self):
        st = xsd_to_struct(FIXTURES / "members" / "schema.xsd", "PlayerType")
        data = (FIXTURES / "members" / "data.xml").read_bytes()
        rows = [parse_record(r, st) for _, r in _spans(data, "Player")]
        assert rows == [("flash", "alpha"), ("tank", "beta"), ("scout", "alpha")]

    def test_nested_simple_type(self):
        st = xsd_to_struct(FIXTURES / "nested" / "schema.xsd", "EntryType")
        data = (FIXTURES / "nested" / "data.xml").read_bytes()
        rows = [parse_record(r, st) for _, r in _spans(data, "Entry")]
        assert rows == [("flash", "eu", 712), ("tank", "us", 88)]


class TestSparkReader:
    def test_read_xml_datasource(self, spark, fixtures_dir):
        df = read_xml(
            spark,
            str(fixtures_dir / "books" / "data.xml"),
            row_tag="book",
            xsd=fixtures_dir / "books" / "schema.xsd",
            sep_tag_type="bookType",
        )
        rows = df.orderBy("title").collect()
        assert len(rows) == 3
        assert rows[1].author == "Hart, Ada"
        assert rows[1].tag == ["spark", "olap"]
        assert abs(rows[1].price - 31.5) < 1e-6

    def test_sql_over_xml(self, spark, fixtures_dir):
        df = read_xml(
            spark,
            str(fixtures_dir / "books" / "data.xml"),
            row_tag="book",
            xsd=fixtures_dir / "books" / "schema.xsd",
            sep_tag_type="bookType",
        )
        df.createOrReplaceTempView("books_xml")
        out = spark.sql(
            "SELECT genre, round(avg(price), 2) AS avg_price, count(*) AS n "
            "FROM books_xml GROUP BY genre ORDER BY genre"
        ).collect()
        assert [(r.genre, r.avg_price, r.n) for r in out] == [
            ("Streaming", 42.0, 1),
            ("Systems", 24.88, 2),
        ]

    def test_split_safety_large_file(self, spark, tmp_path):
        """Many tiny partitions over one file: every record exactly once —
        the correctness property the reference lacks (SURVEY.md §4.3)."""
        n = 2000
        parts = ["<items>"]
        parts += [
            f'<item id="{i}"><v>{i * 3}</v><pad>{"x" * (i % 37)}</pad></item>'
            for i in range(n)
        ]
        parts.append("</items>")
        p = tmp_path / "big.xml"
        p.write_text("\n".join(parts))

        from pyspark.sql.types import (
            IntegerType,
            LongType,
            StructField,
            StructType,
        )

        st = StructType(
            [
                StructField("id", IntegerType(), False,
                            metadata={"xmlKind": "attribute", "xmlName": "id"}),
                StructField("v", LongType(), False,
                            metadata={"xmlKind": "element", "xmlName": "v"}),
            ]
        )
        df = read_xml(spark, str(p), "item", schema=st, partition_bytes=4096)
        assert df.rdd.getNumPartitions() > 10
        assert df.count() == n
        ids = [r.id for r in df.select("id").distinct().collect()]
        assert len(ids) == n
        s = df.selectExpr("sum(v) AS s").collect()[0].s
        assert s == 3 * n * (n - 1) // 2

    def test_plan_splits_shapes(self, tmp_path):
        p = tmp_path / "f.xml"
        p.write_bytes(b"x" * 1000)
        splits = plan_splits([str(p)], partition_bytes=300)
        assert [s[1:] for s in splits] == [(0, 250), (250, 500), (500, 750), (750, 1000)]


@pytest.mark.skipif(
    not REFERENCE_FIXTURES.exists(), reason="reference tree not mounted"
)
class TestReferenceParity:
    """Golden rows from the reference's own fixtures (FIXTURES.md)."""

    def test_testdata1_rows(self):
        st = xsd_to_struct(
            REFERENCE_FIXTURES / "testdata1" / "schema" / "schema.xsd", "bookType"
        )
        data = (REFERENCE_FIXTURES / "testdata1" / "data" / "data.xml").read_bytes()
        rows = [parse_record(r, st) for _, r in _spans(data, "book")]
        assert len(rows) == 2
        assert rows[0][:6] == (
            "bk101",
            "Gambardella, Matthew",
            "XML Developer's Guide",
            "Computer",
            44.95,
            "2000-10-01",
        )
        assert rows[0][6].startswith("An in-depth look")
        assert rows[1][0] == "bk102"

    def test_testdata2_rows(self):
        st = xsd_to_struct(
            REFERENCE_FIXTURES / "testdata2" / "schema" / "schema.xsd", "MemberType"
        )
        data = (REFERENCE_FIXTURES / "testdata2" / "data" / "data.xml").read_bytes()
        rows = [parse_record(r, st) for _, r in _spans(data, "Member")]
        assert rows == [("Rob", "William"), ("Andrew", "Smith")]

    def test_testdata3_rows(self):
        st = xsd_to_struct(
            REFERENCE_FIXTURES / "testdata3" / "schema" / "schema.xsd", "MemberType"
        )
        data = (REFERENCE_FIXTURES / "testdata3" / "data" / "data.xml").read_bytes()
        rows = [parse_record(r, st) for _, r in _spans(data, "Member")]
        assert rows == [("Rob", "William", 3), ("Andrew", "Smith", 33)]

    def test_mixed_content_trailing_text(self):
        """Mixed content (text interleaved with child elements).

        Reference semantics (AvroTransormer.scala:159-163): ``elementText``
        accumulates EvText events and is cleared only at each element END,
        so for a field whose value is read at its end tag, text AFTER the
        last child is what lands in the record — SURVEY.md §4: "only
        trailing text is captured into elementText". Parity target: the
        trailing text MUST be captured (not lost).

        Our assembler accumulates elem.text + every child's tail
        (_direct_text), so trailing text is captured (parity) and leading
        text is ALSO preserved — a documented superset: the reference
        leaks leading text into the preceding child's value (its
        ``elementText`` buffer isn't cleared on element start), which is
        a data-corrupting quirk we intentionally do not reproduce."""
        from pyspark.sql.types import StringType, StructField, StructType

        st = StructType(
            [
                StructField("note", StringType(), True,
                            metadata={"xmlKind": "element", "xmlName": "note"}),
            ]
        )
        # trailing text only: both engines agree — "tail" is captured
        rec = b"<r><note><b>x</b> tail</note></r>"
        assert parse_record(rec, st) == ("tail",)
        # leading + trailing: reference keeps only "tail" (and corrupts
        # the child with "leadx"); we preserve the element's full direct
        # text, concatenated in document order and outer-trimmed
        rec = b"<r><note>lead <b>x</b> tail</note></r>"
        assert parse_record(rec, st) == ("lead  tail",)
        # text-only element unchanged by the mixed-content path
        assert parse_record(b"<r><note>plain</note></r>", st) == ("plain",)
        # multiple children: every inter-child segment survives
        rec = b"<r><note>a<b/>b<b/>c</note></r>"
        assert parse_record(rec, st) == ("abc",)


class TestMalformedModes:
    """Malformed-record policies (reference parity: it drops bad records
    with a console warning, AvroTransormer.scala:185)."""

    XML = (
        '<r><m><v>1</v></m><m><v>not_an_int</v></m><m><v>3</v></m></r>'
    )

    def _schema(self):
        from pyspark.sql.types import IntegerType, StructField, StructType

        return StructType(
            [StructField("v", IntegerType(), True,
                         metadata={"xmlKind": "element", "xmlName": "v"})]
        )

    def test_failfast_default(self, spark, tmp_path):
        p = tmp_path / "bad.xml"
        p.write_text(self.XML)
        import pytest

        with pytest.raises(Exception):
            read_xml(spark, str(p), "m", schema=self._schema()).collect()

    def test_dropmalformed(self, spark, tmp_path):
        p = tmp_path / "bad.xml"
        p.write_text(self.XML)
        df = read_xml(spark, str(p), "m", schema=self._schema(), mode="DROPMALFORMED")
        assert sorted(r.v for r in df.collect()) == [1, 3]

    def test_permissive_null_row(self, spark, tmp_path):
        p = tmp_path / "bad.xml"
        p.write_text(self.XML)
        df = read_xml(spark, str(p), "m", schema=self._schema(), mode="PERMISSIVE")
        vals = [r.v for r in df.collect()]
        assert sorted(v for v in vals if v is not None) == [1, 3]
        assert vals.count(None) == 1

    def test_invalid_mode_rejected(self, spark, tmp_path):
        p = tmp_path / "bad.xml"
        p.write_text(self.XML)
        import pytest

        with pytest.raises(Exception):
            read_xml(spark, str(p), "m", schema=self._schema(), mode="BOGUS").collect()


class TestPrefixedRowTags:
    """Namespace-prefixed row tags, matched by local label like the
    reference's event matcher (AvroTransormer.scala:106-109). The prefix
    is declared on the document root — OUTSIDE the record chunk — so
    assembly must rebind it (reader._bind_unbound_prefixes)."""

    XML = (
        '<c:catalog xmlns:c="urn:x:cat">'
        '<c:book c:id="b1"><c:title>T1</c:title><c:price>10.5</c:price></c:book>'
        '<c:book><c:title>T2</c:title><c:price>20.0</c:price></c:book>'
        "</c:catalog>"
    )

    def _schema(self):
        from pyspark.sql.types import (
            DoubleType,
            StringType,
            StructField,
            StructType,
        )

        return StructType(
            [
                StructField("_id", StringType(), True,
                            metadata={"xmlKind": "attribute", "xmlName": "id"}),
                StructField("title", StringType(), False,
                            metadata={"xmlKind": "element", "xmlName": "title"}),
                StructField("price", DoubleType(), False,
                            metadata={"xmlKind": "element", "xmlName": "price"}),
            ]
        )

    def test_scanner_matches_prefixed(self):
        recs = [r for _, r in _spans(self.XML.encode(), "book")]
        assert len(recs) == 2
        assert recs[0].startswith(b"<c:book")

    def test_parse_prefixed_record(self):
        recs = [r for _, r in _spans(self.XML.encode(), "book")]
        rows = [parse_record(r, self._schema()) for r in recs]
        assert rows[0][1:] == ("T1", 10.5)
        assert rows[1] == (None, "T2", 20.0)

    def test_spark_end_to_end(self, spark, tmp_path):
        p = tmp_path / "prefixed.xml"
        p.write_text(self.XML)
        df = read_xml(spark, str(p), "book", schema=self._schema())
        rows = df.orderBy("title").collect()
        assert [(r.title, r.price) for r in rows] == [("T1", 10.5), ("T2", 20.0)]

    def test_prefixed_attribute_local_match(self):
        # c:id attribute: ET keys it as {urn}id after rebinding; our
        # lookup is by raw name — a prefixed attr is found via xmlName
        # only when unprefixed. Local-label fallback for attrs:
        recs = [r for _, r in _spans(self.XML.encode(), "book")]
        row = parse_record(recs[0], self._schema())
        assert row[0] == "b1"


def test_rich_types_end_to_end(spark, fixtures_dir):
    """Opt-in rich temporal types: xs:date parses to a real DateType
    column (the reference always degrades temporals to strings —
    XMLToAvroSchema.scala:44-46; SURVEY.md §1.2 option column)."""
    import datetime

    df = read_xml(
        spark,
        str(fixtures_dir / "books" / "data.xml"),
        row_tag="book",
        xsd=fixtures_dir / "books" / "schema.xsd",
        sep_tag_type="bookType",
        rich_types=True,
    )
    assert df.schema["publish_date"].dataType.simpleString() == "date"
    years = {r.publish_date.year for r in df.select("publish_date").collect()}
    assert years == {2014, 2011, 2019}
    # date arithmetic works directly on the parsed column
    from pyspark.sql import functions as F

    n = df.filter(F.year("publish_date") >= 2014).count()
    assert n == 2
    assert isinstance(df.collect()[0].publish_date, datetime.date)


class TestByteLevelEdgeCases:
    """Byte-layout robustness of the record scanner: a UTF-8 BOM before
    the prolog, a rowTag at byte 0 (no prolog at all), and CRLF line
    endings must all parse identically — the scanner works on raw bytes
    and must not assume the first record starts past a clean prolog."""

    BODY = (
        '<book id="1"><title>T1</title><price>9.5</price></book>\n'
        '<book id="2"><title>T2</title><price>3.25</price></book>\n'
    )

    def _rows(self, spark, path):
        df = read_xml(spark, str(path), row_tag="book")
        return sorted(tuple(r) for r in df.collect())

    WANT = [(1, "T1", 9.5), (2, "T2", 3.25)]

    def test_utf8_bom_is_transparent(self, spark, tmp_path):
        p = tmp_path / "bom.xml"
        p.write_bytes(
            b"\xef\xbb\xbf"
            + ('<?xml version="1.0" encoding="UTF-8"?>\n<catalog>\n'
               + self.BODY + "</catalog>\n").encode()
        )
        assert self._rows(spark, p) == self.WANT

    def test_rowtag_at_byte_zero_no_prolog(self, spark, tmp_path):
        p = tmp_path / "noprolog.xml"
        p.write_bytes(self.BODY.encode())  # no prolog, no root wrapper
        assert self._rows(spark, p) == self.WANT

    def test_crlf_line_endings(self, spark, tmp_path):
        p = tmp_path / "crlf.xml"
        p.write_bytes(
            ('<?xml version="1.0"?>\r\n<catalog>\r\n'
             + self.BODY.replace("\n", "\r\n") + "</catalog>\r\n").encode()
        )
        assert self._rows(spark, p) == self.WANT

    def test_utf16_rejected_fail_fast(self, spark, tmp_path):
        """UTF-16 would silently scan to zero records (no single-byte
        '<book' match); the planner must refuse it loudly instead."""
        import pytest

        p = tmp_path / "u16.xml"
        p.write_bytes(
            ('<?xml version="1.0"?><catalog>' + self.BODY + "</catalog>")
            .encode("utf-16")  # writes the FF FE BOM
        )
        with pytest.raises(ValueError, match="UTF-16/UTF-32"):
            read_xml(spark, str(p), row_tag="book").collect()

    def test_utf16_bomless_rejected(self, spark, tmp_path):
        """BOM-less UTF-16 (encoding declared only in the XML prolog —
        common from Windows tools) has no BOM to match, but every ASCII
        code unit is NUL-padded; the NUL-in-head check must catch both
        endiannesses."""
        import pytest

        body = '<?xml version="1.0" encoding="UTF-16"?><catalog>' \
               + self.BODY + "</catalog>"
        for enc, name in (("utf-16-le", "le"), ("utf-16-be", "be")):
            p = tmp_path / f"u16_{name}.xml"
            p.write_bytes(body.encode(enc))  # no BOM with explicit endian
            with pytest.raises(ValueError, match="UTF-16/UTF-32"):
                read_xml(spark, str(p), row_tag="book").collect()

    def test_utf16_rejected_inside_gzip(self, spark, tmp_path):
        """The guard peeks DECOMPRESSED bytes, so a gzipped UTF-16
        member is rejected too."""
        import gzip
        import pytest

        p = tmp_path / "u16.xml.gz"
        with gzip.open(p, "wb") as f:
            f.write(
                ('<?xml version="1.0"?><catalog>' + self.BODY + "</catalog>")
                .encode("utf-16")
            )
        with pytest.raises(ValueError, match="UTF-16/UTF-32"):
            read_xml(spark, str(p), row_tag="book").collect()
