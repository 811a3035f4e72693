"""Exactness of the two-phase split protocol (reader.py phase A/B/C).

The reference re-reads whole files per split (duplicate records,
AvroFromXmlInputFormat.scala:49; SURVEY.md §4.3). Round-1's scanner was
split-safe only from record boundaries: a cut inside a nested same-name
tag or inside a comment mis-tokenized (ADVICE r1, medium). These sweeps
cut the document at EVERY byte offset and assert each record is produced
exactly once by exactly the split owning its start tag."""

from __future__ import annotations

import io

import pytest

from xml_hive_spark import reader
from xml_hive_spark.reader import (
    chain_splits,
    iter_record_spans,
    split_summaries,
)


def _records_via_protocol(data: bytes, tag: str, bounds: list[int]) -> list[bytes]:
    """Run phase A/B/C over the given split fence and concatenate each
    split's records in order."""
    ann = chain_splits(lambda: io.BytesIO(data), bounds, tag)
    out: list[bytes] = []
    for a, b, state, depth in ann:
        out += [
            rec
            for _, rec in iter_record_spans(
                io.BytesIO(data), tag, a, b, state, depth
            )
        ]
    return out


def _reference_records(data: bytes, tag: str) -> list[bytes]:
    """Single-scan ground truth (TEXT state, depth 0 from offset 0)."""
    return [r for _, r in iter_record_spans(io.BytesIO(data), tag, 0, len(data))]


def _sweep(data: bytes, tag: str, step: int = 1):
    expected = _reference_records(data, tag)
    assert expected, "fixture must contain records"
    for cut in range(1, len(data), step):
        got = _records_via_protocol(data, tag, [0, cut, len(data)])
        assert got == expected, f"cut={cut}: {got!r} != {expected!r}"


class TestCutSweeps:
    def test_nested_same_name_tags(self):
        # the advisor's exact counterexample: cut at 4 used to yield 3 records
        data = b"<r><d>outer<d>inner</d>tail</d><d>x</d></r>"
        _sweep(data, "d")

    def test_commented_record(self):
        # a cut inside the comment used to emit the commented-out record
        data = b"<r><!-- <a>no</a> --><a>yes</a><!--<a>n2</a>--><a>y2</a></r>"
        _sweep(data, "a")

    def test_cdata_with_fake_close(self):
        data = b"<r><a><![CDATA[</a><a>fake</a>]]></a><a>2</a></r>"
        _sweep(data, "a")

    def test_processing_instruction(self):
        data = b"<r><?pi <a>ghost</a> ?><a>1</a></r>"
        _sweep(data, "a")

    def test_self_closing_and_attributes(self):
        data = b'<r><m a="x>y"/><m b="</m>">v</m><m/></r>'
        _sweep(data, "m")

    def test_prefixed_row_tags(self):
        data = b"<ns:r><ns:d>1</ns:d><other:d>2</other:d><d>3</d></ns:r>"
        _sweep(data, "d")

    def test_deep_nesting_many_cuts(self):
        # depth chains through several splits
        data = (
            b"<r>"
            b"<d>a<d>b<d>c</d></d>pad-pad-pad</d>"
            b"<d>x</d>"
            b"<!-- <d>not me</d> comment body that is long enough -->"
            b"<d>y<d>z</d></d>"
            b"</r>"
        )
        expected = _reference_records(data, "d")
        assert len(expected) == 3
        # three-way and four-way fences
        n = len(data)
        for c1 in range(1, n - 2, 3):
            for c2 in range(c1 + 1, n - 1, 7):
                got = _records_via_protocol(data, "d", [0, c1, c2, n])
                assert got == expected, f"cuts=({c1},{c2})"

    def test_comment_spanning_entire_split(self):
        data = (
            b"<r><a>1</a><!-- "
            + b"x" * 200
            + b" <a>ghost</a> "
            + b"y" * 200
            + b" --><a>2</a></r>"
        )
        _sweep(data, "a", step=3)


class TestSummaries:
    def test_text_hypothesis_depth_delta(self):
        data = b"<r><d>outer<d>inner</d>tail</d><d>x</d></r>"
        s = split_summaries(io.BytesIO(data), "d", 0, 10)
        # [0,10) sees one open (<d> at 3): delta +1
        assert s["TEXT"][1] == 1
        s2 = split_summaries(io.BytesIO(data), "d", 10, len(data))
        # suffix: inner open+close, outer close, x open+close → delta -1
        assert s2["TEXT"][1] == -1
        assert s2["TEXT"][2] == -1  # min prefix dips to -1

    def test_comment_hypothesis_resumes_after_close(self):
        data = b"<!-- <a>no</a> --><a>yes</a>"
        cut = 6  # inside the comment, just past '<' of '<a>no'
        s = split_summaries(io.BytesIO(data), "a", cut, len(data))
        # TEXT hypothesis wrongly counts close(no)+open(yes)+close(yes) = -1
        assert s["TEXT"][1] == -1
        assert s["COMMENT"] == ("TEXT", 0, 0)
        # chain picks COMMENT and phase C yields only the real record
        recs = _records_via_protocol(data, "a", [0, cut, len(data)])
        assert recs == [b"<a>yes</a>"]

    def test_close_pattern_straddling_boundary(self):
        # '-->' begins 2 bytes before the cut: resume look-back must find it
        data = b"<!--c--><a>1</a>"
        for cut in (6, 7, 8):
            recs = _records_via_protocol(data, "a", [0, cut, len(data)])
            assert recs == [b"<a>1</a>"], f"cut={cut}"


# cut-sweep documents, plus forms the kernel checks one by one or leaves
# to the exact loop (whitespace before a close's ">", long and mixed-quote
# start tags)
_KERNEL_DOCS = [
    (b"<r><d>outer<d>inner</d>tail</d><d>x</d></r>", "d"),
    (b"<r><!-- <a>no</a> --><a>yes</a><!--<a>n2</a>--><a>y2</a></r>", "a"),
    (b"<r><a><![CDATA[</a><a>fake</a>]]></a><a>2</a></r>", "a"),
    (b"<r><?pi <a>ghost</a> ?><a>1</a></r>", "a"),
    (b'<r><m a="x>y"/><m b="</m>">v</m><m/></r>', "m"),
    (b"<ns:r><ns:d>1</ns:d><other:d>2</other:d><d>3</d></ns:r>", "d"),
    (b'<r><d k="v">x</d ><d/><d />< d><d\t>y</d\n>t</d x></r>', "d"),
    (b"<r><d a='1' b='2'>x</d><d a=\"it's\">y</d><!---->-->]]>?></r>", "d"),
    (b"<r><d " + b"a='x' " * 12 + b">long</d><d " + b"b='y" * 3 + b">t</d></r>", "d"),
]


class TestKernel:
    """The vectorized phase-A kernel against the exact token loop."""

    @pytest.mark.parametrize("window", [1 << 22, 7])
    @pytest.mark.parametrize("data,tag", _KERNEL_DOCS,
                             ids=[f"doc{i}" for i in range(len(_KERNEL_DOCS))])
    def test_equals_exact_loop_for_every_range(self, monkeypatch, data, tag, window):
        monkeypatch.setattr(reader, "_KERNEL_WINDOW", window)
        monkeypatch.setattr(reader, "_KERNEL_MARGIN", 3)
        for a in range(len(data)):
            for b in range(a + 1, len(data) + 1):
                got = split_summaries(io.BytesIO(data), tag, a, b)
                assert got == reader._exact_summaries(io.BytesIO(data), tag, a, b), (a, b)

    @pytest.mark.parametrize("data", [
        b"<r><d>1</d><ns:d>2</ns:d></r>",  # namespace-prefixed row tag
        b'<r><d k="a>b">1</d></r>',  # quoted '>' in a row-tag start tag
        b'<r><d k="</d>">1</d></r>',  # quoted '</d>' in a row-tag start tag
        b"<r><d k=\"it's\">1</d></r>",  # mixed quotes
        b"<r><d </d>1</d></r>",  # a '<' before a row-tag start tag's '>'
    ])
    def test_unproven_forms_take_the_exact_loop(self, data):
        assert reader._vector_summaries(io.BytesIO(data), "d", 0, len(data)) is None
        assert _records_via_protocol(data, "d", [0, len(data) // 2, len(data)]) == (
            _reference_records(data, "d"))

    def test_range_past_end_of_file_takes_the_exact_loop(self):
        data = b"<r><d>1</d><d>2</d></r>"
        assert reader._vector_summaries(io.BytesIO(data), "d", 4, len(data) + 9) is None
        assert split_summaries(io.BytesIO(data), "d", 4, len(data) + 9) == (
            reader._exact_summaries(io.BytesIO(data), "d", 4, len(data) + 9))

    def test_construct_across_a_window_edge(self, monkeypatch):
        """A comment and a CDATA section straddle a kernel window edge
        inside one split: inside the look-ahead the kernel answers,
        past it the split falls back, and both equal the exact loop."""
        data = (b"<r><d>1</d><!-- <d>x</d> " + b"c" * 200 + b" --><d>2"
                b"<![CDATA[ </d> " + b"z" * 200 + b" ]]></d><d>3</d></r>")
        monkeypatch.setattr(reader, "_KERNEL_WINDOW", 16)
        for margin, kernel in ((4096, True), (8, False)):
            monkeypatch.setattr(reader, "_KERNEL_MARGIN", margin)
            for cut in range(1, 12):
                v = reader._vector_summaries(io.BytesIO(data), "d", cut, len(data) - 3)
                assert (v is not None) == kernel, (margin, cut)
                assert split_summaries(io.BytesIO(data), "d", cut, len(data) - 3) == (
                    reader._exact_summaries(io.BytesIO(data), "d", cut, len(data) - 3))
            assert _records_via_protocol(data, "d", [0, 5, 40, len(data)]) == (
                _reference_records(data, "d"))

    def test_reads_one_bounded_window_at_a_time(self, monkeypatch):
        class Spy(io.BytesIO):
            largest = 0

            def readinto(self, b):
                Spy.largest = max(Spy.largest, len(b))
                return super().readinto(b)

        monkeypatch.setattr(reader, "_KERNEL_WINDOW", 1024)
        doc = b"<r>" + b"<d k='v'>x</d><!-- <d> -->" * 2000 + b"</r>"
        assert reader._vector_summaries(Spy(doc), "d", 5, len(doc) - 5) is not None
        assert Spy.largest <= 1024 + reader._KERNEL_MARGIN + 2


class TestSparkEndToEnd:
    def test_nested_and_comments_many_partitions(self, spark, tmp_path):
        """Full pipeline over a file whose records self-nest and whose
        comments contain fake records, split into tiny partitions."""
        n = 300
        parts = ["<log>"]
        for i in range(n):
            parts.append(
                f'<e id="{i}"><v>{i}</v><e-not-a-record/>'
                f"</e><!-- <e id=\"x{i}\"><v>bad</v></e> -->"
            )
        parts.append("</log>")
        p = tmp_path / "tricky.xml"
        p.write_text("".join(parts))

        from pyspark.sql.types import IntegerType, StructField, StructType

        st = StructType(
            [
                StructField("id", IntegerType(), False,
                            metadata={"xmlKind": "attribute", "xmlName": "id"}),
                StructField("v", IntegerType(), False,
                            metadata={"xmlKind": "element", "xmlName": "v"}),
            ]
        )
        from xml_hive_spark.reader import read_xml

        df = read_xml(spark, str(p), "e", schema=st, partition_bytes=512)
        assert df.rdd.getNumPartitions() > 5
        rows = df.collect()
        assert len(rows) == n
        assert sorted(r.id for r in rows) == list(range(n))
        assert all(r.id == r.v for r in rows)


def test_projection_exactly_once_across_splits(spark, tmp_path):
    """r9 columns= lever at split boundaries: a PRUNED schema (the id
    attribute dropped from capture) over a many-split file must still
    deliver every record exactly once — boundary detection is
    schema-independent, and the attribute bytes the template now
    wildcards sit right where splits cut."""
    n = 300
    parts = ["<log>"]
    for i in range(n):
        parts.append(f'<e id="{i}"><v>{i}</v><w>x{i}</w></e>')
    parts.append("</log>")
    p = tmp_path / "proj.xml"
    p.write_text("".join(parts))

    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from xml_hive_spark.reader import read_xml

    st = StructType(
        [
            StructField("id", IntegerType(), False,
                        metadata={"xmlKind": "attribute", "xmlName": "id"}),
            StructField("v", IntegerType(), False,
                        metadata={"xmlKind": "element", "xmlName": "v"}),
            StructField("w", StringType(), False,
                        metadata={"xmlKind": "element", "xmlName": "w"}),
        ]
    )
    df = read_xml(spark, str(p), "e", schema=st, partition_bytes=512,
                  columns=["v"])
    assert df.rdd.getNumPartitions() > 5
    assert df.schema.fieldNames() == ["v"]
    vals = sorted(r.v for r in df.collect())
    assert vals == list(range(n))  # exactly once, none lost at a cut
