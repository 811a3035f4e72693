"""Cross-path equivalence: the flat columnar fast path must agree with
the exact ElementTree path (`parse_record_safe`) on every record — fast
rows match slow rows bit-for-bit, and guarded constructs (CDATA,
comments, nesting, child attributes, entities) fall back rather than
diverge."""

from __future__ import annotations

import io

import pytest
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from xml_hive_spark.flat import FlatAssembler
from xml_hive_spark.reader import iter_record_spans, parse_record_safe


def _schema():
    return StructType(
        [
            StructField("id", LongType(), True,
                        metadata={"xmlKind": "attribute", "xmlName": "id"}),
            StructField("name", StringType(), True,
                        metadata={"xmlKind": "element", "xmlName": "name"}),
            StructField("score", DoubleType(), True,
                        metadata={"xmlKind": "element", "xmlName": "score"}),
            StructField("n", IntegerType(), True,
                        metadata={"xmlKind": "element", "xmlName": "n"}),
            StructField("ok", BooleanType(), True,
                        metadata={"xmlKind": "element", "xmlName": "ok"}),
        ]
    )


RECORDS = [
    # plain flat record
    b'<r id="7"><name>alpha</name><score>1.5</score><n>3</n><ok>true</ok></r>',
    # missing fields, whitespace, empty element
    b'<r id="8"><name>  padded  </name><n></n></r>',
    b"<r><name/><ok>0</ok></r>",
    # empty attribute stays "" for strings via the exact path too
    b'<r id=""><n>1</n></r>',
    # single-quoted attribute, attribute order
    b"<r id='12'><ok>1</ok><name>z</name></r>",
    # extra fields not in the schema are skipped
    b'<r id="1"><junk>zz</junk><name>keep</name><extra>4</extra></r>',
    # entities in text and attributes
    b'<r id="3"><name>a &amp; b &lt;ok&gt; &#65;&#x42;</name></r>',
    # guard: CDATA → fallback
    b'<r id="4"><name><![CDATA[raw <text>]]></name></r>',
    # guard: comment inside the record → fallback
    b'<r id="5"><!-- <name>not me</name> --><name>real</name></r>',
    # guard: nested structure → fallback (schema field deep inside junk)
    b'<r id="6"><wrap><name>deep</name></wrap></r>',
    # guard: child element with attribute (quotes in tag) → fallback
    b'<r id="9"><name lang="en">attr-child</name></r>',
    # guard: processing instruction → fallback
    b'<r id="10"><?pi data?><name>x</name></r>',
    # namespace-prefixed element and attribute (local-label matching)
    b'<r ns:id="11"><ns:name>prefixed</ns:name></r>',
    # self-closing root
    b'<r id="13"/>',
    # whitespace-only text: "" after trim for strings, None for numerics
    b"<r><name>   </name><n>  </n></r>",
]


@pytest.mark.parametrize("rec", RECORDS)
def test_fast_equals_slow(rec):
    st = _schema()
    asm = FlatAssembler.try_create(st, "FAILFAST")
    assert asm is not None
    fast = asm.fast_row(rec)
    slow = parse_record_safe(rec, st, "FAILFAST")
    if fast is not None:
        assert fast == slow, rec
    else:
        # fallback records are handled by the exact path inside the scan;
        # just pin that the exact path can process them
        assert isinstance(slow, tuple)


def test_guards_fall_back():
    st = _schema()
    asm = FlatAssembler.try_create(st, "FAILFAST")
    for rec in RECORDS:
        if b"<![" in rec or b"<!--" in rec or b"<?" in rec or b"wrap" in rec:
            assert asm.fast_row(rec) is None, rec


def test_malformed_modes():
    st = _schema()
    bad = b'<r id="x1"><n>seven</n></r>'  # unparsable long + int
    asm = FlatAssembler.try_create(st, "FAILFAST")
    assert asm.fast_row(bad) is None  # defers to exact path
    with pytest.raises(Exception):
        parse_record_safe(bad, st, "FAILFAST")
    assert parse_record_safe(bad, st, "DROPMALFORMED") is None
    assert parse_record_safe(bad, st, "PERMISSIVE") == (None,) * 5


def _doc(records):
    return b"<root>\n" + b"\n".join(records) + b"\n</root>\n"


def _scan_batches(asm, tmp_path, records, batch_rows, predicate=None):
    """fused_split_batches over the records written one per line inside
    a root element; the exact span scan must find exactly these records."""
    data = _doc(records)
    spans = [rec for _, rec in iter_record_spans(io.BytesIO(data), "r", 0,
                                                 len(data))]
    assert spans == list(records)
    p = tmp_path / "recs.xml"
    p.write_bytes(data)
    return list(asm.fused_split_batches((str(p), 0, len(data), "TEXT", 0),
                                        "r", batch_rows=batch_rows,
                                        predicate=predicate))


def _batch_rows(batches):
    return [tuple(r.values()) for b in batches for r in b.to_pylist()]


def test_batches_roundtrip(tmp_path):
    import pyarrow as pa

    st = _schema()
    asm = FlatAssembler.try_create(st, "DROPMALFORMED")
    assert not asm._columnar_ok  # the bool column: per-row conversion
    out = _scan_batches(asm, tmp_path, RECORDS, batch_rows=4)
    assert all(isinstance(b, pa.RecordBatch) for b in out)
    total = sum(b.num_rows for b in out)
    slow_rows = [
        r for r in (parse_record_safe(rec, st, "DROPMALFORMED") for rec in RECORDS)
        if r is not None
    ]
    assert total == len(slow_rows)
    flat = [tuple(col[i].as_py() for col in b.columns)
            for b in out for i in range(b.num_rows)]
    assert flat == slow_rows


def test_template_learns_and_matches_uniform_records():
    from xml_hive_spark.flat import _Template

    st = _schema()
    asm = FlatAssembler.try_create(st, "FAILFAST")
    sample = b'<r id="1"><name>aa</name><junk>zz</junk><score>2.5</score><n>7</n><ok>true</ok></r>'
    assert asm.fast_row(sample) is not None
    tmpl = _Template.learn(sample, asm.fields)
    assert tmpl is not None
    # same layout, different values (incl. entities) → template extract
    twin = b'<r id="42"><name>b &amp; c</name><junk>other</junk><score>-1.25</score><n>0</n><ok>0</ok></r>'
    got = tmpl.extract(twin)
    assert got == parse_record_safe(twin, st, "FAILFAST")
    # structural difference → template REJECTS (never mis-extracts)
    assert tmpl.extract(b'<r id="1"><name>x</name></r>') is None
    assert tmpl.extract(
        b'<r id="1" extra="e"><name>a</name><junk>z</junk><score>1</score><n>1</n><ok>1</ok></r>'
    ) is None
    assert tmpl.extract(
        b'<r id="1"><name>a<b>c</b></name><junk>z</junk><score>1</score><n>1</n><ok>1</ok></r>'
    ) is None
    # empty element text in the twin → None like ElementTree
    empty = b'<r id="9"><name></name><junk></junk><score>1.0</score><n>3</n><ok>false</ok></r>'
    assert tmpl.extract(empty) == parse_record_safe(empty, st, "FAILFAST")


def test_batches_with_mixed_layouts_equals_slow_path(tmp_path):
    """A stream where most records share one layout (template path) and
    oddballs interleave (guards/fallbacks) must equal the exact path
    record-for-record — order preserved."""
    st = _schema()
    asm = FlatAssembler.try_create(st, "DROPMALFORMED")
    uniform = [
        f'<r id="{i}"><name>n{i}</name><score>{i}.5</score><n>{i}</n><ok>{"true" if i % 2 else "false"}</ok></r>'.encode()
        for i in range(50)
    ]
    stream = []
    for i, u in enumerate(uniform):
        stream.append(u)
        if i % 7 == 0:
            stream.append(RECORDS[i % len(RECORDS)])
    out = _scan_batches(asm, tmp_path, stream, batch_rows=16)
    flat = [tuple(col[i].as_py() for col in b.columns)
            for b in out for i in range(b.num_rows)]
    slow = [
        r for r in (parse_record_safe(rec, st, "DROPMALFORMED") for rec in stream)
        if r is not None
    ]
    assert flat == slow


# the guard records, also with a score: every one fails fast_row
GUARDED = [rec for rec in RECORDS
           if b"<![" in rec or b"<!--" in rec or b"<?" in rec or b"wrap" in rec]
GUARDED += [rec.replace(b"</r>", b"<score>1.5</score></r>") for rec in GUARDED]


@pytest.mark.parametrize("pushed", [False, True])
def test_batches_with_no_template_learned(tmp_path, pushed):
    """A split whose records all fail fast_row never learns a template:
    every batch holds exact rows only and takes the per-row branch (the
    bool column), with and without a row predicate (a float In has no
    Arrow twin). Rows equal the exact span path."""
    from pyspark.sql.datasource import In

    from tests.test_fused_scan import _span_path_rows
    from xml_hive_spark.sources.pushdown import (
        compile_conjunction,
        compile_conjunction_arrow,
        compile_filter,
    )

    st = _schema()
    asm = FlatAssembler.try_create(st, "PERMISSIVE")
    assert all(asm.fast_row(rec) is None for rec in GUARDED)
    keep = None
    if pushed:
        flts = [In(("score",), (1.5,))]
        assert compile_conjunction_arrow(flts, st) is None
        keep = compile_conjunction([compile_filter(f, st) for f in flts])
    out = _scan_batches(asm, tmp_path, GUARDED, batch_rows=3, predicate=keep)
    data = _doc(GUARDED)
    want = _span_path_rows(asm, data, "r", [("", 0, len(data))])
    if keep is not None:
        want = [r for r in want if keep(r)]
    assert len(want) == (4 if pushed else 8)
    assert all(b.num_rows for b in out)
    assert _batch_rows(out) == want


def test_stream_read_with_no_template_learned(tmp_path):
    """The streaming read() of the bool schema over records that all
    fail fast_row equals the exact span path."""
    from tests.test_fused_scan import _span_path_rows
    from xml_hive_spark.sources.xml_stream import XmlStreamReader

    st = _schema()
    data = _doc(GUARDED)
    (tmp_path / "g.xml").write_bytes(data)
    rd = XmlStreamReader(st, {"path": str(tmp_path), "rowtag": "r",
                              "mode": "PERMISSIVE"})
    parts = rd.partitions(rd.initialOffset(), rd.latestOffset())
    got = _batch_rows(b for pt in parts for b in rd.read(pt))
    asm = FlatAssembler.try_create(st, "PERMISSIVE")
    want = _span_path_rows(asm, data, "r", [("", 0, len(data))])
    assert len(got) == 8 and got == want


def test_nested_schema_not_eligible():
    from pyspark.sql.types import ArrayType

    st = StructType([
        StructField("tags", ArrayType(StringType()), True,
                    metadata={"xmlKind": "element", "xmlName": "tag"}),
    ])
    assert FlatAssembler.try_create(st, "FAILFAST") is None
    # missing xmlKind metadata → not eligible either
    st2 = StructType([StructField("a", StringType(), True)])
    assert FlatAssembler.try_create(st2, "FAILFAST") is None
