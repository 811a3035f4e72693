"""Property-based tests (hypothesis): the reader's split protocol and
the flat fast path hold over GENERATED inputs, not just curated
fixtures.

Three properties:
1. Split exactness — for a random document (nested same-name tags,
   comments/CDATA/PIs containing decoy row tags, random whitespace) and
   a random 2-cut split fence, the two-phase protocol yields exactly the
   single-scan record set.
2. Phase-A kernel equivalence — on such documents and any byte range,
   the vectorized kernel's summaries equal the exact token loop's.
3. Fast-path equivalence — for random flat records (random field
   subsets, entities, empties, prefixes, attribute quoting), fast_row
   either equals parse_record_safe exactly or abstains (returns None).
"""

from __future__ import annotations

import io
from unittest import mock

from hypothesis import given, settings, strategies as st

from xml_hive_spark import reader
from xml_hive_spark.flat import FlatAssembler
from xml_hive_spark.reader import chain_splits, iter_record_spans, parse_record_safe
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# ------------------------------------------------------------ doc grammar

_TEXTS = ["", "x", "hello world", "  pad  ", "a&amp;b", "5 < x is false: &lt;"]


@st.composite
def _element(draw, depth: int, lt_in_values: bool = False):
    """One element that may be the row tag 'd' (possibly nested and
    namespace-prefixed) or a decoy sibling. Attribute values may hold
    '>', and with ``lt_in_values`` '</d>'; the phase-A kernel leaves
    both, and prefixed row tags, to the exact token loop."""
    tag = draw(st.sampled_from(["d", "d", "ns:d", "other", "item"]))
    if depth > 0 and draw(st.booleans()):
        kids = draw(st.lists(_element(depth - 1, lt_in_values), min_size=0, max_size=3))
    else:
        kids = []
    attrs = ["", "", ' k="v"', ' k="a>b"'] + ([" k='</d>'"] if lt_in_values else [])
    attr = draw(st.sampled_from(attrs))
    body = "".join(kids) or draw(st.sampled_from(_TEXTS)).replace("&lt;", "x")
    if not kids and draw(st.integers(0, 9)) == 0:
        return f"<{tag}{attr}/>"
    return f"<{tag}{attr}>{body}</{tag}>"


@st.composite
def _document(draw, lt_in_values: bool = False):
    n = draw(st.integers(1, 8))
    parts = ["<root>"]
    for _ in range(n):
        kind = draw(st.integers(0, 9))
        if kind == 0:
            parts.append("<!-- decoy <d>no</d> -->")
        elif kind == 1:
            parts.append("<![CDATA[ </d> <d>fake</d> ]]>")
        elif kind == 2:
            parts.append("<?pi <d>also fake</d> ?>")
        else:
            parts.append(draw(_element(2, lt_in_values)))
        if draw(st.booleans()):
            parts.append(draw(st.sampled_from(["", " ", "\n", "text "])))
    parts.append("</root>")
    return "".join(parts).encode()


def _protocol_records(data: bytes, bounds: list[int]) -> list[bytes]:
    ann = chain_splits(lambda: io.BytesIO(data), bounds, "d")
    out: list[bytes] = []
    for a, b, state, depth in ann:
        out += [r for _, r in iter_record_spans(io.BytesIO(data), "d", a, b, state, depth)]
    return out


@settings(max_examples=120, deadline=None)
@given(doc=_document(), data=st.data())
def test_split_protocol_equals_single_scan(doc, data):
    expected = [r for _, r in iter_record_spans(io.BytesIO(doc), "d", 0, len(doc))]
    c1 = data.draw(st.integers(1, max(1, len(doc) - 1)))
    c2 = data.draw(st.integers(1, max(1, len(doc) - 1)))
    fence = sorted({0, c1, c2, len(doc)})
    got = _protocol_records(doc, fence)
    assert got == expected


@settings(max_examples=150, deadline=None)
@given(doc=_document(lt_in_values=True), data=st.data())
def test_kernel_equals_exact_loop(doc, data):
    """Phase A's vectorized kernel gives the exact token loop's summary
    for all four start states, or leaves the split to that loop. A '<'
    in an attribute value is not well-formed XML, and a cut inside one
    misleads the split protocol itself (a cut inside a tag scans as
    TEXT), so only this property draws it."""
    a = data.draw(st.integers(0, len(doc) - 1))
    b = data.draw(st.integers(a + 1, len(doc)))
    window = data.draw(st.sampled_from([1 << 22, 7, 32]))
    with mock.patch.object(reader, "_KERNEL_WINDOW", window):
        got = reader.split_summaries(io.BytesIO(doc), "d", a, b)
    assert got == reader._exact_summaries(io.BytesIO(doc), "d", a, b)


# ------------------------------------------------------ flat record grammar

_FLAT_SCHEMA = StructType(
    [
        StructField("id", LongType(), True,
                    metadata={"xmlKind": "attribute", "xmlName": "id"}),
        StructField("s", StringType(), True,
                    metadata={"xmlKind": "element", "xmlName": "s"}),
        StructField("v", DoubleType(), True,
                    metadata={"xmlKind": "element", "xmlName": "v"}),
    ]
)

_FIELD_TEXT = st.sampled_from(
    ["", " ", "plain", "a&amp;b", "&#65;&#x42;", "  sp  ", "1.5", "-2", "NaN"]
)


@st.composite
def _flat_record(draw):
    parts = ["<r"]
    if draw(st.booleans()):
        q = draw(st.sampled_from(['"', "'"]))
        idv = draw(st.sampled_from(["1", "-7", "99", ""]))
        parts.append(f" id={q}{idv}{q}")
    parts.append(">")
    for name, pool in (("s", _FIELD_TEXT), ("v", st.sampled_from(["", "1.5", "-0.25", "2"]))):
        mode = draw(st.integers(0, 3))
        if mode == 0:
            continue  # absent
        pfx = draw(st.sampled_from(["", "ns:"]))
        if mode == 1:
            parts.append(f"<{pfx}{name}/>")
        else:
            parts.append(f"<{pfx}{name}>{draw(pool)}</{pfx}{name}>")
        if draw(st.integers(0, 4)) == 0:
            parts.append("<extra>zz</extra>")
        if draw(st.integers(0, 8)) == 0:
            parts.append("<!-- c -->")
    parts.append("</r>")
    return "".join(parts).encode()


@settings(max_examples=300, deadline=None)
@given(rec=_flat_record())
def test_fast_row_equals_exact_or_abstains(rec):
    asm = FlatAssembler.try_create(_FLAT_SCHEMA, "FAILFAST")
    fast = asm.fast_row(rec)
    if fast is None:
        return  # abstained — the exact path handles it in batches()
    slow = parse_record_safe(rec, _FLAT_SCHEMA, "FAILFAST")
    # NaN != NaN; compare via repr-normalised tuples
    assert [repr(x) for x in fast] == [repr(x) for x in slow], rec


# ------------------------------------------------ garbage-robustness fuzz


class TestScannerNeverCrashes:
    """The byte scanners must be total over arbitrary input: garbage,
    truncated markup, binary noise — they may reject records or yield
    nothing, but never raise (PERMISSIVE mode). Any uncontrolled
    exception here is a real bug: a malformed file in a 100 TB corpus
    must not kill the job."""

    @settings(max_examples=200, deadline=None)
    @given(data=st.binary(max_size=400))
    def test_iter_record_spans_on_garbage(self, data):
        import io

        from xml_hive_spark.reader import iter_record_spans

        list(iter_record_spans(io.BytesIO(data), "rec", 0, len(data)))

    @settings(max_examples=200, deadline=None)
    @given(data=st.data())
    def test_mutated_xml_scan_and_parse(self, data):
        """Valid XML with random byte mutations: the span scanner plus
        PERMISSIVE per-record parse must never raise."""
        import io

        from pyspark.sql.types import (IntegerType, LongType, StringType,
                                       StructField, StructType)

        from xml_hive_spark.reader import iter_record_spans, parse_record_safe

        sch = StructType([
            StructField("id", LongType(), True,
                        metadata={"xmlKind": "attribute", "xmlName": "id"}),
            StructField("v", IntegerType(), True,
                        metadata={"xmlKind": "element", "xmlName": "v"}),
            StructField("s", StringType(), True,
                        metadata={"xmlKind": "element", "xmlName": "s"}),
        ])
        base = bytearray(
            b"<ds>" + b"".join(
                b'<rec id="%d"><v>%d</v><s>t%d</s></rec>' % (i, i, i)
                for i in range(8)
            ) + b"</ds>"
        )
        n_mut = data.draw(st.integers(1, 6))
        for _ in range(n_mut):
            pos = data.draw(st.integers(0, len(base) - 1))
            base[pos] = data.draw(st.integers(0, 255))
        blob = bytes(base)
        for _, rec in iter_record_spans(io.BytesIO(blob), "rec", 0, len(blob)):
            parse_record_safe(rec, sch, "PERMISSIVE")

    @settings(max_examples=100, deadline=None)
    @given(data=st.data())
    def test_fused_scan_on_mutated_input(self, data, tmp_path_factory):
        """The fused template scan (columnar batches) over mutated
        uniform input must never raise and must agree with the span
        path row-for-row."""
        from pyspark.sql.types import (IntegerType, LongType, StringType,
                                       StructField, StructType)

        from xml_hive_spark.flat import FlatAssembler

        sch = StructType([
            StructField("id", LongType(), True,
                        metadata={"xmlKind": "attribute", "xmlName": "id"}),
            StructField("v", IntegerType(), True,
                        metadata={"xmlKind": "element", "xmlName": "v"}),
        ])
        base = bytearray(
            b"<ds>" + b"".join(
                b'<rec id="%d"><v>%d</v></rec>' % (i, i) for i in range(20)
            ) + b"</ds>"
        )
        for _ in range(data.draw(st.integers(1, 4))):
            pos = data.draw(st.integers(0, len(base) - 1))
            base[pos] = data.draw(st.integers(0, 255))
        blob = bytes(base)
        p = tmp_path_factory.mktemp("fuzz") / "f.xml"
        p.write_bytes(blob)
        asm = FlatAssembler.try_create(sch, "PERMISSIVE")
        split = (str(p), 0, len(blob), "TEXT", 0)
        from tests.test_fused_scan import _span_path_rows

        want = _span_path_rows(asm, blob, "rec", [split])
        batches = list(asm.fused_split_batches(split, "rec", batch_rows=7))
        from_batches = [
            tuple(r.values()) for b in batches for r in b.to_pylist()
        ]
        assert from_batches == want
