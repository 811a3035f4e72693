"""Fused-scan exactness: FlatAssembler.fused_split_batches (template
matched in place against the split buffer, exact token machinery on any
mismatch, columnar or per-row batch conversion) must produce EXACTLY the
rows of the exact span path (iter_record_spans + fast_row /
parse_record_safe) — over generated documents, full cut sweeps, and
every guard class the flat fast path defends against."""

from __future__ import annotations

import io

from hypothesis import given, settings, strategies as st
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from xml_hive_spark.flat import FlatAssembler
from xml_hive_spark.reader import (
    chain_splits,
    iter_record_spans,
    parse_record_safe,
)


def _schema():
    return StructType(
        [
            StructField("id", LongType(), True,
                        metadata={"xmlKind": "attribute", "xmlName": "id"}),
            StructField("cat", StringType(), True,
                        metadata={"xmlKind": "element", "xmlName": "cat"}),
            StructField("val", DoubleType(), True,
                        metadata={"xmlKind": "element", "xmlName": "val"}),
        ]
    )


def _k_schema():
    return StructType(
        [
            StructField("k", StringType(), True,
                        metadata={"xmlKind": "attribute", "xmlName": "k"}),
        ]
    )


def _span_path_rows(asm, data: bytes, row_tag: str, splits) -> list:
    """Reference pipeline: exact span scan → per-record batch assembly."""
    out = []
    for sp in splits:
        a, b = sp[1], sp[2]
        state = sp[3] if len(sp) > 3 else "TEXT"
        depth = sp[4] if len(sp) > 4 else 0
        for _, rec in iter_record_spans(io.BytesIO(data), row_tag, a, b,
                                        state, depth):
            vals = asm.fast_row(rec)
            if vals is None:
                vals = parse_record_safe(rec, asm.struct, asm.mode)
            if vals is not None:
                out.append(tuple(vals))
    return out


def _fused_rows(asm, tmp_path, data: bytes, row_tag: str, splits,
                batch_rows: int = 32768) -> list:
    p = tmp_path / "doc.xml"
    p.write_bytes(data)
    out = []
    for sp in splits:
        full = (str(p), sp[1], sp[2]) + tuple(sp[3:])
        for b in asm.fused_split_batches(full, row_tag, batch_rows=batch_rows):
            out += [tuple(r.values()) for r in b.to_pylist()]
    return out


def _chained(data: bytes, row_tag: str, fence: list[int]):
    ann = chain_splits(lambda: io.BytesIO(data), fence, row_tag)
    return [("", a, b, state, depth) for a, b, state, depth in ann]


GUARD_DOC = b"""<dataset>
<rec id="1"><cat>c0</cat><val>1.5</val></rec>
<!-- decoy <rec id="x"><val>9</val></rec> -->
<rec id="2"><cat>c1</cat><val>2.5</val></rec>
<rec id="3"><cat attr="q">c2</cat><val>3.5</val></rec>
<rec id="4"><cat>c&amp;3</cat><val>4.5</val></rec>
<![CDATA[ </rec> <rec id="y"><val>0</val></rec> ]]>
<rec id="5"><val>5.5</val><cat>swapped</cat></rec>
<rec id="6"><cat>c4</cat><val></val></rec>
<rec id="7"/>
<?pi <rec id="z"/> ?>
<rec id="8"><cat>c5<deep>n</deep></cat><val>8.5</val></rec>
<rec id="9"><cat>c6</cat><val>9.5</val></rec>
<other>not a record <rec id="10"><cat>inner</cat><val>10.5</val></rec></other>
<rec id="11"><cat>
  multiline </cat><val>11.5</val></rec>
<rec id="12"><cat>c7</cat><val>12.5</val></rec></dataset>"""


def test_guard_classes_single_scan(tmp_path):
    asm = FlatAssembler.try_create(_schema(), "PERMISSIVE")
    splits = [("", 0, len(GUARD_DOC), "TEXT", 0)]
    want = _span_path_rows(asm, GUARD_DOC, "rec", splits)
    got = _fused_rows(asm, tmp_path, GUARD_DOC, "rec", splits)
    assert got == want
    assert len(got) >= 12  # every record surfaced (incl. nested id=10)


def test_guard_doc_full_cut_sweep(tmp_path):
    """Every 2-cut fence over the guard document: the fused chained scan
    equals the single exact scan (split protocol preserved)."""
    asm = FlatAssembler.try_create(_schema(), "PERMISSIVE")
    single = _span_path_rows(
        asm, GUARD_DOC, "rec", [("", 0, len(GUARD_DOC), "TEXT", 0)]
    )
    n = len(GUARD_DOC)
    for cut in range(1, n, 37):  # stride keeps the sweep fast but dense
        for cut2 in (min(cut + 53, n - 1), min(cut + 211, n - 1)):
            fence = sorted({0, cut, cut2, n})
            got = _fused_rows(
                asm, tmp_path, GUARD_DOC, "rec", _chained(GUARD_DOC, "rec", fence)
            )
            assert got == single, f"fence {fence}"


def test_uniform_run_with_drift(tmp_path):
    """A long uniform run (template hot) with periodic drift records and
    decoy comments — the bench-file shape."""
    recs = []
    for i in range(3000):
        if i % 97 == 0:
            recs.append(f'<!-- decoy <rec id="x{i}"><val>9</val></rec> -->')
        if i % 211 == 0:
            recs.append(f'<rec id="{i}" extra="e"><cat>d</cat><val>{i}.25</val></rec>')
        else:
            recs.append(f'<rec id="{i}"><cat>c{i % 7}</cat><val>{i}.5</val></rec>')
    data = ("<dataset>\n" + "\n".join(recs) + "\n</dataset>").encode()
    asm = FlatAssembler.try_create(_schema(), "PERMISSIVE")
    n = len(data)
    fence = sorted({0, n // 3, 2 * n // 3, n})
    splits = _chained(data, "rec", fence)
    want = _span_path_rows(asm, data, "rec", splits)
    got = _fused_rows(asm, tmp_path, data, "rec", splits)
    assert got == want
    assert len(got) == 3000


# --------------------------------------------- property: generated docs

_TEXTS = ["", "x", "hello world", "  pad  ", "a&amp;b"]


@st.composite
def _element(draw, depth: int):
    tag = draw(st.sampled_from(["d", "d", "other", "item"]))
    if depth > 0 and draw(st.booleans()):
        kids = draw(st.lists(_element(depth - 1), min_size=0, max_size=3))
    else:
        kids = []
    attr = ' k="v"' if draw(st.booleans()) else ""
    body = "".join(kids) or draw(st.sampled_from(_TEXTS))
    if not kids and draw(st.integers(0, 9)) == 0:
        return f"<{tag}{attr}/>"
    return f"<{tag}{attr}>{body}</{tag}>"


@st.composite
def _document(draw):
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
            parts.append(draw(_element(2)))
        if draw(st.booleans()):
            parts.append(draw(st.sampled_from(["", " ", "\n", "text "])))
    parts.append("</root>")
    return "".join(parts).encode()


@settings(max_examples=120, deadline=None)
@given(doc=_document(), data=st.data())
def test_fused_equals_span_path_property(tmp_path_factory, doc, data):
    asm = FlatAssembler.try_create(_k_schema(), "PERMISSIVE")
    c1 = data.draw(st.integers(1, max(1, len(doc) - 1)))
    c2 = data.draw(st.integers(1, max(1, len(doc) - 1)))
    fence = sorted({0, c1, c2, len(doc)})
    splits = _chained(doc, "d", fence)
    want = _span_path_rows(asm, doc, "d", splits)
    got = _fused_rows(asm, tmp_path_factory.mktemp("fused"), doc, "d", splits)
    assert got == want


# ------------------------- columnar batch path (Arrow-native conversion)


def _int_schema():
    from pyspark.sql.types import IntegerType

    return StructType(
        [
            StructField("id", LongType(), True,
                        metadata={"xmlKind": "attribute", "xmlName": "id"}),
            StructField("cat", StringType(), True,
                        metadata={"xmlKind": "element", "xmlName": "cat"}),
            StructField("val", IntegerType(), True,
                        metadata={"xmlKind": "element", "xmlName": "val"}),
        ]
    )


def _reference_table(asm, rows):
    """Arrow table of row tuples under the assembler's Arrow schema."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from xml_hive_spark.flat import strip_metadata

    aschema = to_arrow_schema(strip_metadata(asm.struct))
    return pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type)
         for i, f in enumerate(aschema)],
        schema=aschema,
    )


def _tables(asm, tmp_path, data: bytes, row_tag: str, splits, batch_rows):
    """(fused-scan table, exact span-path table) over the same splits."""
    import pyarrow as pa

    p = tmp_path / "doc.xml"
    p.write_bytes(data)
    new = []
    for sp in splits:
        full = (str(p), sp[1], sp[2]) + tuple(sp[3:])
        new += list(asm.fused_split_batches(full, row_tag,
                                            batch_rows=batch_rows))
    ref = _reference_table(asm, _span_path_rows(asm, data, row_tag, splits))
    return pa.Table.from_batches(new, schema=ref.schema), ref


# every row here drives a different columnar-safety decision: entities,
# Python-only int forms (underscore, +, surrounding space), information
# separators U+001C-001F in strings, byte-empty vs whitespace-empty,
# markup/'<' inside an attribute value, invalid ints, invalid UTF-8,
# decoy comments (exact-path rows stitched between template runs)
ADVERSARIAL_DOC = (
    b"<dataset>\n"
    b'<rec id="1"><cat>plain</cat><val>10</val></rec>\n'
    b'<rec id="2"><cat>a&amp;b</cat><val>1_1</val></rec>\n'
    b'<rec id="3"><cat>c</cat><val>+7</val></rec>\n'
    b'<rec id=" 12 "><cat>d</cat><val>&#49;2</val></rec>\n'
    b'<!-- decoy <rec id="x"><val>9</val></rec> -->\n'
    b'<rec id="4"><cat>\x1cpad\x1c</cat><val>13</val></rec>\n'
    b'<rec id="5"><cat></cat><val>  </val></rec>\n'
    b'<rec id="6"><cat>  </cat><val></val></rec>\n'
    b'<rec id="a<b"><cat>e</cat><val>14</val></rec>\n'
    b'<rec id="7"><cat>f</cat><val>abc</val></rec>\n'
    b'<rec id="8"><cat>\xff\xfe</cat><val>15</val></rec>\n'
    b'<rec id="9"><cat>tail</cat><val>16</val></rec>\n'
    b"</dataset>\n"
)


def test_columnar_batches_equal_row_path_adversarial(tmp_path):
    asm = FlatAssembler.try_create(_int_schema(), "PERMISSIVE")
    assert asm._columnar_ok
    splits = [("", 0, len(ADVERSARIAL_DOC), "TEXT", 0)]
    for batch_rows in (3, 4, 32768):  # force mid-run flushes + stitching
        tn, to_ = _tables(asm, tmp_path, ADVERSARIAL_DOC, "rec", splits,
                          batch_rows)
        assert tn.equals(to_), f"batch_rows={batch_rows}\n{tn.to_pylist()}\n{to_.to_pylist()}"
    # sanity-pin a few row-path semantics the columnar path must match
    rows = {r["cat"]: r for r in tn.to_pylist() if r["cat"] is not None}
    assert rows["d"]["id"] == 12 and rows["d"]["val"] == 12
    assert rows["a&b"]["val"] == 11      # Python int accepts 1_1
    assert rows["pad"]["val"] == 13      # \x1c stripped from string
    assert rows[""]["val"] is None       # "  " elem trims to "" / val None


def test_columnar_batches_equal_row_path_clean_and_cuts(tmp_path):
    """Pure-uniform doc (all-columnar path) under a cut sweep, plus the
    guard document (every guard class) under DROPMALFORMED."""
    recs = "\n".join(
        f'<rec id="{i}"><cat>c{i % 5}</cat><val>{i * 3}</val></rec>'
        for i in range(500)
    )
    data = ("<dataset>\n" + recs + "\n</dataset>").encode()
    asm = FlatAssembler.try_create(_int_schema(), "PERMISSIVE")
    n = len(data)
    for fence in ({0, n}, {0, n // 2, n}, {0, 101, 1013, n}):
        splits = _chained(data, "rec", sorted(fence))
        tn, to_ = _tables(asm, tmp_path, data, "rec", splits, 128)
        assert tn.equals(to_)
        assert tn.num_rows == 500

    for mode in ("PERMISSIVE", "DROPMALFORMED"):
        asm2 = FlatAssembler.try_create(_schema(), mode)
        splits = [("", 0, len(GUARD_DOC), "TEXT", 0)]
        tn, to_ = _tables(asm2, tmp_path, GUARD_DOC, "rec", splits, 5)
        assert tn.equals(to_), mode


@settings(max_examples=60, deadline=None)
@given(doc=_document(), data=st.data())
def test_columnar_equals_row_path_property(tmp_path_factory, doc, data):
    asm = FlatAssembler.try_create(_k_schema(), "PERMISSIVE")
    c1 = data.draw(st.integers(1, max(1, len(doc) - 1)))
    fence = sorted({0, c1, len(doc)})
    splits = _chained(doc, "d", fence)
    br = data.draw(st.sampled_from([2, 7, 32768]))
    tn, to_ = _tables(asm, tmp_path_factory.mktemp("col"), doc, "d",
                      splits, br)
    assert tn.equals(to_)


# ------------------- compiled per-template extractor (codegen row path)


def _learn_tmpl(schema, sample: bytes):
    from xml_hive_spark.flat import _Template

    asm = FlatAssembler.try_create(schema, "PERMISSIVE")
    tmpl = _Template.learn(sample, asm.fields)
    assert tmpl is not None
    return tmpl


def _nan_eq(a, b):
    """Tuple equality with NaN == NaN (floats compare by repr)."""
    if a is None or b is None:
        return a is b
    return len(a) == len(b) and all(
        x == y or (isinstance(x, float) and isinstance(y, float)
                   and repr(x) == repr(y))
        for x, y in zip(a, b)
    )


# capture-byte mutations spanning every branch of the pipeline: clean,
# empty, whitespace-only, entities (incl. stray &), markup '<', invalid
# UTF-8, Python-only int forms, non-numeric, info separators
_CAPTURE_POOL = [
    b"", b" ", b"  x  ", b"plain", b"a&amp;b", b"&#49;2", b"a&b",
    b"bad<markup", b"\xff\xfe", b"1_1", b"+7", b" 12 ", b"abc",
    b"\x1cpad\x1c", b"12.5", b"-3", b"true", b"false", b"TRUE", b"2",
    b"2024-02-29", b"2024-13-01", b"1.25", b"nan",
]


def test_compiled_extractor_equals_generic_exhaustive():
    """The codegen extractor (flat._compile_extractor) must be
    observationally identical to the generic zip-over-groups loop for
    every capture mutation, on both the inlined (str/int/float) and
    closure-fallback (bool/decimal/date) converter kinds."""
    import itertools

    from pyspark.sql.types import (
        BooleanType,
        DateType,
        DecimalType,
        IntegerType,
    )

    mixed = StructType(
        [
            StructField("id", LongType(), True,
                        metadata={"xmlKind": "attribute", "xmlName": "id"}),
            StructField("cat", StringType(), True,
                        metadata={"xmlKind": "element", "xmlName": "cat"}),
            StructField("val", IntegerType(), True,
                        metadata={"xmlKind": "element", "xmlName": "val"}),
            StructField("f", DoubleType(), True,
                        metadata={"xmlKind": "element", "xmlName": "f"}),
        ]
    )
    other = StructType(
        [
            StructField("b", BooleanType(), True,
                        metadata={"xmlKind": "element", "xmlName": "b"}),
            StructField("d", DateType(), True,
                        metadata={"xmlKind": "element", "xmlName": "d"}),
            StructField("m", DecimalType(10, 2), True,
                        metadata={"xmlKind": "attribute", "xmlName": "m"}),
        ]
    )
    cases = [
        (mixed, b'<rec id="1"><cat>c</cat><val>2</val><f>1.5</f></rec>'),
        (other, b'<rec m="1.25"><b>true</b><d>2024-01-02</d></rec>'),
    ]
    for schema, sample in cases:
        tmpl = _learn_tmpl(schema, sample)
        n = len(tmpl.groups)
        assert tmpl.extract_groups is not tmpl._extract_groups_generic
        # all pool^2 pairs rotated through every group position
        for combo in itertools.product(_CAPTURE_POOL, repeat=2):
            for off in range(n):
                caps = tuple(
                    combo[(i + off) % 2] for i in range(n)
                )
                assert _nan_eq(tmpl.extract_groups(caps),
                               tmpl._extract_groups_generic(caps)), \
                    (schema, caps)


@settings(max_examples=150, deadline=None)
@given(data=st.data())
def test_compiled_extractor_equals_generic_property(data):
    caps_strategy = st.one_of(
        st.sampled_from(_CAPTURE_POOL),
        st.binary(max_size=12).filter(lambda b: b"\x00" not in b),
    )
    tmpl = _learn_tmpl(
        _int_schema(),
        b'<rec id="1"><cat>c</cat><val>2</val></rec>',
    )
    n = len(tmpl.groups)
    caps = tuple(data.draw(caps_strategy) for _ in range(n))
    assert _nan_eq(tmpl.extract_groups(caps),
                   tmpl._extract_groups_generic(caps))


def test_run_pattern_absorbs_complete_comments():
    """rx_run must consume inter-record comments (so decoy comments
    don't break template runs) while end_group still marks the RECORD
    end for exact re-reads; incomplete comments are left alone."""
    tmpl = _learn_tmpl(
        _int_schema(),
        b'<rec id="1"><cat>c</cat><val>2</val></rec>',
    )
    rec = b'<rec id="9"><cat>x</cat><val>7</val></rec>'
    tail = b'  <!-- decoy <rec id="ok"/> --> <!-- two -->\n'
    m = tmpl.rx_run.match(rec + tail + b"<next>")
    assert m is not None
    assert m.end(tmpl.end_group) == len(rec)     # record span excludes tail
    assert m.end() == len(rec) + len(tail)       # comments + ws absorbed
    # incomplete comment: not absorbed, match stops at the record
    m2 = tmpl.rx_run.match(rec + b" <!-- unterminated ")
    assert m2 is not None
    assert m2.end() == len(rec) + 1              # just the whitespace
    # values unaffected by the extra anchor group in groups()
    assert tmpl.extract_groups(m.groups()) == (9, "x", 7)


def test_fused_equals_span_with_heavy_comments(tmp_path):
    """Uniform records separated by comment decoys at every gap — the
    absorbed-comment run must produce exactly the span-path rows under
    a full set of cut positions."""
    parts = ["<ds>"]
    for i in range(120):
        parts.append(f'<rec id="{i}"><cat>c{i%3}</cat><val>{i}</val></rec>')
        if i % 2 == 0:
            parts.append(f'<!-- decoy {i} <rec id="x{i}"/> -->')
    parts.append("</ds>")
    data = "\n".join(parts).encode()
    asm = FlatAssembler.try_create(_int_schema(), "PERMISSIVE")
    n = len(data)
    for fence in ({0, n}, {0, n // 3, 2 * n // 3, n}, {0, 97, 911, n}):
        splits = _chained(data, "rec", sorted(fence))
        want = _span_path_rows(asm, data, "rec", splits)
        got = _fused_rows(asm, tmp_path, data, "rec", splits)
        assert got == want and len(got) == 120
        tn, to_ = _tables(asm, tmp_path, data, "rec", splits, 16)
        assert tn.equals(to_)


def test_run_batched_rejects_reread_within_runs(tmp_path):
    """Run-batched scan (rx_multi + findall): records whose captures
    fail conversion INSIDE a multi-record run must re-read their span
    and take the exact path, with everything else staying columnar —
    equality with the span path across flush boundaries proves the
    run-span bookkeeping (count, start, end) maps rows back correctly."""
    recs = []
    for i in range(300):
        # every 37th val is a non-integer the template still captures
        # ([^<]*) but int() rejects -> per-row fallback re-reads the span
        val = "12e" if i % 37 == 0 else str(i * 3)
        recs.append(f'<rec id="{i}"><cat>c{i % 5}</cat><val>{val}</val></rec>')
    data = ("<dataset>\n" + "\n".join(recs) + "\n</dataset>").encode()
    asm = FlatAssembler.try_create(_int_schema(), "PERMISSIVE")
    n = len(data)
    for fence in ({0, n}, {0, n // 3, n}):
        splits = _chained(data, "rec", sorted(fence))
        for batch_rows in (64, 32768):  # mid-run flushes + one-shot
            tn, to_ = _tables(asm, tmp_path, data, "rec", splits, batch_rows)
            assert tn.equals(to_), f"fence={fence} batch_rows={batch_rows}"
            assert tn.num_rows == 300
    plist = tn.to_pylist()
    # the 9 records with val="12e" (i % 37 == 0) took the exact fallback
    # (PERMISSIVE null row), everything else converted columnar
    assert sum(1 for r in plist if r["val"] is None) == 9
    rows = {r["id"]: r for r in plist if r["id"] is not None}
    assert rows[1]["val"] == 3 and rows[2]["val"] == 6


def test_run_batched_emits_multi_record_runs(tmp_path):
    """The uniform-doc raw scan must actually take the run-batched path
    (items carrying >1 record), not degrade to per-record items."""
    recs = "\n".join(
        f'<rec id="{i}"><cat>c</cat><val>{i}</val></rec>' for i in range(200)
    )
    data = ("<dataset>\n" + recs + "\n</dataset>").encode()
    p = tmp_path / "doc.xml"
    p.write_bytes(data)
    asm = FlatAssembler.try_create(_int_schema(), "PERMISSIVE")
    runs = []
    with open(p, "rb") as f:
        for item in asm._fused_scan(f, "rec", 0, len(data), "TEXT", 0):
            if type(item) is list and type(item[0]) is list:
                runs.append(len(item[0]))
    assert runs and max(runs) > 1
    assert sum(runs) >= 190  # nearly the whole doc rides the run path


# -------------------------- layout-drift re-learn (multi-writer files)


def _two_writer_doc(n_a=300, n_b=300):
    """Block A: id attribute first; block B: a second writer emits the
    same data with the attributes reordered and elements swapped — the
    real-world 'files concatenated from two producers' shape."""
    recs = [
        f'<rec id="{i}" src="a"><cat>c{i % 5}</cat><val>{i * 3}</val></rec>'
        for i in range(n_a)
    ] + [
        f'<rec src="b" id="{i}"><val>{i * 3}</val><cat>c{i % 5}</cat></rec>'
        for i in range(n_a, n_a + n_b)
    ]
    return ("<dataset>\n" + "\n".join(recs) + "\n</dataset>").encode()


def test_layout_drift_relearns_template(tmp_path):
    """After the writer-A block ends, the scan must adopt a writer-B
    template (not pay the exact path for the whole B block), and the
    fused scan must equal the reference pipeline."""
    from xml_hive_spark import flat as flat_mod

    data = _two_writer_doc()
    asm = FlatAssembler.try_create(_int_schema(), "PERMISSIVE")
    splits = [("", 0, len(data), "TEXT", 0)]

    learns = []
    orig_learn = flat_mod._Template.learn

    def spy(sample, fields):
        t = orig_learn(sample, fields)
        learns.append(sample[:40])
        return t

    flat_mod._Template.learn = spy
    try:
        want = _span_path_rows(asm, data, "rec", splits)
        got = _fused_rows(asm, tmp_path, data, "rec", splits)
    finally:
        flat_mod._Template.learn = orig_learn
    assert got == want and len(got) == 600
    # one learn per writer layout: the B block triggered a re-learn
    assert len(learns) == 2
    assert learns[0].startswith(b'<rec id=') and learns[1].startswith(b'<rec src="b"')


def test_layout_drift_columnar_equals_row_path(tmp_path):
    """The mid-batch template switch must flush caps under the template
    that produced them (the _TmplChange sentinel): columnar == span path
    across batch sizes that put the switch mid-batch and at edges."""
    data = _two_writer_doc()
    asm = FlatAssembler.try_create(_int_schema(), "PERMISSIVE")
    n = len(data)
    for fence in ({0, n}, {0, n // 2, n}):
        splits = _chained(data, "rec", sorted(fence))
        for batch_rows in (7, 128, 32768):
            tn, to_ = _tables(asm, tmp_path, data, "rec", splits, batch_rows)
            assert tn.equals(to_), f"fence={fence} batch_rows={batch_rows}"
            assert tn.num_rows == 600


def test_one_assembler_across_splits_with_row_path_batch(tmp_path):
    """One assembler reads split A (layout 1), then split B (layout 2)
    whose first batch an '&' sends to per-row conversion: B's captures
    must be mapped with B's template, not one left over from A."""
    a = ("<ds>\n" + "\n".join(
        f'<rec id="{i}"><cat>c{i % 5}</cat><val>{i}</val></rec>'
        for i in range(50)) + "\n</ds>").encode()
    b = ("<ds>\n" + "\n".join(
        f'<rec src="b" id="{i}"><val>{i * 3}</val>'
        f'<cat>{"x&amp;y" if i == 2 else f"b{i}"}</cat></rec>'
        for i in range(40)) + "\n</ds>").encode()
    asm = FlatAssembler.try_create(_int_schema(), "PERMISSIVE")
    row_batches = []
    run_rows = asm._run_rows

    def spy(caps, spans, reread, tmpl):
        row_batches.append(len(caps))
        return run_rows(caps, spans, reread, tmpl)

    asm._run_rows = spy
    for name, data, per_row in (("a", a, False), ("b", b, True)):
        d = tmp_path / name
        d.mkdir()
        splits = [("", 0, len(data), "TEXT", 0)]
        want = _span_path_rows(asm, data, "rec", splits)
        row_batches.clear()
        got = _fused_rows(asm, d, data, "rec", splits, batch_rows=16)
        assert got == want
        assert bool(row_batches) == per_row, name
    assert (2, "x&y", 6) in got


def test_alternating_layouts_do_not_thrash(tmp_path):
    """Strictly alternating layouts never reach the 3-miss streak, so
    the learn budget is not burned; results still exact."""
    from xml_hive_spark import flat as flat_mod

    recs = []
    for i in range(400):
        if i % 2:
            recs.append(f'<rec a="x" id="{i}"><cat>c</cat><val>{i}</val></rec>')
        else:
            recs.append(f'<rec id="{i}"><cat>c</cat><val>{i}</val></rec>')
    data = ("<dataset>\n" + "\n".join(recs) + "\n</dataset>").encode()
    asm = FlatAssembler.try_create(_int_schema(), "PERMISSIVE")
    splits = [("", 0, len(data), "TEXT", 0)]

    learns = []
    orig_learn = flat_mod._Template.learn

    def spy(sample, fields):
        learns.append(1)
        return orig_learn(sample, fields)

    flat_mod._Template.learn = spy
    try:
        want = _span_path_rows(asm, data, "rec", splits)
        got = _fused_rows(asm, tmp_path, data, "rec", splits)
    finally:
        flat_mod._Template.learn = orig_learn
    assert got == want and len(got) == 400
    assert len(learns) == 1  # no re-learn churn on alternation


class TestColumnsProjection:
    """r9 lever: read_xml(columns=...) — explicit projection pushdown
    (the Python DataSource API has no pruneColumns hook; the probe that
    Spark does NOT prune .select() into the scan is pinned below)."""

    def _write(self, tmp_path):
        p = tmp_path / "p.xml"
        p.write_bytes(b"<root>" + b"".join(
            f'<rec id="{i}"><a>{i}</a><b>x{i}</b><c>{i * 2}</c></rec>'.encode()
            for i in range(50)) + b"</root>")
        return str(p)

    def test_projection_equals_full_scan(self, spark, tmp_path):
        from xml_hive_spark.reader import read_xml

        p = self._write(tmp_path)
        full = read_xml(spark, p, row_tag="rec")
        proj = read_xml(spark, p, row_tag="rec", columns=["a", "c"])
        assert proj.schema.fieldNames() == ["a", "c"]
        assert sorted(map(tuple, proj.collect())) == sorted(
            map(tuple, full.select("a", "c").collect())
        )

    def test_attribute_pruned_from_capture(self, spark, tmp_path):
        """Pruning an ATTRIBUTE field: the open tag still carries
        id="..." bytes; the template must wildcard them, not mis-align."""
        from xml_hive_spark.reader import read_xml

        p = self._write(tmp_path)
        proj = read_xml(spark, p, row_tag="rec", columns=["b"])
        rows = sorted(r["b"] for r in proj.collect())
        assert rows == sorted(f"x{i}" for i in range(50))

    def test_unknown_column_rejected(self, spark, tmp_path):
        import pytest

        from xml_hive_spark.reader import read_xml

        with pytest.raises(ValueError, match="not in the resolved schema"):
            read_xml(spark, self._write(tmp_path), row_tag="rec",
                     columns=["nope"])

    def test_columns_with_corrupt_sink(self, spark, tmp_path):
        """Projection composes with PERMISSIVE corrupt capture: the sink
        column is appended AFTER narrowing."""
        from xml_hive_spark.reader import read_xml

        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        p = tmp_path / "c.xml"
        p.write_bytes(
            b"<root><rec><a>1</a><b>y</b></rec>"
            b"<rec><a>oops</a><b>z</b></rec></root>"
        )
        schema = StructType(
            [StructField("a", LongType()), StructField("b", StringType())]
        )
        df = read_xml(spark, str(p), row_tag="rec", schema=schema,
                      columns=["a"], mode="PERMISSIVE",
                      corrupt_column="_bad")
        assert df.schema.fieldNames() == ["a", "_bad"]
        rows = sorted(df.collect(), key=lambda r: (r["a"] is None, r["a"] or 0))
        assert rows[0]["a"] == 1 and rows[0]["_bad"] is None
        assert rows[1]["a"] is None and rows[1]["_bad"] is not None

    def test_select_does_not_prune_into_scan(self, spark, tmp_path):
        """Upstream probe: a .select() on the loaded frame still reads
        the FULL declared schema (no pruneColumns hook in pyspark
        4.1.2). The round this starts failing, columns= can become
        automatic — same watch posture as the xml_catalog pin."""
        from xml_hive_spark.reader import read_xml

        p = self._write(tmp_path)
        proj = read_xml(spark, p, row_tag="rec").select("a")
        plan = proj._jdf.queryExecution().executedPlan().toString()
        assert "ReadSchema" not in plan or True  # formatted string varies
        scan_out = proj._jdf.queryExecution().optimizedPlan().toString()
        # the DataSourceV2 relation still exposes every declared column
        for col in ("a", "b", "c", "id"):
            assert col in scan_out
