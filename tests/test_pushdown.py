"""Filter pushdown for the ``xmlhive`` DataSource (Spark 4.1
``pushFilters``): accepted filters are fully handled by the source —
Spark does NOT re-apply them — so the compiled predicates must match
SQL three-valued semantics exactly. The reference has no predicate
interface at all (Hive filters post-deserialization, SURVEY.md §4.1);
this is a genuine capability our scan adds.

Strategy: (a) unit-test the filter compiler's null/Not/In semantics,
(b) end-to-end: every supported filter shape applied through
``spark.read.format("xmlhive")`` must equal the same ``.filter`` over a
parquet round-trip of the identical rows (Catalyst's own evaluation as
the oracle), on both the flat Arrow fast path and the nested exact
path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualNullSafe,
    EqualTo,
    GreaterThan,
    In,
    IsNotNull,
    IsNull,
    LessThanOrEqual,
    Not,
    StringContains,
    StringEndsWith,
    StringStartsWith,
)
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from xml_hive_spark.sources.pushdown import compile_conjunction, compile_filter

SCHEMA = StructType(
    [
        StructField("id", IntegerType(), True,
                    metadata={"xmlKind": "attribute", "xmlName": "id"}),
        StructField("name", StringType(), True,
                    metadata={"xmlKind": "element", "xmlName": "name"}),
        StructField("score", DoubleType(), True,
                    metadata={"xmlKind": "element", "xmlName": "score"}),
    ]
)


class TestCompiler:
    def test_equal_to_null_is_sql_null(self):
        p = compile_filter(EqualTo(("name",), "a"), SCHEMA)
        assert p((1, "a", 2.0)) is True
        assert p((1, "b", 2.0)) is False
        assert p((1, None, 2.0)) is None  # NULL, not False

    def test_not_preserves_null(self):
        p = compile_filter(Not(EqualTo(("name",), "a")), SCHEMA)
        assert p((1, "b", 0.0)) is True
        assert p((1, "a", 0.0)) is False
        # NOT(NULL = 'a') is NULL → the row must still be dropped
        assert p((1, None, 0.0)) is None

    def test_in_with_null_element(self):
        p = compile_filter(In(("id",), (1, 2, None)), SCHEMA)
        assert p((1, "x", 0.0)) is True
        assert p((3, "x", 0.0)) is None  # no match + NULL element → NULL
        q = compile_filter(In(("id",), (1, 2)), SCHEMA)
        assert q((3, "x", 0.0)) is False

    def test_null_safe_eq(self):
        p = compile_filter(EqualNullSafe(("name",), None), SCHEMA)
        assert p((1, None, 0.0)) is True
        assert p((1, "a", 0.0)) is False

    def test_is_null_not_null(self):
        assert compile_filter(IsNull(("score",)), SCHEMA)((1, "a", None)) is True
        assert compile_filter(IsNotNull(("score",)), SCHEMA)((1, "a", None)) is False

    def test_string_ops(self):
        assert compile_filter(StringStartsWith(("name",), "ab"), SCHEMA)(
            (1, "abc", 0.0)) is True
        assert compile_filter(StringEndsWith(("name",), "bc"), SCHEMA)(
            (1, "abc", 0.0)) is True
        assert compile_filter(StringContains(("name",), "zz"), SCHEMA)(
            (1, "abc", 0.0)) is False

    def test_nan_ordering_matches_spark(self):
        # Spark sorts NaN greater than any double and NaN == NaN
        gt = compile_filter(GreaterThan(("score",), 1e308), SCHEMA)
        assert gt((1, "a", float("nan"))) is True
        le = compile_filter(LessThanOrEqual(("score",), 0.0), SCHEMA)
        assert le((1, "a", float("nan"))) is False
        eq = compile_filter(EqualTo(("score",), 1.0), SCHEMA)
        assert eq((1, "a", float("nan"))) is False
        # NaN literal: stays with Spark
        assert compile_filter(EqualTo(("score",), float("nan")), SCHEMA) is None

    def test_unsupported_shapes_rejected(self):
        nested = StructType([StructField("a", SCHEMA, True)])
        assert compile_filter(EqualTo(("a", "name"), "x"), nested) is None
        assert compile_filter(EqualTo(("missing",), 1), SCHEMA) is None
        arr = StructType([StructField("xs", ArrayType(IntegerType()), True)])
        assert compile_filter(EqualTo(("xs",), [1]), arr) is None

    def test_conjunction_requires_all_true(self):
        preds = [
            compile_filter(IsNotNull(("name",)), SCHEMA),
            compile_filter(GreaterThan(("id",), 0), SCHEMA),
        ]
        keep = compile_conjunction(preds)
        assert keep((1, "a", 0.0)) is True
        assert keep((0, "a", 0.0)) is False
        assert keep((None, "a", 0.0)) is False  # NULL comparison → drop


FLAT_XML = b"\n".join(
    [b"<catalog>"]
    + [
        b'<row id="%d"><name>%s</name><score>%s</score></row>'
        % (i, name, score)
        for i, name, score in [
            (1, b"alpha", b"1.5"),
            (2, b"beta", b"2.5"),
            (3, b"gamma", b""),  # score null
            (4, b"", b"4.0"),  # name empty string
            (5, b"delta&amp;co", b"5.25"),
        ]
    ]
    + [b'<row id="6"><score>0.5</score></row>', b"</catalog>"]  # name null
)

NESTED_SCHEMA = StructType(
    [
        StructField("id", IntegerType(), True,
                    metadata={"xmlKind": "attribute", "xmlName": "id"}),
        StructField("name", StringType(), True,
                    metadata={"xmlKind": "element", "xmlName": "name"}),
        StructField("score", DoubleType(), True,
                    metadata={"xmlKind": "element", "xmlName": "score"}),
        # array field disqualifies FlatAssembler → exact ET path
        StructField("tags", ArrayType(StringType()), True,
                    metadata={"xmlKind": "element", "xmlName": "tag"}),
    ]
)

def _conditions():
    return [
        F.col("id") > 2,
        F.col("name") == "alpha",
        F.col("name") != "alpha",  # Not(EqualTo): null name must drop
        F.col("score").isNull(),
        F.col("score").isNotNull() & (F.col("score") <= 2.5),
        F.col("name").startswith("a") | F.col("name").endswith("ta"),  # OR: not pushed
        F.col("name").contains("lt"),
        F.col("id").isin(2, 4, 6),
        F.col("name").eqNullSafe(None),
        (F.col("id") % 2 == 1),  # arithmetic: unsupported, Spark post-filters
    ]


def _xml_df(spark, tmp_path, schema):
    from xml_hive_spark.reader import read_xml

    p = tmp_path / "data.xml"
    p.write_bytes(FLAT_XML)
    return read_xml(spark, str(p), "row", schema=schema)


@pytest.mark.parametrize("schema", [SCHEMA, NESTED_SCHEMA],
                         ids=["flat-arrow-path", "exact-et-path"])
def test_pushdown_equals_catalyst(spark, tmp_path, schema):
    xml = _xml_df(spark, tmp_path, schema)
    # parquet round-trip of the SAME rows: Catalyst evaluates every
    # condition itself there — the semantics oracle
    pq = str(tmp_path / f"oracle-{len(schema)}.parquet")
    xml.write.mode("overwrite").parquet(pq)
    oracle = spark.read.parquet(pq)
    assert xml.count() == 6
    for cond in _conditions():
        got = sorted(r["id"] for r in xml.filter(cond).select("id").collect())
        want = sorted(r["id"] for r in oracle.filter(cond).select("id").collect())
        assert got == want, f"filter {cond} pushed={got} oracle={want}"


def test_reader_accepts_and_returns_by_reference(tmp_path):
    from xml_hive_spark.sources.xml_datasource import XmlHiveReader

    p = tmp_path / "d.xml"
    p.write_bytes(FLAT_XML)
    reader = XmlHiveReader(SCHEMA, {"rowtag": "row", "path": str(p)})
    supported = EqualTo(("name",), "alpha")
    unsupported = EqualTo(("nope",), 1)
    leftover = list(reader.pushFilters([supported, unsupported]))
    assert leftover == [unsupported] and leftover[0] is unsupported
    assert len(reader._pushed) == 1
    rows = [r for part in reader.partitions() for r in reader.read(part)]
    # flat path yields Arrow batches; count rows across shapes
    n = sum(b.num_rows if hasattr(b, "num_rows") else 1 for b in rows)
    assert n == 1  # only the name='alpha' record survived the scan


def test_date_typed_filters_compile_and_compare():
    """Rich-types reader schemas carry DateType fields; date literals
    from Spark arrive as datetime.date and must compare correctly."""
    from datetime import date

    from pyspark.sql.types import DateType

    sch = StructType([StructField("d", DateType(), True)])
    p = compile_filter(GreaterThan(("d",), date(2024, 1, 15)), sch)
    assert p((date(2024, 2, 1),)) is True
    assert p((date(2024, 1, 1),)) is False
    assert p((None,)) is None
    q = compile_filter(In(("d",), (date(2024, 1, 1), date(2024, 1, 2))), sch)
    assert q((date(2024, 1, 2),)) is True
    assert q((date(2024, 3, 3),)) is False


# ---------------------------------------------------- arrow mask compiler


class TestArrowCompiler:
    """compile_filter_arrow must be tri-valued-identical to
    compile_filter on every cell: arrow null == row None, else equal."""

    SCH = StructType(
        [
            StructField("i", IntegerType(), True),
            StructField("s", StringType(), True),
            StructField("d", DoubleType(), True),
            StructField("f", FloatType(), True),
        ]
    )

    # edge rows: nulls, NaN, float32-rounding pivot (0.1), empty string,
    # unicode ordering, negative/zero ints
    ROWS = [
        (1, "alpha", 1.5, 0.1),
        (None, None, None, None),
        (0, "", float("nan"), float("nan")),
        (-3, "é", 0.1, 2.5),
        (7, "alphabet", -2.0, -0.1),
        (2, "ALPHA", 0.30000000000000004, 0.3),
    ]

    def _batch(self):
        import pyarrow as pa

        return pa.record_batch(
            {
                "i": pa.array([r[0] for r in self.ROWS], pa.int32()),
                "s": pa.array([r[1] for r in self.ROWS], pa.string()),
                "d": pa.array([r[2] for r in self.ROWS], pa.float64()),
                "f": pa.array([r[3] for r in self.ROWS], pa.float32()),
            }
        )

    def _filters(self):
        return [
            EqualTo(("i",), 1),
            GreaterThan(("i",), 0),
            LessThanOrEqual(("i",), 0),
            In(("i",), (1, 7)),
            In(("i",), (1, None)),
            Not(EqualTo(("i",), 1)),
            IsNull(("i",)), IsNotNull(("i",)),
            EqualNullSafe(("i",), None), EqualNullSafe(("i",), 1),
            EqualTo(("s",), "alpha"),
            GreaterThan(("s",), "alpha"),  # utf8 vs codepoint ordering
            StringStartsWith(("s",), "al"),
            StringEndsWith(("s",), "a"),
            StringContains(("s",), "phab"),
            EqualTo(("d",), 0.1),
            GreaterThan(("d",), 0.0),   # NaN > 0.0 must be True
            LessThanOrEqual(("d",), 0.1),
            Not(GreaterThan(("d",), 0.0)),
            GreaterThan(("f",), 0.1),   # f32(0.1) > 0.1d must be True
            EqualNullSafe(("f",), 2.5),
            EqualTo(("f",), 0.3),
        ]

    def test_cellwise_equivalence(self):
        from xml_hive_spark.sources.pushdown import compile_filter_arrow

        batch = self._batch()
        # FloatType rows: the row predicate sees the PRE-cast float64
        # value, so feed it what the arrow column actually stores —
        # the same float32 — promoted back (this is what reaches the
        # row path in production too, where values parse from text)
        for flt in self._filters():
            rp = compile_filter(flt, self.SCH)
            am = compile_filter_arrow(flt, self.SCH)
            assert rp is not None, flt
            assert am is not None, flt
            mask = am(self._batch()).to_pylist()
            assert len(mask) == len(self.ROWS)
            for ri, row in enumerate(self.ROWS):
                want = rp(row)
                got = mask[ri]
                if want is None:
                    assert got is None, (flt, ri, got)
                else:
                    assert got is want, (flt, ri, want, got)
        assert batch.num_rows == len(self.ROWS)

    def test_unsupported_shapes_fall_back(self):
        from datetime import date

        from pyspark.sql.types import BooleanType, DateType

        from xml_hive_spark.sources.pushdown import (
            compile_conjunction_arrow,
            compile_filter_arrow,
        )

        dsch = StructType([StructField("d", DateType(), True),
                           StructField("b", BooleanType(), True)])
        assert compile_filter_arrow(
            GreaterThan(("d",), date(2024, 1, 1)), dsch) is None
        assert compile_filter_arrow(EqualTo(("b",), True), dsch) is None
        # float set-membership keeps the row path
        assert compile_filter_arrow(In(("f",), (0.1, 0.2)), self.SCH) is None
        # int literal outside the column type's range
        assert compile_filter_arrow(In(("i",), (1 << 40,)), self.SCH) is None
        # one uncompilable filter poisons the whole conjunction
        assert compile_conjunction_arrow(
            [EqualTo(("i",), 1), In(("f",), (0.1,))], self.SCH) is None

    def test_conjunction_mask_matches_row_conjunction(self):
        from xml_hive_spark.sources.pushdown import compile_conjunction_arrow

        flts = [GreaterThan(("i",), -5), Not(EqualTo(("s",), "ALPHA")),
                LessThanOrEqual(("d",), 100.0)]
        keep = compile_conjunction(
            [compile_filter(f, self.SCH) for f in flts])
        accept = compile_conjunction_arrow(flts, self.SCH)
        mask = accept(self._batch()).to_pylist()
        assert None not in mask  # acceptance mask is null-free
        for ri, row in enumerate(self.ROWS):
            assert mask[ri] is keep(row), (ri, row)


def test_float32_rounding_matches_catalyst(spark, tmp_path):
    """FloatType pushdown: text "0.1" parses to f64 0.1 but the column
    stores f32(0.1) > 0.1d — Spark's post-scan filter keeps the row, so
    the pushed filter must too (both the row predicate, via _f32
    rounding, and the arrow mask, via native f32 promotion)."""
    from pyspark.sql.types import FloatType as FT

    from xml_hive_spark.reader import read_xml

    sch = StructType(
        [
            StructField("id", IntegerType(), True,
                        metadata={"xmlKind": "attribute", "xmlName": "id"}),
            StructField("v", FT(), True,
                        metadata={"xmlKind": "element", "xmlName": "v"}),
        ]
    )
    p = tmp_path / "f32.xml"
    p.write_bytes(
        b"<r>"
        b'<row id="1"><v>0.1</v></row>'
        b'<row id="2"><v>0.2</v></row>'
        b'<row id="3"><v></v></row>'
        b"</r>"
    )
    xml = read_xml(spark, str(p), "row", schema=sch)
    pq = str(tmp_path / "f32.parquet")
    xml.write.mode("overwrite").parquet(pq)
    oracle = spark.read.parquet(pq)
    for cond in [F.col("v") > 0.1, F.col("v") <= 0.1, F.col("v") == 0.2,
                 F.col("v").eqNullSafe(0.2)]:
        got = sorted(r["id"] for r in xml.filter(cond).collect())
        want = sorted(r["id"] for r in oracle.filter(cond).collect())
        assert got == want, (cond, got, want)


def _canon(rows):
    """Row tuples with NaN made comparable."""
    import math

    return [tuple("NaN" if isinstance(v, float) and math.isnan(v) else v
                  for v in r) for r in rows]


def _batch_rows(batches):
    return [tuple(r.values()) for b in batches for r in b.to_pylist()]


def test_columnar_filtered_equals_row_filtered(tmp_path):
    """fused_split_batches(arrow_predicate=...) must yield exactly the
    rows of the exact span path filtered by the equivalent tri-valued
    row predicate — including on batches the columnar bulk checks punt
    to per-row conversion (entities, bad casts)."""
    from tests.test_fused_scan import _span_path_rows
    from xml_hive_spark.flat import FlatAssembler
    from xml_hive_spark.sources.pushdown import compile_conjunction_arrow

    recs = []
    for i in range(800):
        name = ["alpha", "beta", "a&amp;b", "", "x" * (i % 5)][i % 5]
        score = ["1.5", "", "nan", "2.25", str(i)][i % 5]
        recs.append(
            f'<row id="{i}"><name>{name}</name><score>{score}</score></row>'
        )
    data = ("<cat>\n" + "\n".join(recs) + "\n</cat>").encode()
    p = tmp_path / "d.xml"
    p.write_bytes(data)
    asm = FlatAssembler.try_create(SCHEMA, "PERMISSIVE")
    split = (str(p), 0, len(data), "TEXT", 0)
    ref = _span_path_rows(asm, data, "row", [split])
    cases = [
        [GreaterThan(("id",), 100), StringStartsWith(("name",), "a")],
        [GreaterThan(("score",), 1.0)],          # NaN rows must survive
        [Not(EqualTo(("name",), "alpha"))],
        [IsNull(("score",)), LessThanOrEqual(("id",), 700)],
    ]
    for flts in cases:
        keep = compile_conjunction([compile_filter(f, SCHEMA) for f in flts])
        accept = compile_conjunction_arrow(flts, SCHEMA)
        assert accept is not None, flts
        col = list(asm.fused_split_batches(split, "row", batch_rows=64,
                                           predicate=keep,
                                           arrow_predicate=accept))
        want = [r for r in ref if keep(r)]
        assert _canon(_batch_rows(col)) == _canon(want), flts


def test_row_predicate_without_arrow_twin(tmp_path):
    """A pushed filter with no arrow compilation (float In) filters the
    per-row-converted tuples: rows equal the filtered span path across
    entity-bearing batches and a mid-file layout drift, and no batch
    that the filter empties is yielded."""
    from tests.test_fused_scan import _span_path_rows
    from xml_hive_spark.flat import FlatAssembler
    from xml_hive_spark.sources.pushdown import compile_conjunction_arrow

    recs = []
    for i in range(600):
        name = "a&amp;b" if 100 <= i < 110 or i == 500 else f"n{i % 7}"
        # rows 192..319 fill two whole 64-row batches the filter empties
        score = "9.0" if 192 <= i < 320 else ["1.5", "2.25", "3.0"][i % 3]
        if i < 400:
            recs.append(f'<row id="{i}"><name>{name}</name>'
                        f'<score>{score}</score></row>')
        else:  # a second writer: elements swapped
            recs.append(f'<row id="{i}"><score>{score}</score>'
                        f'<name>{name}</name></row>')
    data = ("<cat>\n" + "\n".join(recs) + "\n</cat>").encode()
    p = tmp_path / "d.xml"
    p.write_bytes(data)
    asm = FlatAssembler.try_create(SCHEMA, "PERMISSIVE")
    assert asm._columnar_ok
    split = (str(p), 0, len(data), "TEXT", 0)
    flts = [In(("score",), (1.5, 3.0))]
    assert compile_conjunction_arrow(flts, SCHEMA) is None
    keep = compile_conjunction([compile_filter(f, SCHEMA) for f in flts])
    got = list(asm.fused_split_batches(split, "row", batch_rows=64,
                                       predicate=keep))
    assert all(b.num_rows for b in got)
    want = [r for r in _span_path_rows(asm, data, "row", [split]) if keep(r)]
    assert _batch_rows(got) == want
    assert len(want) == 600 - 128 - len(
        [i for i in range(600) if not 192 <= i < 320 and i % 3 == 1])
    assert (500, "a&b", 3.0) in want


def test_upstream_plan_reuse_leaks_pushed_filters(spark, tmp_path):
    """UPSTREAM PIN (Spark 4.1 Python DataSource): a DataFrame's
    filterless scan REUSES the most recent pushdown-planned read of the
    same relation, so pushed filters leak into it (df.filter(x).count()
    then df.count() under-counts). Queries WITH pushable filters
    re-plan correctly — only the filterless re-scan is stale. Not our
    reader's state: the planning worker builds a FRESH DataSourceReader
    per pushdown run (pyspark/sql/worker/data_source_pushdown_filters.py
    creates `data_source.reader(schema)` each invocation); the stale
    reuse is JVM-side. Mitigations documented in README: re-`load()`
    per query, or disable spark.sql.python.filterPushdown.enabled.
    STRICT pin: if an upstream fix lands, this test FAILS and the
    README caveat comes out."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from xml_hive_spark.sources.xml_datasource import register

    register(spark)
    p = tmp_path / "leak.xml"
    p.write_bytes(
        b"<root>"
        + b"".join(
            f"<item><name>n{i}</name><qty>{i}</qty></item>".encode()
            for i in range(10)
        )
        + b"</root>"
    )
    schema = StructType(
        [
            StructField("name", StringType(), True,
                        metadata={"xmlKind": "element", "xmlName": "name"}),
            StructField("qty", IntegerType(), True,
                        metadata={"xmlKind": "element", "xmlName": "qty"}),
        ]
    )

    def load():
        return (
            spark.read.format("xmlhive").schema(schema)
            .option("rowTag", "item").option("path", str(p)).load()
        )

    fresh = load()
    assert fresh.count() == 10  # filterless FIRST scan is correct

    df = load()
    assert df.filter("qty >= 8").count() == 2
    # the stale-reuse bug: 2 here (correct answer would be 10)
    assert df.count() == 2, (
        "upstream fixed the stale plan reuse — remove this pin and the "
        "README caveat"
    )
    # a query WITH a pushable filter re-plans and is correct
    assert df.filter("qty < 3").count() == 3
    # a fresh load is always correct
    assert load().count() == 10
