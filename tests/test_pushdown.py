"""Filter pushdown for the ``xmlhive`` DataSource (Spark 4.1
``pushFilters``): accepted filters are fully handled by the source —
Spark does NOT re-apply them — so the compiled Arrow masks must match
SQL three-valued semantics exactly. The reference has no predicate
interface at all (Hive filters post-deserialization, SURVEY.md §4.1);
this is a genuine capability our scan adds.

Strategy: (a) unit-test the mask compiler's null/Not/In semantics,
(b) cell by cell, every compiled mask must equal Catalyst's own
evaluation of the same condition over the same rows, (c) end-to-end:
every condition applied through ``spark.read.format("xmlhive")`` must
equal the same ``.filter`` over a parquet round-trip of the identical
rows, on the flat columnar path, the flat per-row path (bool, date and
decimal columns) and the nested exact path, and must leave the same
``Filter`` node above the scan as before."""

from __future__ import annotations

import math
from datetime import date
from decimal import Decimal

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualNullSafe,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not,
    StringContains,
    StringEndsWith,
    StringStartsWith,
)
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from xml_hive_spark.sources.pushdown import (
    compile_conjunction_arrow,
    compile_filter_arrow,
)


def _field(name, dtype, kind="element"):
    return StructField(name, dtype, True, metadata={"xmlKind": kind, "xmlName": name})


SCHEMA = StructType([_field("id", IntegerType(), "attribute"),
                     _field("name", StringType()),
                     _field("score", DoubleType())])


def _batch(rows, schema):
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return pa.RecordBatch.from_pylist(
        [dict(zip(schema.fieldNames(), r)) for r in rows],
        schema=to_arrow_schema(schema))


def mask(f, rows, schema=SCHEMA):
    """The compiled mask of ``f`` over ``rows`` (None = SQL NULL)."""
    fn = compile_filter_arrow(f, schema)
    assert fn is not None, f
    return fn(_batch(rows, schema)).to_pylist()


class TestCompiler:
    def test_equal_to_null_is_sql_null(self):
        assert mask(EqualTo(("name",), "a"),
                    [(1, "a", 2.0), (1, "b", 2.0), (1, None, 2.0)]) == \
            [True, False, None]  # NULL, not False

    def test_not_preserves_null(self):
        # NOT(NULL = 'a') is NULL → the row must still be dropped
        assert mask(Not(EqualTo(("name",), "a")),
                    [(1, "b", 0.0), (1, "a", 0.0), (1, None, 0.0)]) == \
            [True, False, None]

    def test_in_with_null_element(self):
        # no match + NULL element → NULL
        assert mask(In(("id",), (1, 2, None)), [(1, "x", 0.0), (3, "x", 0.0)]) == \
            [True, None]
        assert mask(In(("id",), (1, 2)), [(3, "x", 0.0)]) == [False]

    def test_null_safe_eq(self):
        assert mask(EqualNullSafe(("name",), None), [(1, None, 0.0), (1, "a", 0.0)]) == \
            [True, False]

    def test_is_null_not_null(self):
        assert mask(IsNull(("score",)), [(1, "a", None)]) == [True]
        assert mask(IsNotNull(("score",)), [(1, "a", None)]) == [False]

    def test_string_ops(self):
        assert mask(StringStartsWith(("name",), "ab"), [(1, "abc", 0.0)]) == [True]
        assert mask(StringEndsWith(("name",), "bc"), [(1, "abc", 0.0)]) == [True]
        assert mask(StringContains(("name",), "zz"), [(1, "abc", 0.0)]) == [False]

    def test_nan_ordering_matches_spark(self):
        # Spark sorts NaN greater than any double and NaN == NaN
        nan = [(1, "a", float("nan"))]
        assert mask(GreaterThan(("score",), 1e308), nan) == [True]
        assert mask(LessThanOrEqual(("score",), 0.0), nan) == [False]
        assert mask(EqualTo(("score",), 1.0), nan) == [False]
        # NaN literal: stays with Spark
        assert compile_filter_arrow(EqualTo(("score",), float("nan")), SCHEMA) is None

    def test_unsupported_shapes_rejected(self):
        nested = StructType([StructField("a", SCHEMA, True)])
        assert compile_filter_arrow(EqualTo(("a", "name"), "x"), nested) is None
        assert compile_filter_arrow(EqualTo(("missing",), 1), SCHEMA) is None
        arr = StructType([StructField("xs", ArrayType(IntegerType()), True)])
        assert compile_filter_arrow(EqualTo(("xs",), [1]), arr) is None

    def test_conjunction_requires_all_true(self):
        keep = compile_conjunction_arrow(
            [IsNotNull(("name",)), GreaterThan(("id",), 0)], SCHEMA)
        rows = [(1, "a", 0.0), (0, "a", 0.0), (None, "a", 0.0)]
        # NULL comparison → drop
        assert keep(_batch(rows, SCHEMA)).to_pylist() == [True, False, False]


def test_date_typed_filters_compile_and_compare():
    """Rich-types reader schemas carry DateType fields; date literals
    from Spark arrive as datetime.date and must compare correctly."""
    sch = StructType([StructField("d", DateType(), True)])
    assert mask(GreaterThan(("d",), date(2024, 1, 15)),
                [(date(2024, 2, 1),), (date(2024, 1, 1),), (None,)], sch) == \
        [True, False, None]
    assert mask(In(("d",), (date(2024, 1, 1), date(2024, 1, 2))),
                [(date(2024, 1, 2),), (date(2024, 3, 3),)], sch) == [True, False]


# ------------------------------------------------ masks against Catalyst


def _catalyst(f):
    """The Column expression ``f`` stands for."""
    if isinstance(f, Not):
        return ~_catalyst(f.child)
    c = F.col(f.attribute[0])
    if isinstance(f, IsNull):
        return c.isNull()
    if isinstance(f, IsNotNull):
        return c.isNotNull()
    if isinstance(f, In):
        return c.isin(*[F.lit(v) for v in f.value])
    if isinstance(f, EqualNullSafe):
        return c.eqNullSafe(F.lit(f.value))
    ops = {EqualTo: c.__eq__, GreaterThan: c.__gt__, GreaterThanOrEqual: c.__ge__,
           LessThan: c.__lt__, LessThanOrEqual: c.__le__,
           StringStartsWith: c.startswith, StringEndsWith: c.endswith,
           StringContains: c.contains}
    return ops[type(f)](F.lit(f.value))


class TestArrowCompiler:
    """compile_filter_arrow must equal Catalyst on every cell: Arrow
    null == SQL NULL, else the same boolean."""

    SCH = StructType(
        [
            StructField("i", IntegerType(), True),
            StructField("s", StringType(), True),
            StructField("d", DoubleType(), True),
            StructField("f", FloatType(), True),
            StructField("b", BooleanType(), True),
            StructField("dt", DateType(), True),
            StructField("dec", DecimalType(38, 18), True),
        ]
    )

    # edge rows: nulls, NaN, float32-rounding pivot (0.1), empty string,
    # unicode ordering, negative/zero ints, DecimalType(38, 18)'s edge
    ROWS = [
        (1, "alpha", 1.5, 0.1, True, date(2024, 1, 1), Decimal("1.5")),
        (None, None, None, None, None, None, None),
        (0, "", float("nan"), float("nan"), False, date(1970, 1, 1), Decimal(0)),
        (-3, "é", 0.1, 2.5, True, date(2023, 12, 31), Decimal("-2.25")),
        (7, "alphabet", -2.0, -0.1, None, date(2024, 2, 29),
         Decimal("99999999999999999999.999999999999999999")),
        (2, "ALPHA", 0.30000000000000004, 0.3, False, None, None),
    ]

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
            In(("d",), (0.1, 1.5, None)),
            GreaterThan(("f",), 0.1),   # f32(0.1) > 0.1d must be True
            EqualNullSafe(("f",), 2.5),
            EqualTo(("f",), 0.3),
            In(("f",), (0.1, 2.5)),     # f32(0.1) is not 0.1d
            EqualTo(("b",), True),
            Not(EqualTo(("b",), True)),
            GreaterThan(("b",), False),
            In(("b",), (False, None)),
            EqualNullSafe(("b",), False),
            GreaterThan(("dt",), date(2024, 1, 1)),
            LessThanOrEqual(("dt",), date(2023, 12, 31)),
            In(("dt",), (date(2024, 1, 1), date(1970, 1, 1))),
            EqualNullSafe(("dt",), date(2024, 2, 29)),
            GreaterThanOrEqual(("dec",), Decimal("0")),
            EqualTo(("dec",), Decimal("1.5")),
            LessThan(("dec",), Decimal("-1")),
            In(("dec",), (Decimal("1.5"), Decimal("-2.25"))),
            EqualNullSafe(("dec",), Decimal("99999999999999999999.999999999999999999")),
        ]

    def test_cellwise_equivalence(self, spark):
        flts = self._filters()
        batch = _batch(self.ROWS, self.SCH)
        want = [list(r) for r in zip(*spark.createDataFrame(self.ROWS, self.SCH).select(
            *[_catalyst(f).alias(f"m{k}") for k, f in enumerate(flts)]).collect())]
        for flt, cells in zip(flts, want):
            am = compile_filter_arrow(flt, self.SCH)
            assert am is not None, flt
            assert am(batch).to_pylist() == cells, flt

    def test_unsupported_shapes_fall_back(self):
        # int literal outside the column type's range
        assert compile_filter_arrow(In(("i",), (1 << 40,)), self.SCH) is None
        assert compile_filter_arrow(EqualTo(("i",), 1 << 40), self.SCH) is None
        # a literal of another kind than the column's
        assert compile_filter_arrow(EqualTo(("b",), 1), self.SCH) is None
        assert compile_filter_arrow(EqualTo(("i",), True), self.SCH) is None
        # NaN set membership stays with Spark
        assert compile_filter_arrow(In(("f",), (0.1, float("nan"))), self.SCH) is None
        # one uncompilable filter poisons the whole conjunction
        assert compile_conjunction_arrow(
            [EqualTo(("i",), 1), In(("f",), (float("nan"),))], self.SCH) is None

    def test_conjunction_mask_matches_catalyst(self, spark):
        flts = [GreaterThan(("i",), -5), Not(EqualTo(("s",), "ALPHA")),
                LessThanOrEqual(("d",), 100.0), Not(EqualTo(("b",), False))]
        accept = compile_conjunction_arrow(flts, self.SCH)
        got = accept(_batch(self.ROWS, self.SCH)).to_pylist()
        cond = _catalyst(flts[0])
        for f in flts[1:]:
            cond = cond & _catalyst(f)
        want = [r[0] for r in spark.createDataFrame(self.ROWS, self.SCH).select(
            F.coalesce(cond, F.lit(False))).collect()]
        assert got == want and None not in got and True in got


# ---------------------------------------------------------- end to end


FLAT_XML = b"\n".join(
    [b"<catalog>"]
    + [
        b'<row id="%d"><name>%s</name><score>%s</score>'
        b"<flag>%s</flag><day>%s</day><amt>%s</amt></row>"
        % row
        for row in [
            (1, b"alpha", b"1.5", b"true", b"2024-01-01", b"1.5"),
            (2, b"beta", b"2.5", b"false", b"2024-02-01", b"2.25"),
            (3, b"gamma", b"", b"", b"2024-03-01", b""),  # score, flag, amt null
            (4, b"", b"4.0", b"true", b"", b"10"),  # name empty string, day null
            (5, b"delta&amp;co", b"5.25", b"0", b"2023-12-31", b"-1.5"),
        ]
    ]
    + [b'<row id="6"><score>0.5</score><flag>1</flag><day>2024-01-15</day>'
       b"<amt>0</amt></row>", b"</catalog>"]  # name null
)

TYPED = [_field("flag", BooleanType()), _field("day", DateType()),
         _field("amt", DecimalType(38, 18))]
TYPED_SCHEMA = StructType(SCHEMA.fields + TYPED)
# array field disqualifies FlatAssembler → exact ET path
NESTED_SCHEMA = StructType(
    SCHEMA.fields + TYPED + [StructField(
        "tags", ArrayType(StringType()), True,
        metadata={"xmlKind": "element", "xmlName": "tag"})])


def _conditions():
    """(condition, whether a ``Filter`` node stays above the scan): an
    ``OR`` and arithmetic are not pushed; every other condition is
    pushed whole, so Spark plans no ``Filter`` above the scan."""
    return [
        (F.col("id") > 2, False),
        (F.col("name") == "alpha", False),
        (F.col("name") != "alpha", False),  # Not(EqualTo): null name must drop
        (F.col("score").isNull(), False),
        (F.col("score").isNotNull() & (F.col("score") <= 2.5), False),
        (F.col("name").startswith("a") | F.col("name").endswith("ta"), True),
        (F.col("name").contains("lt"), False),
        (F.col("id").isin(2, 4, 6), False),
        (F.col("name").eqNullSafe(None), False),
        ((F.col("id") % 2 == 1), True),  # arithmetic: Spark post-filters
        (F.col("score").isin(1.5, 4.0), False),
    ]


def _typed_conditions():
    return [
        (F.col("flag"), False),
        (~F.col("flag"), False),
        (F.col("flag") == F.lit(False), False),
        (F.col("day") > F.lit(date(2024, 1, 15)), False),
        (F.col("day").isin(date(2024, 1, 1), date(2024, 3, 1)), False),
        (F.col("amt") >= Decimal("2.25"), False),
        (F.col("amt").isin(Decimal("1.5"), Decimal("10")), False),
        (F.col("amt") < 0, False),
    ]


def _xmlhive(spark, path, schema):
    """A fresh ``format("xmlhive")`` load — the entry whose scan Spark
    pushes filters into (``read_xml`` pushes none). Fresh per query: a
    filterless re-scan of one loaded frame reuses the last pushed plan
    (test_upstream_plan_reuse_leaks_pushed_filters)."""
    from xml_hive_spark.sources.xml_datasource import register

    register(spark)
    return (spark.read.format("xmlhive").schema(schema)
            .option("rowTag", "row").option("path", str(path)).load())


_SCHEMAS = pytest.mark.parametrize(
    "schema", [SCHEMA, TYPED_SCHEMA, NESTED_SCHEMA],
    ids=["flat-arrow-path", "flat-typed-path", "exact-et-path"])


def _cases(schema):
    typed = "flag" in schema.fieldNames()
    return _conditions() + (_typed_conditions() if typed else [])


@_SCHEMAS
def test_pushdown_equals_catalyst(spark, tmp_path, schema):
    p = tmp_path / "data.xml"
    p.write_bytes(FLAT_XML)
    # parquet round-trip of the SAME rows: Catalyst evaluates every
    # condition itself there — the semantics oracle
    pq = str(tmp_path / f"oracle-{len(schema)}.parquet")
    _xmlhive(spark, p, schema).write.mode("overwrite").parquet(pq)
    oracle = spark.read.parquet(pq)
    assert _xmlhive(spark, p, schema).count() == 6
    for cond, _ in _cases(schema):
        xml = _xmlhive(spark, p, schema)
        got = sorted(r["id"] for r in xml.filter(cond).select("id").collect())
        want = sorted(r["id"] for r in oracle.filter(cond).select("id").collect())
        assert got == want, f"filter {cond} pushed={got} oracle={want}"


@_SCHEMAS
def test_filter_node_above_scan_per_condition(spark, tmp_path, schema):
    """Which conditions the scan takes whole: a ``Filter`` node stays
    above ``BatchScan xmlhive`` exactly for those that are not pushed."""
    p = tmp_path / "data.xml"
    p.write_bytes(FLAT_XML)
    for cond, stays in _cases(schema):
        plan = (_xmlhive(spark, p, schema).filter(cond)
                ._jdf.queryExecution().executedPlan().toString())
        assert "BatchScan xmlhive" in plan
        assert ("Filter (" in plan) is stays, f"{cond}: {plan}"


def test_reader_accepts_and_returns_by_reference(tmp_path):
    from xml_hive_spark.sources.xml_datasource import XmlHiveReader

    p = tmp_path / "d.xml"
    p.write_bytes(FLAT_XML)
    reader = XmlHiveReader(SCHEMA, {"rowtag": "row", "path": str(p)},
                           pack=(4 << 20, 1))
    supported = EqualTo(("name",), "alpha")
    unsupported = EqualTo(("nope",), 1)
    leftover = list(reader.pushFilters([supported, unsupported]))
    assert leftover == [unsupported] and leftover[0] is unsupported
    assert reader._pushed == [supported]
    batches = [b for part in reader.partitions() for b in reader.read(part)]
    # only the name='alpha' record survived the scan
    assert sum(b.num_rows for b in batches) == 1


def test_float32_rounding_matches_catalyst(spark, tmp_path):
    """FloatType pushdown: text "0.1" parses to f64 0.1 but the column
    stores f32(0.1) > 0.1d — Spark's post-scan filter keeps the row, so
    the pushed filter must too (the mask compares the float32 column
    promoted to float64, and so does a float ``IN``)."""
    sch = StructType([_field("id", IntegerType(), "attribute"),
                      _field("v", FloatType())])
    p = tmp_path / "f32.xml"
    p.write_bytes(
        b"<r>"
        b'<row id="1"><v>0.1</v></row>'
        b'<row id="2"><v>0.2</v></row>'
        b'<row id="3"><v></v></row>'
        b'<row id="4"><v>0.5</v></row>'
        b"</r>"
    )
    pq = str(tmp_path / "f32.parquet")
    _xmlhive(spark, p, sch).write.mode("overwrite").parquet(pq)
    oracle = spark.read.parquet(pq)
    for cond in [F.col("v") > 0.1, F.col("v") <= 0.1, F.col("v") == 0.2,
                 F.col("v").eqNullSafe(0.2), F.col("v").isin(0.1, 0.2),
                 F.col("v").isin(0.5, 0.25)]:
        got = sorted(r["id"] for r in _xmlhive(spark, p, sch).filter(cond).collect())
        want = sorted(r["id"] for r in oracle.filter(cond).collect())
        assert got == want, (cond, got, want)


def _canon(rows):
    """Row tuples with NaN made comparable."""
    return [tuple("NaN" if isinstance(v, float) and math.isnan(v) else v
                  for v in r) for r in rows]


def _batch_rows(batches):
    return [tuple(r.values()) for b in batches for r in b.to_pylist()]


def read_pushed(schema, flts, split, row_tag, batch_rows=64):
    """The batches ``XmlHiveReader`` yields for one split with ``flts``
    pushed, the flat scan cut into ``batch_rows``-row batches."""
    from xml_hive_spark.flat import FlatAssembler
    from xml_hive_spark.sources.xml_datasource import XmlHiveReader, XmlInputPartition

    scan = FlatAssembler.fused_split_batches
    with pytest.MonkeyPatch.context() as m:
        m.setattr(FlatAssembler, "fused_split_batches",
                  lambda self, split, row_tag, raw_limit=None:
                  scan(self, split, row_tag, batch_rows, raw_limit))
        reader = XmlHiveReader(schema, {"rowTag": row_tag, "mode": "PERMISSIVE"})
        assert reader.pushFilters(flts) == []
        return list(reader.read(XmlInputPartition((split,))))


def test_columnar_filtered_equals_row_filtered(tmp_path):
    """Pushed filters over the flat scan's batches must keep exactly the
    rows of the exact span path that the same condition keeps —
    including on batches the columnar bulk checks punt to per-row
    conversion (entities, bad casts)."""
    from tests.test_fused_scan import _span_path_rows
    from xml_hive_spark.flat import FlatAssembler

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
        ([GreaterThan(("id",), 100), StringStartsWith(("name",), "a")],
         lambda i, n, s: i is not None and i > 100 and n is not None and n.startswith("a")),
        ([GreaterThan(("score",), 1.0)],          # NaN rows must survive
         lambda i, n, s: s is not None and (math.isnan(s) or s > 1.0)),
        ([Not(EqualTo(("name",), "alpha"))],
         lambda i, n, s: n is not None and n != "alpha"),
        ([IsNull(("score",)), LessThanOrEqual(("id",), 700)],
         lambda i, n, s: s is None and i is not None and i <= 700),
    ]
    for flts, keep in cases:
        got = read_pushed(SCHEMA, flts, split, "row")
        want = [r for r in ref if keep(*r)]
        assert all(b.num_rows for b in got)
        assert _canon(_batch_rows(got)) == _canon(want), flts


def test_float_in_filters_row_converted_batches(tmp_path):
    """A float ``IN`` pushed over per-row-converted batches: rows equal
    the filtered span path across entity-bearing batches and a mid-file
    layout drift, and no batch that the filter empties is yielded."""
    from tests.test_fused_scan import _span_path_rows
    from xml_hive_spark.flat import FlatAssembler

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
    got = read_pushed(SCHEMA, [In(("score",), (1.5, 3.0))], split, "row")
    assert all(b.num_rows for b in got)
    want = [r for r in _span_path_rows(asm, data, "row", [split]) if r[2] in (1.5, 3.0)]
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
    reuse is JVM-side. A ``USING xmlhive`` temp view leaks the same way
    (count 3 then 3, sum 3 where the answer is 45), and turning
    spark.sql.python.filterPushdown.enabled off is no way out: Spark
    then refuses every read of a reader that implements pushFilters.
    The README's mitigation is re-`load()` per query, or `read_xml`.
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

    # the SQL entry: a temp view's filterless queries reuse the filtered
    # plan too (right answers: 10 and 45)
    spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW leak_v (name STRING, qty INT) "
              f"USING xmlhive OPTIONS (rowTag 'item', path '{p}')")
    try:
        assert spark.sql("SELECT count(*) FROM leak_v WHERE qty < 3").first()[0] == 3
        assert spark.sql("SELECT count(*) FROM leak_v").first()[0] == 3
        assert spark.sql("SELECT sum(qty) FROM leak_v").first()[0] == 3
    finally:
        spark.catalog.dropTempView("leak_v")

    # with pushdown off, Spark refuses to read through this reader at all
    key = "spark.sql.python.filterPushdown.enabled"
    was = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        with pytest.raises(AnalysisException, match="DATA_SOURCE_PUSHDOWN_DISABLED"):
            load().count()
    finally:
        spark.conf.set(key, was)
    assert load().count() == 10
