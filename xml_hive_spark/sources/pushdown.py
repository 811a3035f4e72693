"""Filter pushdown for the ``xmlhive`` Python DataSource.

The reference has no predicate interface at all — ``nextRecord`` always
assembles the full record and Hive filters after deserialization
(AvroTransormer.scala:77-170; SURVEY.md §4.1). Spark 4.1's Python
DataSource ``pushFilters`` API lets our scan do better: predicates on
top-level scalar fields are evaluated executor-side on the extracted
row BEFORE it is appended to an Arrow batch, so non-matching records
never cross the Python→JVM boundary. At 100 TB a selective predicate
cuts the dominant cost of the XML path (Arrow materialization + row
transfer) by the filter's selectivity; the byte-scan itself is already
sequential-IO-bound and unavoidable.

Semantics contract (``DataSourceReader.pushFilters``): filters NOT
returned to Spark are fully handled here — Spark does not re-apply
them. We therefore implement exact SQL three-valued logic: every
compiled filter evaluates to True/False/None (None = SQL NULL), a row
survives only if every accepted filter is exactly True, and ``Not``
maps None → None (so ``NOT (null = 1)`` correctly drops the row).
Anything we cannot prove we evaluate identically to Spark is returned
as unsupported and Spark applies it post-scan.
"""

from __future__ import annotations

import math
from typing import Any, Callable, Optional

from pyspark.sql.datasource import (
    EqualNullSafe,
    EqualTo,
    Filter,
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
    BooleanType,
    ByteType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
)

# Tri-valued predicate over a row tuple: True / False / None (SQL NULL).
RowPredicate = Callable[[tuple], Optional[bool]]

_COMPARABLE = (
    StringType,
    IntegerType,
    LongType,
    ShortType,
    ByteType,
    FloatType,
    DoubleType,
    DecimalType,
    BooleanType,
    DateType,
)

_STRING_OPS = (StringStartsWith, StringEndsWith, StringContains)


def _field_index(attr: tuple, schema: StructType):
    """Top-level scalar column index for a filter attribute, else None."""
    if len(attr) != 1:
        return None  # nested paths: the exact parse path handles structs,
        # but fast/exact rows differ in representation — stay conservative
    names = [f.name for f in schema.fields]
    try:
        i = names.index(attr[0])
    except ValueError:
        return None
    if not isinstance(schema.fields[i].dataType, _COMPARABLE):
        return None
    return i


def _is_nan(v: Any) -> bool:
    return isinstance(v, float) and math.isnan(v)


def _f32(v: float) -> float:
    """Round-trip through IEEE float32 — the value Spark actually
    compares. The row pipeline parses XML text with Python ``float``
    (float64) but a FloatType column materializes as float32; Spark's
    own filter would see the ROUNDED value (promoted back to double),
    so an unrounded comparison can disagree on literals that fall
    between a value's float64 parse and its float32 rounding
    (e.g. text "0.1" vs literal 0.1: f64 0.1 > 0.1 is False, but
    f32(0.1) = 0.100000001... > 0.1 is True)."""
    import struct

    return struct.unpack("<f", struct.pack("<f", v))[0]


def compile_filter(f: Filter, schema: StructType) -> RowPredicate | None:
    """Compile one pushed filter to a tri-valued row predicate.

    Returns None when the filter (or its column/type) is unsupported —
    the caller must hand it back to Spark.
    """
    if isinstance(f, Not):
        child = compile_filter(f.child, schema)
        if child is None:
            return None

        def neg(row, _c=child):
            v = _c(row)
            return None if v is None else (not v)

        return neg

    attr = getattr(f, "attribute", None)
    if attr is None:
        return None
    idx = _field_index(attr, schema)
    if idx is None:
        return None
    dtype = schema.fields[idx].dataType

    if isinstance(f, IsNull):
        return lambda row, _i=idx: row[_i] is None
    if isinstance(f, IsNotNull):
        return lambda row, _i=idx: row[_i] is not None

    if isinstance(f, _STRING_OPS):
        if not isinstance(dtype, StringType):
            return None
        needle = f.value
        if not isinstance(needle, str):
            return None
        if isinstance(f, StringStartsWith):
            op = str.startswith
        elif isinstance(f, StringEndsWith):
            op = str.endswith
        else:
            op = str.__contains__

        def str_pred(row, _i=idx, _n=needle, _op=op):
            v = row[_i]
            return None if v is None else _op(v, _n)

        return str_pred

    if isinstance(f, EqualNullSafe):
        lit = f.value
        if _is_nan(lit):
            # Spark: NaN <=> NaN is TRUE; Python ==: NaN != NaN — defer,
            # mirroring the NaN-literal deferral in the cmp path below
            return None

        r32 = isinstance(dtype, FloatType)

        def null_safe_eq(row, _i=idx, _l=lit, _r=r32):
            v = row[_i]
            if v is None or _l is None:
                return v is None and _l is None
            if _r and not _is_nan(v):
                v = _f32(v)
            return v == _l

        return null_safe_eq

    if isinstance(f, In):
        lits = f.value
        if lits is None or any(_is_nan(x) for x in lits):
            return None  # NaN set-membership: let Spark decide
        has_null = any(x is None for x in lits)
        vals = tuple(x for x in lits if x is not None)

        r32 = isinstance(dtype, FloatType)

        def in_pred(row, _i=idx, _v=vals, _hn=has_null, _r=r32):
            x = row[_i]
            if x is None:
                return None
            if _r and not _is_nan(x):
                x = _f32(x)
            if x in _v:
                return True
            # IN with a NULL element is NULL when no element matches
            return None if _hn else False

        return in_pred

    cmp_ops = {
        EqualTo: lambda a, b: a == b,
        GreaterThan: lambda a, b: a > b,
        GreaterThanOrEqual: lambda a, b: a >= b,
        LessThan: lambda a, b: a < b,
        LessThanOrEqual: lambda a, b: a <= b,
    }
    for cls, op in cmp_ops.items():
        if type(f) is cls:
            lit = f.value
            if lit is None:
                return None  # comparison to NULL literal: always NULL;
                # rare enough to leave with Spark
            if _is_nan(lit):
                return None  # Spark's NaN ordering differs from Python's
            if isinstance(dtype, (FloatType, DoubleType)):
                # row value may be NaN: Spark treats NaN as largest and
                # NaN == NaN true; Python disagrees — defer those rows'
                # semantics by being exact here
                r32 = isinstance(dtype, FloatType)

                def fcmp(row, _i=idx, _l=lit, _op=op, _cls=cls, _r=r32):
                    v = row[_i]
                    if v is None:
                        return None
                    if _is_nan(v):
                        if _cls is EqualTo:
                            return False  # lit is not NaN (checked above)
                        # NaN is greater than everything in Spark ordering
                        return _cls in (GreaterThan, GreaterThanOrEqual)
                    if _r:
                        v = _f32(v)
                    return _op(v, _l)

                return fcmp

            def cmp_pred(row, _i=idx, _l=lit, _op=op):
                v = row[_i]
                return None if v is None else _op(v, _l)

            return cmp_pred

    return None


def compile_conjunction(preds: list[RowPredicate]) -> RowPredicate | None:
    """AND of compiled predicates; a row survives only on all-True."""
    if not preds:
        return None
    if len(preds) == 1:
        p = preds[0]
        return lambda row, _p=p: _p(row) is True

    def conj(row, _ps=tuple(preds)):
        for p in _ps:
            if p(row) is not True:
                return False
        return True

    return conj


# --------------------------------------------------------------- columnar
# Arrow-compute twins of the row predicates. When every accepted filter
# compiles, predicate-pushed scans keep the COLUMNAR fused-scan kernel
# (~2.6x the row path — SCALE.md) and filter each RecordBatch with a
# vectorized Kleene mask instead of evaluating a Python predicate per
# row. Tri-valued semantics map exactly: pyarrow nulls are SQL NULL,
# comparisons/string ops are null-propagating, ``and_kleene`` /
# ``invert`` implement SQL AND/NOT, and the final acceptance mask is
# ``fill_null(False)`` — precisely compile_conjunction's "row survives
# only on all-True". Per-filter equivalence with the row compiler is
# pinned value-by-value in tests/test_pushdown.py.

_PA_INTS = {IntegerType: "int32", LongType: "int64",
            ShortType: "int16", ByteType: "int8"}


def compile_filter_arrow(f: Filter, schema: StructType):
    """Compile one pushed filter to a Kleene mask function
    ``RecordBatch -> BooleanArray`` (null = SQL NULL), or None when
    this shape/type has no columnar compilation (the flat scan then
    converts the batch per row and filters the tuples with
    :func:`compile_filter`'s predicate, which decides acceptance either
    way)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(f, Not):
        child = compile_filter_arrow(f.child, schema)
        if child is None:
            return None
        return lambda b, _c=child: pc.invert(_c(b))  # invert keeps null

    attr = getattr(f, "attribute", None)
    if attr is None:
        return None
    idx = _field_index(attr, schema)
    if idx is None:
        return None
    dtype = schema.fields[idx].dataType
    is_str = isinstance(dtype, StringType)
    is_int = type(dtype) in _PA_INTS
    is_flt = isinstance(dtype, (FloatType, DoubleType))
    if not (is_str or is_int or is_flt):
        # bool/decimal/date columns are converted per row anyway
        # (FlatAssembler._columnar_ok), so the row predicate filters them
        return None

    def lit_ok(lit):
        if isinstance(lit, bool):
            return False
        if is_str:
            return isinstance(lit, str)
        if is_int:
            return isinstance(lit, int)
        return isinstance(lit, (int, float))

    if isinstance(f, IsNull):
        return lambda b, _i=idx: pc.is_null(b.column(_i))
    if isinstance(f, IsNotNull):
        return lambda b, _i=idx: pc.is_valid(b.column(_i))

    if isinstance(f, _STRING_OPS):
        if not is_str or not isinstance(f.value, str):
            return None
        # utf8 byte-wise ops: code-point-exact for prefix/suffix/substr
        # (a valid utf8 needle can only match at code-point boundaries)
        op = (pc.starts_with if isinstance(f, StringStartsWith)
              else pc.ends_with if isinstance(f, StringEndsWith)
              else pc.match_substring)
        return lambda b, _i=idx, _op=op, _n=f.value: _op(b.column(_i),
                                                         pattern=_n)

    if isinstance(f, EqualNullSafe):
        lit = f.value
        if lit is None:
            return lambda b, _i=idx: pc.is_null(b.column(_i))
        if not lit_ok(lit) or _is_nan(lit):
            return None
        # NaN rows: pc.equal(NaN, non-NaN lit) is False — matches the
        # row predicate (Python == on NaN) exactly
        return lambda b, _i=idx, _l=lit: pc.fill_null(
            pc.equal(b.column(_i), _l), False)

    if isinstance(f, In):
        lits = f.value
        if lits is None or is_flt:
            # float set-membership filters per-row tuples: is_in would
            # cast the value set to the column's float32, changing which
            # literals are representable
            return None
        if any(x is not None and not lit_ok(x) for x in lits):
            return None
        has_null = any(x is None for x in lits)
        vals = [x for x in lits if x is not None]
        patype = pa.string() if is_str else getattr(pa, _PA_INTS[type(dtype)])()
        try:
            value_set = pa.array(vals, type=patype)
        except (pa.ArrowInvalid, OverflowError):
            return None  # literal outside the column type's range

        def in_mask(b, _i=idx, _vs=value_set, _hn=has_null):
            col = b.column(_i)
            # is_in maps null input to False — re-inject null explicitly
            member = pc.is_in(col, value_set=_vs)
            null_b = pa.scalar(None, pa.bool_())
            if _hn:
                # no-match with a NULL element is NULL, match is True
                return pc.if_else(member, pa.scalar(True), null_b)
            return pc.if_else(pc.is_valid(col), member, null_b)

        return in_mask

    cmp_ops = {
        EqualTo: pc.equal,
        GreaterThan: pc.greater,
        GreaterThanOrEqual: pc.greater_equal,
        LessThan: pc.less,
        LessThanOrEqual: pc.less_equal,
    }
    for cls, pcop in cmp_ops.items():
        if type(f) is cls:
            lit = f.value
            if lit is None or _is_nan(lit) or not lit_ok(lit):
                return None
            if is_flt:
                # IEEE comparisons put NaN-False everywhere; Spark orders
                # NaN greater than everything. EqualTo/LT/LE agree with
                # IEEE (lit is never NaN here); GT/GE need the override.
                # float32 columns promote to float64 against the literal
                # — the rounded value Spark compares (see _f32).
                on_nan = cls in (GreaterThan, GreaterThanOrEqual)

                def fmask(b, _i=idx, _l=float(lit), _op=pcop, _t=on_nan):
                    col = b.column(_i)
                    return pc.if_else(
                        pc.is_nan(col), pa.scalar(_t),
                        _op(col, pa.scalar(_l, pa.float64())),
                    )

                return fmask
            return lambda b, _i=idx, _l=lit, _op=pcop: _op(b.column(_i), _l)

    return None


def compile_conjunction_arrow(filters: list[Filter], schema: StructType):
    """AND of arrow-compiled filters → acceptance mask (no nulls), or
    None if any accepted filter lacks a columnar compilation."""
    if not filters:
        return None
    fns = []
    for f in filters:
        fn = compile_filter_arrow(f, schema)
        if fn is None:
            return None
        fns.append(fn)

    def accept(batch, _fns=tuple(fns)):
        import pyarrow.compute as pc

        m = _fns[0](batch)
        for fn in _fns[1:]:
            m = pc.and_kleene(m, fn(batch))
        return pc.fill_null(m, False)

    return accept
