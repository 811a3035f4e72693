"""Filter pushdown for the ``xmlhive`` Python DataSource.

The reference has no predicate interface at all — ``nextRecord`` always
assembles the full record and Hive filters after deserialization
(AvroTransormer.scala:77-170; SURVEY.md §4.1). Spark 4.1's Python
DataSource ``pushFilters`` API hands the scan predicates on top-level
scalar fields; each accepted one compiles to an Arrow compute mask, and
the reader drops the rows the conjunction rejects from every Arrow batch
it yields, flat or nested, so they never cross the Python→JVM boundary.

Semantics contract (``DataSourceReader.pushFilters``): filters NOT
returned to Spark are fully handled here — Spark does not re-apply
them. The masks therefore implement exact SQL three-valued logic: a
mask cell is True/False/null (null = SQL NULL), comparisons and string
ops propagate nulls, ``invert`` maps null to null (so ``NOT (null = 1)``
drops the row), and a row survives only if every accepted filter is
exactly True. Anything we cannot prove we evaluate identically to Spark
is returned as unsupported and Spark applies it post-scan.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal
from typing import Any

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

# column type → the Python literal classes its filters compare against
_LITERALS = {
    StringType: (str,),
    IntegerType: (int,),
    LongType: (int,),
    ShortType: (int,),
    ByteType: (int,),
    FloatType: (int, float),
    DoubleType: (int, float),
    DecimalType: (Decimal, int),
    BooleanType: (bool,),
    DateType: (date,),
}

_STRING_OPS = (StringStartsWith, StringEndsWith, StringContains)


def _field_index(attr: tuple, schema: StructType):
    """Top-level scalar column index for a filter attribute, else None."""
    if len(attr) != 1:
        return None  # nested paths stay with Spark
    names = [f.name for f in schema.fields]
    try:
        i = names.index(attr[0])
    except ValueError:
        return None
    if type(schema.fields[i].dataType) not in _LITERALS:
        return None
    return i


def _is_nan(v: Any) -> bool:
    return isinstance(v, float) and math.isnan(v)


def _literal_ok(lit, dtype) -> bool:
    """A non-null, non-NaN literal of the kind a ``dtype`` column holds."""
    if lit is None or _is_nan(lit) or isinstance(lit, datetime):
        return False
    if isinstance(lit, bool) != isinstance(dtype, BooleanType):
        return False
    return isinstance(lit, _LITERALS[type(dtype)])


def compile_filter_arrow(f: Filter, schema: StructType):
    """Compile one pushed filter to a Kleene mask function
    ``RecordBatch -> BooleanArray`` (null = SQL NULL), or None when the
    filter (or its column/type/literal) is unsupported — the caller must
    hand it back to Spark."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_type

    if isinstance(f, Not):
        child = compile_filter_arrow(f.child, schema)
        if child is None:
            return None
        return lambda b, _c=child: pc.invert(_c(b))  # invert keeps null

    attr = getattr(f, "attribute", None)
    idx = None if attr is None else _field_index(attr, schema)
    if idx is None:
        return None
    dtype = schema.fields[idx].dataType

    if isinstance(f, IsNull):
        return lambda b, _i=idx: pc.is_null(b.column(_i))
    if isinstance(f, IsNotNull):
        return lambda b, _i=idx: pc.is_valid(b.column(_i))

    if isinstance(f, _STRING_OPS):
        if not isinstance(dtype, StringType) or not isinstance(f.value, str):
            return None
        # utf8 byte-wise ops: code-point-exact for prefix/suffix/substr
        # (a valid utf8 needle can only match at code-point boundaries)
        op = (pc.starts_with if isinstance(f, StringStartsWith)
              else pc.ends_with if isinstance(f, StringEndsWith)
              else pc.match_substring)
        return lambda b, _i=idx, _op=op, _n=f.value: _op(b.column(_i),
                                                         pattern=_n)

    # float columns compare as float64: a FloatType column's float32
    # value promoted to double is the value Spark compares
    is_flt = isinstance(dtype, (FloatType, DoubleType))
    atype = pa.float64() if is_flt else to_arrow_type(dtype)

    def column(b, _i=idx, _t=atype):
        col = b.column(_i)
        return col if col.type == _t else col.cast(_t)

    if isinstance(f, EqualNullSafe):
        if f.value is None:
            return lambda b, _i=idx: pc.is_null(b.column(_i))
        if not _literal_ok(f.value, dtype):
            return None  # a NaN literal: Spark's NaN <=> NaN is TRUE
        try:
            lit = pa.scalar(f.value, atype)
        except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError):
            return None
        # NaN rows: equal(NaN, non-NaN lit) is False, as in Spark
        return lambda b: pc.fill_null(pc.equal(column(b), lit), False)

    if isinstance(f, In):
        lits = f.value
        if lits is None or any(x is not None and not _literal_ok(x, dtype)
                               for x in lits):
            return None  # a NaN element: set membership stays with Spark
        has_null = any(x is None for x in lits)
        try:
            value_set = pa.array([x for x in lits if x is not None], atype)
        except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError):
            return None  # literal outside the column type's range
        null_b = pa.scalar(None, pa.bool_())

        def in_mask(b, _hn=has_null):
            col = column(b)
            # is_in maps null input to False — re-inject null explicitly
            member = pc.is_in(col, value_set=value_set)
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
    op = cmp_ops.get(type(f))
    if op is None or not _literal_ok(f.value, dtype):
        return None
    try:
        lit = pa.scalar(f.value, atype)
    except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError):
        return None
    if is_flt and type(f) in (GreaterThan, GreaterThanOrEqual):
        # IEEE comparisons are False on NaN; Spark orders NaN above
        # every other value, so NaN rows pass > and >= (EqualTo, < and
        # <= agree with IEEE: the literal is never NaN here)
        return lambda b: pc.if_else(pc.is_nan(b.column(idx)),
                                    pa.scalar(True), op(column(b), lit))
    return lambda b: op(column(b), lit)


def compile_conjunction_arrow(filters: list[Filter], schema: StructType):
    """AND of arrow-compiled filters → acceptance mask (no nulls), or
    None if there are no filters or any of them lacks a compilation."""
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
