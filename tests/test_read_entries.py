"""``read_xml`` and ``spark.read.format("xmlhive")`` are two entries to
one reader, ``xml_datasource.XmlHiveReader``. Over one input they must
return the same rows, in the same order, in the same number of
partitions. ``read_xml`` plans its splits on the driver and scans them
through one ``mapInArrow``, so no Python DataSource plan (and no pushed
filter) can be reused by a later query of the same frame. The same
harness, ``xml_datasource.scan``, reads Avro containers, and a lint
keeps the package off the RDD API. Another lint keeps one read dispatch
(``XmlHiveReader.read``) and one schema resolver
(``reader.resolve_schema``) behind every XML entry."""

from __future__ import annotations

import ast
import gzip
import json
from datetime import date, datetime, timedelta, timezone
from decimal import Context, Decimal
from pathlib import Path

import pytest
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from xml_hive_spark.reader import read_xml
from xml_hive_spark.sources.xml_datasource import (
    XmlHiveDataSource,
    register,
    task_frame,
)


def _field(name, dtype, kind="element"):
    return StructField(name, dtype, True, metadata={"xmlKind": kind, "xmlName": name})


FLAT = StructType([_field("id", IntegerType(), "attribute"),
                   _field("v", StringType())])

XSD = """<?xml version="1.0" encoding="UTF-8"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:complexType name="lineType">
    <xs:sequence>
      <xs:element name="sku" type="xs:string"/>
      <xs:element name="qty" type="xs:int"/>
    </xs:sequence>
    <xs:attribute name="no" type="xs:int"/>
  </xs:complexType>
  <xs:complexType name="orderType">
    <xs:sequence>
      <xs:element name="customer" type="xs:string"/>
      <xs:element name="priority" type="xs:int" minOccurs="0"/>
      <xs:element name="line" type="lineType" maxOccurs="unbounded"/>
    </xs:sequence>
    <xs:attribute name="id" type="xs:long"/>
  </xs:complexType>
</xs:schema>
"""


RICH_XSD = """<?xml version="1.0" encoding="UTF-8"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:complexType name="itemType">
    <xs:sequence>
      <xs:element name="price" type="xs:decimal"/>
      <xs:element name="shipped" type="xs:date" minOccurs="0"/>
      <xs:element name="at" type="xs:dateTime" minOccurs="0"/>
    </xs:sequence>
    <xs:attribute name="no" type="xs:int"/>
  </xs:complexType>
  <xs:complexType name="saleType">
    <xs:sequence>
      <xs:element name="placed" type="xs:date"/>
      <xs:element name="stamp" type="xs:dateTime"/>
      <xs:element name="total" type="xs:decimal"/>
      <xs:element name="item" type="itemType" maxOccurs="unbounded"/>
    </xs:sequence>
    <xs:attribute name="id" type="xs:long"/>
  </xs:complexType>
</xs:schema>
"""

# (placed, stamp, total, [(price, shipped, at)]): zoned, offset, naive
# and fractional-second stamps; decimals at DecimalType(38, 18)'s edges
RICH_SALES = [
    ("2024-02-29", "2024-02-29T23:59:59Z", "12.5",
     [("0.10", "2024-03-01", "2024-03-01T08:00:00+05:30")]),
    ("1999-12-31", "1999-12-31T12:00:00.123456", "-0.000000000000000001",
     [("1", None, None), ("2.000000000000000001", "2000-01-01", None)]),
    ("1970-01-01", "1970-01-01T00:00:00-08:00",
     "99999999999999999999.999999999999999999",
     [("-3.25", None, "1969-12-31T23:59:59.5Z")]),
    ("2038-01-19", "2038-01-19T03:14:08", "0", []),
]


def _flat_doc(ids, value=lambda i: f"x{i}") -> bytes:
    body = "".join(f'<r id="{i}"><v>{value(i)}</v></r>' for i in ids)
    return f"<log>{body}</log>".encode()


def _orders_doc(n: int) -> bytes:
    body = []
    for i in range(n):
        prio = f"<priority>{i % 5}</priority>" if i % 3 else ""
        lines = "".join(f'<line no="{k}"><sku>S{i}-{k}</sku><qty>{k + i}</qty></line>'
                        for k in range(1 + i % 3))
        body.append(f'<order id="{i}"><customer>c{i % 7}</customer>{prio}{lines}</order>')
    return ("<batch>" + "".join(body) + "</batch>").encode()


def _flat_columnar(d):
    (d / "a.xml").write_bytes(_flat_doc(range(400)))
    return str(d / "a.xml"), "r", {"schema": FLAT, "partition_bytes": 2048}, \
        {"partitionBytes": "2048"}, FLAT


def _flat_entities(d):
    # '&' in every batch sends it to the per-row conversion
    (d / "a.xml").write_bytes(_flat_doc(range(300), lambda i: f"a&amp;b{i}"))
    return str(d / "a.xml"), "r", {"schema": FLAT}, {}, FLAT


def _nested_xsd(d):
    (d / "o.xml").write_bytes(_orders_doc(60))
    (d / "o.xsd").write_text(XSD)
    xsd = str(d / "o.xsd")
    return str(d / "o.xml"), "order", {"xsd": xsd, "sep_tag_type": "orderType"}, \
        {"xsd": xsd, "sepTagType": "orderType"}, None


def _sales_doc() -> bytes:
    def opt(tag, v):
        return "" if v is None else f"<{tag}>{v}</{tag}>"

    body = []
    for i, (placed, stamp, total, items) in enumerate(RICH_SALES):
        lines = "".join(f'<item no="{k}"><price>{price}</price>'
                        f'{opt("shipped", shipped)}{opt("at", at)}</item>'
                        for k, (price, shipped, at) in enumerate(items))
        body.append(f'<sale id="{i}"><placed>{placed}</placed><stamp>{stamp}</stamp>'
                    f'<total>{total}</total>{lines}</sale>')
    return ("<sales>" + "".join(body) + "</sales>").encode()


def _nested_rich(d):
    (d / "s.xml").write_bytes(_sales_doc())
    (d / "s.xsd").write_text(RICH_XSD)
    xsd = str(d / "s.xsd")
    return str(d / "s.xml"), "sale", \
        {"xsd": xsd, "sep_tag_type": "saleType", "rich_types": True}, \
        {"xsd": xsd, "sepTagType": "saleType", "richTypes": "true"}, None


def _inferred(d):
    (d / "o.xml").write_bytes(_orders_doc(40))
    return str(d / "o.xml"), "order", {}, {}, None


def _gzip(d):
    (d / "a.xml.gz").write_bytes(gzip.compress(_flat_doc(range(200)), mtime=0))
    return str(d / "a.xml.gz"), "r", {"schema": FLAT}, {}, FLAT


def _packed(d):
    for i in range(12):
        (d / f"f{i:02d}.xml").write_bytes(_flat_doc(range(10 * i, 10 * i + 10)))
    return str(d), "r", {"schema": FLAT}, {}, FLAT


def _permissive_corrupt(d):
    doc = _flat_doc(range(20)).replace(b"</log>", b'<r id="oops"><v>bad</v></r>'
                                                  b'<r id="9"><v>y</r></log>')
    (d / "a.xml").write_bytes(doc)
    declared = StructType(FLAT.fields + [StructField("_bad", StringType())])
    return str(d / "a.xml"), "r", \
        {"schema": FLAT, "mode": "PERMISSIVE", "corrupt_column": "_bad"}, \
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_bad"}, declared


def _all_empty(d):
    (d / "a.xml").write_bytes(b"")
    (d / "b.xml").write_bytes(b"<log></log>")
    return str(d), "r", {"schema": FLAT}, {}, FLAT


CASES = {
    "flat-columnar": (_flat_columnar, 400),
    "flat-entities": (_flat_entities, 300),
    "nested-xsd": (_nested_xsd, 60),
    "nested-rich-types": (_nested_rich, len(RICH_SALES)),
    "inferred": (_inferred, 40),
    "gzip": (_gzip, 200),
    "packed-small-files": (_packed, 120),
    "permissive-corrupt": (_permissive_corrupt, 22),
    "all-empty": (_all_empty, 0),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_entries_return_same_rows_and_partitions(spark, tmp_path, case):
    make, n_rows = CASES[case]
    path, row_tag, kwargs, options, schema = make(tmp_path)
    register(spark)
    reader = spark.read.format("xmlhive")
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in {"rowTag": row_tag, "path": path, **options}.items():
        reader = reader.option(k, v)
    by_source = reader.load()
    by_read_xml = read_xml(spark, path, row_tag, **kwargs)
    got = by_read_xml.collect()
    assert len(got) == n_rows
    assert got == by_source.collect()
    assert by_read_xml.schema.fieldNames() == by_source.schema.fieldNames()
    assert by_read_xml.rdd.getNumPartitions() == by_source.rdd.getNumPartitions()


def _micros(stamp):
    """Epoch microseconds of an xs:dateTime; a stamp without a zone is
    local time, as pyspark's Arrow conversion reads a naive datetime."""
    if stamp is None:
        return None
    at = datetime.fromisoformat(stamp.replace("Z", "+00:00"))
    return (at.astimezone(timezone.utc) - EPOCH) // timedelta(microseconds=1)


def _decimal(text):
    return format(Decimal(text).quantize(Decimal(1).scaleb(-18),
                                         context=Context(prec=38)), "f")


def _day(text):
    return None if text is None else date.fromisoformat(text)


EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def test_rich_types_values_on_both_entries(spark, tmp_path):
    """Dates, timestamps and decimals, top-level and nested, read the
    same values on both entries: the values the Python DataSource
    worker's own tuple conversion gave the ``format("xmlhive")`` entry."""
    path, row_tag, kwargs, options, _ = _nested_rich(tmp_path)
    register(spark)
    reader = spark.read.format("xmlhive")
    for k, v in {"rowTag": row_tag, "path": path, **options}.items():
        reader = reader.option(k, v)
    want = [
        (i, _day(placed), _micros(stamp), _decimal(total),
         [(k, _decimal(price), _day(shipped), _micros(at))
          for k, (price, shipped, at) in enumerate(items)])
        for i, (placed, stamp, total, items) in enumerate(RICH_SALES)
    ]
    canon = ["id", "placed", "unix_micros(stamp)", "cast(total AS string)",
             "transform(item, i -> struct(i.no, cast(i.price AS string),"
             " i.shipped, unix_micros(i.at)))"]
    for df in (reader.load(), read_xml(spark, path, row_tag, **kwargs)):
        got = [(r[0], r[1], r[2], r[3], [tuple(x) for x in r[4]])
               for r in df.selectExpr(*canon).collect()]
        assert got == want


def test_filtered_then_full_count_on_one_frame(spark, tmp_path):
    """One ``read_xml`` frame answers a filtered count and then a full
    count: 3 then 10. A Python DataSource scan reuses the filtered
    query's pushed-filter plan for the second (3 then 3, pinned in
    tests/test_pushdown.py); read_xml plans no DataSource scan."""
    p = tmp_path / "items.xml"
    p.write_bytes(
        b"<root>"
        + b"".join(f"<item><name>n{i}</name><qty>{i}</qty></item>".encode()
                   for i in range(10))
        + b"</root>")
    schema = StructType([_field("name", StringType()), _field("qty", IntegerType())])
    df = read_xml(spark, str(p), "item", schema=schema)
    assert df.filter("qty < 3").count() == 3
    assert df.count() == 10
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan xmlhive" not in plan
    assert "MapInArrow xmlhive_scan" in plan


def test_each_partition_carries_only_its_task(spark):
    """``scan``'s input: partition *i* holds one row, task *i*."""
    tasks = [((f"/d/f{i}.xml", 0, 10 + i, "TEXT", 0),) for i in range(7)]
    frame = task_frame(spark, tasks)
    assert frame.rdd.getNumPartitions() == 7
    parts = frame.rdd.glom().collect()
    assert [[json.loads(r.task) for r in p] for p in parts] == \
        [[[list(s) for s in t]] for t in tasks]


def test_unbound_source_refuses_to_plan_paths(tmp_path):
    """Planning packs small files by a session's numbers, so a source
    that ``register`` did not bind to a session refuses a path read."""
    (tmp_path / "a.xml").write_bytes(_flat_doc(range(3)))
    reader = XmlHiveDataSource({"rowTag": "r", "path": str(tmp_path)}).reader(FLAT)
    with pytest.raises(ValueError, match="register"):
        reader.partitions()


def test_scan_command_does_not_grow_with_tasks(spark, tmp_path):
    """Each read task reaches its Spark task through its input row: the
    pickled Python command of a 40-file read is the size of a 1-file
    read's."""
    for i in range(40):
        (tmp_path / f"f{i:02d}.xml").write_bytes(_flat_doc(range(i, i + 1)))

    def command_bytes(path):
        df = read_xml(spark, path, "r", schema=FLAT, partition_bytes=64)
        plan = df._jdf.queryExecution().analyzed()
        return plan.functionExpr().func().command().length(), df

    one, _ = command_bytes(str(tmp_path / "f00.xml"))
    many, df = command_bytes(str(tmp_path))
    assert df.rdd.getNumPartitions() > 1
    assert many == one


_RDD_CALLS = {"parallelize", "mapPartitions", "mapPartitionsWithIndex", "flatMap",
              "foreachPartition", "foreach", "textFile", "wholeTextFiles",
              "binaryFiles", "emptyRDD"}


def rdd_api_sites(src: str) -> set[tuple[str, str]]:
    """(enclosing function, name) of every RDD-API use in ``src``: an
    ``.rdd`` attribute, or a call of an RDD method or RDD source."""
    sites = set()

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if isinstance(child, ast.Attribute) and child.attr == "rdd":
                sites.add((fn, "rdd"))
            elif (isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute)
                    and child.func.attr in _RDD_CALLS):
                sites.add((fn, child.func.attr))
            visit(child, fn)

    visit(ast.parse(src), "<module>")
    return sites


def test_no_rdd_api_outside_task_frame_lint():
    """Package code makes no RDD-API Python call, so every Python task
    runs in one worker pool: scans go through ``xml_datasource.scan`` and
    writes through ``mapInArrow``. ``task_frame`` alone parallelizes, and
    its RDD becomes rows in the JVM. Red on a seeded violation, green on
    the package."""
    seeded = (
        "def write(df):\n"
        "    df.rdd.mapPartitionsWithIndex(lambda i, rows: iter(())).count()\n"
        "def read(spark, groups):\n"
        "    rdd = spark.sparkContext.parallelize(groups).flatMap(list)\n"
        "    return spark.createDataFrame(rdd)\n"
        "sink = lambda df: df.foreachPartition(print)\n"
    )
    assert rdd_api_sites(seeded) == {
        ("write", "rdd"), ("write", "mapPartitionsWithIndex"),
        ("read", "parallelize"), ("read", "flatMap"),
        ("<module>", "foreachPartition"),
    }

    pkg = Path(__file__).resolve().parent.parent / "xml_hive_spark"
    found = {
        (str(p.relative_to(pkg)), fn, name)
        for p in sorted(pkg.rglob("*.py"))
        for fn, name in rdd_api_sites(p.read_text())
    }
    assert found == {("sources/xml_datasource.py", "task_frame", "parallelize"),
                     ("sources/xml_datasource.py", "task_frame", "rdd")}


_ONE_READER_CALLS = {"try_create", "_read_split", "xsd_to_struct", "infer_xml_schema"}


def one_reader_sites(src: str) -> set[tuple[str, str, str]]:
    """(enclosing class, enclosing function, name) of every call in
    ``src`` of the flat/nested read dispatch (``FlatAssembler.try_create``,
    ``_read_split``) or a schema derivation (``xsd_to_struct``,
    ``infer_xml_schema``); the class is "" outside one."""
    sites = set()

    def visit(node, cls, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                visit(child, child.name, fn)
                continue
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, cls, child.name)
                continue
            if isinstance(child, ast.Call):
                f = child.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name in _ONE_READER_CALLS:
                    sites.add((cls, fn, name))
            visit(child, cls, fn)

    visit(ast.parse(src), "", "<module>")
    return sites


def test_one_reader_lint():
    """Every XML entry reads through ``XmlHiveReader.read``, the one
    flat/nested dispatch, and resolves a schema through
    ``reader.resolve_schema``: no other package code calls
    ``FlatAssembler.try_create``, ``_read_split``, ``xsd_to_struct`` or
    ``infer_xml_schema``. Red on a seeded copy of a second dispatch and
    resolver, green on the package."""
    seeded = (
        "class XmlStreamSource:\n"
        "    def _rich_schema(self):\n"
        "        return xsd_to_struct(self.xsd, self.sep_type)\n"
        "class XmlStreamReader:\n"
        "    def read(self, part):\n"
        "        asm = FlatAssembler.try_create(self._schema, self._mode)\n"
        "        if asm is None:\n"
        "            yield from _read_split(part, self._row_tag, self._schema)\n"
        "def schema(path, tag):\n"
        "    return infer.infer_xml_schema(path, tag)\n"
    )
    assert one_reader_sites(seeded) == {
        ("XmlStreamSource", "_rich_schema", "xsd_to_struct"),
        ("XmlStreamReader", "read", "try_create"),
        ("XmlStreamReader", "read", "_read_split"),
        ("", "schema", "infer_xml_schema"),
    }

    pkg = Path(__file__).resolve().parent.parent / "xml_hive_spark"
    found = {
        (str(p.relative_to(pkg)), *site)
        for p in sorted(pkg.rglob("*.py"))
        for site in one_reader_sites(p.read_text())
    }
    assert found == {
        ("sources/xml_datasource.py", "XmlHiveReader", "read", "try_create"),
        ("sources/xml_datasource.py", "XmlHiveReader", "read", "_read_split"),
        ("reader.py", "", "resolve_schema", "xsd_to_struct"),
        ("reader.py", "", "resolve_schema", "infer_xml_schema"),
    }
