"""XML source exercised through the query registry.

The reference's whole purpose is XML→table; this registry entry runs the
``xmlhive`` DataSource end-to-end on the repo's book-catalog fixture so
the driver's correctness run exercises the source path too (rows-only —
DuckDB has no XML reader to oracle against; golden-row assertions live in
tests/test_reader.py)."""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xml_hive_spark.operators import dsum, query, t

_FIXTURE = Path(__file__).resolve().parent.parent.parent / "tests" / "fixtures" / "books"

from xml_hive_spark.session import owned_store, scratch_dir as _scratch


@query(
    "xml_scan_books",
    oracle="""
SELECT * FROM (VALUES
  ('Streaming', CAST(1 AS BIGINT), CAST(42.0 AS DOUBLE), CAST(1 AS BIGINT)),
  ('Systems',   CAST(2 AS BIGINT), CAST(24.88 AS DOUBLE), CAST(2 AS BIGINT))
) AS t(genre, n_books, avg_price, n_tags)
""",
    tags=("xml", "source"),
)
def xml_scan_books(spark: SparkSession, sf: str) -> DataFrame:
    """XSD-schema'd XML scan (reference capability A9-A19) + a relational
    query on top: genre rollup of the parsed catalog.

    GOLDEN-CONSTANTS oracle: DuckDB cannot read XML, but the fixture is
    static, so the oracle pins the parsed aggregate to hand-verified
    literals — the same golden rows tests/test_reader.py asserts,
    now enforced by the driver's value hash as well (the same
    treatment that upgraded xml_scan_bench from rows-only, xmlio.py
    bench oracle: there derived, here enumerable)."""
    from xml_hive_spark.reader import read_xml

    df = read_xml(
        spark,
        str(_FIXTURE / "data.xml"),
        row_tag="book",
        xsd=_FIXTURE / "schema.xsd",
        sep_tag_type="bookType",
    )
    return (
        df.groupBy("genre")
        .agg(
            F.count(F.lit(1)).alias("n_books"),
            F.round(F.avg("price"), 2).alias("avg_price"),
            F.sum(F.size(F.coalesce("tag", F.array()))).alias("n_tags"),
        )
        .orderBy("genre")
    )

@query(
    "xml_scan_inferred",
    oracle="""
SELECT * FROM (VALUES
  ('Streaming', CAST(1 AS BIGINT), CAST(42.0 AS DOUBLE)),
  ('Systems',   CAST(2 AS BIGINT), CAST(24.88 AS DOUBLE))
) AS t(genre, n_books, avg_price)
""",
    tags=("xml", "source", "infer"),
)
def xml_scan_inferred(spark: SparkSession, sf: str) -> DataFrame:
    """XML scan with NO schema and NO XSD — sampled inference (infer.py),
    a capability the reference lacks outright (xml.schema.location is
    mandatory, AvroTransormer.scala:35,57). Same aggregate as
    xml_scan_books, so the two entries cross-check: inference must
    reproduce the XSD-declared read's numbers. GOLDEN-CONSTANTS oracle
    (static fixture — see xml_scan_books); the inference lattice itself
    is property-tested in tests/test_infer.py."""
    from xml_hive_spark.sources.xml_datasource import register

    register(spark)
    df = (
        spark.read.format("xmlhive")
        .option("rowTag", "book")
        .option("path", str(_FIXTURE / "data.xml"))
        .load()
    )
    return (
        df.groupBy("genre")
        .agg(
            F.count(F.lit(1)).alias("n_books"),
            F.round(F.avg("price"), 2).alias("avg_price"),
        )
        .orderBy("genre")
    )


@query(
    "xml_sql_ddl",
    oracle="""
SELECT * FROM (VALUES
  ('Streaming', CAST(1 AS BIGINT), CAST(42.0 AS DOUBLE)),
  ('Systems',   CAST(2 AS BIGINT), CAST(24.88 AS DOUBLE))
) AS t(genre, n_books, avg_price)
""",
    tags=("xml", "source", "sql", "ddl"),
)
def xml_sql_ddl(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's ONLY user entry point is SQL DDL — ``CREATE
    EXTERNAL TABLE ... ROW FORMAT SERDE 'AvroFromXmlSerde'`` with four
    ``xml.*`` table properties (AvroFromXmlSerde.scala:13-26). The Spark
    twin: register the ``xmlhive`` Python DataSource, declare the table
    in pure SQL with the same four options, and query it with plain
    SELECT — no DataFrame reader API anywhere in the user path.

    Spark limitation (probed, see tests/test_xml_sql_ddl.py): persistent
    ``CREATE TABLE ... USING xmlhive`` parses and stores the schema, but
    at scan time Spark re-instantiates a Python DataSource with EMPTY
    options, so the reader never sees rowTag/path — upstream gap in the
    catalog↔Python-DataSource options plumbing. ``CREATE TEMPORARY VIEW
    ... USING xmlhive OPTIONS (...)`` forwards options correctly and is
    the supported DDL form (same UX position as the reference's DDL:
    declare once in SQL, then everything is SELECT). GOLDEN-CONSTANTS
    oracle (static fixture — see xml_scan_books); the same golden rows
    are pinned in pytest."""
    from xml_hive_spark.sources.xml_datasource import register

    register(spark)
    spark.sql(
        f"""
        CREATE OR REPLACE TEMPORARY VIEW books_xml
        USING xmlhive
        OPTIONS (
          rowTag 'book',
          xsd '{_FIXTURE / "schema.xsd"}',
          sepTagType 'bookType',
          path '{_FIXTURE / "data.xml"}'
        )
        """
    )
    return spark.sql(
        """
        SELECT genre,
               count(*) AS n_books,
               round(avg(price), 2) AS avg_price
        FROM books_xml
        GROUP BY genre
        ORDER BY genre
        """
    )


@query(
    "xml_write_roundtrip",
    oracle="""
SELECT n_regionkey AS region, CAST(count(*) AS BIGINT) AS n_nations,
       min(n_name) AS first_nation
FROM nation GROUP BY n_regionkey ORDER BY region
""",
    tags=("xml", "sink", "roundtrip"),
)
def xml_write_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """XML SINK exercised end to end with a FULL value oracle: the
    nation table is written as XML (one document per partition, escaped
    values), read back through OUR reader (xmlhive DataSource semantics
    via read_xml), and aggregated — DuckDB computes the identical
    aggregate from the original parquet, so any loss or corruption in
    either direction of the XML round-trip breaks the hash match."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from xml_hive_spark.reader import read_xml
    from xml_hive_spark.sources.xml_sink import write_xml

    from xml_hive_spark.operators import t

    nation = t(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    out = _scratch("roundtrip-") + "/nation_xml"
    write_xml(nation, out, row_tag="nation", root_tag="nations")

    schema = StructType(
        [
            StructField("n_nationkey", LongType(), True,
                        metadata={"xmlKind": "element", "xmlName": "n_nationkey"}),
            StructField("n_name", StringType(), True,
                        metadata={"xmlKind": "element", "xmlName": "n_name"}),
            StructField("n_regionkey", LongType(), True,
                        metadata={"xmlKind": "element", "xmlName": "n_regionkey"}),
        ]
    )
    back = read_xml(spark, out + "/*.xml", row_tag="nation", schema=schema)
    return (
        back.groupBy(F.col("n_regionkey").alias("region"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nations"),
            F.min("n_name").alias("first_nation"),
        )
        .orderBy("region")
    )


@query(
    "xml_stream_scan",
    oracle="""
SELECT n_regionkey AS region, CAST(count(*) AS BIGINT) AS n_nations,
       CAST(sum(n_nationkey) AS BIGINT) AS key_sum
FROM nation GROUP BY n_regionkey ORDER BY region
""",
    tags=("xml", "source", "streaming"),
)
def xml_stream_scan(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING XML source end to end with a FULL value oracle: nation
    is staged as XML files in a landing directory, the
    ``xmlhive-stream`` DataSourceStreamReader drains them exactly-once
    (availableNow), and the aggregate must hash-match DuckDB over the
    original parquet. Executor-side split parsing — the landing-dir
    ingest shape for 100 TB/day XML feeds."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from xml_hive_spark.operators import t
    from xml_hive_spark.sources.xml_sink import write_xml
    from xml_hive_spark.sources.xml_stream import register_stream
    from xml_hive_spark.streaming import drain

    register_stream(spark)
    nation = t(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    landing = _scratch("landing-") + "/nation_xml"
    write_xml(nation.repartition(3), landing, row_tag="nation", root_tag="nations")

    schema = StructType(
        [
            StructField("n_nationkey", LongType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", LongType()),
        ]
    )
    stream = (
        spark.readStream.format("xmlhive-stream")
        .schema(schema)
        .option("rowTag", "nation")
        .option("path", landing)
        .load()
    )
    return (
        drain(stream, "append")
        .groupBy(F.col("n_regionkey").alias("region"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nations"),
            F.sum("n_nationkey").cast("bigint").alias("key_sum"),
        )
        .orderBy("region")
    )


# ------------------------------------------------------- GB-scale XML bench

_N_CATS = 7
_PAD = "lorem-ipsum-dolor-sit-amet-consectetur-adipiscing-" * 2


def ensure_bench_xml(target_bytes: int, cache_dir: str | None = None) -> tuple[str, int]:
    """Deterministically generate (once, cached) a multi-split XML file of
    ~``target_bytes`` and return ``(path, n_records)``.

    Record values are closed-form functions of the record index so the
    scan's aggregate has an exactly predictable answer
    (tests/test_xml_bench.py); comments with decoy row tags are sprinkled
    in so the split protocol is exercised at benchmark scale, not just in
    unit sweeps. The file is kept in ``cache_dir``, else the ``bench``
    :func:`~xml_hive_spark.session.owned_store`, else this process's
    scratch."""
    cache_dir = cache_dir or owned_store("bench") or _scratch("bench-")
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"scan_{target_bytes}.xml")
    meta = path + ".meta"
    if os.path.exists(path) and os.path.exists(meta):
        return path, int(Path(meta).read_text())

    tmp = f"{path}.tmp{os.getpid()}"
    n = 0
    with open(tmp, "w", buffering=1 << 22) as f:
        f.write("<dataset>\n")
        written = 11
        i = 0
        while written < target_bytes - 11:
            rec = (
                f'<rec id="{i}"><cat>c{i % _N_CATS}</cat>'
                f"<val>{(i * 37) % 1000}</val><txt>{_PAD}{i}</txt></rec>\n"
            )
            if i % 100 == 0:
                rec += f'<!-- decoy <rec id="x{i}"><val>9</val></rec> -->\n'
            f.write(rec)
            written += len(rec)
            i += 1
        f.write("</dataset>\n")
        n = i
    os.replace(tmp, path)
    Path(meta).write_text(str(n))
    return path, n


def xml_bench_schema():
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("id", LongType(), False,
                        metadata={"xmlKind": "attribute", "xmlName": "id"}),
            StructField("cat", StringType(), False,
                        metadata={"xmlKind": "element", "xmlName": "cat"}),
            StructField("val", IntegerType(), False,
                        metadata={"xmlKind": "element", "xmlName": "val"}),
        ]
    )


def run_xml_scan_bench(
    spark: SparkSession, target_bytes: int, partition_bytes: int | None = None
) -> DataFrame:
    """Scan the generated file with byte-range splits (~target/32MiB tasks)
    and aggregate — the end-to-end source throughput the reference's
    InputFormat replacement is judged on. Column pruning matters twice:
    txt (the bulk of every record) is never materialized into Arrow
    batches (not in the declared schema — parsed past, never shipped to
    the JVM), and the aggregation needs only cat+val, so the id
    attribute is pruned via ``read_xml(columns=...)`` (r9 lever: the
    Python DataSource API has no pruneColumns hook, so projection rides
    the declared schema — measured 688 → 767 MB/s end-to-end at 1 GiB
    /32 threads, identical aggregate; attribute-capture parity stays
    driver-checked via xml_attribute_roundtrip and xml_scan_books)."""
    from xml_hive_spark.reader import read_xml

    path, _ = ensure_bench_xml(target_bytes)
    if partition_bytes is None:
        # even task waves: split count = a multiple of the core count
        # (33 tasks on 32 slots = a straggler wave that serializes one
        # full task at the end), floored so tiny files still multi-split
        slots = spark.sparkContext.defaultParallelism
        size = os.path.getsize(path)
        partition_bytes = max(4 * 1024 * 1024, -(-size // slots))
    df = read_xml(
        spark, path, "rec", schema=xml_bench_schema(),
        partition_bytes=partition_bytes, columns=["cat", "val"],
    )
    return (
        df.groupBy("cat")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("val").alias("sum_val"))
        .orderBy("cat")
    )


@query(
    "xml_scan_bench",
    oracle="""
WITH target AS (
  SELECT CAST(round(10737418240.0 *
         POWER(10.0, round(log10(CAST((SELECT count(*) FROM lineitem)
                                      AS DOUBLE) / 6001215.0))))
         AS BIGINT) AS tb
),
lens AS (
  SELECT i,
         53 + 2 * length(CAST(i AS VARCHAR))
            + length(CAST((i * 37) % 1000 AS VARCHAR)) + 100
            + CASE WHEN i % 100 = 0
                   THEN 46 + length(CAST(i AS VARCHAR)) ELSE 0 END AS L
  FROM range(0, 10000000) t(i)
),
cum AS (
  SELECT i, 11 + COALESCE(SUM(L) OVER (ORDER BY i
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS wb
  FROM lens
),
admitted AS (SELECT i FROM cum, target WHERE wb < tb - 11),
-- DOMAIN GUARD (r9 advice): this oracle is valid only while (a) the
-- byte budget is exhausted strictly inside the range() bound and
-- (b) the lineitem count sits on a log10 decade of the reference SF.
-- Outside that envelope it would silently under-admit and the driver
-- would go red on CORRECT scan code; instead fail LOUDLY with a
-- data-dependent string->BIGINT cast (cannot be constant-folded) so
-- the failure reads as an oracle-domain error, not a hash mismatch.
guard AS (
  SELECT CASE
    WHEN (SELECT max(i) FROM admitted) >= (SELECT max(i) FROM lens)
    THEN CAST('xml_scan_bench ORACLE DOMAIN ERROR: range() ceiling hit at i='
              || CAST((SELECT max(i) FROM admitted) AS VARCHAR)
              || ' — raise the lens bound' AS BIGINT)
    WHEN abs(log10(CAST((SELECT count(*) FROM lineitem) AS DOUBLE) / 6001215.0)
             - round(log10(CAST((SELECT count(*) FROM lineitem) AS DOUBLE)
                           / 6001215.0))) > 0.05
    THEN CAST('xml_scan_bench ORACLE DOMAIN ERROR: non-decade SF (lineitem='
              || CAST((SELECT count(*) FROM lineitem) AS VARCHAR)
              || ')' AS BIGINT)
    ELSE 0 END AS ok
)
SELECT 'c' || CAST(i % 7 AS VARCHAR) AS cat,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum((i * 37) % 1000) AS BIGINT) AS sum_val
FROM admitted WHERE (SELECT ok FROM guard) = 0
GROUP BY cat ORDER BY cat
""",
    tags=("xml", "source", "bench"),
)
def xml_scan_bench(spark: SparkSession, sf: str) -> DataFrame:
    """GB-scale XML source benchmark entry: file size scales with the SF
    dir (10 GiB x sf → 1 GiB at the bench's sf0.1, ~100 MiB at the
    driver's sf0.01 correctness run).

    FULLY value-oracled since round 8 (was rows-only: "DuckDB cannot
    read XML" — but it doesn't need to: every record is a closed-form
    function of its index, and the generator's byte-budget admission
    loop is reproducible in SQL). The oracle replays
    ``ensure_bench_xml`` exactly: per-record byte length
    L(i) = 53 + 2·digits(i) + digits((37i)%1000) + len(_PAD)
    (+ 46 + digits(i) for the every-100th decoy comment), a cumulative
    sum gives written-before, and record i is admitted iff
    written_before < target − 11 — validated byte-exact against the
    real generator at 1 MiB/4 MiB/sf0.001/sf0.01 targets. The target
    derives in-SQL from the lineitem row count log-rounded to the
    nearest decade SF (exact for sf ∈ {0.001, 0.01, 0.1}; the range()
    bound covers n up to 10 M records ≈ sf0.15). So the driver's hash
    now checks the ENTIRE split-safe scan pipeline — boundary
    detection across 32 byte-range splits, decoy-comment rejection,
    attribute+element extraction, typed coercion — against pure
    arithmetic, end to end."""
    import re as _re

    m = _re.search(r"sf([0-9.]+)", sf)
    frac = float(m.group(1)) if m else 0.01
    target = int(10 * (1 << 30) * frac)
    return run_xml_scan_bench(spark, target)


@query(
    "xml_to_parquet_etl",
    oracle="""
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS total_bal
FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
    tags=("xml", "etl", "parquet"),
)
def xml_to_parquet_etl(spark: SparkSession, sf: str) -> DataFrame:
    """The migration journey a reference user actually runs — XML lake →
    parquet lake: customers exported as XML, ingested through OUR reader
    (split-safe byte-range scan), written to parquet PARTITIONED BY
    market segment, then served from the parquet side with a full value
    oracle against the original table. Every hop is lossless or the
    hash breaks: XML escape/parse, Arrow transfer, partitioned write
    (segment directories → partition pruning for downstream queries),
    parquet read-back.

    At 100 TB this is the one-time backfill that retires the XML scan
    from the hot path; the partitioned layout is what the reference's
    Hive tables never got (its InputFormat re-read whole files per
    split — SURVEY.md §4.3)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from xml_hive_spark.reader import read_xml
    from xml_hive_spark.sources.xml_sink import write_xml

    from xml_hive_spark.operators import t

    cust = t(spark, sf, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    land = _scratch("etl-") + "/customer_xml"
    write_xml(cust, land, row_tag="customer", root_tag="customers")

    schema = StructType(
        [
            StructField("c_custkey", LongType(), True,
                        metadata={"xmlKind": "element", "xmlName": "c_custkey"}),
            StructField("c_name", StringType(), True,
                        metadata={"xmlKind": "element", "xmlName": "c_name"}),
            StructField("c_mktsegment", StringType(), True,
                        metadata={"xmlKind": "element",
                                  "xmlName": "c_mktsegment"}),
            StructField("c_acctbal", DoubleType(), True,
                        metadata={"xmlKind": "element", "xmlName": "c_acctbal"}),
        ]
    )
    ingested = read_xml(spark, land + "/*.xml", row_tag="customer",
                        schema=schema)
    lake = _scratch("etl-") + "/customer_parquet"
    ingested.write.mode("overwrite").partitionBy("c_mktsegment").parquet(lake)

    served = spark.read.parquet(lake)
    return (
        served.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(30,6)"))
            .cast("double")
            .alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


_ADVANCED_XSD = """<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:attributeGroup name="idAttrs">
    <xs:attribute name="id" type="xs:long" use="required"/>
  </xs:attributeGroup>
  <xs:group name="balGroup">
    <xs:sequence><xs:element name="bal" type="xs:double"/></xs:sequence>
  </xs:group>
  <xs:element name="segment" type="xs:string"/>
  <xs:element name="contact" type="xs:string" abstract="true"/>
  <xs:element name="phone" type="xs:string" substitutionGroup="contact"/>
  <xs:element name="email" type="xs:string" substitutionGroup="contact"/>
  <xs:complexType name="party">
    <xs:sequence><xs:element name="nm" type="xs:string"/></xs:sequence>
    <xs:attributeGroup ref="idAttrs"/>
  </xs:complexType>
  <xs:complexType name="custType">
    <xs:complexContent>
      <xs:extension base="party">
        <xs:sequence>
          <xs:group ref="balGroup"/>
          <xs:element ref="segment"/>
          <xs:element ref="contact" minOccurs="0"/>
        </xs:sequence>
      </xs:extension>
    </xs:complexContent>
  </xs:complexType>
</xs:schema>"""


@query(
    "xml_scan_advanced_xsd",
    oracle="""
SELECT c_mktsegment AS segment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS total_bal,
       CAST(count(CASE WHEN c_custkey % 2 = 0 THEN 1 END) AS BIGINT)
         AS n_phone,
       CAST(count(CASE WHEN c_custkey % 2 = 1 THEN 1 END) AS BIGINT)
         AS n_email
FROM customer GROUP BY c_mktsegment ORDER BY segment
""",
    tags=("xml", "source", "xsd", "advanced"),
)
def xml_scan_advanced_xsd(spark: SparkSession, sf: str) -> DataFrame:
    """The advanced-XSD constructs driven END TO END with a full value
    oracle: customers are exported as XML whose schema uses every
    beyond-reference converter feature at once — an ``attributeGroup``
    (the id attribute), a named model ``group`` (the balance element),
    ``complexContent`` extension (custType inherits party's name
    element), an ``element ref`` (segment), and an abstract
    SUBSTITUTION-GROUP head (contact → phone for even keys, email for
    odd). The XSD-derived schema then drives OUR reader and the
    aggregate is hash-checked against the original parquet — so a
    regression in any of the five constructs (missing field, wrong
    nullability, dropped group) breaks the driver hash, not just a
    unit test. The reference raises or drops on ALL five constructs
    (XMLToAvroSchema.scala:247-249)."""
    from xml_hive_spark.reader import read_xml
    from xml_hive_spark.sources.xml_sink import write_xml

    cust = t(spark, sf, "customer").select(
        F.col("c_custkey").alias("_id"),
        F.col("c_name").alias("nm"),
        F.col("c_acctbal").alias("bal"),
        F.col("c_mktsegment").alias("segment"),
        F.when(F.col("c_custkey") % 2 == 0, F.lit("555-0100")).alias("phone"),
        F.when(F.col("c_custkey") % 2 == 1, F.lit("x@example.com")).alias(
            "email"
        ),
    )
    base = _scratch("advxsd-")
    out = base + "/cust_xml"
    write_xml(cust, out, row_tag="cust", root_tag="customers")
    xsd_path = base + "/schema.xsd"
    with open(xsd_path, "w") as f:
        f.write(_ADVANCED_XSD)

    back = read_xml(
        spark, out + "/*.xml", row_tag="cust", xsd=xsd_path,
        sep_tag_type="custType",
    )
    return (
        back.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("bal").alias("total_bal"),
            F.count("phone").alias("n_phone"),
            F.count("email").alias("n_email"),
        )
        .orderBy("segment")
    )


@query(
    "xml_xpath_functions",
    oracle="""
SELECT p_partkey, p_name AS name, p_size AS size,
       CAST(round(p_retailprice * 100) AS BIGINT) AS cents
FROM part
WHERE p_partkey < 100
ORDER BY p_partkey
""",
    tags=("xml", "xpath", "functions"),
)
def xml_xpath_functions(spark: SparkSession, sf: str) -> DataFrame:
    """Spark's JVM xpath_* scalar functions, end-to-end: each part row
    is serialized to an XML fragment, then every field is re-extracted
    with xpath_string / xpath_int / xpath_long and must round-trip to
    the original value — so the oracle simply selects the source
    columns (the reference's whole premise, XML⇄relational fidelity,
    exercised at the expression layer rather than the source layer;
    AvroTransormer.scala holds the reference's record-level analogue).

    Values are constructed (letters/digits/spaces only) so no XML
    escaping is required. Scale: pure whole-stage-codegen projection —
    no shuffle, no UDF."""
    part = t(spark, sf, "part").where(F.col("p_partkey") < 100)
    xml = F.concat(
        F.lit("<part><name>"), F.col("p_name"),
        F.lit("</name><size>"), F.col("p_size").cast("string"),
        F.lit("</size><cents>"),
        F.round(F.col("p_retailprice") * 100).cast("long").cast("string"),
        F.lit("</cents></part>"),
    )
    return (
        part.select("p_partkey", xml.alias("xml"))
        .select(
            "p_partkey",
            F.expr("xpath_string(xml, '/part/name')").alias("name"),
            F.expr("xpath_int(xml, '/part/size')").alias("size"),
            F.expr("xpath_long(xml, '/part/cents')").alias("cents"),
        )
        .orderBy("p_partkey")
    )


@query(
    "federated_three_source_join",
    oracle="""
SELECT n.n_name AS nation,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
         AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY nation
ORDER BY nation
""",
    tags=("xml", "federation", "multi-source"),
)
def federated_three_source_join(spark: SparkSession, sf: str) -> DataFrame:
    """One query over THREE storage formats: customers staged to XML and
    read back through OUR xmlhive reader, nations staged to CSV, orders
    read from parquet — then a star join and revenue rollup. The oracle
    computes the identical aggregate from the original parquet tables,
    so format fidelity of every leg (XML escaping/typing, CSV
    quoting/schema, parquet) is value-checked through a real multi-
    source plan — the lake reality the reference's Hive registration
    exists for (AvroFromXmlSerde.scala:13), composed engine-side.

    Scale shape: both staged dims are dimension-sized and ride
    broadcast joins under AQE; the fact side stays parquet with
    pushdown. Revenue uses the decimal-exact dsum."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from xml_hive_spark.reader import read_xml
    from xml_hive_spark.sources.xml_sink import write_xml

    base = _scratch("federated-")
    cust = t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    xml_dir = base + "/customer_xml"
    write_xml(cust, xml_dir, row_tag="customer", root_tag="customers")
    cust_schema = StructType(
        [
            StructField("c_custkey", LongType(), True,
                        metadata={"xmlKind": "element", "xmlName": "c_custkey"}),
            StructField("c_nationkey", LongType(), True,
                        metadata={"xmlKind": "element", "xmlName": "c_nationkey"}),
        ]
    )
    cust_xml = read_xml(spark, xml_dir + "/*.xml", row_tag="customer",
                        schema=cust_schema)

    nat = t(spark, sf, "nation").select("n_nationkey", "n_name")
    csv_dir = base + "/nation_csv"
    nat.write.mode("overwrite").option("header", "true").csv(csv_dir)
    nat_csv = (
        spark.read.schema(nat.schema).option("header", "true").csv(csv_dir)
    )

    orders = t(spark, sf, "orders").select("o_custkey", "o_totalprice")
    return (
        orders.join(cust_xml, orders.o_custkey == cust_xml.c_custkey)
        .join(nat_csv, cust_xml.c_nationkey == nat_csv.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            dsum("o_totalprice").alias("revenue"),
        )
        .orderBy("nation")
    )


@query(
    "xml_expression_codec",
    oracle="""
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS acctbal_cents
FROM customer
GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
    tags=("xml", "expression", "to_xml", "from_xml"),
)
def xml_expression_codec(spark: SparkSession, sf: str) -> DataFrame:
    """EXPRESSION-level XML round trip (Spark 4's ``to_xml`` /
    ``from_xml`` column functions): every customer row is serialized
    to an XML string IN A COLUMN, re-parsed back to a struct with an
    explicit schema, and the re-parsed fields aggregate to the oracle
    of the source table — so the codegen'd XML codec is value-checked
    row-for-row. This is the third XML⇄relational fidelity layer in
    the registry: record-level (our ``xmlhive`` DataSource —
    AvroTransormer.scala:77-170 is the reference's analogue),
    scalar-function-level (``xml_xpath_functions``), and now
    column-expression-level, the layer a pipeline uses for XML
    payloads EMBEDDED in other tables (message queues, log columns).

    Scale shape: per-row JVM expressions end to end — no Python, no
    shuffle before the final domain-sized aggregate."""
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    cust = t(spark, sf, "customer")
    xml_col = F.to_xml(
        F.struct("c_custkey", "c_mktsegment", "c_acctbal"),
        {"rootTag": "cust"},
    )
    schema = StructType([
        StructField("c_custkey", LongType()),
        StructField("c_mktsegment", StringType()),
        StructField("c_acctbal", DoubleType()),
    ])
    parsed = cust.select(xml_col.alias("x")).select(
        F.from_xml("x", schema).alias("r")
    )
    return (
        parsed.select("r.c_mktsegment", "r.c_acctbal")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
            .cast("long")
            .alias("acctbal_cents"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "xml_corrupt_capture",
    oracle="""
SELECT CAST(count(*) FILTER (WHERE o_orderkey % 50 <> 0) AS BIGINT)
         AS n_good,
       CAST(count(*) FILTER (WHERE o_orderkey % 50 = 0) AS BIGINT)
         AS n_corrupt,
       CAST(SUM(CASE WHEN o_orderkey % 50 <> 0
                     THEN CAST(round(o_totalprice * 100) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS good_cents
FROM orders
""",
    tags=("xml", "source", "corrupt", "permissive"),
)
def xml_corrupt_capture(spark: SparkSession, sf: str) -> DataFrame:
    """PERMISSIVE corrupt-record capture as a driver-hashable query:
    orders are written to XML with every 50th record DELIBERATELY
    corrupted (a non-numeric price), read back through the xmlhive
    reader with ``corrupt_column`` — bad records surface as raw text
    in the sink column with null data fields, clean records parse
    normally — and the good/corrupt split plus the clean-row aggregate
    hash-check the capture semantics end to end. The reference
    warns-and-drops (AvroTransormer.scala:185 "oopsie");
    DROPMALFORMED keeps that parity while this query pins the
    spark-xml-style PERMISSIVE superset at the driver's value gate.

    Scale shape: the corrupt path costs one extra span re-read per BAD
    record only; a malformed record in a 100 TB corpus quarantines a
    row, never kills the job (the scanner-totality fuzz property)."""
    from xml_hive_spark.reader import read_xml
    from xml_hive_spark.sources.xml_sink import write_xml
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    staged = t(spark, sf, "orders").select(
        F.col("o_orderkey").alias("key"),
        F.when(F.col("o_orderkey") % 50 == 0, F.lit("NOT_A_NUMBER"))
        .otherwise(F.col("o_totalprice").cast("string"))
        .alias("price"),
    )
    out = _scratch("corrupt-") + "/orders_xml"
    write_xml(staged, out, row_tag="order", root_tag="orders")
    schema = StructType([
        StructField("key", LongType(), True,
                    metadata={"xmlKind": "element", "xmlName": "key"}),
        StructField("price", DoubleType(), True,
                    metadata={"xmlKind": "element", "xmlName": "price"}),
    ])
    back = read_xml(
        spark, out + "/*.xml", "order", schema=schema,
        mode="PERMISSIVE", corrupt_column="_corrupt",
    )
    good_cents = F.sum(
        F.when(
            F.col("_corrupt").isNull(),
            F.round(F.col("price") * 100).cast("long"),
        ).otherwise(F.lit(0))
    )
    return back.agg(
        F.count(F.when(F.col("_corrupt").isNull(), 1)).cast("long")
        .alias("n_good"),
        F.count(F.when(F.col("_corrupt").isNotNull(), 1)).cast("long")
        .alias("n_corrupt"),
        good_cents.cast("long").alias("good_cents"),
    )


@query(
    "xsd_generate_roundtrip",
    oracle="""
SELECT n_regionkey AS region,
       CAST(count(*) AS BIGINT) AS n_nations,
       CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
       min(n_name) AS first_nation
FROM nation GROUP BY n_regionkey ORDER BY region
""",
    tags=("xml", "xsd", "generator", "roundtrip"),
)
def xsd_generate_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """INVERSE-XSD round trip: the nation table's Spark schema is
    converted to a GENERATED XSD (``xsd.struct_to_xsd`` — the
    direction the reference lacks; its converter is one-way,
    XMLToAvroSchema.scala), the table is written as XML, and the XML
    is read back THROUGH the generated XSD (generator → parser →
    type-graph → StructType → reader, the full schema loop) and
    aggregated against the source oracle. This is what makes any
    DataFrame's schema shippable to any consumer of the reference's
    XSD contract — and proves the two converters are true inverses on
    live data, not just on fixtures."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from xml_hive_spark.reader import read_xml
    from xml_hive_spark.sources.xml_sink import write_xml
    from xml_hive_spark.xsd import struct_to_xsd

    nation = t(spark, sf, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    schema = StructType([
        StructField("n_nationkey", LongType(), False),
        StructField("n_name", StringType(), False),
        StructField("n_regionkey", LongType(), False),
    ])
    out = _scratch("xsdgen-")
    xml_dir = out + "/nation_xml"
    write_xml(nation, xml_dir, row_tag="nation", root_tag="nations")
    xsd_path = os.path.join(out, "nation.xsd")
    with open(xsd_path, "w", encoding="utf-8") as fh:
        fh.write(struct_to_xsd(schema, "nation"))
    back = read_xml(
        spark, xml_dir + "/*.xml", "nation",
        xsd=xsd_path, sep_tag_type="nationType",
    )
    return (
        back.groupBy(F.col("n_regionkey").alias("region"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nations"),
            F.sum("n_nationkey").cast("long").alias("key_sum"),
            F.min("n_name").alias("first_nation"),
        )
        .orderBy("region")
    )


@query(
    "xml_attribute_roundtrip",
    oracle="""
SELECT n_regionkey AS region,
       CAST(count(*) AS BIGINT) AS n_nations,
       min(n_name) AS first_nation
FROM nation GROUP BY n_regionkey ORDER BY region
""",
    tags=("xml", "sink", "attributes", "roundtrip"),
)
def xml_attribute_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """XML ATTRIBUTE round trip through the sink: the region key is
    written as an XML ATTRIBUTE (`<nation n_regionkey="...">` — Spark's
    XML sink attributePrefix convention) while the other fields stay
    elements, then read back through OUR reader, whose attribute
    extraction (reference parity: AvroTransormer.scala:180-188 /
    setAttributes) assigns it to the schema field of the same name.
    The aggregate oracles against the source table, so BOTH the sink's
    attribute emission and the reader's attribute path are value-checked
    in one query — ``xml_write_roundtrip`` covers the all-elements
    shape; this covers the mixed attribute/element record."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from xml_hive_spark.reader import read_xml
    from xml_hive_spark.sources.xml_sink import write_xml

    nation = t(spark, sf, "nation").select(
        "n_nationkey",
        "n_name",
        F.col("n_regionkey").alias("_n_regionkey"),  # "_" → attribute
    )
    out = _scratch("attr-rt-") + "/nation_xml"
    write_xml(nation, out, row_tag="nation", root_tag="nations")
    schema = StructType([
        StructField("n_nationkey", LongType(), True,
                    metadata={"xmlKind": "element"}),
        StructField("n_name", StringType(), True,
                    metadata={"xmlKind": "element"}),
        StructField("n_regionkey", LongType(), True),
    ])
    back = read_xml(spark, out + "/*.xml", row_tag="nation", schema=schema)
    return (
        back.groupBy(F.col("n_regionkey").alias("region"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nations"),
            F.min("n_name").alias("first_nation"),
        )
        .orderBy("region")
    )
