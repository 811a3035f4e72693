"""XML sink + standard-format sinks.

The reference's only sink is a test-only Avro file writer
(TestAvroTranformer.scala:53-66). Spark gives every standard sink for
free (``df.write.format("avro"|"parquet"|"json"|"csv")``); XML output
uses Spark 4's built-in XML source (the spark-xml lineage merged into
core), wrapped here so the row-tag/root-tag vocabulary matches our
reader. Round-trip (our reader ← this writer) is tested in
tests/test_xml_roundtrip.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_xml(
    df: DataFrame,
    path: str,
    row_tag: str,
    root_tag: str = "rows",
    mode: str = "overwrite",
    declaration: bool = True,
) -> None:
    """Write one XML document per partition (``<rootTag>`` wrapper, one
    ``<rowTag>`` element per row). Scales as any Spark file sink: one
    output file per task, no driver materialization."""
    (
        df.write.format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .option("declaration", "version=\"1.0\" encoding=\"UTF-8\"" if declaration else "")
        .mode(mode)
        .save(path)
    )


_AVRO_AVAILABLE: dict[str, bool] = {}


def _lookup_avro(spark) -> None:
    """Resolve the ``avro`` format the way a read or write would, without
    starting a job; raises ``AnalysisException`` when it is not found."""
    spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
        "avro", spark._jsparkSession.sessionState().conf())


def avro_available(spark) -> bool:
    """The Avro source is an external Spark module (spark-avro jar),
    absent from plain pyspark distributions. Asked once per Spark
    application, whose classpath does not change while it runs."""
    from pyspark.errors import AnalysisException

    app = spark.sparkContext.applicationId
    if app not in _AVRO_AVAILABLE:
        try:
            _lookup_avro(spark)
            _AVRO_AVAILABLE[app] = True
        except AnalysisException:
            _AVRO_AVAILABLE[app] = False
    return _AVRO_AVAILABLE[app]


def write_avro(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Avro object-container sink (the reference's test sink,
    TestAvroTranformer.scala:53-66). Uses the spark-avro module when it is
    on the classpath; otherwise falls back to the pure-Python OCF writer
    (sources/avro_ocf.py) — same container format, written by executor
    tasks, readable by any Avro implementation."""
    if avro_available(df.sparkSession):
        df.write.format("avro").mode(mode).save(path)
        return
    from xml_hive_spark.sources.avro_ocf import write_avro_ocf

    write_avro_ocf(df, path, mode=mode)
