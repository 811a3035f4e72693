"""xml_hive_spark — a PySpark-native analytics engine with the capabilities
of ajithj/xml-hive (XML→table ingestion + the full relational surface),
re-expressed Spark-first.

The reference (see /root/reference, SURVEY.md) is a Hive SerDe: it converts
XSD→Avro schema and stream-assembles XML records, delegating every
relational operator to Hive. Here the equivalent split is:

- ``xml_hive_spark.xsd``       — XSD → Spark ``StructType`` converter
- ``xml_hive_spark.reader``    — split-safe XML → DataFrame reader
- ``xml_hive_spark.sources``   — Python DataSource API integration
- ``xml_hive_spark.operators`` — the relational + LLM-pipeline query surface
  (delegated to Catalyst, as the reference delegated to Hive)
- ``xml_hive_spark.streaming`` — Structured Streaming surface
"""

from xml_hive_spark.infer import infer_xml_schema  # noqa: F401
from xml_hive_spark.session import get_spark, stat_checked_zip_caches  # noqa: F401
from xml_hive_spark.xsd import XsdGraph, xsd_to_struct  # noqa: F401

__version__ = "0.1.0"

# every worker that runs engine code imports this package (planner
# workers unpickle the DataSource, task workers the readers and UDFs)
stat_checked_zip_caches()
