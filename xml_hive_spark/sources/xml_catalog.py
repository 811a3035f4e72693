"""Persistent-table shim for the ``xmlhive`` DataSource.

The reference's DDL creates a *persistent* Hive table
(`AvroFromXmlSerde.scala:13-26`: ``CREATE EXTERNAL TABLE ... ROW FORMAT
SERDE`` + ``xml.*`` table properties survive in the metastore). Spark's
Python DataSource API cannot express that today — probed and pinned in
tests/test_xml_sql_ddl.py on Spark 4.1:

- ``CREATE TABLE ... USING xmlhive OPTIONS (...)`` resolves the schema at
  CREATE time (options DO reach ``DataSource.schema()``), but the catalog
  entry persists only schema + provider: at scan time Spark re-instantiates
  the Python DataSource with EMPTY options, so the reader can't see
  rowTag/path and fails.
- Explicit ``TBLPROPERTIES`` are dropped the same way (``SHOW
  TBLPROPERTIES`` comes back empty), so there is nothing in the catalog to
  re-resolve options from.

This module recovers the reference's UX with the two handles Spark does
give us:

1. the CREATE still goes through, so the table exists in the catalog with
   the right schema (SHOW TABLES / DESCRIBE work, and other engines see
   the declared shape);
2. a sidecar JSON under the warehouse dir records the options, and a
   TEMPORARY VIEW with the table's name — re-attachable per session via
   :func:`attach_xml_tables` — shadows the broken catalog scan (temp views
   win unqualified-name resolution), making ``SELECT ... FROM name`` work.

If a Spark upgrade starts persisting Python DataSource options, the
pinned limitation test fails and this shim can be deleted.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

from pyspark.sql import SparkSession

_NAME_RX = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _sidecar_dir(spark: SparkSession) -> Path:
    from xml_hive_spark.reader import strip_file_uri

    # shared helper: a file://host/warehouse URI must REJECT, not
    # silently resolve to the machine-local /warehouse (sidecars would
    # land on the wrong host)
    wh = strip_file_uri(spark.conf.get("spark.sql.warehouse.dir"))
    d = Path(wh) / "_xmlhive_tables"
    d.mkdir(parents=True, exist_ok=True)
    return d


def _quote(v: str) -> str:
    return "'" + str(v).replace("'", "''") + "'"


def create_xml_table(spark: SparkSession, name: str, **options: str) -> None:
    """Persistent ``CREATE TABLE name USING xmlhive`` + working reads.

    ``options`` are the DataSource options (rowTag, path, xsd,
    sepTagType, ...). Issues the catalog CREATE (schema resolves from the
    options), writes the sidecar, and registers the shadowing temp view.
    """
    if not _NAME_RX.match(name):
        raise ValueError(f"table name must be a bare identifier: {name!r}")
    from xml_hive_spark.sources.xml_datasource import register

    register(spark)
    opts_sql = ", ".join(f"{k} {_quote(v)}" for k, v in options.items())
    spark.catalog.dropTempView(name)  # a stale view would shadow the DROP
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(f"CREATE TABLE {name} USING xmlhive OPTIONS ({opts_sql})")
    (_sidecar_dir(spark) / f"{name}.json").write_text(
        json.dumps(options, indent=2, sort_keys=True)
    )
    _attach_view(spark, name, options)


def _attach_view(spark: SparkSession, name: str, options: dict) -> None:
    from xml_hive_spark.sources.xml_datasource import register

    register(spark)
    opts_sql = ", ".join(f"{k} {_quote(v)}" for k, v in options.items())
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW {name} USING xmlhive"
        f" OPTIONS ({opts_sql})"
    )


def attach_xml_tables(spark: SparkSession) -> list[str]:
    """Re-attach the shadowing temp views for every sidecar whose catalog
    table still exists — call once per new session to make persistent
    xmlhive tables readable again. Returns the attached names."""
    attached = []
    for f in sorted(_sidecar_dir(spark).glob("*.json")):
        name = f.stem
        if not spark.catalog.tableExists(name):
            f.unlink()  # table dropped outside drop_xml_table; tidy up
            continue
        _attach_view(spark, name, json.loads(f.read_text()))
        attached.append(name)
    return attached


def drop_xml_table(spark: SparkSession, name: str) -> None:
    if not _NAME_RX.match(name):
        raise ValueError(f"table name must be a bare identifier: {name!r}")
    # view first: an unqualified DROP TABLE would resolve to (and drop)
    # the shadowing temp view, leaving the catalog table behind
    spark.catalog.dropTempView(name)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    side = _sidecar_dir(spark) / f"{name}.json"
    if side.exists():
        side.unlink()
