"""``xmlhive`` Python DataSource (Spark 4 DataSource API).

Spark-idiomatic equivalent of the reference's Hadoop integration pair
(``AvroFromXmlInputFormat.scala`` split planning + ``AvroFromXmlSerde.scala``
catalog shim): ``partitions()`` plays the role of ``FileInputFormat``
split planning (but split-SAFE, unlike the reference —
AvroFromXmlInputFormat.scala:49 opens every split at byte 0), and
``read(partition)`` is the per-task ``RecordReader``
(AvroFromXmlInputFormat.scala:62-76), yielding rows the engine moves to
the JVM in Arrow batches instead of per-record Writables.

Usage::

    spark.dataSource.register(XmlHiveDataSource)
    df = (spark.read.format("xmlhive")
          .schema(struct)                       # or pass xsd= options
          .option("rowTag", "book")
          .option("paths", "/data/a.xml\\n/data/b.xml")
          .load())

Options (mirroring the reference's four ``xml.*`` table properties,
AvroFromXmlSerde.scala:21-23):

- ``rowTag``           — separator tag (``xml.separator.tag``)
- ``xsd``              — XSD file/dir (``xml.schema.location``)
- ``sepTagType``       — row type name (``xml.separator.tag.type``)
- ``sepTagTypeNs``     — row type namespace (``xml.separator.tag.type.ns``)
- ``paths`` / ``path`` — newline-separated files, a dir, or a glob
- ``partitionBytes``   — target bytes per input partition
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

from xml_hive_spark.reader import (
    DEFAULT_PARTITION_BYTES,
    _read_split,
    plan_annotated_splits,
    resolve_paths,
)


@dataclass
class XmlInputPartition(InputPartition):
    # annotated splits (path, start, end, state, depth), read in order:
    # one byte-range split, or a run of small whole files packed into one
    # task. (state, depth) is the split's incoming lexer state and
    # row-tag depth from the two-phase reconciliation (reader.py phase
    # A/B); (TEXT, 0) at a record boundary
    splits: tuple


def _opt(options, *names, default=None):
    for n in names:
        for key in (n, n.lower()):
            if key in options:
                return options[key]
    return default


class XmlHiveDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "xmlhive"

    def schema(self) -> StructType:
        # only consulted when the user didn't pass .schema(...) —
        # the reference's DDL-side schema determination
        # (AvroFromXmlSerde.scala:15-17 → XmlAvroHelper.schema)
        from xml_hive_spark.xsd import xsd_to_struct

        xsd = _opt(self.options, "xsd")
        sep_type = _opt(self.options, "sepTagType", "septagtype")
        if bool(xsd) != bool(sep_type):
            # exactly one of the pair: a typo'd option must not silently
            # swap the user's XSD for head-of-file sampled inference
            raise ValueError(
                "xmlhive: xsd= and sepTagType= must be passed together "
                f"(got {'xsd' if xsd else 'sepTagType'} alone)"
            )
        if not xsd:
            # no XSD: sampled inference (infer.py), like JSON/CSV
            # inferSchema — the reference mandates an XSD here
            row_tag = _opt(self.options, "rowTag", "rowtag")
            raw_paths = _opt(self.options, "paths") or _opt(self.options, "path")
            if row_tag and raw_paths:
                from xml_hive_spark.infer import infer_xml_schema

                paths = (
                    raw_paths.split("\n")
                    if "\n" in raw_paths
                    else resolve_paths(raw_paths)
                )
                return infer_xml_schema(paths, row_tag)
            raise ValueError(
                "xmlhive: pass .schema(...), options xsd= and sepTagType=, "
                "or rowTag= and path= for sampled inference"
            )
        return xsd_to_struct(
            xsd,
            sep_type,
            _opt(self.options, "sepTagTypeNs", "septagtypens"),
            rich_types=str(_opt(self.options, "richTypes", default="false")).lower()
            == "true",
        )

    def reader(self, schema: StructType) -> "XmlHiveReader":
        return XmlHiveReader(schema, self.options)


class XmlHiveReader(DataSourceReader):
    def __init__(self, schema: StructType, options):
        self._schema = schema
        self._pushed = []  # compiled tri-valued predicates (pushdown.py)
        self._pushed_raw = []  # the accepted Filter objects themselves
        self._row_tag = _opt(options, "rowTag", "rowtag")
        if not self._row_tag:
            raise ValueError("xmlhive: rowTag option is required")
        # pre-annotated splits from read_xml (phase A ran as a Spark job):
        # one entry per read task, either a list of annotated splits (a
        # packed run of small files) or a bare annotated split
        raw_splits = _opt(options, "splits")
        self._tasks = None
        if raw_splits:
            self._tasks = [
                tuple(map(tuple, t)) if isinstance(t[0], list) else (tuple(t),)
                for t in json.loads(raw_splits)
            ]
        else:
            raw_paths = _opt(options, "paths") or _opt(options, "path")
            if not raw_paths:
                raise ValueError("xmlhive: no input path given")
            self._paths = (
                raw_paths.split("\n") if "\n" in raw_paths else resolve_paths(raw_paths)
            )
        self._partition_bytes = int(
            _opt(options, "partitionBytes", "partitionbytes", default=DEFAULT_PARTITION_BYTES)
        )
        self._mode = str(_opt(options, "mode", default="FAILFAST")).upper()
        if self._mode not in ("FAILFAST", "DROPMALFORMED", "PERMISSIVE"):
            raise ValueError(f"xmlhive: invalid mode {self._mode!r}")
        corrupt = _opt(options, "columnNameOfCorruptRecord",
                       "columnnameofcorruptrecord")
        if corrupt:
            # bare-DataSource path: the scan schema is fixed by Spark, so
            # the sink column must already be declared — tag it (read_xml
            # appends it before the schema reaches the source)
            from xml_hive_spark.reader import tag_corrupt_field

            if corrupt not in self._schema.fieldNames():
                raise ValueError(
                    f"xmlhive: columnNameOfCorruptRecord={corrupt!r} is not "
                    "in the declared schema — add it as a nullable STRING "
                    "field (the scan cannot widen a fixed schema)"
                )
            self._schema = tag_corrupt_field(self._schema, corrupt)

    def pushFilters(self, filters):
        """Spark 4.1 filter pushdown: accept predicates we can evaluate
        with exact SQL semantics on top-level scalar fields (the
        reference filters only after full deserialization in Hive —
        SURVEY.md §4.1); everything else goes back to Spark. Accepted
        filters run executor-side BEFORE rows enter an Arrow batch, so
        filtered records never cross the Python→JVM boundary."""
        from xml_hive_spark.sources.pushdown import compile_filter

        unsupported = []
        for f in filters:
            pred = compile_filter(f, self._schema)
            if pred is None:
                unsupported.append(f)
            else:
                self._pushed.append(pred)
                self._pushed_raw.append(f)
        return unsupported

    def partitions(self):
        tasks = self._tasks
        if tasks is None:
            # bare .format("xmlhive") use: phase A runs driver-side (the
            # scale path is read_xml, which distributes it as a Spark job
            # and packs small files)
            tasks = [(s,) for s in plan_annotated_splits(
                self._paths, self._row_tag, self._partition_bytes
            )]
        # Spark requires at least one partition (all-empty inputs would
        # otherwise surface as read(None) on the executor)
        return [XmlInputPartition(t) for t in tasks] or [XmlInputPartition(())]

    def read(self, partition: XmlInputPartition):
        splits = [s for s in partition.splits if s[2] > s[1]]
        if not splits:
            return
        # flat scalar schemas take the columnar regex fast path and ship
        # Arrow RecordBatches straight through the DataSource worker;
        # nested schemas yield tuples (worker converts per value)
        from xml_hive_spark.flat import FlatAssembler
        from xml_hive_spark.sources.pushdown import (
            compile_conjunction,
            compile_conjunction_arrow,
        )

        keep = compile_conjunction(self._pushed)
        asm = FlatAssembler.try_create(self._schema, self._mode)
        # fused scan: template matched against the split buffer in
        # place — no per-record slice/fullmatch on uniform runs. Pushed
        # filters ride the columnar kernel as one vectorized Kleene mask
        # per batch when every filter arrow-compiles.
        arrow_keep = (
            compile_conjunction_arrow(self._pushed_raw, self._schema)
            if asm is not None and keep is not None else None
        )
        for split in splits:
            if asm is not None:
                yield from asm.fused_split_batches(
                    split, self._row_tag, predicate=keep,
                    arrow_predicate=arrow_keep,
                )
            elif keep is None:
                yield from _read_split(split, self._row_tag, self._schema, self._mode)
            else:
                for row in _read_split(split, self._row_tag, self._schema, self._mode):
                    if keep(row):
                        yield row


_REGISTERED_SESSIONS: set[int] = set()
_PKG_ZIP: str | None = None


def ship_package(spark) -> None:
    """Make ``xml_hive_spark`` importable in Python workers regardless of
    the driver process's cwd/sys.path: the DataSource class is pickled by
    reference, so the data-source worker must be able to import the
    package. ``addPyFile`` puts the zipped package on every worker's
    path (idempotent per session). The zip is named by a hash of the
    package sources and published with an atomic rename, so concurrent
    processes running different checkouts never ship each other's code
    or a half-written zip."""
    global _PKG_ZIP
    import hashlib
    import os
    import tempfile
    import zipfile
    from pathlib import Path

    if _PKG_ZIP is None:
        pkg_root = Path(__file__).resolve().parent.parent
        sources = [(p, "xml_hive_spark/" + str(p.relative_to(pkg_root)))
                   for p in sorted(pkg_root.rglob("*.py"))]
        digest = hashlib.sha256()
        for p, name in sources:
            digest.update(name.encode() + b"\0" + p.read_bytes() + b"\0")
        zpath = Path(tempfile.gettempdir()) / (
            f"xml_hive_spark_pkg_{digest.hexdigest()[:16]}.zip")
        tmp = zpath.with_name(f"{zpath.name}.tmp{os.getpid()}")
        with zipfile.ZipFile(tmp, "w") as z:
            for p, name in sources:
                z.write(p, name)
        os.replace(tmp, zpath)
        _PKG_ZIP = str(zpath)
    try:
        spark.sparkContext.addPyFile(_PKG_ZIP)
    except Exception:
        pass  # already added in this session


def register(spark) -> None:
    key = id(spark)
    if key not in _REGISTERED_SESSIONS:
        ship_package(spark)
        # a reader that implements pushFilters() is rejected outright when
        # the conf is off, so any session reading this source needs it on
        # (get_spark sets it too; this covers externally-built sessions).
        # The conf is session-global (affects every Python DataSource), so
        # respect an explicit user opt-out instead of silently overriding.
        conf_key = "spark.sql.python.filterPushdown.enabled"
        current = spark.conf.get(conf_key, None)
        if current is None or str(current).lower() == "true":
            spark.conf.set(conf_key, "true")
        else:
            import warnings

            warnings.warn(
                f"xmlhive: {conf_key} is explicitly false; respecting it. "
                "Spark rejects readers that implement pushFilters() while "
                "the conf is off, so xmlhive reads will fail until it is "
                "re-enabled",
                stacklevel=2,
            )
        spark.dataSource.register(XmlHiveDataSource)
        _REGISTERED_SESSIONS.add(key)
