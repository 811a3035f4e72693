"""``xmlhive`` Python DataSource (Spark 4 DataSource API) and the scan
``read_xml`` builds on the same reader.

Spark-idiomatic equivalent of the reference's Hadoop integration pair
(``AvroFromXmlInputFormat.scala`` split planning + ``AvroFromXmlSerde.scala``
catalog shim): ``partitions()`` plays the role of ``FileInputFormat``
split planning (but split-SAFE, unlike the reference —
AvroFromXmlInputFormat.scala:49 opens every split at byte 0), and
``XmlHiveReader.read(partition)`` is the per-task ``RecordReader``
(AvroFromXmlInputFormat.scala:62-76), yielding Arrow batches instead of
per-record Writables, each filtered by the pushed filters' Arrow mask.
:func:`scan` runs read tasks planned on the driver through one
``mapInArrow``: ``read_xml`` runs the same ``read`` there, the
``xmlhive-stream`` source runs it in its read tasks, and
``avro_ocf.read_avro_ocf`` runs its container decoder on :func:`scan`.
All three XML entries resolve a missing schema with
:func:`~xml_hive_spark.reader.resolve_schema`.
:func:`register` binds the session's small-file packing numbers to the
source, so a ``paths``/``path`` read needs a registered source.

Usage::

    register(spark)
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
- ``richTypes``        — ``true``: XSD temporals and decimals keep their types
- ``paths`` / ``path`` — newline-separated files, a dir, or a glob
- ``partitionBytes``   — target bytes per input partition
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from functools import partial
from itertools import islice

from pyspark.sql import DataFrame
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StringType, StructField, StructType

from xml_hive_spark.reader import (
    DEFAULT_PARTITION_BYTES,
    _read_split,
    pack_params,
    resolve_paths,
    resolve_schema,
    tag_corrupt_field,
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


def _path_option(options):
    """The ``paths``/``path`` option: a list when newline-separated,
    else the one path, dir or glob as given; None when absent."""
    raw = _opt(options, "paths") or _opt(options, "path")
    return raw.split("\n") if raw and "\n" in raw else raw


def options_schema(options) -> StructType:
    """:func:`~xml_hive_spark.reader.resolve_schema` over a source's
    options."""
    return resolve_schema(
        _path_option(options), _opt(options, "rowTag", "rowtag"),
        _opt(options, "xsd"), _opt(options, "sepTagType", "septagtype"),
        _opt(options, "sepTagTypeNs", "septagtypens"),
        str(_opt(options, "richTypes", default="false")).lower() == "true")


class XmlHiveDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "xmlhive"

    def schema(self) -> StructType:
        # only consulted when the user didn't pass .schema(...) —
        # the reference's DDL-side schema determination
        # (AvroFromXmlSerde.scala:15-17 → XmlAvroHelper.schema)
        return options_schema(self.options)

    # (spark.sql.files.openCostInBytes, defaultParallelism) of the
    # session :func:`register` bound this class to: partitions() packs
    # small files by them, like read_xml
    pack = None

    def reader(self, schema: StructType) -> "XmlHiveReader":
        return XmlHiveReader(schema, self.options, pack=self.pack)


class XmlHiveReader(DataSourceReader):
    """The one record reader of every XML entry: ``read(partition)`` is
    what ``spark.read.format("xmlhive")`` and ``xmlhive-stream`` run in
    their read tasks and what :func:`scan` runs for ``read_xml``.
    ``partitions()`` is the DataSource's planner over ``paths``/``path``,
    packing small files by ``pack``
    (:func:`~xml_hive_spark.reader.pack_params`)."""

    def __init__(self, schema: StructType, options, pack=None):
        self._schema = schema
        self._pushed = []  # the accepted Filter objects (pushdown.py)
        self._pack = pack
        self._paths = _path_option(options)  # resolved by partitions()
        self.row_tag = _opt(options, "rowTag", "rowtag")
        if not self.row_tag:
            raise ValueError("xmlhive: rowTag option is required")
        raw_splits = _opt(options, "splits")
        self._tasks = [(tuple(s),) for s in json.loads(raw_splits)] if raw_splits else None
        self.partition_bytes = int(
            _opt(options, "partitionBytes", "partitionbytes", default=DEFAULT_PARTITION_BYTES)
        )
        self._mode = str(_opt(options, "mode", default="FAILFAST")).upper()
        if self._mode not in ("FAILFAST", "DROPMALFORMED", "PERMISSIVE"):
            raise ValueError(f"xmlhive: invalid mode {self._mode!r}")
        corrupt = _opt(options, "columnNameOfCorruptRecord",
                       "columnnameofcorruptrecord")
        if corrupt:
            # the scan schema is fixed by Spark, so the sink column must
            # already be declared — tag it (read_xml appends it before
            # the schema reaches the reader)
            if corrupt not in self._schema.fieldNames():
                raise ValueError(
                    f"xmlhive: columnNameOfCorruptRecord={corrupt!r} is not "
                    "in the declared schema — add it as a nullable STRING "
                    "field (the scan cannot widen a fixed schema)"
                )
            self._schema = tag_corrupt_field(self._schema, corrupt)

    @property
    def schema(self) -> StructType:
        return self._schema

    def pushFilters(self, filters):
        """Spark 4.1 filter pushdown: accept the predicates
        :func:`~xml_hive_spark.sources.pushdown.compile_filter_arrow`
        compiles — exact SQL semantics on top-level scalar fields (the
        reference filters only after full deserialization in Hive —
        SURVEY.md §4.1); everything else goes back to Spark. Accepted
        filters run executor-side as one Arrow mask on each batch the
        scan builds, so filtered records never cross the Python→JVM
        boundary."""
        from xml_hive_spark.sources.pushdown import compile_filter_arrow

        unsupported = []
        for f in filters:
            if compile_filter_arrow(f, self._schema) is None:
                unsupported.append(f)
            else:
                self._pushed.append(f)
        return unsupported

    def partitions(self):
        tasks = self._tasks
        if tasks is None:
            if not self._paths:
                raise ValueError("xmlhive: no input path given")
            if self._pack is None:
                raise ValueError(
                    "xmlhive: the source is not bound to a session; load it "
                    "after xml_hive_spark.sources.xml_datasource.register(spark)")
            # imported here, not at module level: the plan cache reaches
            # xml_hive_spark.session, which the stream's planner process
            # cannot import (register_stream pickles this class by value)
            from xml_hive_spark.reader import plan_tasks

            paths = (self._paths if isinstance(self._paths, list)
                     else resolve_paths(self._paths))
            tasks = plan_tasks(paths, self.row_tag, self.partition_bytes, self._pack)
        # Spark requires at least one partition (all-empty inputs would
        # otherwise surface as read(None) on the executor)
        return [XmlInputPartition(t) for t in tasks] or [XmlInputPartition(())]

    def read(self, partition: XmlInputPartition, raw_limit: int | None = None):
        """Arrow batches of the partition's splits, read in order, each
        filtered by the pushed filters. ``raw_limit`` caps the compressed
        bytes read (the stream's admitted size of a gzip member)."""
        splits = [s for s in partition.splits if s[2] > s[1]]
        if not splits:
            return
        from xml_hive_spark.flat import FlatAssembler
        from xml_hive_spark.sources.pushdown import compile_conjunction_arrow

        # flat scalar schemas take the columnar regex fast path (fused
        # scan: template matched against the split buffer in place);
        # nested schemas assemble tuples, converted to Arrow here
        asm = FlatAssembler.try_create(self._schema, self._mode)
        if asm is None:
            batches = rows_to_batches(
                (row for s in splits for row in _read_split(
                    s, self.row_tag, self._schema, self._mode, raw_limit)),
                self._schema)
        else:
            batches = (batch for s in splits for batch in asm.fused_split_batches(
                s, self.row_tag, raw_limit=raw_limit))
        keep = compile_conjunction_arrow(self._pushed, self._schema)
        for batch in batches:
            if keep is not None:
                batch = batch.filter(keep(batch))
            if batch.num_rows:
                yield batch


# rows per Arrow batch of the tuple path: Spark's default
# spark.sql.execution.arrow.maxRecordsPerBatch. Like the flat path's
# batch size, it is the reader's own, so a session's setting of that
# conf does not change it; it changes batching only, never values
ROW_BATCH = 10_000


def rows_to_batches(rows, schema: StructType):
    """Arrow batches of value tuples, converted per field by pyspark's
    ``LocalDataToArrowConversion`` — the converter the DataSource worker
    applies to tuples (pyspark/sql/worker/plan_data_source_read.py), so
    values read the same on both entries."""
    import pyarrow as pa
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema

    aschema = to_arrow_schema(schema)
    convs = [LocalDataToArrowConversion._create_converter(
        f.dataType, none_on_identity=True) for f in schema.fields]
    rows = iter(rows)
    while chunk := list(islice(rows, ROW_BATCH)):
        yield pa.RecordBatch.from_arrays(
            [list(c if conv is None else map(conv, c))
             for c, conv in zip(zip(*chunk), convs)],
            schema=aschema)


_TASK_SCHEMA = StructType([StructField("task", StringType(), False)])


def task_frame(spark, tasks: list) -> DataFrame:
    """One row per read task, one task per partition: row *i* is
    ``tasks[i]`` as JSON. The rows are parallelized by the driver and
    turned into Spark rows in the JVM (what ``createDataFrame`` does
    with a local list, without its partition count), so each partition
    holds only its own task and no Python worker runs to build them."""
    sc = spark.sparkContext
    rows = sc.parallelize([(json.dumps(t),) for t in tasks], len(tasks))
    jvm = sc._jvm
    jrdd = jvm.SerDeUtil.toJavaArray(jvm.SerDeUtil.pythonToJava(rows._jrdd, True))
    return DataFrame(spark._jsparkSession.applySchemaToPythonRDD(
        jrdd.rdd(), _TASK_SCHEMA.json()), spark)


def _run_tasks(read_task, batches):
    for batch in batches:
        for task in batch.column(0).to_pylist():
            yield from read_task(json.loads(task))


def scan(spark, read_task, tasks: list, schema: StructType, name: str) -> DataFrame:
    """A DataFrame of read tasks planned on the driver: one
    ``mapInArrow`` (labelled ``name`` in the plan) over
    :func:`task_frame`, where Spark task *i* runs ``read_task`` on
    ``tasks[i]`` (as JSON gives it back) from its input row and yields
    Arrow batches of ``schema``, so neither the pickled command nor any
    one task carries the whole task list. No Python DataSource is
    planned, so nothing is pushed into the scan and no planner process
    starts; an empty task list runs one empty task, like
    ``partitions()``."""
    ship_package(spark)
    kernel = partial(_run_tasks, read_task)
    kernel.__name__ = name
    return task_frame(spark, tasks or [()]).mapInArrow(kernel, schema)


def read_splits(reader: XmlHiveReader, splits):
    """``reader`` over one task of annotated splits (a :func:`scan` task)."""
    return reader.read(XmlInputPartition(tuple(tuple(s) for s in splits)))


_REGISTERED_SESSIONS: set[int] = set()
_PKG_ZIP: str | None = None
_PKG_DIGEST: str | None = None
_SHIPPED_APPS: set[str] = set()


def _package_sources(pkg_root):
    """``[(path, archive name)]`` of the package's sources and their hash."""
    import hashlib

    sources = [(p, "xml_hive_spark/" + str(p.relative_to(pkg_root)))
               for p in sorted(pkg_root.rglob("*.py"))]
    digest = hashlib.sha256()
    for p, name in sources:
        digest.update(name.encode() + b"\0" + p.read_bytes() + b"\0")
    return sources, digest.hexdigest()


def check_worker_cwd(cwd, pkg_root, digest: str) -> None:
    """Raise when local workers would import another ``xml_hive_spark``.

    ``python -m pyspark.daemon`` puts the JVM's working directory first on
    every worker's ``sys.path``, ahead of the shipped zip, so a package in
    that directory shadows the driver's. A copy with the same sources is
    harmless; any other is a driver and workers running different code."""
    from pathlib import Path

    shadow = Path(cwd) / "xml_hive_spark"
    if not (shadow / "__init__.py").is_file():
        return
    if shadow.resolve() == Path(pkg_root).resolve():
        return
    if _package_sources(shadow.resolve())[1] != digest:
        raise RuntimeError(
            f"Spark Python workers start in {cwd} and would import "
            f"{shadow.resolve()}, while the driver runs "
            f"{Path(pkg_root).resolve()}; the sources differ. Start the "
            f"session from another directory or from this checkout.")


def ship_package(spark) -> None:
    """Make ``xml_hive_spark`` importable in Python workers regardless of
    the driver process's cwd/sys.path: the reader and the DataSource are
    pickled by reference, so their workers must be able to import the
    package. ``addPyFile`` puts the zipped package on every worker's
    path, once per Spark application; on a local master the JVM's working
    directory is checked first (:func:`check_worker_cwd`). The zip is
    written once per process, under its scratch directory, and named by a
    hash of the package sources."""
    global _PKG_ZIP, _PKG_DIGEST
    import zipfile
    from pathlib import Path

    from xml_hive_spark.session import scratch_dir

    pkg_root = Path(__file__).resolve().parent.parent
    if _PKG_ZIP is None:
        sources, _PKG_DIGEST = _package_sources(pkg_root)
        zpath = Path(scratch_dir("pkg-")) / f"xml_hive_spark_pkg_{_PKG_DIGEST[:16]}.zip"
        with zipfile.ZipFile(zpath, "w") as z:
            for p, name in sources:
                z.write(p, name)
        _PKG_ZIP = str(zpath)
    sc = spark.sparkContext
    if sc.applicationId not in _SHIPPED_APPS:
        if sc.master.startswith("local"):
            check_worker_cwd(sc._jvm.System.getProperty("user.dir"),
                             pkg_root, _PKG_DIGEST)
        sc.addPyFile(_PKG_ZIP)
        _SHIPPED_APPS.add(sc.applicationId)


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
        # a subclass made here is pickled by value, so the planner
        # process sees this session's packing numbers
        spark.dataSource.register(type(XmlHiveDataSource.__name__, (XmlHiveDataSource,),
                                       {"pack": pack_params(spark)}))
        _REGISTERED_SESSIONS.add(key)
