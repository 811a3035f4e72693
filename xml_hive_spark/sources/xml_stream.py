"""Streaming XML source: landing-directory file watcher.

``readStream.format("xmlhive-stream")`` tails a directory for new XML
files and emits their records exactly once — the streaming twin of the
batch reader, built on Spark 4's partition-based
``DataSourceStreamReader``: offset planning (directory listing) runs in
the driver's stream-runner process, but record extraction runs in
**executor tasks**, one per byte-range split, so a burst of large landed
files is parsed cluster-wide instead of on the driver (the
``SimpleDataSourceStreamReader`` it replaces materialized every batch as
a Python list driver-side — VERDICT r01 "What's wrong" #4).

The reference has no streaming surface at all (batch ``InputFormat``
only, AvroFromXmlInputFormat.scala:15); this is extension scope
(SURVEY.md §7 M6).

Usage::

    spark.dataSource.register(XmlHiveStreamDataSource)
    stream = (spark.readStream.format("xmlhive-stream")
              .schema(struct)
              .option("rowTag", "book")
              .option("path", "/landing/dir")
              .load())

Exactly-once contract: the offset is the cumulative set of emitted files
with their size at emit time ``{"files": json({path: size})}``. A batch
is the file-set difference ``end - start``; reads are bounded to the
recorded size, so appends after emit are ignored (landing dirs are
append-new-files). ``partitions(start, end)`` is a pure function of the
two offsets plus file bytes, so checkpoint recovery replans the same
batch deterministically.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from xml_hive_spark.flat import FlatAssembler, strip_metadata
from xml_hive_spark.reader import (
    DEFAULT_PARTITION_BYTES,
    _read_split,
    _reject_utf16,
    chain_splits,
)
from xml_hive_spark.sources.xml_datasource import _opt
from xml_hive_spark.xsd import xsd_to_struct


@dataclass
class XmlStreamPartition(InputPartition):
    path: str
    start: int
    end: int
    state: str = "TEXT"
    depth: int = 0
    # compressed inputs: cap on COMPRESSED bytes = the size recorded in
    # the offset, so a member appended after admission is invisible to
    # this batch and to any checkpoint-recovery replay (0 = no cap)
    raw_limit: int = 0


class XmlHiveStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "xmlhive-stream"

    def _rich_schema(self) -> StructType | None:
        xsd = _opt(self.options, "xsd")
        sep_type = _opt(self.options, "sepTagType", "septagtype")
        if not xsd or not sep_type:
            return None
        return xsd_to_struct(xsd, sep_type, _opt(self.options, "sepTagTypeNs"))

    def schema(self) -> StructType:
        rich = self._rich_schema()
        if rich is None:
            raise ValueError(
                "xmlhive-stream: pass .schema(...) or options xsd= and sepTagType="
            )
        # the schema Spark sees must be metadata-free (streaming Arrow
        # transfer rejects StructField metadata); assembly keeps the twin
        return strip_metadata(rich)

    def streamReader(self, schema: StructType) -> "XmlStreamReader":
        # prefer the XSD-derived schema (carries attribute/element kind
        # metadata) for assembly; fall back to the user schema + the
        # assembler's attribute-name heuristics
        return XmlStreamReader(self._rich_schema() or schema, self.options)


class XmlStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options):
        self._schema = schema
        self._dir = _opt(options, "path", "paths")
        if not self._dir:
            raise ValueError("xmlhive-stream: path option is required")
        self._row_tag = _opt(options, "rowTag", "rowtag")
        if not self._row_tag:
            raise ValueError("xmlhive-stream: rowTag option is required")
        self._partition_bytes = int(
            _opt(options, "partitionBytes", "partitionbytes",
                 default=DEFAULT_PARTITION_BYTES)
        )
        self._mode = str(_opt(options, "mode", default="FAILFAST")).upper()
        # rate limiting: admit at most this many NEW files into each
        # offset advance (0 = unbounded). The batch-size control every
        # production file stream needs — a backlog of landed files
        # drains in bounded micro-batches instead of one giant batch.
        # CAVEAT (verified live): Trigger.AvailableNow snapshots the
        # offset with ONE latestOffset call (the Python streaming API
        # has no admission-control hook), so a capped source processes
        # only the first cap-worth per availableNow run — use a
        # processingTime trigger with the cap (bounded batches, full
        # drain; pinned in tests), or leave it 0 for availableNow.
        self._max_files = int(
            _opt(options, "maxFilesPerTrigger", "maxfilespertrigger",
                 default=0)
        )
        # monotone floor for latestOffset: a file deleted from the landing
        # dir must not shrink the offset (offsets are cumulative)
        self._known: dict[str, int] = {}

    # NOTE: offsets must be FLAT dicts — a nested dict value crashes
    # PythonStreamingSourceRunner.readArrowRecordBatches with a bare
    # AssertionError (empirically bisected on Spark 4.1). The file→size
    # map is therefore JSON-encoded into a single string field.

    def initialOffset(self) -> dict:
        return {"files": json.dumps({})}

    def _list(self) -> dict[str, int]:
        try:
            entries = os.listdir(self._dir)
        except FileNotFoundError:
            return {}
        out: dict[str, int] = {}
        for e in sorted(entries):
            if e.endswith((".xml", ".xml.gz", ".xml.bz2")):
                p = os.path.join(self._dir, e)
                try:
                    size = os.path.getsize(p)
                    if p not in self._known:
                        # Fail fast on UTF-16/32 (ValueError propagates),
                        # but peek each file ONCE (new paths only) and
                        # tolerate landing-dir races the same way the
                        # getsize above does: a file that vanishes
                        # between stat and open, or a partially-written
                        # compressed member (BadGzipFile/EOFError on the
                        # decompressed peek), is skipped this poll and
                        # retried on the next one.
                        _reject_utf16(p)
                except (OSError, EOFError):
                    continue
                out[p] = size
        return out

    def latestOffset(self) -> dict:
        admitted = 0
        for p, size in self._list().items():  # sorted → deterministic
            if p not in self._known:
                if self._max_files and admitted >= self._max_files:
                    break
                self._known[p] = size
                admitted += 1
        return {"files": json.dumps(self._known, sort_keys=True)}

    def _absorb(self, off: dict) -> None:
        """Fold a checkpointed offset into the monotone ``_known`` floor.
        A restarted driver starts with an empty floor, so without this
        the per-trigger admission cap would be spent re-admitting
        already-committed files (each yielding an empty batch) until the
        floor caught up — at production backlog sizes, a long dead
        window after every recovery."""
        for p, s in json.loads(off.get("files", "{}")).items():
            if p not in self._known:
                self._known[p] = s

    def partitions(self, start: dict, end: dict):
        self._absorb(start)
        self._absorb(end)
        seen = json.loads(start.get("files", "{}"))
        target = json.loads(end.get("files", "{}"))
        parts: list[XmlStreamPartition] = []
        for p, size in target.items():
            if p in seen or size <= 0 or not os.path.exists(p):
                continue
            if p.endswith((".gz", ".bz2")):
                from xml_hive_spark.reader import GZIP_SPLIT_END

                parts.append(
                    XmlStreamPartition(p, 0, GZIP_SPLIT_END, "TEXT", 0,
                                       raw_limit=size)
                )
                continue
            pb = self._partition_bytes
            n = max(1, (size + pb - 1) // pb)
            step = (size + n - 1) // n
            bounds = [min(i * step, size) for i in range(n + 1)]
            # phase A+B boundary reconciliation (driver-side: new files
            # only, one extra byte scan for multi-split files)
            ann = chain_splits(lambda p=p: open(p, "rb"), bounds, self._row_tag)
            parts += [XmlStreamPartition(p, a, b, st, d) for a, b, st, d in ann]
        return parts

    def read(self, partition: XmlStreamPartition):
        split = (partition.path, partition.start, partition.end,
                 partition.state, partition.depth)
        limit = partition.raw_limit or None
        asm = FlatAssembler.try_create(self._schema, self._mode)
        if asm is not None:
            yield from asm.fused_split_batches(split, self._row_tag,
                                               raw_limit=limit)
        else:
            yield from _read_split(split, self._row_tag, self._schema,
                                   self._mode, raw_limit=limit)

    def commit(self, end: dict) -> None:
        self._absorb(end)  # keep the admission floor current (restart case)


def register_stream(spark) -> None:
    """Register the streaming source. Unlike batch data-source workers,
    the streaming source runner process does NOT receive addPyFile paths
    (observed: ModuleNotFoundError in python_streaming_source_runner), so
    the whole module chain the stream touches is pickled BY VALUE via
    cloudpickle — the runner needs no importable xml_hive_spark."""
    import xml_hive_spark.flat as _flat_mod
    import xml_hive_spark.reader as _reader_mod
    import xml_hive_spark.sources.xml_datasource as _ds_mod
    import xml_hive_spark.sources.xml_stream as _stream_mod
    import xml_hive_spark.xsd as _xsd_mod
    from pyspark import cloudpickle

    for m in (_stream_mod, _ds_mod, _reader_mod, _xsd_mod, _flat_mod):
        cloudpickle.register_pickle_by_value(m)
    spark.dataSource.register(XmlHiveStreamDataSource)
