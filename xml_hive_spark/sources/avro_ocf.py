"""Pure-Python Avro Object Container File (OCF) sink + source.

The reference's only sink writes Avro container files
(TestAvroTranformer.scala:53-66, via avro-mapred). This container has no
spark-avro jar and no network to fetch one, and no Python avro package —
so the OCF codec (a small, fully-public spec:
https://avro.apache.org/docs/1.12.0/specification/#object-container-files)
is implemented here directly:

- header: magic ``Obj\\x01``, metadata map (``avro.schema`` JSON,
  ``avro.codec``), 16-byte sync marker
- data blocks: row count (zigzag varint), byte length, payload
  (optionally deflate-compressed), sync marker
- binary encoding: zigzag varints for int/long, little-endian IEEE for
  float/double, length-prefixed utf8/bytes, union index + value,
  block-encoded arrays/maps

Spark integration runs on the harness ``read_xml`` uses, one
``mapInArrow`` per read or write. The sink writes one output file per
partition from its task (no driver materialization — the same layout
every Spark file sink produces); the source packs part files into read
tasks by the reader's small-file rule and decodes each task's files in
``xml_datasource.scan``. Logical types follow spark-avro's mapping:
date → int/date, timestamp → long/timestamp-micros, DecimalType →
bytes/decimal(p,s).
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import struct
import uuid
import zlib
from datetime import date, datetime, timedelta, timezone
from decimal import Decimal
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructType,
    TimestampType,
)

from xml_hive_spark.reader import DEFAULT_PARTITION_BYTES, pack_params, pack_runs
from xml_hive_spark.sources.xml_datasource import rows_to_batches, scan, ship_package

_MAGIC = b"Obj\x01"
_EPOCH_D = date(1970, 1, 1)
_EPOCH_TS = datetime(1970, 1, 1, tzinfo=timezone.utc)


# ------------------------------------------------------------ schema mapping


def struct_to_avro_schema(struct: StructType, name: str = "topLevelRecord") -> dict:
    """StructType → Avro record schema (spark-avro's type mapping).
    Nullable fields become ``["null", T]`` unions with null default."""
    counter = [0]

    def conv(dt, nullable: bool, path: str):
        a = _conv_type(dt, path)
        return ["null", a] if nullable else a

    def _conv_type(dt, path: str):
        if isinstance(dt, (IntegerType, ShortType, ByteType)):
            return "int"
        if isinstance(dt, LongType):
            return "long"
        if isinstance(dt, StringType):
            return "string"
        if isinstance(dt, DoubleType):
            return "double"
        if isinstance(dt, FloatType):
            return "float"
        if isinstance(dt, BooleanType):
            return "boolean"
        if isinstance(dt, BinaryType):
            return "bytes"
        if isinstance(dt, DateType):
            return {"type": "int", "logicalType": "date"}
        if isinstance(dt, TimestampType):
            return {"type": "long", "logicalType": "timestamp-micros"}
        if isinstance(dt, DecimalType):
            return {
                "type": "bytes",
                "logicalType": "decimal",
                "precision": dt.precision,
                "scale": dt.scale,
            }
        if isinstance(dt, ArrayType):
            return {
                "type": "array",
                "items": conv(dt.elementType, dt.containsNull, path + "_item"),
            }
        if isinstance(dt, MapType):
            if not isinstance(dt.keyType, StringType):
                raise TypeError("Avro maps require string keys")
            return {
                "type": "map",
                "values": conv(dt.valueType, dt.valueContainsNull, path + "_value"),
            }
        if isinstance(dt, StructType):
            counter[0] += 1
            return {
                "type": "record",
                "name": f"{path}_r{counter[0]}",
                "fields": [
                    {
                        "name": f.name,
                        "type": conv(f.dataType, f.nullable, f"{path}_{f.name}"),
                        **({"default": None} if f.nullable else {}),
                    }
                    for f in dt.fields
                ],
            }
        raise TypeError(f"unsupported Spark type for Avro: {dt}")

    top = _conv_type(struct, name)
    top["name"] = name
    return top


# ---------------------------------------------------------------- encoding


def _wvarint(out: bytearray, n: int) -> None:
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _wlong(out: bytearray, v: int) -> None:
    _wvarint(out, (v << 1) ^ (v >> 63))


def _tc_bytes(n: int) -> bytes:
    return n.to_bytes(max(1, (n.bit_length() + 8) // 8), "big", signed=True)


def _encoder_for(dt, nullable: bool):
    """Value-encoder closure for one Spark type (+ null-union prefix)."""
    enc = _raw_encoder(dt)
    if not nullable:
        return enc

    def enc_nullable(out: bytearray, v) -> None:
        if v is None:
            out.append(0x00)  # union index 0 = null (zigzag(0))
        else:
            out.append(0x02)  # union index 1 (zigzag(1))
            enc(out, v)

    return enc_nullable


def _raw_encoder(dt):
    if isinstance(dt, (IntegerType, ShortType, ByteType, LongType)):
        return _wlong
    if isinstance(dt, StringType):

        def enc_str(out, v):
            b = v.encode("utf-8")
            _wlong(out, len(b))
            out += b

        return enc_str
    if isinstance(dt, DoubleType):
        return lambda out, v: out.extend(struct.pack("<d", v))
    if isinstance(dt, FloatType):
        return lambda out, v: out.extend(struct.pack("<f", v))
    if isinstance(dt, BooleanType):
        return lambda out, v: out.append(1 if v else 0)
    if isinstance(dt, BinaryType):

        def enc_bytes(out, v):
            v = bytes(v)
            _wlong(out, len(v))
            out += v

        return enc_bytes
    if isinstance(dt, DateType):
        return lambda out, v: _wlong(out, (v - _EPOCH_D).days)
    if isinstance(dt, TimestampType):

        def enc_ts(out, v):
            # exact integer micros (float .timestamp() loses precision);
            # a naive value is local time, as pyspark hands it to Python
            td = v.astimezone(timezone.utc) - _EPOCH_TS
            _wlong(out, (td.days * 86400 + td.seconds) * 1_000_000 + td.microseconds)

        return enc_ts
    if isinstance(dt, DecimalType):
        scale = dt.scale

        def enc_dec(out, v: Decimal):
            unscaled = int(v.scaleb(scale).to_integral_value())
            b = _tc_bytes(unscaled)
            _wlong(out, len(b))
            out += b

        return enc_dec
    if isinstance(dt, ArrayType):
        item = _encoder_for(dt.elementType, dt.containsNull)

        def enc_arr(out, v):
            if v:
                _wlong(out, len(v))
                for x in v:
                    item(out, x)
            _wlong(out, 0)

        return enc_arr
    if isinstance(dt, MapType):
        val = _encoder_for(dt.valueType, dt.valueContainsNull)

        def enc_map(out, v):
            if v:
                _wlong(out, len(v))
                for k, x in v.items():
                    kb = k.encode("utf-8")
                    _wlong(out, len(kb))
                    out += kb
                    val(out, x)
            _wlong(out, 0)

        return enc_map
    if isinstance(dt, StructType):
        fields = [_encoder_for(f.dataType, f.nullable) for f in dt.fields]

        def enc_rec(out, v):
            for e, x in zip(fields, v):
                e(out, x)

        return enc_rec
    raise TypeError(f"unsupported Spark type for Avro: {dt}")


# ---------------------------------------------------------------- decoding


class _Reader:
    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def varint(self) -> int:
        shift = n = 0
        d = self.data
        while True:
            b = d[self.pos]
            self.pos += 1
            n |= (b & 0x7F) << shift
            if not b & 0x80:
                return n
            shift += 7

    def long(self) -> int:
        n = self.varint()
        return (n >> 1) ^ -(n & 1)

    def take(self, k: int) -> bytes:
        b = self.data[self.pos : self.pos + k]
        self.pos += k
        return b

    def items(self):
        """One step per item of an array or map, block by block, up to
        its 0 terminator (a negative block count is followed by the
        block's byte size)."""
        while n := self.long():
            if n < 0:
                n = -n
                self.long()
            yield from range(n)


def _decoder_for(dt, nullable: bool):
    dec = _raw_decoder(dt)
    if not nullable:
        return dec

    def dec_nullable(r: _Reader):
        return None if r.long() == 0 else dec(r)

    return dec_nullable


def _raw_decoder(dt):
    if isinstance(dt, (IntegerType, ShortType, ByteType, LongType)):
        return _Reader.long
    if isinstance(dt, StringType):
        return lambda r: r.take(r.long()).decode("utf-8")
    if isinstance(dt, DoubleType):
        return lambda r: struct.unpack("<d", r.take(8))[0]
    if isinstance(dt, FloatType):
        return lambda r: struct.unpack("<f", r.take(4))[0]
    if isinstance(dt, BooleanType):
        return lambda r: r.take(1) == b"\x01"
    if isinstance(dt, BinaryType):
        return lambda r: bytearray(r.take(r.long()))
    if isinstance(dt, DateType):
        return lambda r: _EPOCH_D + timedelta(days=r.long())
    if isinstance(dt, TimestampType):
        # naive local time, as pyspark gives a TimestampType value
        return lambda r: (_EPOCH_TS + timedelta(microseconds=r.long())
                          ).astimezone().replace(tzinfo=None)
    if isinstance(dt, DecimalType):
        scale = dt.scale

        def dec_dec(r):
            unscaled = int.from_bytes(r.take(r.long()), "big", signed=True)
            return Decimal(unscaled).scaleb(-scale)

        return dec_dec
    if isinstance(dt, ArrayType):
        item = _decoder_for(dt.elementType, dt.containsNull)
        return lambda r: [item(r) for _ in r.items()]
    if isinstance(dt, MapType):
        val = _decoder_for(dt.valueType, dt.valueContainsNull)
        return lambda r: {r.take(r.long()).decode("utf-8"): val(r) for _ in r.items()}
    if isinstance(dt, StructType):
        fields = [_decoder_for(f.dataType, f.nullable) for f in dt.fields]
        return lambda r: tuple(d(r) for d in fields)
    raise TypeError(f"unsupported Spark type for Avro: {dt}")


# ------------------------------------------------------------- file format


def write_ocf_file(
    rows, struct: StructType, path: str, codec: str = "deflate",
    block_rows: int = 4096,
) -> int:
    """Write one OCF file; returns row count. ``rows`` yields tuples/Rows
    in schema field order."""
    schema_json = json.dumps(struct_to_avro_schema(struct))
    sync = hashlib.md5(path.encode()).digest()  # deterministic 16 bytes
    enc = _raw_encoder(struct)

    def compress(b: bytes) -> bytes:
        if codec == "deflate":
            c = zlib.compressobj(6, zlib.DEFLATED, -15)  # raw deflate
            return c.compress(b) + c.flush()
        return b

    n_total = 0
    with open(path, "wb") as f:
        header = bytearray(_MAGIC)
        meta = {"avro.schema": schema_json.encode(), "avro.codec": codec.encode()}
        _wlong(header, len(meta))
        for k, v in meta.items():
            kb = k.encode()
            _wlong(header, len(kb))
            header += kb
            _wlong(header, len(v))
            header += v
        header.append(0)  # metadata map terminator
        header += sync
        f.write(header)

        buf = bytearray()
        n = 0

        def flush():
            nonlocal buf, n, n_total
            if not n:
                return
            payload = compress(bytes(buf))
            blk = bytearray()
            _wlong(blk, n)
            _wlong(blk, len(payload))
            f.write(bytes(blk) + payload + sync)
            n_total += n
            buf = bytearray()
            n = 0

        for row in rows:
            enc(buf, tuple(row))
            n += 1
            if n >= block_rows or len(buf) >= 1 << 20:
                flush()
        flush()
    return n_total


def read_ocf_file(path: str, struct: StructType):
    """Yield row tuples from one OCF file (codec null/deflate), decoded
    by ``struct`` (its field names must match the embedded writer
    schema's, which is asserted)."""
    with open(path, "rb") as f:
        data = f.read()
    if data[:4] != _MAGIC:
        raise ValueError(f"{path}: not an Avro object container file")
    r = _Reader(data, 4)
    meta = {r.take(r.long()).decode(): r.take(r.long()) for _ in r.items()}
    sync = r.take(16)
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported Avro codec: {codec}")
    embedded = json.loads(meta["avro.schema"].decode())
    ours = struct_to_avro_schema(struct)
    if [f["name"] for f in embedded.get("fields", [])] != [
        f["name"] for f in ours["fields"]
    ]:
        raise ValueError(
            f"{path}: schema field mismatch: {embedded.get('fields')}"
        )
    dec = _raw_decoder(struct)
    while r.pos < len(data):
        cnt = r.long()
        size = r.long()
        payload = r.take(size)
        if codec == "deflate":
            payload = zlib.decompress(payload, -15)
        br = _Reader(payload)
        for _ in range(cnt):
            yield dec(br)
        if r.take(16) != sync:
            raise ValueError(f"{path}: sync marker mismatch (corrupt block)")


# ----------------------------------------------------------- Spark surface


def _write_part(path: str, struct: StructType, codec: str, write_id: str, batches):
    """One write task: its partition's rows into
    ``part-NNNNN-<write_id>.avro`` under ``path``, named by the partition
    id and the write; yields ``(part, rows)``."""
    import pyarrow as pa
    from pyspark import TaskContext
    from pyspark.sql.conversion import ArrowTableToRowsConversion

    part = os.path.join(
        path, f"part-{TaskContext.get().partitionId():05d}-{write_id}.avro")
    rows = (row for batch in batches
            for row in ArrowTableToRowsConversion.convert(
                pa.Table.from_batches([batch]), struct, return_as_tuples=True))
    n = write_ocf_file(rows, struct, part, codec=codec)
    if n == 0:
        os.remove(part)  # skip empty partitions, like Spark sinks
    yield pa.RecordBatch.from_pydict({"part": [part], "rows": [n]})


_SAVE_MODES = ("overwrite", "append", "ignore", "error", "errorifexists", "default")


def write_avro_ocf(
    df: DataFrame, path: str, mode: str = "overwrite", codec: str = "deflate"
) -> None:
    """Distributed Avro sink: one ``part-NNNNN-<write id>.avro`` per
    partition, written by its task in one ``mapInArrow`` (the driver sees
    only each part's name and row count). ``mode`` is one of Spark's save
    modes; parts of an ``append`` sit beside the ones already there."""
    mode = mode.lower()
    if mode not in _SAVE_MODES:
        raise ValueError(f"write_avro_ocf: unknown save mode {mode!r}; "
                         f"expected one of {', '.join(_SAVE_MODES)}")
    if os.path.exists(path):
        if mode == "ignore":
            return
        if mode == "overwrite":
            import shutil

            shutil.rmtree(path)
        elif mode != "append":
            raise FileExistsError(path)
    os.makedirs(path, exist_ok=True)
    ship_package(df.sparkSession)
    kernel = partial(_write_part, path, df.schema, codec, uuid.uuid4().hex)
    kernel.__name__ = "avro_ocf_write"
    df.mapInArrow(kernel, "part string, rows long").collect()


def _read_files(schema: StructType, files):
    """One read task: Arrow batches of its files' records, in order."""
    return rows_to_batches(
        (rec for p in files for rec in read_ocf_file(p, schema)), schema)


def read_avro_ocf(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Distributed Avro source: small part files are packed into tasks by
    the reader's small-file rule and read in file order, one task per
    packed group."""
    files = sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".avro")
    ) if os.path.isdir(path) else [path]
    groups = pack_runs([(f, os.path.getsize(f), True) for f in files],
                       DEFAULT_PARTITION_BYTES, *pack_params(spark))
    return scan(spark, partial(_read_files, schema), groups, schema, "avro_ocf_scan")
