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

Spark integration is one output file per partition via
``foreachPartition`` (no driver materialization — the same layout every
Spark file sink produces) and a distributed ``flatMap`` decode on read.
Logical types follow spark-avro's mapping: date → int/date, timestamp →
long/timestamp-micros, DecimalType → bytes/decimal(p,s).
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import struct
import zlib
from datetime import date, datetime, timedelta
from decimal import Decimal

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

_MAGIC = b"Obj\x01"
_EPOCH_D = date(1970, 1, 1)
_EPOCH_TS = datetime(1970, 1, 1)


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
            # exact integer micros (float .timestamp() loses precision)
            base = v.replace(tzinfo=None) if v.tzinfo else v
            td = base - _EPOCH_TS
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
        return lambda r: _EPOCH_TS + timedelta(microseconds=r.long())
    if isinstance(dt, DecimalType):
        scale = dt.scale

        def dec_dec(r):
            unscaled = int.from_bytes(r.take(r.long()), "big", signed=True)
            return Decimal(unscaled).scaleb(-scale)

        return dec_dec
    if isinstance(dt, ArrayType):
        item = _decoder_for(dt.elementType, dt.containsNull)

        def dec_arr(r):
            out = []
            while True:
                n = r.long()
                if n == 0:
                    return out
                if n < 0:  # block with byte-size prefix
                    n = -n
                    r.long()
                for _ in range(n):
                    out.append(item(r))

        return dec_arr
    if isinstance(dt, MapType):
        val = _decoder_for(dt.valueType, dt.valueContainsNull)

        def dec_map(r):
            out = {}
            while True:
                n = r.long()
                if n == 0:
                    return out
                if n < 0:
                    n = -n
                    r.long()
                for _ in range(n):
                    k = r.take(r.long()).decode("utf-8")
                    out[k] = val(r)

        return dec_map
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


def read_ocf_file(path: str, struct: StructType | None = None):
    """Yield row tuples from one OCF file (codec null/deflate). When
    ``struct`` is given it drives decoding (names/positions must match
    the embedded writer schema, which is asserted)."""
    with open(path, "rb") as f:
        data = f.read()
    if data[:4] != _MAGIC:
        raise ValueError(f"{path}: not an Avro object container file")
    r = _Reader(data, 4)
    meta: dict[str, bytes] = {}
    while True:
        n = r.long()
        if n == 0:
            break
        if n < 0:
            n = -n
            r.long()
        for _ in range(n):
            k = r.take(r.long()).decode()
            meta[k] = r.take(r.long())
    sync = r.take(16)
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported Avro codec: {codec}")
    embedded = json.loads(meta["avro.schema"].decode())
    if struct is None:
        raise ValueError("read_ocf_file requires the target StructType")
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


def write_avro_ocf(
    df: DataFrame, path: str, mode: str = "overwrite", codec: str = "deflate"
) -> None:
    """Distributed Avro sink: one ``part-NNNNN.avro`` per partition,
    written by executor tasks (driver never sees the data)."""
    if os.path.exists(path):
        if mode == "overwrite":
            import shutil

            shutil.rmtree(path)
        elif mode == "error":
            raise FileExistsError(path)
    os.makedirs(path, exist_ok=True)
    struct = df.schema
    from xml_hive_spark.sources.xml_datasource import ship_package

    ship_package(df.sparkSession)

    def write_part(idx: int, rows):
        part = os.path.join(path, f"part-{idx:05d}.avro")
        n = write_ocf_file(rows, struct, part, codec=codec)
        if n == 0:
            os.remove(part)  # skip empty partitions, like Spark sinks
        return iter(())

    df.rdd.mapPartitionsWithIndex(write_part).count()  # force execution


def read_avro_ocf(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Distributed Avro source: small part files are packed into tasks by
    the reader's small-file rule, read in file order."""
    files = sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".avro")
    ) if os.path.isdir(path) else [path]
    from xml_hive_spark.reader import DEFAULT_PARTITION_BYTES, pack_small_files
    from xml_hive_spark.sources.xml_datasource import ship_package

    ship_package(spark)
    groups = pack_small_files(
        spark, [(f, os.path.getsize(f), True) for f in files], DEFAULT_PARTITION_BYTES
    )
    rdd = spark.sparkContext.parallelize(groups, max(1, len(groups))).flatMap(
        lambda group: (rec for p in group for rec in read_ocf_file(p, schema))
    )
    return spark.createDataFrame(rdd, schema)
