"""Feature-extraction and resize kernels: numpy-reference exactness for
the (real) byte-histogram features, determinism + shape for the resize
pipeline (plain Python calls of the row kernels), and registry execution
for both."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from xml_hive_spark.operators import all_queries, t
from xml_hive_spark.operators.multimodal import (
    byte_features,
    resize_pool,
    synth_media,
)


def test_byte_features_match_numpy(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").limit(50)
    wp = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    got = {did: v for r in wp.collect() for did, v in byte_features(r.doc_id, r.payload)}
    assert len(got) == 50
    for r in wp.collect():
        a = np.frombuffer(bytes(r.payload), dtype=np.uint8)
        h = np.bincount(a >> 4, minlength=16).astype(np.float64)
        n = np.linalg.norm(h)
        exp = (h / n if n else h).astype(np.float32)
        assert np.allclose(got[r.doc_id], exp, atol=0), r.doc_id
        assert abs(float(np.linalg.norm(got[r.doc_id])) - 1.0) < 1e-5


def test_resize_deterministic_and_shaped(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").limit(20)
    wp = [tuple(r) for r in docs.select(
        "doc_id", F.encode("text", "utf-8").alias("payload")).collect()]

    def resized():
        return sorted(out for row in wp for media in synth_media(*row)
                      for out in resize_pool(*media))

    a = resized()
    b = resized()
    assert a == b  # deterministic decode + pooling
    assert all(r[1] == 8 and r[2] == 8 for r in a)
    assert len(a) == 20


def test_decode_real_headers_exact():
    """The decode kernel must read true dimensions out of valid PNG /
    JPEG / GIF headers built independently with struct (not via
    make_image), including a PNG whose body is genuine zlib-compressed
    IDAT — i.e. a file a real viewer would accept."""
    import struct
    import zlib

    from xml_hive_spark.operators.multimodal import decode_image_header

    # PNG 640x480, real chunk layout: IHDR + IDAT(zlib) + IEND
    ihdr = b"IHDR" + struct.pack(">IIBBBBB", 640, 480, 8, 0, 0, 0, 0)
    idat_raw = zlib.compress(b"\x00" * (640 + 1))  # one filtered scanline
    idat = b"IDAT" + idat_raw
    iend = b"IEND"
    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + ihdr + struct.pack(">I", zlib.crc32(ihdr))
        + struct.pack(">I", len(idat_raw)) + idat
        + struct.pack(">I", zlib.crc32(idat))
        + struct.pack(">I", 0) + iend + struct.pack(">I", zlib.crc32(iend))
    )
    m = decode_image_header(png)
    assert (m["width"], m["height"], m["format"]) == (640, 480, "png")

    # JPEG 320x200 with COM and APP1 segments before SOF2 (progressive)
    com = b"\xff\xfe" + struct.pack(">H", 7) + b"hello"
    app1 = b"\xff\xe1" + struct.pack(">H", 8) + b"Exif\x00\x00"
    sof2 = b"\xff\xc2" + struct.pack(">HBHHB", 17, 8, 200, 320, 3) \
        + b"\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    jpg = b"\xff\xd8" + com + app1 + sof2 + b"\xff\xd9"
    m = decode_image_header(jpg)
    assert (m["width"], m["height"], m["format"]) == (320, 200, "jpeg")

    # GIF87a 12x34 (little-endian dims)
    gif = b"GIF87a" + struct.pack("<HH", 12, 34) + bytes(3)
    m = decode_image_header(gif)
    assert (m["width"], m["height"], m["format"]) == (12, 34, "gif")

    # unknown magic: dimensions are never invented
    m = decode_image_header(b"\x00\x01\x02\x03 not an image")
    assert (m["width"], m["height"], m["format"]) == (-1, -1, "unknown")


def test_make_image_roundtrip_and_planes():
    """make_image headers round-trip through the decoder, and
    _pixel_planes recovers exactly the pixel planes that were stored."""
    import numpy as np

    from xml_hive_spark.operators.multimodal import (
        _pixel_planes,
        decode_image_header,
        make_image,
    )

    rng = np.random.default_rng(7)
    for kind in ("png", "jpeg", "gif"):
        w, h, n = 17, 23, 3
        body = rng.integers(0, 256, size=n * w * h, dtype=np.uint8)
        payload = make_image(kind, w, h, body.tobytes())
        m = decode_image_header(payload)
        assert (m["width"], m["height"], m["format"]) == (w, h, kind)
        pw, ph, planes = _pixel_planes(payload)
        assert (pw, ph, len(planes)) == (w, h, n)
        assert np.array_equal(
            np.concatenate([p.ravel() for p in planes]), body
        )


def test_registry_entries_execute(spark, sf_dir):
    reg = all_queries()
    fe = reg["multimodal_feature_extract"].fn(spark, sf_dir).collect()
    assert len(fe) == 1 and fe[0].n > 0
    rs = reg["multimodal_resize_stub"].fn(spark, sf_dir).collect()
    assert len(rs) == 1 and rs[0].n > 0


def test_arrow_chunking_reassembles_exactly(spark, sf_dir):
    """mapInArrow chunking must be lossless: concatenating each doc's
    chunks in chunk_idx order reproduces the original payload bytes."""
    from pyspark.sql import functions as F

    from xml_hive_spark.operators import t
    from xml_hive_spark.operators.multimodal import chunk_payloads_arrow

    docs = t(spark, sf_dir, "documents").limit(50)
    payloads = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    orig = {r.doc_id: bytes(r.payload) for r in payloads.collect()}
    got: dict[int, list] = {}
    for r in chunk_payloads_arrow(payloads).collect():
        got.setdefault(r.doc_id, []).append((r.chunk_idx, bytes(r.chunk)))
    assert set(got) == set(orig)
    for doc_id, pieces in got.items():
        joined = b"".join(c for _, c in sorted(pieces))
        assert joined == orig[doc_id]
        assert all(len(c) <= 128 for _, c in pieces)


def test_resize_block_inverse_swept():
    """The resize oracle inverts numpy's linspace pooling boundaries
    with block(y) = (8y+7)//h; sweep EVERY dimension the synth stage
    can produce (16..63) to pin the equivalence."""
    ys_of = lambda h: np.linspace(0, h, 9).astype(int)  # noqa: E731
    for h in range(16, 64):
        ys = ys_of(h)
        assert all(int(ys[i]) == (i * h) // 8 for i in range(9))
        for y in range(h):
            true_i = int(np.searchsorted(ys, y, side="right")) - 1
            assert (8 * y + 7) // h == true_i, (h, y)
