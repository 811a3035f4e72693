"""Dependency-free GIF87a/89a codec for the multimodal tier.

Companion to ``png.py``/``wav.py``: the GIF "decode" that matters is
the variable-code-width LZW stream — implemented here from the public
GIF89a specification with the stdlib only. The decoder walks the full
container (logical screen descriptor, global/local color tables,
extension blocks, image descriptor, LZW-compressed index sub-blocks)
and returns the palette-indexed pixel array plus the active color
table; the encoder writes a spec-compliant GIF with real LZW
compression (dictionary growth, width bumps at 2^width, CLEAR resets
at the 12-bit cap), so encoder and decoder share only the spec.

Unsupported shapes raise ``ValueError`` explicitly: interlaced images,
multi-image animations (first image is decoded, trailer not required),
and missing color tables.

Reference parity note: the reference engine has no multimodal tier;
this is beyond-reference LLM-pipeline surface (BASELINE.md
north_star).
"""

from __future__ import annotations

import struct


def _lzw_compress(indices, min_code_size: int) -> bytes:
    """GIF-flavor LZW: emit CLEAR, build the dictionary as codes are
    written, bump the code width when the next code would not fit, and
    reset with CLEAR at the 12-bit ceiling. Returns the packed
    little-endian bitstream (no sub-block framing)."""
    clear = 1 << min_code_size
    end = clear + 1
    out_bits = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out_bits.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {(i,): i for i in range(clear)}
    next_code = end + 1
    width = min_code_size + 1
    emit(clear, width)
    prefix: tuple = ()
    for px in indices:
        px = int(px)
        cand = prefix + (px,)
        if cand in table:
            prefix = cand
            continue
        emit(table[prefix], width)
        if next_code < (1 << 12):  # 4095 is the last assignable code
            table[cand] = next_code
            next_code += 1
            if next_code > (1 << width) and width < 12:
                width += 1
        else:  # dictionary full: reset (decoder mirrors on CLEAR)
            emit(clear, width)
            table = {(i,): i for i in range(clear)}
            next_code = end + 1
            width = min_code_size + 1
        prefix = (px,)
    if prefix:
        emit(table[prefix], width)
    emit(end, width)
    if nbits:
        out_bits.append(acc & 0xFF)
    return bytes(out_bits)


def _lzw_decompress(data: bytes, min_code_size: int, n_expected: int):
    """Inverse of the spec's compressor: variable-width little-endian
    codes, CLEAR resets, the KwKwK special case (code == next unassigned
    entry), width bump when the table reaches 2^width (capped at 12)."""
    clear = 1 << min_code_size
    end = clear + 1
    width = min_code_size + 1
    table = [(i,) for i in range(clear)] + [(), ()]
    out: list = []
    prev: tuple | None = None
    acc = 0
    nbits = 0
    pos = 0
    n = len(data)
    while len(out) < n_expected:
        while nbits < width:
            if pos >= n:
                raise ValueError("LZW stream ended early")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [(i,) for i in range(clear)] + [(), ()]
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        full = len(table) >= (1 << 12)  # growth stops at the 12-bit cap
        if prev is None:
            if code >= len(table):
                raise ValueError("bad first LZW code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if not full:
                table.append(prev + (entry[0],))
        elif code == len(table) and not full:  # KwKwK
            entry = prev + (prev[0],)
            table.append(entry)
        else:
            raise ValueError(f"LZW code {code} out of range")
        out.extend(entry)
        if len(table) == (1 << width) and width < 12:
            width += 1
        prev = entry
    if len(out) < n_expected:
        raise ValueError(
            f"LZW underrun: {len(out)} of {n_expected} pixels"
        )
    return out[:n_expected]


def gif_encode(indices, palette, loop_ext: bool = False) -> bytes:
    """Serialize a (h, w) palette-index array + (k, 3) RGB palette as a
    GIF89a. The global color table is padded to the next power of two
    (min 2); ``loop_ext`` adds a NETSCAPE application extension so the
    decoder's extension-skipping is exercised."""
    import numpy as np

    a = np.asarray(indices)
    pal = np.asarray(palette, dtype=np.uint8)
    if a.ndim != 2 or pal.ndim != 2 or pal.shape[1] != 3:
        raise ValueError("need (h,w) indices and (k,3) palette")
    h, w = a.shape
    k = pal.shape[0]
    if k < 1 or k > 256 or int(a.max(initial=0)) >= k:
        raise ValueError("indices exceed palette")
    size_exp = 1
    while (1 << size_exp) < k:
        size_exp += 1
    table = np.zeros(((1 << size_exp), 3), dtype=np.uint8)
    table[:k] = pal
    min_code = max(size_exp, 2)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | ((size_exp - 1) & 0x07), 0, 0])  # GCT present
    out += table.tobytes()
    if loop_ext:
        out += (b"\x21\xff\x0bNETSCAPE2.0" b"\x03\x01\x00\x00" b"\x00")
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    out.append(min_code)
    stream = _lzw_compress(a.reshape(-1), min_code)
    for i in range(0, len(stream), 255):
        block = stream[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def _gif_images(payload: bytes):
    """``(gct, images)``: the global color table (or None) and a lazy
    iterator over the images of a GIF, each ``(indices, palette,
    delay_cs)`` — a (h, w) uint8 index array, the active (k, 3) color
    table, and the preceding Graphic Control delay (0 without one).
    Header and global table are checked up front; each block is walked
    only when the next image is asked for."""
    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    if len(payload) < 13:
        raise ValueError("truncated header")
    packed = payload[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if len(payload) < pos + 3 * n:
            raise ValueError("truncated global color table")
        gct = np.frombuffer(
            payload[pos : pos + 3 * n], dtype=np.uint8
        ).reshape(-1, 3)
        pos += 3 * n

    def images():
        nonlocal pos
        delay = 0
        while pos < len(payload):
            b = payload[pos]
            if b == 0x3B:  # trailer
                return
            if b == 0x21:  # extension: label + sub-blocks
                label = payload[pos + 1] if pos + 1 < len(payload) else None
                pos += 2
                data = bytearray()
                while pos < len(payload) and payload[pos] != 0:
                    ln = payload[pos]
                    data += payload[pos + 1 : pos + 1 + ln]
                    pos += 1 + ln
                pos += 1
                if label == 0xF9 and len(data) >= 3:
                    delay = struct.unpack("<H", bytes(data[1:3]))[0]
                continue
            if b != 0x2C:
                raise ValueError(f"unexpected block 0x{b:02x}")
            left, top, w, h = struct.unpack("<HHHH", payload[pos + 1 : pos + 9])
            iflags = payload[pos + 9]
            pos += 10
            if iflags & 0x40:
                raise ValueError("interlaced GIF not supported")
            pal = gct
            if iflags & 0x80:
                n = 2 << (iflags & 0x07)
                pal = np.frombuffer(
                    payload[pos : pos + 3 * n], dtype=np.uint8
                ).reshape(-1, 3)
                pos += 3 * n
            if pal is None:
                raise ValueError("no color table for image")
            min_code = payload[pos]
            pos += 1
            stream = bytearray()
            while pos < len(payload) and payload[pos] != 0:
                ln = payload[pos]
                stream += payload[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            idx = _lzw_decompress(bytes(stream), min_code, w * h)
            yield np.array(idx, dtype=np.uint8).reshape(h, w), pal, delay
            delay = 0

    return gct, images()


def gif_decode(payload: bytes):
    """Decode the first image of a GIF to ``(indices, palette)``:
    a (h, w) uint8 index array and the active (k, 3) color table.
    Full container walk + real LZW decompression; bytes after the first
    image are not read. Interlaced images and images without any color
    table raise ``ValueError``."""
    _, images = _gif_images(payload)
    for indices, pal, _ in images:
        return indices, pal.copy()
    raise ValueError("no image data in GIF")


def gif_encode_animation(frames, palette, delays_cs) -> bytes:
    """Serialize a list of (h, w) palette-index frames sharing one
    global color table as an ANIMATED GIF89a: NETSCAPE loop extension,
    then per frame a Graphic Control Extension carrying its delay
    (centiseconds) followed by the image descriptor + real LZW data.
    The multi-frame sibling of :func:`gif_encode` — same container
    grammar, exercised across repeated blocks."""
    import numpy as np

    pal = np.asarray(palette, dtype=np.uint8)
    if not frames or pal.ndim != 2 or pal.shape[1] != 3:
        raise ValueError("need >=1 frame and a (k,3) palette")
    if len(delays_cs) != len(frames):
        raise ValueError("one delay per frame")
    h, w = np.asarray(frames[0]).shape
    k = pal.shape[0]
    size_exp = 1
    while (1 << size_exp) < k:
        size_exp += 1
    table = np.zeros(((1 << size_exp), 3), dtype=np.uint8)
    table[:k] = pal
    min_code = max(size_exp, 2)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | ((size_exp - 1) & 0x07), 0, 0])
    out += table.tobytes()
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for a, delay in zip(frames, delays_cs):
        a = np.asarray(a)
        if a.shape != (h, w) or int(a.max(initial=0)) >= k:
            raise ValueError("frame shape/palette mismatch")
        out += b"\x21\xf9\x04\x00" + struct.pack("<H", int(delay)) + b"\x00\x00"
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        out.append(min_code)
        stream = _lzw_compress(a.reshape(-1), min_code)
        for i in range(0, len(stream), 255):
            block = stream[i : i + 255]
            out.append(len(block))
            out += block
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def gif_decode_frames(payload: bytes):
    """Decode EVERY image of a GIF to ``(frames, palette, delays_cs)``
    — a list of (h, w) uint8 index arrays, the global color table, and
    the per-frame Graphic Control delay (0 when a frame carries no
    GCE)."""
    gct, images = _gif_images(payload)
    decoded = list(images)
    if not decoded:
        raise ValueError("no image data in GIF")
    frames = [indices for indices, _, _ in decoded]
    delays = [delay for _, _, delay in decoded]
    return frames, (gct.copy() if gct is not None else None), delays
