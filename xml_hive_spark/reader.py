"""Split-safe XML → DataFrame reader.

Capability parity with the reference's record-extraction pipeline
(``AvroTransormer.scala`` + ``AvroFromXmlInputFormat.scala``), re-expressed
for Spark's execution model:

- **Record-boundary detection** (reference: separator-tag watch,
  AvroTransormer.scala:106-109,143-151) is a byte-level scanner that finds
  ``<rowTag ...>...</rowTag>`` spans, depth-aware for nested same-name tags
  and aware of quotes / comments / CDATA / processing instructions. Row
  tags are matched by *local label* — ``<book``, ``<ns:book`` — like the
  reference's event matcher (AvroTransormer.scala:106-109).
- **Split safety** (the reference's known gap: it opens every split at byte
  0 → duplicate records on multi-block files,
  AvroFromXmlInputFormat.scala:49; SURVEY.md §4.3): splits are made exact
  by a **two-phase protocol**:

  * *Phase A* (driver, per split): for each possible lexer state at the
    split start — TEXT, COMMENT, CDATA, PI — summarize the split's row-tag
    token stream as ``(end_state, depth_delta, min_prefix_depth)``. A
    vectorized numpy pass over bounded windows does this; the exact
    token loop of phase C is its fallback for forms the pass cannot
    prove.
    A cut that lands inside a *tag* needs no state of its own: ``<`` cannot
    appear raw inside attribute values, so scanning the tag tail in TEXT
    state yields no spurious tokens, and the straddling token was already
    attributed to the split that contains its ``<``.
  * *Phase B* (driver, O(#splits)): fold the summaries file-by-file to
    assign every split its true incoming ``(state, depth)``.
  * *Phase C* (parallel): rescan with the known state; a record is a
    row-tag open at depth 0; the scan reads past the split end to close
    its last record.

  This is what makes N byte-range partitions over one file exact — no
  duplicates, no drops — even when records self-nest or a cut lands inside
  a comment/CDATA, at the cost of one extra byte-scan pass (phase A) over
  multi-split files only, made while the plan is built.
- **Record assembly** (reference: stack machine over XML pull events,
  AvroTransormer.scala:77-170): each extracted record chunk is parsed with
  ``ElementTree`` and assembled into a tuple directed by the target
  ``StructType`` — attributes as fields, repeated elements as arrays,
  nested complex types as structs, ``_Value`` for simpleContent text
  (AvroTransormer.scala:180-208 coercion semantics).

Known limitations: namespace prefixes longer than 64 chars are not matched
by the scanner; DOCTYPE internal subsets containing ``<rowTag`` literals
are not skipped (none of these appear in the reference's scope either).
"""

from __future__ import annotations

import glob as _glob
import json
import logging
import os
import re
import xml.etree.ElementTree as ET
from collections import Counter
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path
from typing import BinaryIO, Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
    TimestampType,
)

log = logging.getLogger("xml_hive_spark.reader")

DEFAULT_PARTITION_BYTES = 128 * 1024 * 1024

# gzip/bzip2 members are not splittable: such files get ONE split whose
# end is this sentinel (far beyond any decompressed stream) — the
# scanner runs to EOF, the standard Hadoop non-splittable-codec
# semantics
GZIP_SPLIT_END = 1 << 62

_COMPRESSED_SUFFIXES = (".gz", ".bz2")


class _BoundedRaw:
    """Read-capped view of a raw binary file: delegates seek/tell, never
    returns bytes at or past ``limit``. Lets a codec decompress exactly
    the first ``limit`` COMPRESSED bytes — the streaming source's
    exactly-once bound (a member appended after offset admission is
    invisible to the replayed batch)."""

    def __init__(self, f, limit: int):
        self._f = f
        self._limit = limit

    def read(self, n: int = -1):
        left = self._limit - self._f.tell()
        if left <= 0:
            return b""
        if n is None or n < 0 or n > left:
            n = left
        return self._f.read(n)

    def seek(self, off: int, whence: int = 0):
        return self._f.seek(off, whence)

    def tell(self):
        return self._f.tell()

    def readable(self):
        return True

    def seekable(self):
        # BZ2File.seek() routes through DecompressReader.seekable(), which
        # asks the underlying raw object; without this, every bounded bz2
        # read that seeks (e.g. _Buf rewinds in the streaming source) dies
        # with AttributeError (gzip survives only because _PaddedFile
        # hardcodes seekable() = True)
        return self._f.seekable()

    def close(self):
        self._f.close()


def open_xml(path: str, raw_limit: int | None = None):
    """Binary reader for an XML input; ``.gz`` / ``.bz2`` transparently
    decompress (one task reads the whole member — see
    :data:`GZIP_SPLIT_END`). Offsets seen by the split machinery are
    DECOMPRESSED-stream offsets; the codec file objects honor seek by
    re-decompressing (the rejected-row re-read path pays that, the
    accepted cost of a non-seekable codec). ``raw_limit`` caps the
    COMPRESSED bytes visible to the codec (streaming exactly-once:
    bound the read to the size recorded in the offset); ignored for
    plain files, whose byte-range split end is the bound."""
    if path.endswith(".gz"):
        import gzip

        if raw_limit is not None:
            raw = _BoundedRaw(open(path, "rb"), raw_limit)
            g = gzip.GzipFile(fileobj=raw)
            g.myfileobj = raw  # GzipFile closes myfileobj on close()
            return g
        return gzip.open(path, "rb")
    if path.endswith(".bz2"):
        import bz2

        if raw_limit is not None:

            class _ClosingBZ2(bz2.BZ2File):
                _raw_owned = None

                def close(self):
                    try:
                        super().close()
                    finally:
                        if self._raw_owned is not None:
                            self._raw_owned.close()

            raw = _BoundedRaw(open(path, "rb"), raw_limit)
            b = _ClosingBZ2(raw)
            b._raw_owned = raw
            return b
        return bz2.open(path, "rb")
    return open(path, "rb")

_WS = b" \t\r\n"
_OPEN_DELIMS = b" \t\r\n>/"

# Lexer states a split boundary can land in (see module docstring for why
# "inside a tag" safely degenerates to TEXT).
ST_TEXT = "TEXT"
ST_COMMENT = "COMMENT"
ST_CDATA = "CDATA"
ST_PI = "PI"
_RESUME_PAT = {ST_COMMENT: b"-->", ST_CDATA: b"]]>", ST_PI: b"?>"}
_STATE_OF_KIND = {"comment": ST_COMMENT, "cdata": ST_CDATA, "pi": ST_PI}


class _Buf:
    """Growable forward-only view over a byte stream, addressed by absolute
    file offset. Keeps memory bounded via ``compact``."""

    def __init__(self, f: BinaryIO, start: int, chunk_size: int = 1 << 22):
        f.seek(start)
        self._f = f
        self.base = start
        self.data = bytearray()
        self.eof = False
        self.chunk_size = chunk_size

    def _refill(self) -> bool:
        if self.eof:
            return False
        b = self._f.read(self.chunk_size)
        if not b:
            self.eof = True
            return False
        self.data += b
        return True

    def end_offset(self) -> int:
        return self.base + len(self.data)

    def find(
        self,
        pattern: bytes,
        pos: int,
        bound: int | None = None,
        compact_to: int | None = None,
    ) -> int:
        """Absolute offset of next occurrence of ``pattern`` at >= pos.
        Returns -1 at EOF, or when no occurrence *starts* before ``bound``.
        ``compact_to`` lets long scans drop already-searched bytes."""
        search_from = max(pos, self.base)
        while True:
            i = self.data.find(pattern, search_from - self.base)
            if i != -1:
                off = self.base + i
                if bound is not None and off >= bound:
                    return -1
                return off
            if bound is not None and self.end_offset() >= bound + len(pattern) - 1:
                return -1
            # next round only needs to re-scan the possibly-straddling tail
            search_from = max(search_from, self.end_offset() - len(pattern) + 1)
            if compact_to is not None:
                self.compact(min(compact_to, search_from))
            if not self._refill():
                return -1

    def byte_at(self, off: int) -> int | None:
        while off >= self.end_offset():
            if not self._refill():
                return None
        return self.data[off - self.base]

    def slice(self, a: int, b: int) -> bytes:
        while b > self.base + len(self.data):
            if not self._refill():
                break
        # one copy: a bytearray slice would copy to a bytearray first and
        # bytes() again; the view is dropped immediately (no export kept
        # across later resizes)
        return bytes(memoryview(self.data)[a - self.base : b - self.base])

    def compact(self, keep_from: int) -> None:
        drop = keep_from - self.base
        if drop > self.chunk_size:
            del self.data[:drop]
            self.base = keep_from


def _skip_to(buf: _Buf, end_pat: bytes, pos: int, compact_to: int | None = None) -> int:
    """Skip past the next ``end_pat``; returns offset after it (EOF-safe)."""
    i = buf.find(end_pat, pos, compact_to=compact_to)
    return buf.end_offset() if i == -1 else i + len(end_pat)


def _consume_tag(buf: _Buf, pos: int) -> tuple[int, bool]:
    """``pos`` points just after ``<name``. Scan to the closing ``>`` of
    this start tag, honoring quoted attribute values. Returns
    (offset after '>', self_closing).

    Fast path: jump straight to the next ``>`` and verify the skipped
    segment has no unmatched quote — all C-level bounded ``find`` calls,
    no slicing, no per-byte Python loop; a ``>`` inside a quoted
    attribute re-scans from past that quote."""
    while True:
        gt = buf.find(b">", pos)
        if gt == -1:
            return buf.end_offset(), False  # malformed tail; EOF-safe
        data, base = buf.data, buf.base
        i, e = pos - base, gt - base
        uq_q = 0
        while True:
            j1 = data.find(0x22, i, e)  # "
            j2 = data.find(0x27, i, e)  # '
            if j1 == -1 and j2 == -1:
                break
            j = j1 if j2 == -1 or (j1 != -1 and j1 < j2) else j2
            k = data.find(data[j], j + 1, e)
            if k == -1:
                uq_q = data[j]  # unmatched: '>' sits inside this quote
                break
            i = k + 1
        if not uq_q:
            return gt + 1, data[e - 1] == 0x2F  # '/'
        close = buf.find(bytes([uq_q]), base + j + 1)
        if close == -1:
            return buf.end_offset(), False
        pos = close + 1


def _token_rx(row_tag: str) -> "re.Pattern[bytes]":
    """One compiled regex matching every byte sequence the scanner cares
    about: comment/CDATA/PI openers and row-tag opens/closes with an
    optional namespace prefix (local-label matching, like the reference —
    AvroTransormer.scala:106-109). The open lookahead rejects longer
    names (``<bookstore`` for row tag ``book``) in C; the close includes
    its ``>`` so no per-token follow-up scan is needed.

    Deliberately GROUP-FREE: capturing/named groups make CPython's
    ``finditer`` ~12x slower on match-dense input (measured 3.15s vs
    0.25s over 32 MiB); tokens are classified afterwards from their
    first/last bytes instead (`_Scanner.tokens`).

    The open tag has two alternatives, tried in order: a COMPLETE start
    tag (quote-aware attribute run through its ``>``— saves a Python
    ``_consume_tag`` call per record), then the bare ``<name`` prefix
    for tags the full form can't prove safe (a quote containing ``<``
    ``>``, or a tag truncated at the scan-window edge — the bare form
    still matches there, so no token is ever lost)."""
    nc = rb"[A-Za-z_][A-Za-z0-9_.\-]{0,63}"
    t = re.escape(row_tag.encode())
    name = rb"<(?:" + nc + rb":)?" + t
    return re.compile(
        rb"<!--|<!\[CDATA\[|<\?"
        rb"|" + name + rb"(?:[ \t\r\n](?:[^<>'\"]|\"[^<>\"]*\"|'[^<>']*')*)?/?>"
        rb"|" + name + rb"(?=[ \t\r\n/>])"
        rb"|</(?:" + nc + rb":)?" + t + rb"[ \t\r\n]*>"
    )


class _Scanner:
    """Batched token scanner over a ``_Buf``.

    ``tokens(from_off)`` yields candidate tokens in offset order as
    ``(kind, start, match_end)`` — ``kind`` ∈ {comment, cdata, pi, open,
    close}. One ``finditer`` pass per buffered window keeps the scan loop
    in C; the consumer pays Python cost per *token*, not per byte.
    Windows overlap by a margin so tokens truncated at a window edge are
    re-found; the consumer must therefore skip tokens below its own
    position cursor (duplicates from the overlap, and tokens inside
    comment/CDATA interiors it jumped over). ``floor`` is the lowest
    offset the consumer still needs buffered (start of an in-flight
    record); the consumer compacts to it, and the window iterator clamps
    to the buffer base after compaction.

    Margin note: a close tag longer than the 160-byte margin (a >64-char
    prefix or pathological whitespace before ``>``) would be missed at a
    window edge — far outside the reference's scope."""

    _MARGIN = 160

    def __init__(self, buf: _Buf, row_tag: str):
        self.buf = buf
        self.rx = _token_rx(row_tag)
        self.floor = buf.base

    def tokens(self, from_off: int):
        buf = self.buf
        pos = from_off
        scanned_to = from_off  # absolute end of the last finditer window
        while True:
            data, base = buf.data, buf.base
            hi_abs = base + (
                len(data) if buf.eof else max(0, len(data) - self._MARGIN)
            )
            lo_abs = max(base, pos)
            if lo_abs < hi_abs and hi_abs > scanned_to:
                # Classify from first bytes: the pattern is group-free for
                # finditer speed (see _token_rx). The whole window is
                # materialized and classified BEFORE the first yield — the
                # consumer compacts/refills the buffer between yields, so
                # `data` indices are only valid right now.
                toks = []
                ap = toks.append
                for m in self.rx.finditer(data, lo_abs - base, hi_abs - base):
                    i = m.start()
                    c = data[i + 1]
                    if c == 0x21:  # '!': <!-- or <![CDATA[
                        kind = "comment" if data[i + 2] == 0x2D else "cdata"
                    elif c == 0x3F:  # '?'
                        kind = "pi"
                    elif c == 0x2F:  # '/'
                        kind = "close"
                    else:
                        e = m.end()
                        if data[e - 1] == 0x3E:  # complete start tag
                            kind = (
                                "selfclose" if data[e - 2] == 0x2F else "opentag"
                            )
                        else:
                            kind = "open"  # bare <name; consumer finishes
                    ap((kind, base + i, base + m.end()))
                yield from toks
                scanned_to = hi_abs
                # overlap by margin so edge-truncated tokens are re-found
                pos = max(pos, hi_abs - self._MARGIN)
            elif buf.eof:
                return
            else:
                buf.compact(min(self.floor, pos))
                buf._refill()  # False → eof set; loop scans the tail window


def _resume_offset(
    buf: _Buf, state: str, start: int, end: int | None
) -> int | None:
    """Offset where the lexer returns to TEXT given ``state`` at ``start``.
    The close pattern may straddle ``start`` (e.g. ``-->`` beginning 2
    bytes before the split), hence the look-back. None = the construct
    covers the whole range."""
    pat = _RESUME_PAT[state]
    pos = max(0, start - (len(pat) - 1))
    # compacting to the search cursor keeps a construct that covers the
    # whole range from buffering all of it
    i = buf.find(pat, pos, bound=end, compact_to=end)
    while i != -1 and i + len(pat) <= start:  # closed before the split began
        i = buf.find(pat, i + 1, bound=end, compact_to=end)
    return None if i == -1 else i + len(pat)


# Phase-A kernel geometry: bytes classified per numpy pass, and how far
# past its window a pass looks for the end of a construct that begins
# inside it. A construct still open past the look-ahead (unless the split
# ends in this window) sends the split to the exact token loop.
_KERNEL_WINDOW = 1 << 22
_KERNEL_MARGIN = 1 << 12
# a row-tag start tag whose '>' lies within this many bytes of its name
# is checked in one vector pass (one uint64 bit mask per tag); a longer
# one is checked on its own
_TAG_SPAN = 64

_OPENER = {ST_COMMENT: b"<!--", ST_CDATA: b"<![CDATA[", ST_PI: b"<?"}


def _having(arr, pos, off: int, lit: bytes):
    """The positions ``p`` of ``pos`` where ``lit`` sits at ``p + off``."""
    for j, c in enumerate(lit):
        pos = pos[arr[pos + off + j] == c]
    return pos


def _bits(rows, byte: int):
    """Per row of a ``(k, _TAG_SPAN)`` byte matrix, a uint64 whose bit j
    is set where column j holds ``byte``."""
    import numpy as np

    return np.packbits(rows == byte, axis=1, bitorder="little").view("<u8")[:, 0]


def _start_tag_end(b: bytearray, ne: int, got: int) -> int:
    """Offset of the ``>`` ending a row-tag start tag whose attributes
    begin at ``ne``, or -1 unless the first ``>`` provably ends it: no
    ``<`` before it, and its quotes pair up (an even count, one kind)."""
    g = b.find(b">", ne, got)
    if g == -1:
        return -1
    seg = b[ne:g]
    dq, sq = seg.count(b'"'), seg.count(b"'")
    if b"<" in seg or (dq and sq) or (dq + sq) % 2:
        return -1
    return g


def _vector_summaries(
    f: BinaryIO, row_tag: str, start: int, end: int
) -> dict[str, tuple[str, int, int]] | None:
    """:func:`split_summaries` by numpy passes over bounded windows.

    Every token the exact loop consumes starts at a ``<`` and holds no
    other ``<``, so each ``<`` is classified on its own: comment, CDATA
    and PI openers, row-tag opens and closes, or nothing. Classifying is
    the same for all four start states; per state, a short Python loop
    over the construct openers alone marks the spans they hide, and the
    depth is a cumulative sum over the row-tag tokens outside them.

    Returns None, and the caller runs the exact loop, when the split
    holds a form this pass cannot prove: a namespace-prefixed row tag, a
    row-tag start tag with a ``<`` or an unpaired or mixed quote before
    its first ``>`` (such as a quoted ``>``), a tag whose ``>`` lies past
    the look-ahead, or a construct still open past the look-ahead of a
    window before the split's last."""
    import numpy as np

    tag = row_tag.encode()
    n = len(tag)
    ws = np.zeros(256, bool)
    ws[list(_WS)] = True
    open_delim = ws.copy()
    open_delim[[0x2F, 0x3E]] = True  # '/', '>'
    # the look-ahead always covers classifying a '<' of the window: a row
    # tag with a 64-byte namespace prefix, or a start tag's first bytes
    ahead = max(_KERNEL_MARGIN, n + 80)
    # start state → [pos, delta, min_prefix, end_state]; a non-TEXT state
    # joins once its resume offset (the first close pattern ending past
    # ``start``) is found
    hyps = {ST_TEXT: [start, 0, 0, ST_TEXT]}
    pending = [ST_COMMENT, ST_CDATA, ST_PI]
    out: dict[str, tuple[str, int, int]] = {}
    wk = start
    while wk < end:
        hi = min(wk + _KERNEL_WINDOW, end)
        last = hi == end
        base = max(0, start - 2) if wk == start else wk
        want = hi + ahead - base
        f.seek(base)
        b = bytearray(want + n + _TAG_SPAN)  # zero tail: reads past `got` see no markup
        got = f.readinto(memoryview(b)[:want])
        eof = got < want
        if base + got < hi:
            return None  # the file ends inside the split
        lo_i, hi_i = wk - base, hi - base
        arr = np.frombuffer(b, np.uint8)

        # resume offsets: the first close pattern that starts in this
        # window and ends past ``start``
        for st in list(pending):
            pat = _RESUME_PAT[st]
            at = np.flatnonzero(arr[:hi_i] == pat[0])
            at = _having(arr, at, 1, pat[1:])
            at = at[at + len(pat) + base > start]
            if not len(at):
                continue
            pending.remove(st)
            r = base + int(at[0]) + len(pat)
            if r < end:
                hyps[st] = [r, 0, 0, ST_TEXT]
            else:
                out[st] = (ST_TEXT, 0, 0) if r == end else (st, 0, 0)

        # a prefixed row tag's ':' lies at most 66 bytes past its '<'
        colons = np.flatnonzero(arr[lo_i : hi_i + 66] == 0x3A) + lo_i
        if open_delim[arr[_having(arr, colons, 1, tag) + 1 + n]].any():
            return None

        lt = np.flatnonzero(arr[lo_i:hi_i] == 0x3C) + lo_i
        c1 = arr[lt + 1]
        bang = lt[c1 == 0x21]
        cons = sorted(
            (p, st)
            for ps, st in (
                (_having(arr, bang, 2, b"--"), ST_COMMENT),
                (_having(arr, bang, 2, b"[CDATA["), ST_CDATA),
                (lt[c1 == 0x3F], ST_PI),
            )
            for p in ps.tolist()
        )

        opens = _having(arr, lt[c1 == tag[0]], 2, tag[1:])
        opens = opens[open_delim[arr[opens + 1 + n]]]
        ne = opens + 1 + n
        rows = np.lib.stride_tricks.sliding_window_view(arr, _TAG_SPAN)[ne]
        gt = _bits(rows, 0x3E)
        before = (gt & (~gt + np.uint64(1))) - np.uint64(1)  # bits below the first '>'
        dq, sq = _bits(rows, 0x22) & before, _bits(rows, 0x27) & before
        par = dq | sq
        for sh in (32, 16, 8, 4, 2, 1):
            par ^= par >> np.uint64(sh)
        ok = (gt != 0) & ((_bits(rows, 0x3C) & before) == 0)
        ok &= ((dq == 0) | (sq == 0)) & ((par & np.uint64(1)) == 0)
        g = ne + np.log2(before.astype(np.float64) + 1).astype(np.int64)
        for i in np.flatnonzero(gt == 0):  # start tags past the span
            g[i] = _start_tag_end(b, int(ne[i]), got)
            ok[i] = g[i] != -1
        open_dd = 1 - (arr[g - 1] == 0x2F)  # '/>' closes itself

        closes = _having(arr, lt[c1 == 0x2F], 2, tag)
        ce = closes + 2 + n
        tok = arr[ce] == 0x3E
        cok = np.ones(len(closes), bool)
        # '</tag' + whitespace is a close token only if nothing but
        # whitespace runs to its '>' (rare: checked one by one)
        for i in np.flatnonzero(ws[arr[ce]]):
            g_ = b.find(b">", int(ce[i]), got)
            cok[i] = g_ != -1
            tok[i] = g_ == -1 or not b[ce[i] : g_].strip(b" \t\r\n")
        closes, cok = closes[tok], cok[tok]

        s = np.concatenate([opens, closes])
        order = np.argsort(s, kind="stable")
        s = s[order]
        dd = np.concatenate([open_dd, np.full(len(closes), -1)])[order]
        ok = np.concatenate([ok, cok])[order]

        for st, h in hyps.items():
            pos0 = pos = h[0] - base
            hidden_s, hidden_e = [], []
            for o, kind in cons:
                if o < pos:
                    continue
                pat = _RESUME_PAT[kind]
                t = b.find(pat, o + len(_OPENER[kind]), got)
                if t != -1:
                    pos = t + len(pat)
                elif last:
                    pos = got if eof else got + 1
                else:
                    return None  # a construct open past the look-ahead
                hidden_s.append(o)
                hidden_e.append(pos)
                h[3] = kind if base + pos > end else ST_TEXT
            h[0] = base + pos
            live = s >= pos0
            if hidden_s:
                k = np.searchsorted(hidden_s, s, "right") - 1
                live &= (k < 0) | (s >= np.asarray(hidden_e)[k])
            if not ok[live].all():
                return None
            cum = np.cumsum(dd[live]) + h[1]
            if len(cum):
                h[1], h[2] = int(cum[-1]), min(h[2], int(cum.min()))
        wk = hi

    for st, h in hyps.items():
        out[st] = (h[3], h[1], h[2])
    for st in pending:
        out[st] = (st, 0, 0)
    return out


def split_summaries(
    f: BinaryIO, row_tag: str, start: int, end: int
) -> dict[str, tuple[str, int, int]]:
    """Phase A: for each possible lexer state at ``start``, the
    ``(end_state, depth_delta, min_prefix_depth)`` of scanning
    ``[start, end)``. Pure byte work — no record parsing, memory bounded
    by one kernel window. The vectorized kernel answers unless the split
    holds a form only the exact token loop can prove."""
    out = _vector_summaries(f, row_tag, start, end)
    return out if out is not None else _exact_summaries(f, row_tag, start, end)


def _exact_summaries(
    f: BinaryIO, row_tag: str, start: int, end: int
) -> dict[str, tuple[str, int, int]]:
    """Phase A by the token loop phase C uses (:class:`_Scanner`)."""
    # raw-byte resume offsets for the non-TEXT hypotheses
    resumes: dict[str, int | None] = {}
    for st in (ST_COMMENT, ST_CDATA, ST_PI):
        buf = _Buf(f, max(0, start - 2))
        resumes[st] = _resume_offset(buf, st, start, end)

    def scan(from_off: int, checkpoints: list[int]):
        """One token pass from ``from_off``; per-checkpoint suffix
        accumulators piggyback on it so the non-TEXT hypotheses usually
        don't need their own pass."""
        buf = _Buf(f, from_off)
        sc = _Scanner(buf, row_tag)
        delta = mind = 0
        # per checkpoint r: [delta, min, last_after, valid]
        acc = {r: [0, 0, r, True] for r in checkpoints}
        pos = from_off
        last_kind, last_after = None, from_off
        for kind, s, ne in sc.tokens(from_off):
            if s < pos:
                continue  # window-overlap duplicate / skipped interior
            if s >= end:
                break
            if kind == "comment":
                after, dd = _skip_to(buf, b"-->", s + 4, pos), 0
            elif kind == "cdata":
                after, dd = _skip_to(buf, b"]]>", s + 9, pos), 0
            elif kind == "pi":
                after, dd = _skip_to(buf, b"?>", s + 2, pos), 0
            elif kind == "opentag":
                after, dd = ne, 1
            elif kind == "selfclose":
                after, dd = ne, 0
            elif kind == "open":
                after, self_closing = _consume_tag(buf, ne)
                dd = 0 if self_closing else 1
            else:  # close
                after, dd = ne, -1
            delta += dd
            mind = min(mind, delta)
            for r, a in acc.items():
                if s >= r:
                    a[0] += dd
                    a[1] = min(a[1], a[0])
                    a[2] = after
                elif after > r:
                    a[3] = False  # a token straddles this checkpoint
            last_kind, last_after = kind, after
            pos = after
            sc.floor = pos
            buf.compact(pos)
        end_state = ST_TEXT
        if last_after > end and last_kind in _STATE_OF_KIND:
            end_state = _STATE_OF_KIND[last_kind]
        return end_state, delta, mind, acc

    cps = sorted(
        {r for r in resumes.values() if r is not None and start < r < end}
    )
    text_end_state, text_delta, text_min, acc = scan(start, cps)
    out = {ST_TEXT: (text_end_state, text_delta, text_min)}

    for st, r in resumes.items():
        if r is None or r > end:
            out[st] = (st, 0, 0)  # construct covers (or straddles) the split
        elif r == end:
            out[st] = (ST_TEXT, 0, 0)
        elif acc[r][3]:
            # valid suffix reuse; a straddling final comment/CDATA/PI is
            # shared with the TEXT scan by construction
            d, m, last_after, _ = acc[r]
            out[st] = (text_end_state if last_after > end else ST_TEXT, d, m)
        else:
            out[st] = scan(r, [])[:3]
    return out


def chain_splits(
    open_fn: Callable[[], BinaryIO], bounds: list[int], row_tag: str,
    name: str = "<unnamed>",
) -> list[tuple[int, int, str, int]]:
    """Phase B over one file: fold per-split summaries into the true
    incoming ``(state, depth)`` of every split. ``bounds`` is the sorted
    offset fence ``[0, b1, ..., size]``; ``name`` labels the file in the
    depth-underflow warning."""
    ann: list[tuple[int, int, str, int]] = []
    state, depth = ST_TEXT, 0
    for i in range(len(bounds) - 1):
        a, b = bounds[i], bounds[i + 1]
        ann.append((a, b, state, depth))
        if i < len(bounds) - 2:
            with open_fn() as f:
                summ = split_summaries(f, row_tag, a, b)
            nxt_state, delta, mind = summ[state]
            if depth + mind < 0:
                log.warning(
                    "xml split chain: depth underflow in %s at [%d,%d) — "
                    "malformed input?", name, a, b,
                )
            state, depth = nxt_state, max(0, depth + delta)
    return ann


def iter_record_spans(
    f: BinaryIO,
    row_tag: str,
    start: int,
    end: int,
    state: str = ST_TEXT,
    depth: int = 0,
) -> Iterator[tuple[int, bytes]]:
    """Phase C: yield ``(record_start_offset, record_bytes)`` for every
    row-tag record whose start tag begins in ``[start, end)`` at depth 0.

    ``state``/``depth`` are the split's incoming lexer state and row-tag
    nesting depth from ``chain_splits``; the defaults are exact for a scan
    that starts at a known record boundary (offset 0 of a document). The
    scan may read past ``end`` to finish the last record — the standard
    record-boundary protocol for splittable formats, which the reference
    omits (SURVEY.md §4.3)."""
    pos = start
    if state != ST_TEXT:
        buf = _Buf(f, max(0, start - 2))
        r = _resume_offset(buf, state, start, end)
        if r is None or r >= end:
            return
        pos = r
    else:
        buf = _Buf(f, start)
    sc = _Scanner(buf, row_tag)
    d = depth
    rec_start: int | None = None
    for kind, s, ne in sc.tokens(pos):
        if s < pos:
            continue  # window-overlap duplicate or jumped-over interior
        if rec_start is None and s >= end:
            return
        if kind == "comment":
            pos = _skip_to(buf, b"-->", s + 4, rec_start if rec_start is not None else s)
            continue
        if kind == "cdata":
            pos = _skip_to(buf, b"]]>", s + 9, rec_start if rec_start is not None else s)
            continue
        if kind == "pi":
            pos = _skip_to(buf, b"?>", s + 2, rec_start if rec_start is not None else s)
            continue
        if kind in ("open", "opentag", "selfclose"):
            if kind == "open":
                after, self_closing = _consume_tag(buf, ne)
            else:
                after, self_closing = ne, kind == "selfclose"
            if self_closing:
                if d == 0:
                    yield s, buf.slice(s, after)
            else:
                if d == 0:
                    rec_start = s
                d += 1
        else:  # close (its '>' is part of the regex match)
            after = ne
            if d > 0:
                d -= 1
                if d == 0 and rec_start is not None:
                    yield rec_start, buf.slice(rec_start, after)
                    rec_start = None
        pos = after
        if rec_start is None:
            sc.floor = pos
            buf.compact(pos)
        else:
            sc.floor = rec_start


# --------------------------------------------------------------- assembly


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1].rsplit(":", 1)[-1]


def _coerce(text: str | None, dtype: DataType, trim: bool = True):
    """Text → typed value (reference: ``convert``,
    AvroTransormer.scala:194-208 — element text is trimmed of outer
    whitespace, AvroTransormer.scala:98)."""
    if text is None:
        return None
    if trim:
        text = text.strip()
    if text == "" and not isinstance(dtype, StringType):
        return None
    if isinstance(dtype, StringType):
        return text
    if isinstance(dtype, (IntegerType, LongType, ShortType, ByteType)):
        return int(text)
    if isinstance(dtype, (FloatType, DoubleType)):
        return float(text)
    if isinstance(dtype, BooleanType):
        low = text.lower()
        if low in ("true", "1"):
            return True
        if low in ("false", "0"):
            return False
        # surface malformed booleans so the mode policy applies
        # (FAILFAST raises, DROPMALFORMED drops, PERMISSIVE nulls the row)
        raise ValueError(f"not a boolean: {text!r}")
    if isinstance(dtype, DecimalType):
        return Decimal(text)
    if isinstance(dtype, DateType):
        return date.fromisoformat(text)
    if isinstance(dtype, TimestampType):
        return datetime.fromisoformat(text.replace("Z", "+00:00"))
    raise TypeError(f"unsupported scalar type for XML coercion: {dtype}")


def _direct_text(elem: ET.Element) -> str | None:
    """All text directly inside the element (reference accumulates every
    text event at the current stack level — AvroTransormer.scala:159-163)."""
    parts = [elem.text or ""]
    parts += [(c.tail or "") for c in elem]
    s = "".join(parts)
    return s if s.strip() != "" or elem.text is not None else None


def assemble_row(elem: ET.Element, struct: StructType) -> tuple:
    """Element → tuple shaped by ``struct`` (reference: stack-machine record
    assembly, AvroTransormer.scala:80-140; ours is recursive since the
    record chunk is already materialized)."""
    values = []
    children_by_name: dict[str, list[ET.Element]] = {}
    for c in elem:
        children_by_name.setdefault(_local(c.tag), []).append(c)
    # attributes by local label (a prefixed attribute is keyed '{uri}name'
    # by ElementTree); collisions are last-write-wins, matching the
    # reference's rec.put (AvroTransormer.scala:190)
    attrs = {_local(k): v for k, v in elem.attrib.items()}

    for field in struct.fields:
        meta = field.metadata or {}
        kind = meta.get("xmlKind")
        xml_name = meta.get("xmlName", field.name)
        if kind == "corrupt":
            # corrupt-record sink (spark-xml columnNameOfCorruptRecord
            # convention): always null on a successfully parsed record —
            # parse_record_safe fills it with the raw record text when
            # PERMISSIVE swallows a parse/coercion failure
            values.append(None)
            continue
        if kind == "text":
            values.append(_coerce(_direct_text(elem), field.dataType))
            continue
        if kind == "attribute" or (
            kind is None and xml_name not in children_by_name and (
                xml_name in attrs or field.name.lstrip("_") in attrs
            )
        ):
            raw = attrs.get(xml_name)
            if raw is None:
                raw = attrs.get(field.name.lstrip("_"))
            # attributes are not trimmed (reference: setAttributes copies
            # the raw attribute value, AvroTransormer.scala:180-188)
            values.append(_coerce(raw, field.dataType, trim=False))
            continue
        if field.name == "_Value" and kind is None:
            values.append(_coerce(_direct_text(elem), field.dataType))
            continue
        occurrences = children_by_name.get(xml_name, [])
        dtype = field.dataType
        if isinstance(dtype, ArrayType):
            if not occurrences:
                values.append(None if field.nullable else [])
            elif isinstance(dtype.elementType, StructType):
                values.append(
                    [assemble_row(c, dtype.elementType) for c in occurrences]
                )
            else:
                values.append(
                    [_coerce(_direct_text(c), dtype.elementType) for c in occurrences]
                )
        elif isinstance(dtype, StructType):
            values.append(assemble_row(occurrences[0], dtype) if occurrences else None)
        else:
            values.append(
                _coerce(_direct_text(occurrences[0]), dtype) if occurrences else None
            )
    return tuple(values)


_PREFIX_RX = re.compile(rb"<\/?([A-Za-z_][A-Za-z0-9_.\-]*):")
_ATTR_PREFIX_RX = re.compile(rb"\s([A-Za-z_][A-Za-z0-9_.\-]*):[A-Za-z_]")


def _bind_unbound_prefixes(record_bytes: bytes) -> bytes:
    """A record that uses a namespace prefix declared on an *ancestor*
    element (outside the record chunk) fails ET parsing with "unbound
    prefix". Since assembly matches by local label only (like the
    reference), bind every referenced prefix to a synthetic URI."""
    prefixes = set(_PREFIX_RX.findall(record_bytes))
    prefixes |= {
        p for p in _ATTR_PREFIX_RX.findall(record_bytes) if p != b"xmlns"
    }
    if not prefixes:
        return record_bytes
    decls = b"".join(
        b' xmlns:' + p + b'="urn:xmlhive:unbound:' + p + b'"' for p in sorted(prefixes)
    )
    # inject into the root start tag, before its first delimiter
    m = re.match(rb"<[^\s/>]+", record_bytes)
    if m is None:
        return record_bytes
    i = m.end()
    return record_bytes[:i] + decls + record_bytes[i:]


def parse_record(record_bytes: bytes, struct: StructType) -> tuple:
    try:
        elem = ET.fromstring(record_bytes)
    except ET.ParseError as e:
        if "unbound prefix" not in str(e):
            raise
        elem = ET.fromstring(_bind_unbound_prefixes(record_bytes))
    return assemble_row(elem, struct)


def corrupt_field_index(struct: StructType) -> int | None:
    """Position of the corrupt-record sink column (a field tagged
    ``xmlKind: corrupt``), or None when the schema has no sink."""
    for i, f in enumerate(struct.fields):
        if (f.metadata or {}).get("xmlKind") == "corrupt":
            return i
    return None


def tag_corrupt_field(struct: StructType, name: str) -> StructType:
    """Return ``struct`` with field ``name`` tagged as the corrupt-record
    sink (appending a nullable string field when absent — the
    ``read_xml(corrupt_column=...)`` path; the bare DataSource requires
    the field declared since Spark fixes the scan schema)."""
    from pyspark.sql.types import StringType, StructField

    fields = []
    found = False
    for f in struct.fields:
        if f.name == name:
            found = True
            if not isinstance(f.dataType, StringType):
                raise ValueError(
                    f"corrupt-record column {name!r} must be STRING, "
                    f"got {f.dataType.simpleString()}"
                )
            fields.append(
                StructField(f.name, f.dataType, True,
                            metadata={"xmlKind": "corrupt"})
            )
        else:
            fields.append(f)
    if not found:
        fields.append(
            StructField(name, StringType(), True,
                        metadata={"xmlKind": "corrupt"})
        )
    return StructType(fields)


def parse_record_safe(record_bytes: bytes, struct: StructType, mode: str):
    """Malformed-record policy (reference drops bad records with a console
    warning — "oopsie", AvroTransormer.scala:185):

    - ``FAILFAST``: raise (default — correctness-first).
    - ``DROPMALFORMED``: skip the record (reference parity).
    - ``PERMISSIVE``: emit a null row; when the schema declares a
      corrupt-record sink (``xmlKind: corrupt``), the raw record text
      lands there so downstream can count/route/repair corrupt records
      (spark-xml's ``columnNameOfCorruptRecord`` semantics).
    Returns the row tuple, None to drop, or raises."""
    try:
        return parse_record(record_bytes, struct)
    except Exception:
        if mode == "DROPMALFORMED":
            return None
        if mode == "PERMISSIVE":
            row = [None] * len(struct.fields)
            ci = corrupt_field_index(struct)
            if ci is not None:
                row[ci] = record_bytes.decode("utf-8", errors="replace")
            return tuple(row)
        raise


# ---------------------------------------------------------------- planning


def plan_splits(
    paths: list[str], partition_bytes: int = DEFAULT_PARTITION_BYTES
) -> list[tuple[str, int, int]]:
    """(file, start, end) byte-range splits. ``read_xml`` gives each split
    of a multi-split file its own task and packs whole-file splits into
    shared tasks (:func:`pack_small_files`).

    At 100 TB this is what keeps parallelism = data size / partition_bytes
    rather than = file count (the reference is one task per HDFS split but
    re-reads whole files, SURVEY.md §4.3)."""
    splits: list[tuple[str, int, int]] = []
    for p in paths:
        size = os.path.getsize(p)
        if size == 0:
            continue
        if p.endswith(_COMPRESSED_SUFFIXES):
            # non-splittable codec → whole-member split, scanner runs
            # to EOF
            splits.append((p, 0, GZIP_SPLIT_END))
            continue
        n = max(1, (size + partition_bytes - 1) // partition_bytes)
        step = (size + n - 1) // n
        for i in range(n):
            a, b = i * step, min((i + 1) * step, size)
            if a < b:
                splits.append((p, a, b))
    return splits


AnnotatedSplit = tuple[str, int, int, str, int]  # path, start, end, state, depth

# Driver-side plan cache: phase A is a full byte scan of every
# multi-split file, but its result depends only on (content, row_tag,
# partition_bytes) — repeated reads of static files (the normal data-lake
# pattern) shouldn't re-scan. Keyed by per-file (size, mtime_ns) so any
# rewrite invalidates. Bounded FIFO.
_PLAN_CACHE: dict[tuple, list[AnnotatedSplit]] = {}
_PLAN_CACHE_MAX = 64


def _plan_cache_key(paths: list[str], row_tag: str, partition_bytes: int):
    try:
        sig = tuple(
            (p, (st := os.stat(p)).st_size, st.st_mtime_ns) for p in paths
        )
    except OSError:
        return None
    return (sig, row_tag, partition_bytes)


# bumped whenever the on-disk plan layout changes; a mismatched or absent
# version field invalidates the entry instead of mis-parsing it
_PLAN_CACHE_FORMAT = 1


def _plan_disk_path(cache_key) -> "Path":
    """Cross-process plan cache location. A fresh driver re-reading a
    static file shouldn't repeat phase A (a full byte-scan of every
    split); on a cluster this artifact lives in the catalog/metastore —
    locally it's a content-keyed JSON under a per-user temp dir (uid in
    the name + mode 0700: another user on a shared host can neither
    pre-create it to poison entries nor read plan metadata)."""
    import hashlib
    import tempfile

    blob = json.dumps(cache_key, sort_keys=True).encode()
    uid = os.getuid() if hasattr(os, "getuid") else "na"
    d = Path(tempfile.gettempdir()) / f"xmlhive_plan_cache_{uid}"
    return d / (hashlib.sha256(blob).hexdigest() + ".json")


def _plan_disk_load(cache_key) -> "list[AnnotatedSplit] | None":
    try:
        path = _plan_disk_path(cache_key)
        if hasattr(os, "getuid") and path.parent.exists():
            st = path.parent.stat()
            if st.st_uid != os.getuid():
                return None  # dir pre-created by someone else: don't trust
        doc = json.loads(path.read_bytes())
        if not isinstance(doc, dict) or doc.get("v") != _PLAN_CACHE_FORMAT:
            return None
        plan = []
        for entry in doc["plan"]:
            p, a, b, st_, d = entry  # arity check via unpack
            if not (
                isinstance(p, str)
                and isinstance(a, int)
                and isinstance(b, int)
                and isinstance(st_, str)
                and isinstance(d, int)
            ):
                return None
            plan.append((p, a, b, st_, d))
        return plan
    except (OSError, ValueError, KeyError, TypeError):
        return None


def _plan_disk_store(cache_key, plan: list) -> None:
    try:
        path = _plan_disk_path(cache_key)
        path.parent.mkdir(parents=True, exist_ok=True, mode=0o700)
        if hasattr(os, "getuid") and path.parent.stat().st_uid != os.getuid():
            return  # foreign-owned dir: skip the cache entirely
        tmp = path.with_suffix(f".tmp{os.getpid()}")
        tmp.write_text(json.dumps({"v": _PLAN_CACHE_FORMAT, "plan": plan}))
        tmp.replace(path)  # atomic publish — concurrent writers race safely
    except OSError:
        pass  # cache is best-effort; planning still succeeded


def plan_annotated_splits(
    paths: list[str],
    row_tag: str,
    partition_bytes: int = DEFAULT_PARTITION_BYTES,
) -> list[AnnotatedSplit]:
    """Full split plan: every split with its incoming lexer state and
    row-tag depth.

    Runs on the driver: each file goes through :func:`chain_splits`,
    whose phase A is one vectorized byte pass over every non-final split
    of a multi-split file. Single-split files need no phase A: offset 0
    is always ``(TEXT, 0)``. Plans are cached in process and on disk,
    keyed by each file's size and mtime."""
    cache_key = _plan_cache_key(paths, row_tag, partition_bytes)
    if cache_key is not None and cache_key in _PLAN_CACHE:
        return _PLAN_CACHE[cache_key]
    if cache_key is not None and (disk := _plan_disk_load(cache_key)) is not None:
        _PLAN_CACHE[cache_key] = disk
        return disk
    out: list[AnnotatedSplit] = []
    multi = False
    for p in paths:
        spans = plan_splits([p], partition_bytes)
        multi |= len(spans) > 1
        if spans:
            fence = [spans[0][1]] + [b for _, _, b in spans]
            out += [(p, *ann) for ann in chain_splits(
                lambda p=p: open(p, "rb"), fence, row_tag, p)]
    if cache_key is not None:
        if len(_PLAN_CACHE) >= _PLAN_CACHE_MAX:
            _PLAN_CACHE.pop(next(iter(_PLAN_CACHE)))
        _PLAN_CACHE[cache_key] = out
        if multi:  # only multi-split plans are worth persisting
            _plan_disk_store(cache_key, out)
    return out


def pack_small_files(spark: SparkSession, items: list, partition_bytes: int) -> list[list]:
    """Group ``items`` — ``(item, nbytes, whole_file)`` triples in read
    order — into read tasks by Spark's small-file rule
    (``FilePartition.getFilePartitions``): each file costs its size plus
    ``spark.sql.files.openCostInBytes``, and runs of whole files are
    packed next-fit up to ``min(partition_bytes, max(open_cost,
    total / defaultParallelism))``. Items that are not whole files
    (byte-range splits) stay one per task. Order is kept, so the rows of
    the packed read come out in the unpacked order."""
    open_cost = spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()
    total = sum(n + open_cost for _, n, _ in items)
    max_bytes = min(
        partition_bytes,
        max(open_cost, total // spark.sparkContext.defaultParallelism),
    )
    groups: list[list] = []
    run: list = []
    run_bytes = 0
    for item, nbytes, whole_file in items:
        if run and (not whole_file or run_bytes + nbytes > max_bytes):
            groups.append(run)
            run, run_bytes = [], 0
        if not whole_file:
            groups.append([item])
            continue
        run.append(item)
        run_bytes += nbytes + open_cost
    if run:
        groups.append(run)
    return groups


def strip_file_uri(s: str) -> str:
    """Local path from a possible ``file:`` URI: accepts ``file:/p`` and
    ``file:///p``; ``file://host/p`` carries an authority — 'host' is
    NOT part of the local path, so reject rather than misread it (the
    SQL catalog hands locations back in URI form). Shared by
    :func:`resolve_paths` and the catalog sidecar resolver so the two
    can't drift."""
    if not s.startswith("file:"):
        return s
    rest = s[len("file:"):]
    if rest.startswith("//"):
        netloc, sep, tail = rest[2:].partition("/")
        if netloc not in ("", "localhost"):
            raise ValueError(
                f"file: URI with non-local authority {netloc!r}: {s!r}"
            )
        rest = sep + tail
    return rest


def resolve_paths(path: str | list[str]) -> list[str]:
    patterns = [path] if isinstance(path, str) else list(path)
    out: list[str] = []
    for pat in patterns:
        pat = strip_file_uri(pat)
        p = Path(pat)
        if p.is_dir():
            out += [
                str(c) for c in sorted(p.iterdir())
                if c.suffix == ".xml" or c.name.endswith((".xml.gz", ".xml.bz2"))
            ]
        elif p.is_file():
            out.append(str(p))
        else:
            out += sorted(_glob.glob(pat))
    if not out:
        raise FileNotFoundError(f"no XML input files for {path!r}")
    for f in out:
        _reject_utf16(f)
    return out


def _reject_utf16(path: str) -> None:
    """Fail FAST on UTF-16/UTF-32 input instead of silently scanning to
    zero records: the byte scanner matches single-byte ``<rowTag``
    patterns, which never occur in multi-byte-unit encodings (every
    ASCII code unit is padded with NULs), so such a file would read as
    an empty table — a silent data-loss trap. A UTF-8 BOM is fine (the
    scanner skips it as text; pinned in tests). One 4-byte read per
    file at plan time — for compressed members that is a 4-byte
    DECOMPRESSED peek (the codec streams incrementally, so only the
    first block is touched). Detection covers BOM-prefixed files AND
    BOM-less UTF-16/32 (encoding declared only in the XML prolog,
    common from Windows tools): a NUL anywhere in the first 4 bytes is
    impossible in well-formed UTF-8 XML (NUL is not an XML Char and
    every multi-byte-unit encoding NUL-pads its ASCII code units)."""
    with open_xml(path) as f:
        head = f.read(4)
    if (
        head[:2] in (b"\xff\xfe", b"\xfe\xff")
        or head[:4] in (b"\x00\x00\xfe\xff", b"\xff\xfe\x00\x00")
        or b"\x00" in head
    ):
        raise ValueError(
            f"{path}: UTF-16/UTF-32 XML is not supported (byte-oriented "
            "record scanner); transcode to UTF-8 first"
        )


def iter_split_record_bytes(split: tuple, row_tag: str,
                            raw_limit: int | None = None) -> Iterator[bytes]:
    """Raw record chunks of one annotated split (phase C only)."""
    path, a, b = split[0], split[1], split[2]
    state = split[3] if len(split) > 3 else ST_TEXT
    depth = split[4] if len(split) > 4 else 0
    with open_xml(path, raw_limit=raw_limit) as f:
        for _, rec in iter_record_spans(f, row_tag, a, b, state, depth):
            yield rec


def _read_split(
    split: tuple,
    row_tag: str,
    struct: StructType,
    mode: str = "FAILFAST",
    raw_limit: int | None = None,
):
    for rec in iter_split_record_bytes(split, row_tag, raw_limit=raw_limit):
        row = parse_record_safe(rec, struct, mode)
        if row is not None:
            yield row


# -------------------------------------------------------------- public API


def read_xml(
    spark: SparkSession,
    path: str | list[str],
    row_tag: str,
    schema: StructType | None = None,
    xsd: str | Path | None = None,
    sep_tag_type: str | None = None,
    ns: str | None = None,
    rich_types: bool = False,
    partition_bytes: int = DEFAULT_PARTITION_BYTES,
    mode: str = "FAILFAST",
    corrupt_column: str | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Read XML files into a DataFrame, one row per ``row_tag`` record.

    Schema comes from an explicit ``schema``, or from an XSD file/dir +
    ``sep_tag_type`` (the reference's ``xml.schema.location`` +
    ``xml.separator.tag.type`` table properties,
    AvroTransormer.scala:54-57), mirroring
    ``spark.read.format("xmlhive")`` options.

    ``corrupt_column`` (with ``mode="PERMISSIVE"``) appends/tags a string
    sink column that carries the raw text of each record that failed to
    parse or coerce — data fields stay null on those rows, the sink stays
    null on clean rows (spark-xml ``columnNameOfCorruptRecord``
    semantics; the reference just drops bad records with a console
    warning, AvroTransormer.scala:185).

    ``columns`` is EXPLICIT projection pushdown: narrow the scan to the
    named top-level fields (schema order preserved). Unrequested fields
    are parsed past but never captured, converted, or shipped across
    the Python→JVM Arrow boundary — the column-pruning win Spark's own
    sources get from Catalyst automatically. The Python DataSource API
    (pyspark 4.1.2) has no pruneColumns hook (a ``.select()`` on the
    loaded frame still scans the full declared schema; probe pinned in
    tests), so callers that know their projection pass it here — the
    same contract as the reference's Hive table, where the declared
    Avro schema IS the projection (AvroFromXmlSerde.scala:13-26).
    """
    if schema is None:
        if xsd is not None and sep_tag_type is not None:
            from xml_hive_spark.xsd import xsd_to_struct

            schema = xsd_to_struct(xsd, sep_tag_type, ns, rich_types=rich_types)
        else:
            # no XSD: sampled inference (infer.py) — the reference can't
            # read schema-less XML at all (xml.schema.location required,
            # AvroTransormer.scala:35,57)
            from xml_hive_spark.infer import infer_xml_schema

            log.info("read_xml: no schema/XSD given; inferring from a sample")
            schema = infer_xml_schema(path, row_tag)

    if columns is not None:
        names = schema.fieldNames()
        missing = [c for c in columns if c not in names]
        if missing:
            raise ValueError(
                f"read_xml: columns {missing} not in the resolved schema "
                f"(available: {names})"
            )
        keep = set(columns)
        schema = StructType([f for f in schema.fields if f.name in keep])

    if corrupt_column is not None:
        schema = tag_corrupt_field(schema, corrupt_column)

    paths = resolve_paths(path)
    splits = plan_annotated_splits(paths, row_tag, partition_bytes)

    from xml_hive_spark.sources.xml_datasource import register

    register(spark)
    splits_per_file = Counter(s[0] for s in splits)
    tasks = pack_small_files(spark, [
        (s, os.path.getsize(s[0]) if s[2] == GZIP_SPLIT_END else s[2] - s[1],
         splits_per_file[s[0]] == 1)
        for s in splits
    ], partition_bytes)
    return (
        spark.read.format("xmlhive")
        .schema(schema)
        .option("rowTag", row_tag)
        .option("mode", mode)
        .option("splits", json.dumps(tasks))
        .load()
    )
