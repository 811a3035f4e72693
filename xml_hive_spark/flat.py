"""Columnar fast-path assembler for FLAT record schemas.

The general path (``reader.parse_record``) builds an ElementTree per
record and walks it under the target StructType — correct for arbitrary
nesting, but ~19µs/record of tree-building for records that are a flat
bag of scalar attributes/elements (the dominant shape for large XML
exports; the reference's own fixtures are flat — TestAvroTranformer.scala).

This module extracts flat records with a handful of C-level regex
operations per record, accumulates values column-wise, and emits
``pyarrow.RecordBatch`` directly. ``XmlHiveReader.read``
(sources/xml_datasource.py) applies the pushed-filter mask to each batch
and hands it to Spark as-is (no per-value converter, no per-row tuple;
pyspark/sql/worker/plan_data_source_read.py yields RecordBatches
untouched).

Correctness stance: the fast path is *conservative*. Any record showing
a construct the regexes can't prove flat — CDATA/comments/PI/DOCTYPE
(``<!``/``<?``), quotes inside a non-root tag (attributes on child
elements), nested elements, residual ``&`` after entity substitution,
non-UTF8 bytes, or a coercion failure — is re-parsed by the exact
ElementTree path for that record only. tests/test_flat_fastpath.py pins
fast_row == the ElementTree path on every guard class, and
tests/test_fused_scan.py pins the batches of :meth:`FlatAssembler.
fused_split_batches` to the exact span scan (``reader.iter_record_spans``
+ ``fast_row``/``parse_record_safe``).
"""

from __future__ import annotations

import contextlib
import operator
import re
from datetime import date
from decimal import Decimal

from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
)

from xml_hive_spark.reader import MALFORMED_ERRORS, parse_record_safe


def strip_metadata(struct: StructType) -> StructType:
    """Recursively drop StructField metadata. The streaming Arrow
    transfer (PythonStreamingSourceRunner) rejects field metadata, and
    Arrow batches built here must carry the metadata-free image Spark
    compares against; the assembler keeps the rich twin for XML-kind
    dispatch."""
    from pyspark.sql.types import ArrayType, StructField

    def strip_type(dt):
        if isinstance(dt, StructType):
            return strip_metadata(dt)
        if isinstance(dt, ArrayType):
            return ArrayType(strip_type(dt.elementType), dt.containsNull)
        return dt

    return StructType(
        [StructField(f.name, strip_type(f.dataType), f.nullable) for f in struct.fields]
    )


_NC = rb"[A-Za-z_][A-Za-z0-9_.\-]{0,63}"

# root start tag: name + attribute segment (quote-aware) + optional '/'
_ROOT_RX = re.compile(
    rb"<[^ \t\r\n/>]+((?:[^>'\"]|'[^']*'|\"[^\"]*\")*?)(/?)>"
)
_ATTR_RX = re.compile(
    rb"([A-Za-z_][A-Za-z0-9_.\-:]*)[ \t\r\n]*=[ \t\r\n]*(?:\"([^\"]*)\"|'([^']*)')"
)
# one pass for both flatness guards: a quote inside a tag (child
# elements with attributes, or '>' tricks), or an open (non-self-closing)
# tag followed by another open tag before any close (depth ≥ 2)
_GUARD_RX = re.compile(rb"<[^>]*['\"]|<(?!/)[^/>]*>[^<]*<(?!/)")
_WS_RX = re.compile(rb"[ \t\r\n]+")
_NAMED_ENT = {b"amp": b"&", b"lt": b"<", b"gt": b">", b"quot": b'"', b"apos": b"'"}
_ENT_RX = re.compile(rb"&([A-Za-z]+|#[0-9]+|#[xX][0-9A-Fa-f]+);")


def _unescape(raw: bytes) -> bytes:
    def rep(m: "re.Match[bytes]") -> bytes:
        g = m.group(1)
        if g[:1] == b"#":
            cp = int(g[2:], 16) if g[1:2] in (b"x", b"X") else int(g[1:].decode())
            return chr(cp).encode("utf-8")
        v = _NAMED_ENT.get(g)
        if v is None:
            raise ValueError(f"unknown entity &{g.decode()};")
        return v

    return _ENT_RX.sub(rep, raw)


def _decode(raw: bytes) -> str:
    if b"&" in raw:
        # every original '&' must start a recognized entity (a decoded
        # '&amp;' legitimately leaves '&' in the OUTPUT, so compare
        # counts before substituting rather than scanning after)
        if len(_ENT_RX.findall(raw)) != raw.count(b"&"):
            raise ValueError("stray & (not an XML entity)")
        raw = _unescape(raw)
    return raw.decode("utf-8")


def _scalar_converter(dtype, trim: bool):
    """Text → typed value closures, bit-compatible with reader._coerce.

    Converters carry ``_ckind`` / ``_ctrim`` tags so the per-template
    compiled extractor (:func:`_compile_extractor`) can inline the
    str/int/float hot cases instead of making a closure call per field."""

    def tag(conv, kind):
        conv._ckind = kind
        conv._ctrim = trim
        return conv

    if isinstance(dtype, StringType):
        return tag((lambda t: t.strip()) if trim else (lambda t: t), "str")

    def wrap(core):
        def conv(t: str):
            t = t.strip() if trim else t
            if t == "":
                return None
            return core(t)

        return conv

    if isinstance(dtype, (IntegerType, LongType, ShortType, ByteType)):
        return tag(wrap(int), "int")
    if isinstance(dtype, (FloatType, DoubleType)):
        return tag(wrap(float), "float")
    if isinstance(dtype, BooleanType):

        def to_bool(t: str):
            low = t.lower()
            if low in ("true", "1"):
                return True
            if low in ("false", "0"):
                return False
            raise ValueError(f"not a boolean: {t!r}")

        return tag(wrap(to_bool), "other")
    if isinstance(dtype, DecimalType):
        return tag(wrap(Decimal), "other")
    if isinstance(dtype, DateType):
        return tag(wrap(date.fromisoformat), "other")
    return None  # not fast-path eligible (timestamp tz semantics, etc.)


def _compile_extractor(groups, n_fields: int):
    """Compile a specialized capture-tuple → row-tuple closure for one
    learned template (SCALE.md "specialized per-template row extractor").

    Semantics are EXACTLY ``_Template._extract_groups_generic`` — the
    zip-over-groups loop unrolled into straight-line code with each
    field's converter bound once, and the str/int/float converters
    (tagged by :func:`_scalar_converter`) inlined — strip / empty→None
    / int()/float() happen without a closure call per field. The
    ``b"<" in raw`` guard stays for EVERY capture (element charclasses
    make it unreachable from a real match, but the compiled function
    must equal the generic loop on all inputs, not just
    match-reachable ones).

    Equivalence with the generic loop is pinned property-style in
    tests/test_fused_scan.py.
    """
    ns = {"_dec": _decode, "_MALFORMED": MALFORMED_ERRORS}
    L = ["def _ex(g):", "    try:"]
    out = ["None"] * n_fields
    for j, (fi, conv, is_elem) in enumerate(groups):
        out[fi] = f"v{fi}"
        dec = 'r.decode("utf-8") if b"&" not in r else _dec(r)'
        kind = getattr(conv, "_ckind", None)
        trim = getattr(conv, "_ctrim", False)
        L.append(f"        r = g[{j}]")
        if is_elem:
            # <e></e>: ElementTree text is None, regardless of dtype
            L.append("        if r == b'':")
            L.append(f"            v{fi} = None")
            L.append("        else:")
            L.append('            if b"<" in r:')
            L.append("                return None")
            ind = "            "
        else:
            L.append('        if b"<" in r:')
            L.append("            return None")
            ind = "        "
        if kind == "str":
            expr = f"({dec}).strip()" if trim else f"({dec})"
            L.append(f"{ind}v{fi} = {expr}")
        elif kind in ("int", "float"):
            t = f"({dec}).strip()" if trim else f"({dec})"
            L.append(f"{ind}t = {t}")
            L.append(f"{ind}v{fi} = {kind}(t) if t else None")
        else:
            ns[f"c{j}"] = conv
            L.append(f"{ind}v{fi} = c{j}({dec})")
    L.append(f"        return ({', '.join(out)}{',' if n_fields == 1 else ''})")
    L.append("    except _MALFORMED:")
    L.append("        return None")
    exec("\n".join(L), ns)  # noqa: S102 — source built only from literals
    return ns["_ex"]


class _Template:
    """Learned whole-record pattern: one ``fullmatch`` extracts every
    schema field of a record that shares the sample's exact markup
    layout (tag order, attribute set, whitespace) with only text/attr
    VALUES varying.

    Built from a sample that already passed ``fast_row``'s flatness
    guards, so the sample's structure is proven flat; every text node
    becomes ``[^<]*`` and every root-attribute value ``[^<quote>]*`` —
    all anchored by literal segments, so matching is linear with no
    backtracking blowup. Any record whose structure differs AT ALL
    (extra attribute, missing element, comment, nesting, different
    whitespace) simply fails the fullmatch and takes the general path —
    the template can reject, never mis-extract. Captured values still
    go through the same converters and entity handling as ``fast_row``.
    """

    __slots__ = ("rx", "rx_run", "rx_multi", "base_vals", "groups",
                 "extract_groups", "end_group")

    @classmethod
    def learn(cls, sample: bytes, fields) -> "_Template | None":
        m = _ROOT_RX.match(sample)
        if m is None:
            return None
        body_at = m.end()
        seg_a, seg_b = m.span(1)  # root attribute segment

        # --- schema value spans -------------------------------------
        # (start, end, field_idx, conv, is_elem, quote_byte)
        spans: list[tuple] = []
        base_vals: list = [None] * len(fields)
        attr_spans: dict[bytes, tuple[int, int, int]] = {}
        for am in _ATTR_RX.finditer(sample, seg_a, seg_b):
            name = am.group(1)
            if b":" in name:
                name = name.rsplit(b":", 1)[1]
            g = 2 if am.group(2) is not None else 3
            attr_spans[name] = (*am.span(g), 0x22 if g == 2 else 0x27)
        claimed: set[bytes] = set()
        for fi, (kind, keys, rx, presence, conv) in enumerate(fields):
            if kind == "corrupt":
                continue  # constant None (base_vals default) — never matched
            if kind == "attribute":
                hit = None
                for k in keys:
                    if k in attr_spans and k not in claimed:
                        hit = k
                        break
                if hit is None:
                    continue  # absent in sample → constant None
                claimed.add(hit)
                a, b, q = attr_spans[hit]
                spans.append((a, b, fi, conv, False, q))
            else:
                em = rx.search(sample, body_at)
                if em is None:
                    continue  # absent → constant None (presence change
                    # alters the byte layout → fullmatch fails → fallback)
                if em.group(1) is None:
                    continue  # self-closing in sample → constant None
                a, b = em.span(1)
                spans.append((a, b, fi, conv, True, 0))

        # --- non-schema variable spans (text nodes, other attrs) -----
        schema_iv = [(s[0], s[1]) for s in spans]

        def overlaps(a, b):
            # CLOSED intervals: an EMPTY schema span (element empty in the
            # sample, a==b) must still repel the text-node wildcard at the
            # same position — an open-interval test lets a non-capturing
            # [^<]* land beside the capture and greedily swallow the value
            # in records where the element is non-empty (silent data
            # corruption, caught by tests/test_fused_scan.py)
            return any(a <= y and x <= b for x, y in schema_iv)

        wild: list[tuple[int, int, int]] = []  # (a, b, quote|0)
        for tm in re.finditer(rb">([^<]*)(?=<)", sample, ):
            a, b = tm.span(1)
            if not overlaps(a, b):
                wild.append((a, b, 0))
        for name, (a, b, q) in attr_spans.items():
            if name not in claimed and not overlaps(a, b):
                wild.append((a, b, q))

        # --- assemble the pattern -------------------------------------
        marks = sorted(
            [(a, b, fi, conv, is_e, q, True) for a, b, fi, conv, is_e, q in spans]
            + [(a, b, -1, None, False, q, False) for a, b, q in wild]
        )
        pat = bytearray()
        pat_nc = bytearray()  # capture-free twin for the multi-record
        # form: group save-state per repetition is pure cost when only
        # the run EXTENT is wanted (findall re-extracts captures)
        groups: list[tuple[int, object, bool]] = []
        pos = 0
        gi = 0
        for a, b, fi, conv, is_e, q, capture in marks:
            if a < pos:
                return None  # overlapping spans — give up, stay safe
            lit = re.escape(sample[pos:a])
            pat += lit
            pat_nc += lit
            charclass = b"[^<]*" if not q else (
                b'[^"]*' if q == 0x22 else b"[^']*"
            )
            if capture:
                gi += 1
                pat += b"(" + charclass + b")"
                groups.append((fi, conv, is_e))
            else:
                pat += b"(?:" + charclass + b")"
            pat_nc += b"(?:" + charclass + b")"
            pos = b
        tail = re.escape(sample[pos:])
        pat += tail
        pat_nc += tail
        try:
            rx = re.compile(bytes(pat))
            # run form for the fused scan: also consumes the whitespace
            # separating this record from the next AND any complete
            # inter-record comments, so decoy comments no longer break a
            # uniform run into exact-token steps. The empty group ()
            # marks where the RECORD ends (group len(groups)+1): the
            # batch sink re-reads [start, record_end) on rejection, and
            # absorbed comments must not be part of that span. An
            # incomplete comment (terminator beyond the buffered window)
            # simply isn't absorbed — the optional group matches zero
            # comments and the next anchored record match fails into the
            # exact machinery, which handles refills.
            run_src = bytes(pat) + b"()(?:[ \t\r\n]*<!--.*?-->)*[ \t\r\n]*"
            rx_run = re.compile(run_src, re.DOTALL)
            # multi-record form: one C-level match consumes a RUN of up
            # to 64 consecutive uniform records (captures are ignored —
            # only the extent is used; ``rx_run.findall`` then extracts
            # every record's captures over the proven span in one more C
            # call). Built from the CAPTURE-FREE twin: same token
            # structure, same match extent, no group save-state per
            # repetition. The decomposition is unambiguous: every record
            # starts with the literal ``<tag`` and no charclass in the
            # pattern can match '<', so search-order findall reproduces
            # exactly the anchored per-record parse (asserted
            # property-style in tests/test_fused_scan.py).
            rx_multi = re.compile(
                b"(?:" + bytes(pat_nc)
                + b"(?:[ \t\r\n]*<!--.*?-->)*[ \t\r\n]*){1,64}",
                re.DOTALL,
            )
        except re.error:
            return None
        self = cls.__new__(cls)
        self.rx = rx
        self.rx_run = rx_run
        self.rx_multi = rx_multi
        self.base_vals = base_vals
        self.groups = groups
        self.end_group = len(groups) + 1  # the () record-end anchor
        self.extract_groups = _compile_extractor(groups, len(fields))
        return self

    def extract(self, rec: bytes) -> tuple | None:
        m = self.rx.fullmatch(rec)
        if m is None:
            return None
        return self.extract_groups(m.groups())

    def _extract_groups_generic(self, groups_raw) -> tuple | None:
        """Reference implementation of the capture→row pipeline; the
        compiled ``extract_groups`` must be observationally identical
        (pinned in tests/test_fused_scan.py)."""
        vals = list(self.base_vals)
        try:
            for raw, (fi, conv, is_elem) in zip(groups_raw, self.groups):
                if is_elem and raw == b"":
                    continue  # <e></e>: ElementTree text is None
                if b"<" in raw:
                    return None  # invalid-in-place markup; be exact
                # inlined _decode fast path: no '&' → plain utf-8 decode
                vals[fi] = conv(
                    raw.decode("utf-8") if b"&" not in raw else _decode(raw)
                )
        except MALFORMED_ERRORS:
            return None
        return tuple(vals)


class _TmplChange:
    """Scan sentinel: the active template changed (first learn
    or a drift re-learn). The batch sink must flush caps accumulated
    under the PREVIOUS template before interpreting any further run
    captures — capture group order is template-specific."""

    __slots__ = ("tmpl",)

    def __init__(self, tmpl):
        self.tmpl = tmpl


class _NeedRowPath(Exception):
    """Columnar conversion met a construct whose semantics are defined
    per-row (entities, exotic whitespace, cast failure, markup in an
    attribute value) — the batch re-converts row-wise instead."""


class FlatAssembler:
    """Regex field extractor + Arrow batch builder for one flat schema.

    Use :meth:`try_create`; returns None when the schema doesn't qualify
    (nested/array/map/timestamp fields, text-content fields, or fields
    without explicit xmlKind metadata)."""

    @classmethod
    def try_create(cls, struct: StructType, mode: str) -> "FlatAssembler | None":
        fields = []
        for f in struct.fields:
            meta = f.metadata or {}
            kind = meta.get("xmlKind")
            if kind == "corrupt":
                # corrupt-record sink: constant None on every record the
                # fast path parses (by definition those parsed cleanly);
                # records that fail fall through to parse_record_safe,
                # which fills the raw text — so corrupt capture keeps
                # the fused scan
                fields.append((kind, None, None, None, None))
                continue
            if kind not in ("attribute", "element"):
                return None
            conv = _scalar_converter(f.dataType, trim=(kind == "element"))
            if conv is None:
                return None
            xml_name = meta.get("xmlName", f.name)
            rx = None
            presence = None
            if kind == "element":
                t = re.escape(xml_name.encode())
                rx = re.compile(
                    rb"<(?:" + _NC + rb":)?" + t
                    + rb"[ \t\r\n]*(?:/>|>(.*?)</(?:" + _NC + rb":)?" + t
                    + rb"[ \t\r\n]*>)",
                    re.DOTALL,
                )
                # on a miss, this cheap probe decides None vs slow path
                presence = b"<" + xml_name.encode()
                keys = None
            else:
                # assemble_row's attribute lookup: xmlName, then the
                # '_'-stripped field name (reader.py assemble_row)
                keys = (xml_name.encode(), f.name.lstrip("_").encode())
            fields.append((kind, keys, rx, presence, conv))
        return cls(struct, mode, fields)

    def __init__(self, struct, mode, fields):
        self.struct = struct
        self.mode = mode
        self.fields = fields
        self._n_fields = len(fields)
        # columnar batch conversion covers string/int/float targets;
        # batches of a bool/decimal/date schema convert per row
        self._columnar_ok = all(
            isinstance(
                f.dataType,
                (StringType, IntegerType, LongType, ShortType, ByteType,
                 FloatType, DoubleType),
            )
            for f in struct.fields
        )

    # ------------------------------------------------------------ per record

    def fast_row(self, rec: bytes) -> tuple | None:
        """Extract a row tuple, or None → caller must use the exact path."""
        if b"<!" in rec or b"<?" in rec:
            return None
        m = _ROOT_RX.match(rec)
        if m is None:
            return None
        body_at = m.end()  # search with a start offset — no body copy
        if _GUARD_RX.search(rec, body_at):
            return None
        attrs: dict[bytes, bytes] | None = None
        vals = []
        try:
            for kind, keys, rx, presence, conv in self.fields:
                if kind == "corrupt":
                    vals.append(None)  # a fast_row parse IS a clean parse
                    continue
                if kind == "attribute":
                    if attrs is None:
                        attrs = {}
                        for am in _ATTR_RX.finditer(m.group(1)):
                            name = am.group(1)
                            if b":" in name:
                                name = name.rsplit(b":", 1)[1]
                            v = am.group(2)
                            attrs[name] = am.group(3) if v is None else v
                    raw = attrs.get(keys[0])
                    if raw is None:
                        raw = attrs.get(keys[1])
                    # attributes are untrimmed; empty stays "" for strings
                    vals.append(None if raw is None else conv(_decode(raw)))
                else:
                    em = rx.search(rec, body_at)
                    if em is None:
                        # distinguish truly-absent from regex-shy forms
                        if rec.find(presence, body_at) != -1:
                            return None
                        vals.append(None)
                        continue
                    raw = em.group(1)
                    if raw is None or raw == b"":
                        # <e/> or <e></e>: ElementTree text is None
                        vals.append(None)
                        continue
                    t = _decode(raw)
                    if "<" in t:
                        return None  # matched across structure; be exact
                    vals.append(conv(t))
        except MALFORMED_ERRORS:
            return None  # exact path re-raises under the mode policy
        return tuple(vals)

    # --------------------------------------------------------- fused scan

    def _fused_scan(self, f, row_tag: str, start: int, end: int,
                    state: str, depth: int):
        """Phase C + assembly FUSED over one split of ``f``. At every
        depth-0 record boundary the learned template is matched DIRECTLY
        against the split buffer: a run of uniform records yields
        ``[captures, abs_start, abs_end]`` items (captures is a list of
        tuples for an ``rx_multi`` run) with no per-record byte slice;
        every other record yields its value tuple from the exact path,
        and a ``_TmplChange`` precedes the first capture of each new
        template.

        EXACTNESS: the template is anchored at the scan cursor, so it can
        only consume bytes that ARE a complete uniform record starting
        exactly where the exact scanner would start one; any other
        content — whitespace gaps are skipped explicitly; comments /
        CDATA / PIs / DOCTYPE / drifting layouts / nested or oversized
        records — fails the anchored match and drops to one step of the
        exact token machinery (same primitives as
        ``reader.iter_record_spans``: _token_rx search, _consume_tag,
        _skip_to), after which the fused loop resumes. Equivalence with
        the span-based path is pinned property-style in
        tests/test_fused_scan.py over generated documents and full cut
        sweeps."""
        from xml_hive_spark.reader import (
            ST_TEXT,
            _Buf,
            _consume_tag,
            _resume_offset,
            _skip_to,
            _token_rx,
        )

        # a template mismatch is trusted only with this much lookahead
        # buffered (or EOF): a record longer than this simply takes the
        # exact path, it is never mis-read
        LOOKAHEAD = 1 << 18
        MARGIN = 160  # same straddling-token margin as reader._Scanner

        pos = start
        if state != ST_TEXT:
            buf = _Buf(f, max(0, start - 2))
            r = _resume_offset(buf, state, start, end)
            if r is None or r >= end:
                return
            pos = r
        else:
            buf = _Buf(f, start)
        tok_rx = _token_rx(row_tag)
        d = depth
        rec_start: int | None = None
        tmpl: _Template | None = None
        learn_budget = 8
        miss_streak = 0
        tmpl_epoch = 0  # bumped on every (re)learn; a _TmplChange
        sent_epoch = 0  # sentinel is yielded when they diverge
        fast_row = self.fast_row
        search_from = pos  # proven token-free below this (refill re-scans)

        def emit(rec: bytes):
            nonlocal tmpl, learn_budget, miss_streak, tmpl_epoch
            vals = tmpl.extract(rec) if tmpl is not None else None
            if vals is not None:
                miss_streak = 0
                return vals
            vals = fast_row(rec)
            if vals is not None and learn_budget > 0:
                if tmpl is None:
                    learn_budget -= 1
                    tmpl = _Template.learn(rec, self.fields)
                    if tmpl is not None:
                        tmpl_epoch += 1
                else:
                    # LAYOUT-DRIFT RE-LEARN: the active template keeps
                    # rejecting records that parse cleanly (attribute
                    # order flipped, whitespace changed, a second writer's
                    # block starts) — after 3 consecutive such misses,
                    # adopt a template from the new layout so the fused
                    # run loop resumes instead of the rest of the split
                    # paying the exact path per record. Alternating
                    # layouts never reach the streak (resets on every
                    # template hit), so no thrash; the budget bounds total
                    # learns per split either way.
                    miss_streak += 1
                    if miss_streak >= 3:
                        miss_streak = 0
                        learn_budget -= 1
                        nt = _Template.learn(rec, self.fields)
                        if nt is not None:
                            tmpl = nt
                            tmpl_epoch += 1
            if vals is None:
                vals = parse_record_safe(rec, self.struct, self.mode)
            return vals

        while True:
            while not buf.eof and buf.end_offset() - pos < LOOKAHEAD:
                if not buf._refill():
                    break
            data, base = buf.data, buf.base
            avail = base + len(data)

            if d == 0 and rec_start is None:
                wm = _WS_RX.match(data, pos - base)
                if wm is not None:
                    pos = base + wm.end()
                    if not buf.eof and pos == avail:
                        continue  # whitespace may continue past the tail
                if pos >= end:
                    return
                if tmpl is not None:
                    # hot loop: one anchored match per record; the run
                    # pattern also consumes the inter-record whitespace
                    # and complete comments (record ends at end_group)
                    run_match = tmpl.rx_run.match
                    end_group = tmpl.end_group
                    rel = pos - base
                    lo_guard = (avail - LOOKAHEAD) - base if not buf.eof \
                        else len(data)
                    end_rel = end - base
                    advanced = False
                    # run-BATCHED fast path: rx_multi consumes up to 64
                    # uniform records in ONE C match; findall re-extracts
                    # every record's captures over that proven span in
                    # one more C call — zero per-record Python dispatch.
                    # Runs that would cross the split end or the
                    # buffered-lookahead guard are left to the per-record
                    # loop below, which owns boundary exactness unchanged.
                    multi_match = tmpl.rx_multi.match
                    run_findall = tmpl.rx_run.findall
                    hi = end_rel if end_rel < lo_guard else lo_guard
                    while rel < hi:
                        mm = multi_match(data, rel)
                        if mm is None:
                            break
                        e = mm.end()
                        if e > hi:
                            break
                        yield [run_findall(data, rel, e), base + rel, base + e]
                        rel = e
                        advanced = True
                    while rel < end_rel:
                        if rel > lo_guard:
                            break  # too close to the tail to trust a miss
                        m = run_match(data, rel)
                        if m is None:
                            break
                        # capture values are extracted EAGERLY (groups()
                        # copies out of the live bytearray buffer —
                        # compaction mutates it in place, so deferred
                        # reads would see shifted content) but validated
                        # and converted by the batch sink. Advancing is
                        # safe — the anchored match consumed exactly one
                        # well-formed record, the same bytes the exact
                        # path would consume; a value the sink later
                        # rejects re-reads [abs start, abs end) from the
                        # file with identical row semantics.
                        yield [m.groups(), base + rel, base + m.end(end_group)]
                        rel = m.end()
                        advanced = True
                    if advanced:
                        # template hits ride the hot loop (never emit):
                        # they must still reset the drift-miss streak or
                        # alternating layouts would count only the misses
                        # and churn through the learn budget
                        miss_streak = 0
                        pos = base + rel
                        search_from = pos
                        if rel > (1 << 22):
                            buf.compact(pos)
                        continue
                    if rel >= end_rel or rel > lo_guard:
                        continue  # boundary/tail handling at loop top
                    # anchored mismatch with LOOKAHEAD buffered (or EOF):
                    # not a uniform record here — exact step below

            # ---------------- one exact token step ----------------
            lo = max(pos, search_from)
            if rec_start is not None:
                lo = max(lo, pos)
            m = tok_rx.search(data, lo - base)
            if m is None:
                if buf.eof:
                    return  # malformed/record-free tail: same as scanner EOF
                # only the last MARGIN bytes can hold a straddling token
                search_from = max(lo, buf.end_offset() - MARGIN)
                buf.compact(rec_start if rec_start is not None else
                            min(pos, search_from))
                buf._refill()
                continue
            s = base + m.start()
            ne = base + m.end()
            search_from = pos
            if rec_start is None and s >= end:
                return
            c = data[s - base + 1]
            if c == 0x21:  # '!': <!-- or <![CDATA[
                anchor = rec_start if rec_start is not None else s
                if data[s - base + 2] == 0x2D:
                    pos = _skip_to(buf, b"-->", s + 4, anchor)
                else:
                    pos = _skip_to(buf, b"]]>", s + 9, anchor)
            elif c == 0x3F:  # '?'
                pos = _skip_to(buf, b"?>", s + 2,
                               rec_start if rec_start is not None else s)
            elif c == 0x2F:  # '/': close tag (its '>' is in the match)
                pos = ne
                if d > 0:
                    d -= 1
                    if d == 0 and rec_start is not None:
                        vals = emit(buf.slice(rec_start, ne))
                        if tmpl_epoch != sent_epoch:
                            sent_epoch = tmpl_epoch
                            yield _TmplChange(tmpl)
                        if vals is not None:
                            yield vals
                        rec_start = None
            else:  # row-tag open (complete or bare)
                if data[ne - base - 1] == 0x3E:  # complete start tag
                    after, self_closing = ne, data[ne - base - 2] == 0x2F
                else:
                    after, self_closing = _consume_tag(buf, ne)
                if self_closing:
                    if d == 0:
                        vals = emit(buf.slice(s, after))
                        if tmpl_epoch != sent_epoch:
                            sent_epoch = tmpl_epoch
                            yield _TmplChange(tmpl)
                        if vals is not None:
                            yield vals
                else:
                    if d == 0:
                        rec_start = s
                    d += 1
                pos = after
                search_from = pos
            if rec_start is None:
                buf.compact(pos)

    def fused_split_batches(self, split: tuple, row_tag: str,
                            batch_rows: int = 32768, raw_limit=None):
        """Arrow batches (schema = Spark's Arrow image of the StructType,
        so the DataSource worker passes them through) for one annotated
        split — the one read path of every flat schema, batch and
        streaming. ``raw_limit`` caps the compressed bytes read
        (``reader.open_xml``).

        Run captures are converted COLUMNAR (``_flush_columnar``): pyarrow
        compute does the utf8-validate/trim/cast per column in C. A batch
        is converted per row (``_run_rows``) instead when the bulk checks
        flag it (entities, information-separator whitespace, cast
        failures, '<' inside an attribute value) or when the schema has a
        bool/decimal/date field. Empty batches are not yielded; pushed
        filters are applied by the reader to each batch. Equivalence with
        the exact span path is property-tested in tests/test_fused_scan.py.

        32k-row batches measured ~14% faster end-to-end than 8k on the
        1 GiB bench (fewer pa.array calls + fewer worker→JVM frames)."""
        for batch in self._scan_batches(split, row_tag, batch_rows, raw_limit):
            if batch.num_rows:
                yield batch

    def _scan_batches(self, split: tuple, row_tag: str, batch_rows: int,
                      raw_limit):
        from xml_hive_spark.reader import ST_TEXT, open_xml

        path, a, b = split[0], split[1], split[2]
        state = split[3] if len(split) > 3 else ST_TEXT
        depth = split[4] if len(split) > 4 else 0
        stack = contextlib.ExitStack()
        fhs: list = []

        def reread():
            # one span re-read handle per split, opened on first use: span
            # offsets only increase, so a codec file's seeks move forward
            # and never decompress the member again from byte 0
            if not fhs:
                fhs.append(stack.enter_context(
                    open_xml(path, raw_limit=raw_limit)))
            return fhs[0]

        caps: list = []    # capture tuples, one per template row
        spans: list = []   # (row_count, abs_start, abs_end): count==1 →
        # one record's byte span; count>1 → a RUN of count contiguous
        # records (re-read recovers per-record spans via rx_run)
        exacts: list = []  # (row_idx_within_batch, value tuple)
        n = 0
        cur_tmpl = None  # the template that produced the pending caps

        with stack, open_xml(path, raw_limit=raw_limit) as f:
            for item in self._fused_scan(f, row_tag, a, b, state, depth):
                if type(item) is _TmplChange:
                    # capture order is template-specific: anything
                    # accumulated under the previous template must flush
                    # before runs of the new one land in the same batch
                    if caps:
                        yield self._flush_columnar(
                            caps, spans, exacts, n, reread, cur_tmpl)
                        caps, spans, exacts, n = [], [], [], 0
                    cur_tmpl = item.tmpl
                    continue
                if type(item) is tuple:
                    exacts.append((n, item))
                    n += 1
                else:
                    g = item[0]
                    if type(g) is list:  # run-batched captures
                        caps.extend(g)
                        spans.append((len(g), item[1], item[2]))
                        n += len(g)
                    else:
                        caps.append(g)
                        spans.append((1, item[1], item[2]))
                        n += 1
                if n >= batch_rows:
                    yield self._flush_columnar(
                        caps, spans, exacts, n, reread, cur_tmpl)
                    caps, spans, exacts, n = [], [], [], 0
            if n:
                yield self._flush_columnar(
                    caps, spans, exacts, n, reread, cur_tmpl)

    def _arrow_schema(self):
        """Arrow image of the StructType, computed once per assembler
        (was rebuilt on every 32k-row flush — pure overhead in the
        kernel the round was optimizing)."""
        cached = getattr(self, "_aschema_cached", None)
        if cached is None:
            from pyspark.sql.pandas.types import to_arrow_schema

            aschema = to_arrow_schema(strip_metadata(self.struct))
            cached = (aschema, [f.type for f in aschema])
            self._aschema_cached = cached
        return cached

    def _flush_columnar(self, caps: list, spans: list, exacts: list,
                        n: int, reread, tmpl):
        """One batch from the pending captures and exact-path rows.
        ``reread()`` returns the split's handle for span re-reads."""
        import numpy as np
        import pyarrow as pa

        aschema, atypes = self._arrow_schema()
        try:
            if not self._columnar_ok:
                raise _NeedRowPath
            run_cols = self._convert_run_columns(caps, atypes, tmpl)
        except _NeedRowPath:
            # convert run matches row-wise (with record re-parse fallback
            # for rejected rows) and merge with the exact rows by index
            rows = self._run_rows(caps, spans, reread, tmpl)
            if exacts:
                slots = [None] * n
                for i, v in exacts:
                    slots[i] = v
                run = iter(rows)
                rows = [next(run) if v is None else v for v in slots]
            if None in rows:
                rows = [v for v in rows if v is not None]
            return self._tuples_to_batch(rows, aschema, atypes)

        if not exacts:
            return pa.RecordBatch.from_arrays(run_cols, schema=aschema)
        # stitch: [run values..., exact values...] permuted into order
        idx_exact = np.fromiter(
            (i for i, _ in exacts), dtype=np.int64, count=len(exacts)
        )
        take = np.empty(n, dtype=np.int64)
        is_exact = np.zeros(n, dtype=bool)
        is_exact[idx_exact] = True
        take[~is_exact] = np.arange(len(caps))
        take[idx_exact] = len(caps) + np.arange(len(exacts))
        take_arr = pa.array(take)
        cols = []
        for fi, (run_arr, t) in enumerate(zip(run_cols, atypes)):
            exact_arr = pa.array([v[fi] for _, v in exacts], type=t)
            cols.append(pa.concat_arrays([run_arr, exact_arr]).take(take_arr))
        return pa.RecordBatch.from_arrays(cols, schema=aschema)

    def _run_rows(self, caps: list, spans: list, reread, tmpl):
        """Per-row conversion of template captures — the exact-path
        fallback for batches the columnar checks flag. Mirrors emit():
        template-capture extraction first; a rejected row re-reads its
        byte span from the file and goes through fast_row /
        parse_record_safe exactly like the exact token path. For
        run-batched spans (count > 1) the per-record byte spans are
        recovered by re-matching ``rx_run`` over the re-read run bytes —
        the same pattern over the same bytes reproduces the same
        decomposition. Returns one value tuple per capture, None where
        the record is dropped (DROPMALFORMED). A batch of exact rows
        only (no template learned yet) has no captures and no ``tmpl``."""
        if not caps:
            return []
        out = list(map(tmpl.extract_groups, caps))
        if None not in out:
            return out
        j = 0
        for count, a, b in spans:
            # count==1 deliberately shares the run logic: a length-1
            # rx_multi run's span end includes absorbed trailing
            # whitespace/comments (mm.end(), not end_group), so the
            # re-read must re-derive the clean record span via rx_run
            # exactly like longer runs — otherwise the reparsed (and
            # corrupt-captured) text would differ by batch shape
            if None in out[j:j + count]:
                fh = reread()
                fh.seek(a)
                blob = fh.read(b - a)
                rel_spans = [
                    (m.start(), m.end(tmpl.end_group))
                    for m in tmpl.rx_run.finditer(blob)
                ]
                for i in range(count):
                    if out[j + i] is not None:
                        continue
                    # i < len(rel_spans) always holds for an unchanged
                    # file; an empty rec (file rewritten underneath)
                    # flows through the malformed policy
                    rec = (
                        blob[rel_spans[i][0]:rel_spans[i][1]]
                        if i < len(rel_spans)
                        else b""
                    )
                    vals = self.fast_row(rec)
                    if vals is None:  # None here = DROPMALFORMED drop
                        vals = parse_record_safe(rec, self.struct, self.mode)
                    out[j + i] = vals
            j += count
        return out

    def _convert_run_columns(self, caps: list, atypes: list, tmpl):
        """Bulk-convert run-match captures with pyarrow compute; raises
        :class:`_NeedRowPath` whenever a bulk check cannot PROVE the
        columnar result equals the per-row pipeline:

        - any '&' (entity decode, stray-& rejection are per-row rules)
        - invalid UTF-8 (per-row path raises into the record fallback)
        - '<' inside an attribute capture (malformed-in-place markup —
          element captures can't contain '<' by charclass construction)
        - U+001C..U+001F in a string element (Python str.strip removes
          the information separators; Arrow's White_Space does not)
        - any failed numeric cast (Python int()/float() accept forms
          Arrow rejects — underscores, surrounding space on attributes)

        On the clean path the Arrow cast provably agrees with the Python
        converters: ASCII digit/sign parsing for ints, strtod for floats
        (float32 goes string→float64→float32, the same double-rounding
        as the Python path), utf8 validation for strings."""
        import pyarrow as pa
        import pyarrow.compute as pc

        R = len(caps)
        if R == 0:  # batch of exact-path rows only (e.g. pre-template)
            return [pa.nulls(0, t) for t in atypes]
        covered = {}
        for gi, (fi, _conv, is_elem) in enumerate(tmpl.groups):
            covered[fi] = (gi, is_elem)
        raw_cols = list(zip(*caps))
        out: list = []
        for fi in range(self._n_fields):
            target = atypes[fi]
            if fi not in covered:
                out.append(pa.nulls(R, target))  # constant-absent field
                continue
            gi, is_elem = covered[fi]
            arr = pa.array(raw_cols[gi], type=pa.binary())
            try:
                s = arr.cast(pa.string())
            except pa.ArrowInvalid:
                raise _NeedRowPath
            if pc.any(pc.match_substring(s, "&")).as_py():
                raise _NeedRowPath
            if not is_elem and pc.any(pc.match_substring(s, "<")).as_py():
                raise _NeedRowPath
            dtype = self.struct.fields[fi].dataType
            if isinstance(dtype, StringType):
                if is_elem:
                    if pc.any(
                        pc.match_substring_regex(s, "[\\x1c-\\x1f]")
                    ).as_py():
                        raise _NeedRowPath
                    trimmed = pc.utf8_trim_whitespace(s)
                    # ONLY a byte-empty capture is None (<e></e>/<e/>);
                    # whitespace that trims to "" stays ""
                    col = pc.if_else(
                        pc.equal(arr, b""), pa.scalar(None, pa.string()),
                        trimmed,
                    )
                else:
                    col = s  # attribute values pass through untrimmed
            else:
                v = pc.utf8_trim_whitespace(s) if is_elem else s
                masked = pc.if_else(
                    pc.equal(v, ""), pa.scalar(None, pa.string()), v
                )
                try:
                    if isinstance(dtype, FloatType):
                        col = masked.cast(pa.float64()).cast(pa.float32())
                    else:
                        col = masked.cast(target)
                except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
                    raise _NeedRowPath
            out.append(col.cast(target) if col.type != target else col)
        return out

    def _tuples_to_batch(self, tuples: list, aschema, atypes):
        import pyarrow as pa

        # one itemgetter pass per column: no iterator built per row
        cols = [list(map(operator.itemgetter(i), tuples))
                for i in range(self._n_fields)]
        return pa.RecordBatch.from_arrays(
            [pa.array(c, type=t) for c, t in zip(cols, atypes)],
            schema=aschema,
        )
