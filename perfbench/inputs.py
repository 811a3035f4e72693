"""Seeded input generators and the expected answers they imply.

Every generator is a pure function of its seed: the same seed writes the
same bytes and returns the same expected answers. The answers are
computed from the generated values themselves (closed form), never by
running the program under test. ``registry_oracle`` is the exception by
design: it evaluates each registered query's DuckDB ``oracle`` SQL on the
generated parquet tables, outside any timed region.
"""

from __future__ import annotations

import gzip
import hashlib
import html
import json
import math
import os
from datetime import date, datetime

import numpy as np

# ----------------------------------------------------------------- flat XML

FLAT_ROW_TAG = "rec"
FLAT_KINDS = ("new", "used", "refurb")
FLAT_N_CATS = 16
FLAT_NOTES = ("plain note", "tabs\tand spaces", "short", "a longer free-text remark")
# one record in FLAT_ESCAPED_EVERY carries entity-escaped text instead
FLAT_ESCAPED = ("fish &amp; chips", "a &lt; b &gt; c", "say &quot;hi&quot;",
                "x &amp;&amp; y", "caf&#233; &#x2603;")
FLAT_ESCAPED_EVERY = 50
FLAT_DECOY_EVERY = 97
# filter op: ``val < FLAT_FILTER_VAL AND kind = FLAT_FILTER_KIND``
FLAT_FILTER_VAL = 40
FLAT_FILTER_KIND = "used"


def write_flat_xml(path: str, seed: int, target_bytes: int) -> dict:
    """One large file of flat records (two attributes, four elements,
    escaped text) with decoy row tags inside comments. Returns the
    expected per-category answers of the three flat-scan ops."""
    rng = np.random.default_rng([seed, 1])
    # ~100 bytes a record; draw generously, then stop at the byte budget
    cap = target_bytes // 80 + 16
    cat = rng.integers(0, FLAT_N_CATS, cap)
    val = rng.integers(0, 1000, cap)
    kind = rng.integers(0, len(FLAT_KINDS), cap)
    cents = rng.integers(100, 100_000, cap)
    escaped = rng.integers(0, FLAT_ESCAPED_EVERY, cap) == 0
    texts = FLAT_NOTES + FLAT_ESCAPED
    note = np.where(escaped, len(FLAT_NOTES) + rng.integers(0, len(FLAT_ESCAPED), cap),
                    rng.integers(0, len(FLAT_NOTES), cap))
    written = 0
    n = 0
    chunk: list[str] = []
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        head = '<?xml version="1.0" encoding="UTF-8"?>\n<dataset>\n'
        f.write(head)
        written += len(head)
        while written < target_bytes and n < cap:
            i = n
            rec = (
                f'<rec id="{i}" kind="{FLAT_KINDS[kind[i]]}">'
                f"<cat>c{cat[i]:02d}</cat><val>{val[i]}</val>"
                f"<price>{cents[i] // 100}.{cents[i] % 100:02d}</price>"
                f"<note>{texts[note[i]]}</note></rec>\n"
            )
            if i % FLAT_DECOY_EVERY == 0:
                rec += (
                    f'<!-- decoy <rec id="-{i}"><cat>c99</cat>'
                    "<val>999</val></rec> -->\n"
                )
            chunk.append(rec)
            written += len(rec)
            n += 1
            if len(chunk) == 4096:
                f.write("".join(chunk))
                chunk.clear()
        f.write("".join(chunk))
        f.write("</dataset>\n")
    cat, val, kind, cents, note = (a[:n] for a in (cat, val, kind, cents, note))
    note_len = np.array([len(html.unescape(t)) for t in texts])[note]
    keep = (val < FLAT_FILTER_VAL) & (kind == FLAT_KINDS.index(FLAT_FILTER_KIND))
    per_cat = {}
    for c in range(FLAT_N_CATS):
        m = cat == c
        mk = m & keep
        per_cat[f"c{c:02d}"] = {
            "n": int(m.sum()),
            "sum_val": int(val[m].sum()),
            "sum_cents": int(cents[m].sum()),
            "sum_note_len": int(note_len[m].sum()),
            "n_kept": int(mk.sum()),
            "sum_val_kept": int(val[mk].sum()),
        }
    return {"records": n, "bytes": os.path.getsize(path), "per_cat": per_cat}


# --------------------------------------------------------------- nested XML

NESTED_NS = "urn:perfbench:orders"
NESTED_ROW_TAG = "order"
NESTED_TYPE = "orderType"
NESTED_REGIONS = ("eu", "us", "apac", "latam", "mea")
# element text as written; the expected values are their unescaped forms
NESTED_CITIES = ("Oslo", "Lyon", "K&#246;ln", "S&#227;o Paulo", "Pune", "Austin")
NESTED_CUSTOMERS = ("Acme &amp; Sons", "Globex", "Initech", "Umbrella &lt;EU&gt;")

NESTED_XSD = f"""<?xml version="1.0" encoding="UTF-8"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema"
    targetNamespace="{NESTED_NS}" xmlns="{NESTED_NS}"
    elementFormDefault="qualified" attributeFormDefault="unqualified">
  <xs:element name="batch">
    <xs:complexType>
      <xs:sequence>
        <xs:element name="order" type="orderType" maxOccurs="unbounded"/>
      </xs:sequence>
    </xs:complexType>
  </xs:element>
  <xs:complexType name="addressType">
    <xs:sequence>
      <xs:element name="city" type="xs:string"/>
      <xs:element name="zip" type="xs:string"/>
    </xs:sequence>
  </xs:complexType>
  <xs:complexType name="lineType">
    <xs:sequence>
      <xs:element name="sku" type="xs:string"/>
      <xs:element name="qty" type="xs:int"/>
      <xs:element name="cents" type="xs:long"/>
    </xs:sequence>
    <xs:attribute name="no" type="xs:int" use="required"/>
  </xs:complexType>
  <xs:complexType name="orderType">
    <xs:sequence>
      <xs:element name="customer" type="xs:string"/>
      <xs:element name="priority" type="xs:int" minOccurs="0"/>
      <xs:element name="address" type="addressType"/>
      <xs:element name="line" type="lineType" maxOccurs="unbounded"/>
    </xs:sequence>
    <xs:attribute name="id" type="xs:long" use="required"/>
    <xs:attribute name="region" type="xs:string" use="required"/>
  </xs:complexType>
</xs:schema>
"""


def write_nested_xml(
    data_dir: str, xsd_path: str, seed: int, n_files: int, orders_per_file: int
) -> dict:
    """Many smaller namespaced files (every third one gzip'd) of orders
    with attributes, an optional element, a nested struct and a repeated
    child that becomes an array of structs. Returns per-region answers
    and a value hash of every record for the Avro round trip."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(data_dir, exist_ok=True)
    with open(xsd_path, "w", encoding="utf-8") as f:
        f.write(NESTED_XSD)
    per_region = {
        r: {"orders": 0, "sum_id": 0, "with_priority": 0, "lines": 0,
            "sum_qty": 0, "sum_cents": 0}
        for r in NESTED_REGIONS
    }
    records = []
    xml_bytes = 0
    oid = 0
    for fi in range(n_files):
        parts = [f'<?xml version="1.0" encoding="UTF-8"?>\n<batch xmlns="{NESTED_NS}">\n']
        for _ in range(orders_per_file):
            region = NESTED_REGIONS[rng.integers(0, len(NESTED_REGIONS))]
            cust = int(rng.integers(0, len(NESTED_CUSTOMERS)))
            city = int(rng.integers(0, len(NESTED_CITIES)))
            zipc = f"{int(rng.integers(0, 100000)):05d}"
            prio = int(rng.integers(1, 6)) if rng.random() < 0.7 else None
            n_lines = int(rng.integers(1, 6))
            lines = [
                (no, f"SKU-{int(rng.integers(0, 5000)):04d}",
                 int(rng.integers(1, 20)), int(rng.integers(50, 500_000)))
                for no in range(1, n_lines + 1)
            ]
            body = [f'  <order id="{oid}" region="{region}">'
                    f"<customer>{NESTED_CUSTOMERS[cust]}</customer>"]
            if prio is not None:
                body.append(f"<priority>{prio}</priority>")
            body.append(f"<address><city>{NESTED_CITIES[city]}</city>"
                        f"<zip>{zipc}</zip></address>")
            for no, sku, qty, cents in lines:
                body.append(f'<line no="{no}"><sku>{sku}</sku><qty>{qty}</qty>'
                            f"<cents>{cents}</cents></line>")
            body.append("</order>\n")
            parts.append("".join(body))
            if oid % 50 == 7:
                parts.append(f'  <!-- <order id="-{oid}" region="void"/> -->\n')
            agg = per_region[region]
            agg["orders"] += 1
            agg["sum_id"] += oid
            agg["with_priority"] += prio is not None
            agg["lines"] += n_lines
            agg["sum_qty"] += sum(q for _, _, q, _ in lines)
            agg["sum_cents"] += sum(c for _, _, _, c in lines)
            records.append(canonical_order(
                oid, region, html.unescape(NESTED_CUSTOMERS[cust]), prio,
                html.unescape(NESTED_CITIES[city]), zipc, lines,
            ))
            oid += 1
        parts.append("</batch>\n")
        blob = "".join(parts).encode("utf-8")
        xml_bytes += len(blob)
        name = os.path.join(data_dir, f"part-{fi:03d}.xml")
        if fi % 3 == 2:
            with open(name + ".gz", "wb") as g:
                g.write(gzip.compress(blob, compresslevel=1, mtime=0))
        else:
            with open(name, "wb") as g:
                g.write(blob)
    return {
        "orders": oid,
        "xml_bytes": xml_bytes,
        "per_region": per_region,
        "value_hash": value_hash(records),
    }


def canonical_order(oid, region, customer, priority, city, zipc, lines) -> str:
    """One order as a canonical JSON string; the Avro check hashes these."""
    return json.dumps(
        [int(oid), region, customer, None if priority is None else int(priority),
         city, zipc, [[int(no), sku, int(q), int(c)] for no, sku, q, c in lines]],
        ensure_ascii=False, separators=(",", ":"),
    )


def value_hash(canonical_records: list[str]) -> str:
    h = hashlib.sha256()
    for r in sorted(canonical_records):
        h.update(r.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


# ------------------------------------------------------- registry (parquet)

REGISTRY_ROWS = {
    "region": 5, "nation": 25, "customer": 1500, "supplier": 100,
    "part": 2000, "orders": 15000, "lineitem": 60000, "events": 10000,
    "documents": 150, "embeddings": 250,
}
# The shape of the registry's test tables, as ``perfbench/shape.py``
# measures it on the sf0.01 parquet the queries are tested on (README,
# "Registry table shape"). Only the documents and embeddings row counts
# above differ from sf0.01 (500 each there).
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()  # drawn uniformly
DOC_WORDS = (10, 100)  # words per document, uniform over [lo, hi)
DOC_DUP_EVERY = 20  # n // 20 documents become another document's text + " dup"
DOC_LANGS = (("en", 0.4), ("de", 0.15), ("es", 0.15), ("fr", 0.15), ("zh", 0.15))
DOC_SOURCES = 20  # source is src<doc_id % 20>
EVENT_USERS_PER_1000 = 15  # distinct users per thousand events
EVENT_VALUE_MEAN = 50.0  # event values are exponential, in cents, >= 0.01
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_DAY_US = 86_400_000_000


def _days_us(start: date, days: np.ndarray) -> np.ndarray:
    base = int((datetime(start.year, start.month, start.day)
                - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return base + days.astype(np.int64) * _DAY_US


def write_registry_tables(data_dir: str, seed: int) -> int:
    """TPC-H-shaped tables plus ``events``, ``documents`` and
    ``embeddings`` with the column names and types the registry reads,
    at the row counts in ``REGISTRY_ROWS``. Returns the parquet bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    n = REGISTRY_ROWS
    os.makedirs(data_dir, exist_ok=True)

    def money(lo: float, hi: float, k: int) -> np.ndarray:
        return rng.integers(round(lo * 100), round(hi * 100) + 1, k) / 100.0

    def ts(start: date, span_days: int, k: int) -> pa.Array:
        return pa.array(_days_us(start, rng.integers(0, span_days, k)),
                        pa.timestamp("us"))

    def pick(words, k):
        return np.asarray(words, dtype=object)[rng.integers(0, len(words), k)]

    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    k = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, k),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"], k),
    })
    k = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, k),
    })
    k = n["part"]
    tables["part"] = pa.table({
        "p_partkey": np.arange(k, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(pick(PART_ADJ, k), pick(PART_NOUN, k))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                        "STANDARD"], k),
        "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(k) % 1000) / 10.0,
    })
    k = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], k),
        "o_orderstatus": pick(["F", "O", "P"], k),
        "o_totalprice": money(1000.0, 500000.0, k),
        "o_orderdate": ts(date(1995, 1, 1), 2404, k),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], k),
    })
    k = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], k),
        "l_partkey": rng.integers(0, n["part"], k),
        "l_suppkey": rng.integers(0, n["supplier"], k),
        "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, k),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], k),
        "l_linestatus": pick(["F", "O"], k),
        "l_shipdate": ts(date(1995, 1, 2), 2498, k),
    })
    k = n["events"]
    jan = int((datetime(2024, 1, 1) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    tables["events"] = pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": pa.array(np.sort(jan + rng.integers(0, 30 * _DAY_US, k)),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, k * EVENT_USERS_PER_1000 // 1000), k),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], k),
        "value": np.maximum(np.round(rng.exponential(EVENT_VALUE_MEAN, k), 2), 0.01),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
    })
    k = n["documents"]
    texts = [" ".join(pick(_VOCAB, int(w))) for w in rng.integers(*DOC_WORDS, k)]
    # in place, so a copy of a document that is itself replaced later
    # keeps the old text, and two copies of one document are exact duplicates
    for i in rng.choice(k, k // DOC_DUP_EVERY, replace=False):
        texts[i] = texts[int(rng.integers(0, k))] + " dup"
    langs, weights = zip(*DOC_LANGS)
    tables["documents"] = pa.table({
        "doc_id": np.arange(k, dtype=np.int64),
        "text": texts,
        "lang": np.asarray(langs, dtype=object)[rng.choice(len(langs), k, p=weights)],
        "source": [f"src{i % DOC_SOURCES}" for i in range(k)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    k = n["embeddings"]
    # unit vectors in uniformly random directions, labels independent of them
    vec = rng.standard_normal((k, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, k), pa.int32()),
    })
    total = 0
    for name, tbl in tables.items():
        path = os.path.join(data_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        total += os.path.getsize(path)
    return total


def registry_oracle(data_dir: str, oracles: dict[str, str]) -> dict:
    """Each query's expected rows from its DuckDB oracle SQL:
    ``{name: {"cols": [...], "rows": [[...], ...]}}`` in canonical form.
    The queries run concurrently, one cursor each."""
    from concurrent.futures import ThreadPoolExecutor

    import duckdb

    con = duckdb.connect()
    try:
        for name in REGISTRY_ROWS:
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{name}.parquet')")

        def run(sql):
            res = con.cursor().sql(sql)
            cols = list(res.columns)
            return canonical_result(cols, res.fetchdf().itertuples(index=False, name=None))

        with ThreadPoolExecutor(max_workers=4) as ex:
            return dict(zip(oracles, ex.map(run, oracles.values())))
    finally:
        con.close()


# ---------------------------------------------------------- result checking


def _norm(v):
    """One value in a JSON-able canonical form shared by both engines."""
    if v is None:
        return None
    if hasattr(v, "asDict"):  # pyspark Row (struct)
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return [[k, _norm(v[k])] for k in sorted(v)]
    if isinstance(v, (bool, np.bool_)):
        return float(v)
    if isinstance(v, (int, np.integer)):
        return float(v)
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return None if math.isnan(f) else f
    if hasattr(v, "is_integer") and hasattr(v, "as_tuple"):  # Decimal
        return float(v)
    if isinstance(v, datetime):
        if v != v:  # NaT
            return None
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.date().isoformat()
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return [_norm(x) for x in v]
    return str(v)


def _sort_key(v) -> str:
    if isinstance(v, float):
        return f"{v:.6g}"
    if isinstance(v, list):
        return "[" + ",".join(_sort_key(x) for x in v) + "]"
    return "∅" if v is None else str(v)


def canonical_result(cols, rows) -> dict:
    """Columns sorted by name, rows sorted by a rounded key."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = [[_norm(r[i]) for i in order] for r in rows]
    canon.sort(key=lambda r: [_sort_key(x) for x in r])
    return {"cols": [cols[i] for i in order], "rows": canon}


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def same_result(got: dict, want: dict) -> str | None:
    """None when ``got`` matches ``want``; else a one-line reason."""
    if got["cols"] != want["cols"]:
        return f"columns {got['cols']} != {want['cols']}"
    if len(got["rows"]) != len(want["rows"]):
        return f"{len(got['rows'])} rows, expected {len(want['rows'])}"
    for a, b in zip(got["rows"], want["rows"]):
        if not _close(a, b):
            return f"row {str(a)[:120]} != {str(b)[:120]}"
    return None
