"""Scale-exponent probe (VERDICT r10 item 2): measure, don't audit.

The 100-TB story so far rests on plan audits and sf0.1 timings. This
tool builds a factor-F corpus from an existing sf dir by self-union
with F-1 re-keyed, content-relabeled copies, times the bench HEADLINE
set at both scales inside ONE Spark session, and reports the per-query
scaling exponent  e = ln(t_F / t_1) / ln(F).  e <= ~1.15 reads as
linear (fixed per-query overhead biases e DOWN on sub-second queries,
so a superlinear plan still shows); anything above gets a plan fix or
a named disposition in SCALE.md.

Corpus construction — the point is to scale the WORKLOAD, not to
multiply degenerate duplicates (a naive self-union makes every doc a
10x exact-dup and every vector a 10x ANN tie, which blows up candidate
pairs quadratically and measures data semantics, not plan quality):

* join keys get a per-copy stride of (max_key + 1), coordinated across
  fact and dim tables (orders.o_custkey moves with customer.c_custkey,
  lineitem moves with orders/part/supplier), so per-key densities and
  join fan-outs are EXACTLY those of the source corpus;
* region/nation stay unscaled (dimension tables don't grow with data);
* document text is relabeled per copy with an md5-keyed alphabet
  permutation (26! family) COMPOSED with an md5-keyed digit
  permutation (10! family; collision-freeness at the factors used is
  asserted in tests): lengths, word counts, word boundaries,
  distinct-word ratios, and within-copy dup/near-dup structure are
  preserved exactly (the curation quality gate sees identical
  statistics) while cross-copy shingle/n-gram sets go DISJOINT
  (asserted in tests/test_scale_probe.py). History: through r11 the
  cipher permuted LETTERS only, and the synthetic text is
  digit-dominated, so disjointness largely failed in practice (at the
  10x corpus, 126 496 of 129 876 distinct char-8 shingles spanned >1
  copy — measured late r11, commit 2031ff8); those corpora behaved as
  boilerplate-heavy stress corpora (conservative for dedup/setsim —
  the honest account is in SCALE.md r11). The digit permutation is
  the r12 re-baseline (VERDICT r11 item 2); changing the cipher
  re-baselines every corpus this tool has produced, so the _DONE
  cache was cleared and SCALE_EXPONENTS_r12.json re-recorded;
* embeddings get a per-copy orthogonal transform (circular rotation +
  md5-keyed diagonal +-1), so within-copy inner products (cluster
  structure, top-k neighborhoods) are bit-preserved while cross-copy
  cosines collapse to noise, keeping LSH/IVF bucket occupancy flat
  instead of stacking 10 identical vectors per bucket;
* events keep their timestamps (a bigger corpus over the same period
  is denser, which is what 10x ingest looks like) with strided
  user_id/event_id so per-user series keep their source density.

Copy 0 is byte-identical to the source corpus, so the 1x run is a
true subset of the Fx run.

Usage:
    python tools/scale_probe.py [--factor 10] [--src /root/testdata/sf0.1]
                                [--queries name ...] [--skip-xml]

Writes the corpus to sf{src_sf*F} in this user's owned store
``session.owned_store("scale")`` (cached by a _DONE marker), prints one
JSON line {query: {t1, tF, exp}} plus a markdown table for SCALE.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import shutil
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

ALPHA = "abcdefghijklmnopqrstuvwxyz"
DIGITS = "0123456789"


def _perm(i: int) -> str:
    """Per-copy alphabet permutation keyed by md5(letter, i) — a 26!
    family, so copies never share a relabeling (a plain rotation
    collides at factor > 26, reintroducing cross-copy exact dups).
    i=0 is the identity. Permutations COMPOSE cleanly, so a corpus can
    be built from an already-scaled corpus (sf1 -> sf10) without
    cipher collisions."""
    import hashlib

    if i == 0:
        return ALPHA
    return "".join(
        sorted(ALPHA, key=lambda c: hashlib.md5(f"{c}|{i}".encode()).hexdigest())
    )


def _dperm(i: int) -> str:
    """Per-copy DIGIT permutation keyed by md5(digit, i) — the r12
    re-baseline (VERDICT r11 item 2): the synthetic document text is
    digit-dominated, so the letter-only cipher left 126,496 of 129,876
    distinct char-8 shingles shared across copies at the 10x corpus
    (measured late r11, commit 2031ff8) — boilerplate-heavy instead of
    the documented disjoint-shingle composition. A 10! family is only
    3.6M relabelings but md5-keyed draws stay collision-free at the
    factors used here (asserted in tests); composition with the
    alphabet permutation keeps the combined family injective
    per-character, so lengths, word boundaries, and within-copy
    dup/near-dup structure remain exactly preserved. i=0 identity."""
    import hashlib

    if i == 0:
        return DIGITS
    return "".join(
        sorted(DIGITS, key=lambda c: hashlib.md5(f"d|{c}|{i}".encode()).hexdigest())
    )


def _cipher_sql(col: str, i: int) -> str:
    """Per-copy injective character relabeling — letters AND digits
    (lengths, word boundaries, distinct-word ratios preserved;
    shingle/n-gram sets cross-copy disjoint on the digit-dominated
    synthetic text only because the digit permutation participates)."""
    p = _perm(i)
    d = _dperm(i)
    return (
        f"translate({col}, '{ALPHA}{ALPHA.upper()}{DIGITS}',"
        f" '{p}{p.upper()}{d}')"
    )


def _embedding_sql(i: int, dim: int = 64) -> str:
    """Per-copy orthogonal transform: circular rotation by i combined
    with a deterministic per-copy diagonal +-1 (md5-keyed). Both
    factors are orthogonal and COPY-constant, so every within-copy
    inner product is preserved bit-for-bit (cluster structure, top-k
    neighborhoods), while cross-copy cosines collapse to noise — the
    sign pattern keeps copies distinct even when rotations collide
    mod dim (factor > 64). i=0 is the identity."""
    import hashlib

    if i == 0:
        return "embedding"
    terms = []
    for d in range(dim):
        src = (d + i) % dim + 1  # 1-based parquet list index
        s = hashlib.md5(f"s|{i}|{d}".encode()).digest()[0] & 1
        sign = "-" if s else ""
        terms.append(f"{sign}embedding[{src}]")
    return f"CAST([{', '.join(terms)}] AS FLOAT[]) AS embedding"


def build_corpus(src: str, dst: str, factor: int, seed: int = 0) -> None:
    """DuckDB-side corpus construction (one pass per table).

    ``seed`` namespaces the per-copy transform keys for COMPOSED builds
    (sf1 → sf10): without it, copy (i, 0) of the second decade and copy
    (0, i) of the first compose to the IDENTICAL transform (p_0 is the
    identity, so p_0∘p_i = p_i∘p_0), planting 2·(factor−1) twinned
    copies — measured at the r12 sf10 corpus: 45,584 of 454,272
    distinct texts (≈18 % of docs) were exact cross-copy duplicates,
    and the same coincidence duplicates the embedding transform
    (rotation i + signs s_i both ways). Every r11 factor-100 exponent
    was measured on such a twinned corpus — dup-sensitive candidate
    volumes (ann/dedup/setsim) were inflated at the second decade.
    Copy i ≠ 0 now uses key seed+i (copy 0 stays the identity so the
    subset property holds); the caller building FROM a scaled corpus
    passes the source's next_seed (recorded in its _DONE marker), so
    key namespaces never overlap across decades."""
    import duckdb

    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()

    def key(i: int) -> int:
        return 0 if i == 0 else seed + i

    def rp(table: str) -> str:
        return f"read_parquet('{src}/{table}.parquet')"

    def copy(select_sql: str, table: str) -> None:
        con.execute(
            f"COPY ({select_sql}) TO '{dst}/{table}.parquet'"
            f" (FORMAT PARQUET)"
        )
        print(f"# built {table}", file=sys.stderr)

    # dimension tables: unscaled
    for table in ("region", "nation"):
        copy(f"SELECT * FROM {rp(table)}", table)

    # strides = max_key + 1, coordinated across tables
    k = {
        name: con.execute(f"SELECT max({col}) + 1 FROM {rp(tbl)}").fetchone()[0]
        for name, tbl, col in (
            ("cust", "customer", "c_custkey"),
            ("supp", "supplier", "s_suppkey"),
            ("part", "part", "p_partkey"),
            ("ord", "orders", "o_orderkey"),
            ("ev", "events", "event_id"),
            ("usr", "events", "user_id"),
            ("doc", "documents", "doc_id"),
            ("vec", "embeddings", "vec_id"),
        )
    }
    rng = f"CROSS JOIN range(0, {factor}) cp(i)"

    copy(
        f"SELECT c_custkey + i * {k['cust']} AS c_custkey, c_name,"
        f" c_nationkey, c_acctbal, c_mktsegment FROM {rp('customer')} {rng}",
        "customer",
    )
    copy(
        f"SELECT s_suppkey + i * {k['supp']} AS s_suppkey, s_name,"
        f" s_nationkey, s_acctbal FROM {rp('supplier')} {rng}",
        "supplier",
    )
    copy(
        f"SELECT p_partkey + i * {k['part']} AS p_partkey, p_name, p_brand,"
        f" p_type, p_size, p_retailprice FROM {rp('part')} {rng}",
        "part",
    )
    copy(
        f"SELECT o_orderkey + i * {k['ord']} AS o_orderkey,"
        f" o_custkey + i * {k['cust']} AS o_custkey, o_orderstatus,"
        f" o_totalprice, o_orderdate, o_orderpriority"
        f" FROM {rp('orders')} {rng}",
        "orders",
    )
    copy(
        f"SELECT l_orderkey + i * {k['ord']} AS l_orderkey,"
        f" l_partkey + i * {k['part']} AS l_partkey,"
        f" l_suppkey + i * {k['supp']} AS l_suppkey, l_linenumber,"
        f" l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag,"
        f" l_linestatus, l_shipdate FROM {rp('lineitem')} {rng}",
        "lineitem",
    )
    copy(
        f"SELECT event_id + i * {k['ev']} AS event_id, ts,"
        f" user_id + i * {k['usr']} AS user_id, event_type, value, props"
        f" FROM {rp('events')} {rng}",
        "events",
    )
    # per-copy cipher keyed by i: build one UNION ALL branch per copy
    # (translate() needs literal alphabets)
    doc_branches = " UNION ALL ".join(
        f"SELECT doc_id + {i} * {k['doc']} AS doc_id,"
        f" {_cipher_sql('text', key(i))} AS text, lang, source,"
        f" length({_cipher_sql('text', key(i))}) AS n_chars"
        f" FROM {rp('documents')}"
        for i in range(factor)
    )
    copy(doc_branches, "documents")
    emb_branches = " UNION ALL ".join(
        f"SELECT vec_id + {i} * {k['vec']} AS vec_id,"
        f" {_embedding_sql(key(i))}, label FROM {rp('embeddings')}"
        for i in range(factor)
    )
    copy(emb_branches, "embeddings")
    con.close()


def stale_corpus(marker: Path) -> bool:
    """True when a cached corpus's _DONE marker predates the r12 seeded
    digit-permutation cipher (no ``next_seed=`` field) — such a corpus
    was built with the letter-only cipher and must be rebuilt, never
    silently reused (ADVICE r12)."""
    return marker.exists() and "next_seed=" not in marker.read_text()


def _capped_count(spark, fn, sf_dir: str, cap_sec: float) -> float | None:
    """Run ``fn(spark, sf_dir).count()`` under a wall-clock cap. Returns
    elapsed seconds, or None when the cap fired (the Spark jobs are
    cancelled so the probe moves on instead of blocking forever —
    ADVICE r12: regress_check's documented None-as-hard-failure branch
    needs a producer)."""
    fired = threading.Event()

    def _kill():
        fired.set()
        spark.sparkContext.cancelAllJobs()

    timer = threading.Timer(cap_sec, _kill)
    timer.daemon = True
    timer.start()
    t0 = time.perf_counter()
    try:
        fn(spark, sf_dir).count()
        return time.perf_counter() - t0
    except Exception:
        if fired.is_set():
            return None
        raise
    finally:
        timer.cancel()


def time_queries(spark, names, sf_dir: str, samples: int = 3,
                 timeout: float = 900.0) -> dict:
    """Warm once (untimed: JIT, index builds, XML gen), then min of
    ``samples`` timed executions per query. Each execution (warm
    included) runs under a ``timeout``-second wall-clock cap; a capped
    query records None and the regression gate treats that as a hard
    failure."""
    from xml_hive_spark.operators import all_queries

    reg = all_queries()
    out = {}
    for name in names:
        qd = reg[name]
        # warm: JIT, index/XML-gen one-times
        warm = _capped_count(spark, qd.fn, sf_dir, timeout)
        if warm is None:
            out[name] = None
            print(f"# {sf_dir.rsplit('/', 1)[-1]} {name}: TIMEOUT "
                  f"(> {timeout:g}s)", file=sys.stderr)
            continue
        best = float("inf")
        for _ in range(samples):
            t = _capped_count(spark, qd.fn, sf_dir, timeout)
            if t is None:
                best = None
                break
            best = min(best, t)
        out[name] = None if best is None else round(best, 3)
        print(f"# {sf_dir.rsplit('/', 1)[-1]} {name}: "
              + (f"{out[name]:.3f}s" if out[name] is not None
                 else f"TIMEOUT (> {timeout:g}s)"),
              file=sys.stderr)
    return out


def exponent(t1: float | None, tF: float | None, factor: int) -> float | None:
    """Scaling exponent from two timings. Finite inputs are clamped to
    the timer's 1 ms resolution so a sub-ms 1x run yields a (noisy,
    finite) exponent. None in either input means that execution hit the
    per-query wall-clock cap in :func:`time_queries` (ADVICE r12) and
    propagates — the regression gate treats a None exponent as a hard
    failure (ADVICE r11)."""
    if t1 is None or tF is None:
        return None
    return round(
        math.log(max(tF, 0.001) / max(t1, 0.001)) / math.log(factor), 3
    )


def regress_bar(baseline_exp: float | None) -> float:
    """Fail threshold for a measured exponent against its recorded value.

    Exponents on sub-second queries are noisy (fixed overhead biases
    them down at 1x, so a warm cache or a busy box can move one by
    +-0.2 without any plan change), and two queries carry recorded
    superlinear dispositions (ann_join_topk's 16*r log factor,
    dedup_embedding_cosine's quadratic OUTPUT). The regression bar is
    therefore: fail only when the measured exponent exceeds BOTH the
    linearity bar (1.15) and the recorded value + 0.15 — a previously
    sublinear query drifting within the sublinear band never fails,
    and a dispositioned query fails only if it worsens beyond its
    recorded account."""
    return max(1.15, (baseline_exp if baseline_exp is not None else 0.0) + 0.15)


def regress_check(report: dict, baseline: dict) -> list[str]:
    """Compare measured exponents to recorded ones; return the names
    that exceed their bar (printed per-query to stderr)."""
    failures = []
    for n, r in sorted(report.items()):
        rec = baseline.get(n)
        bar = regress_bar(rec)
        ok = r["exp"] is not None and r["exp"] <= bar
        if not ok:
            failures.append(n)
        rec_s = f"{rec:+.2f}" if rec is not None else "unrecorded"
        exp_s = f"{r['exp']:+.2f}" if r["exp"] is not None else "n/a"
        print(f"# regress {n}: measured {exp_s} vs recorded "
              f"{rec_s} (bar {bar:.2f}) -> "
              f"{'ok' if ok else 'REGRESSED'}", file=sys.stderr)
    return failures


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--queries", nargs="*", default=None)
    ap.add_argument("--skip-xml", action="store_true",
                    help="exclude xml_scan_bench (10 GiB one-time XML gen)")
    ap.add_argument("--samples", type=int, default=3,
                    help="timed samples per query (min is reported)")
    ap.add_argument("--timeout", type=float, default=900.0,
                    help="per-execution wall-clock cap in seconds; a "
                         "capped query records None (hard failure under "
                         "--regress) instead of blocking the probe")
    ap.add_argument("--regress", metavar="EXPONENTS_JSON", default=None,
                    help="compare measured exponents to a recorded "
                         "SCALE_EXPONENTS_r*.json; exit 1 on any query "
                         "whose exponent exceeds regress_bar(recorded)")
    args = ap.parse_args()

    baseline = None
    if args.regress:
        with open(args.regress) as fh:
            art = json.load(fh)
        section = art.get(f"factor{args.factor}")
        if section is None:
            ap.error(f"{args.regress} has no factor{args.factor} section")
        # factor10 entries record exp_1_to_10, factor100 exp_10_to_100
        baseline = {
            q: next(v for k, v in rec.items() if k.startswith("exp"))
            for q, rec in section.items()
        }
        if args.queries is None:
            # full HEADLINE set (ADVICE r11): a headline query not yet
            # in the artifact gets the unrecorded 1.15 bar instead of
            # silently skipping the gate; baseline entries outside
            # HEADLINE are named so the gap is visible, not silent
            from bench import HEADLINE
            args.queries = list(HEADLINE)
            unmeasured = sorted(set(baseline) - set(HEADLINE))
            if unmeasured:
                print(f"# regress WARNING: {len(unmeasured)} baseline "
                      f"queries not in HEADLINE, not re-measured: "
                      f"{', '.join(unmeasured)}", file=sys.stderr)

    m = re.search(r"sf([0-9.]+)", args.src)
    src_sf = float(m.group(1)) if m else 0.1
    big_sf = src_sf * args.factor
    big_name = f"sf{big_sf:g}"
    from xml_hive_spark.session import owned_store

    store = owned_store("scale")
    if store is None:
        ap.error("the scale corpus store is not this user's private directory")
    dst = os.path.join(store, big_name)
    marker = Path(dst) / "_DONE"
    if stale_corpus(marker):
        # pre-r12 corpus (letter-only cipher, unseeded composition):
        # the cipher change re-baselined every cached corpus, so a
        # stale one must never be silently reused (ADVICE r12) —
        # rebuild from scratch
        print(f"# stale pre-r12 corpus at {dst} (marker lacks "
              f"next_seed=) — rebuilding", file=sys.stderr)
        shutil.rmtree(dst)
    if not marker.exists():
        # composed builds read the source corpus's key namespace so the
        # second decade's cipher keys never overlap the first's (the
        # twinned-copy bug — see build_corpus docstring)
        seed = 0
        src_marker = Path(args.src) / "_DONE"
        if src_marker.exists():
            m_seed = re.search(r"next_seed=(\d+)", src_marker.read_text())
            if m_seed:
                seed = int(m_seed.group(1))
            else:
                ap.error(f"{src_marker} predates the seeded cipher — "
                         f"rebuild the source corpus first")
        build_corpus(args.src, dst, args.factor, seed=seed)
        marker.write_text(f"factor={args.factor} src={args.src} "
                          f"seed={seed} next_seed={seed + args.factor}\n")
    else:
        print(f"# corpus cached at {dst}", file=sys.stderr)

    from bench import HEADLINE
    from xml_hive_spark.session import get_spark

    names = args.queries or list(HEADLINE)
    if args.skip_xml and "xml_scan_bench" in names:
        names.remove("xml_scan_bench")

    spark = get_spark(app_name="xml-hive-spark-scale-probe")
    t1 = time_queries(spark, names, args.src, samples=args.samples,
                      timeout=args.timeout)
    tf = time_queries(spark, names, dst, samples=args.samples,
                      timeout=args.timeout)
    spark.stop()

    report = {
        n: {"t1": t1[n], "tF": tf[n], "exp": exponent(t1[n], tf[n], args.factor)}
        for n in names
    }
    print(json.dumps({"factor": args.factor, "src": args.src,
                      "big_dir": dst, "queries": report}))
    print("\n| query | t(1x) s | t(%dx) s | exponent |" % args.factor,
          file=sys.stderr)
    print("|---|---|---|---|", file=sys.stderr)
    for n, r in sorted(report.items(), key=lambda kv: -(kv[1]["exp"] or 0)):
        print(f"| {n} | {r['t1']} | {r['tF']} | {r['exp']} |",
              file=sys.stderr)

    if baseline is not None:
        failures = regress_check(report, baseline)
        if failures:
            print(f"# REGRESSION: {len(failures)} quer"
                  f"{'y' if len(failures) == 1 else 'ies'} above bar: "
                  f"{', '.join(failures)}", file=sys.stderr)
            sys.exit(1)
        print(f"# regress: all {len(report)} exponents within bar",
              file=sys.stderr)


if __name__ == "__main__":
    main()
