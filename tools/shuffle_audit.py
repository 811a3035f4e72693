"""Per-query shuffle-byte audit: measure the exchanges, don't audit them.

The 100-TB design claims lean on "minimize shuffles" — ids-only
candidate phases, broadcast-vs-shuffle payload guards, map-side
combines. The scale probe (tools/scale_probe.py) measures TIME; this
tool measures BYTES: for each query it runs the plan once untimed
(JIT, index/XML one-times) then reads the per-stage task metrics from
the JVM AppStatusStore (works with spark.ui.enabled=false) and reports
the delta in shuffle write/read, input, and output bytes for one
steady-state execution.

With ``--scaled DIR`` (a corpus built by tools/scale_probe.py) every
query is measured at both scales and the bytes RATIO is reported — a
linear plan moves <= factor x the shuffle bytes at a factor-x corpus;
a plan whose candidate set or join fan-out grows superlinearly shows
it in the ratio even when wall-clock hides it behind parallelism.

Usage:
    python tools/shuffle_audit.py [--sf-dir /root/testdata/sf0.1]
                                  [--scaled $TMPDIR/xmlhive_scale/sf1]
                                  [--queries name ...]
                                  [--regress SHUFFLE_AUDIT_rN.json]

Prints one JSON line {query: {shuffle_write, shuffle_read, input,
output, ...}} plus a markdown table for SCALE.md.

``--regress`` (r13): compare each query's base-SF shuffle_write to the
recorded artifact and exit 1 on drift beyond ±10 %. Rationale: on this
host, WALL-CLOCK exponents moved ±0.3 with box load while shuffle
bytes replayed BYTE-IDENTICAL across rounds and sessions (ann sf1:
168,062,463 in both the r12 and r13 audits; every decade-1 r13 ratio
replayed r12 within noise) — bytes are the load-invariant plan-change
signal, so the byte gate catches a silently changed join strategy,
lost map-side combine, or candidate-volume regression that a loaded
box hides in timing noise. Queries present in the artifact but not
measured are listed (visible gap, not silent); queries measured but
unrecorded fail (a new query must be added to the artifact
deliberately). Spill at the base SF also fails — every recorded
base-SF measurement has spill 0, so any spill is new memory pressure.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _store_totals(spark, min_stage_id: int = -1) -> dict[str, int]:
    """Sum task metrics across retained stages with id >= min_stage_id.

    Uses the Spark 4 AppStatusStore.stageList(statuses, details,
    withSummaries, unsortedQuantiles, taskStatus) signature; the store
    is populated regardless of spark.ui.enabled. ``max_stage_id`` in
    the result lets a caller take a before-snapshot and then sum ONLY
    the stages a measured run created (id > before max) — immune to
    the store evicting OLD stages between snapshots, which a plain
    before/after total-delta silently under-counts (the SKIPPED-stage
    failure class r11 fixed once; ADVICE r11 flagged the remaining
    eviction window). Eviction can still bite only if a SINGLE
    measured run outgrows spark.ui.retainedStages — measure() warns
    when the store is sized near that."""
    sc = spark.sparkContext
    ss = sc._jsc.sc().statusStore()
    gw = sc._gateway
    empty = gw.jvm.java.util.ArrayList()
    quantiles = gw.new_array(gw.jvm.double, 0)
    stages = ss.stageList(empty, False, False, quantiles, empty)
    tot = {"shuffle_write": 0, "shuffle_read": 0, "input": 0, "output": 0,
           "spill_disk": 0, "n_stages": 0, "n_skipped": 0,
           "max_stage_id": -1}
    for i in range(stages.size()):
        st = stages.apply(i)
        sid = st.stageId()
        tot["max_stage_id"] = max(tot["max_stage_id"], sid)
        if sid < min_stage_id:
            continue
        tot["shuffle_write"] += st.shuffleWriteBytes()
        tot["shuffle_read"] += st.shuffleReadBytes()
        tot["input"] += st.inputBytes()
        tot["output"] += st.outputBytes()
        tot["spill_disk"] += st.diskBytesSpilled()
        tot["n_stages"] += 1
        # SKIPPED = the stage consumed already-written shuffle files.
        # WITHIN one execution that's normal (a self-join reads one
        # exchange twice; its bytes were counted at the write). ACROSS
        # executions it under-counts — that leak is what the
        # clearCache in measure() breaks; the count here is surfaced
        # for diagnosis, not as an error.
        if st.status().toString() == "SKIPPED":
            tot["n_skipped"] += 1
    return tot


_DRAIN_LIMIT_S = 5.0


def drain_storage(spark, name: str) -> bool:
    """GC the driver JVM, then wait until executor storage memory settles.

    clearCache() only unpersists DataFrames; torrent broadcast blocks from
    earlier queries stay in STORAGE memory until a driver GC lets the
    ContextCleaner reap them, asynchronously. Deep in a 31-query session
    that debris shrank the unified pool enough that plagiarism_detect's
    pair-count partial aggregate fell back early and shipped 2.37x its
    combine-complete bytes (SCALE.md r14). A bare GC hint raced the
    measured run, so poll the status store's ``memoryUsed`` until two
    reads 100 ms apart agree, up to ``_DRAIN_LIMIT_S``. Returns False (and
    warns, naming the query) if it never settled."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def used() -> int:
        execs = store.executorList(True)
        return sum(execs.apply(i).memoryUsed() for i in range(execs.size()))

    sc._jvm.System.gc()
    deadline = time.monotonic() + _DRAIN_LIMIT_S
    prev = used()
    while time.monotonic() < deadline:
        time.sleep(0.1)
        cur = used()
        if cur == prev:
            return True
        prev = cur
    print(f"# WARNING {name}: storage memory still moving "
          f"{_DRAIN_LIMIT_S:.0f} s after GC; measuring anyway",
          file=sys.stderr)
    return False


def measure(spark, names, sf_dir: str) -> dict[str, dict[str, int]]:
    from xml_hive_spark.operators import all_queries

    reg = all_queries()
    retained = int(spark.conf.get("spark.ui.retainedStages", "1000"))
    out = {}
    for name in names:
        qd = reg[name]
        qd.fn(spark, sf_dir).count()  # warm: JIT, index/XML-gen one-times
        # Spark reuses a prior identical execution's shuffle outputs
        # (stages show SKIPPED), which silently zeroes the measured
        # run's deltas — dedup_simhash at 10x read 1.8 KB instead of
        # its true 167 MB before this clear. Dropping the cache breaks
        # the shared lineage so every exchange of the measured run
        # actually executes; WITHIN-run persist/reuse still applies,
        # which is the plan behavior being measured.
        spark.catalog.clearCache()
        drain_storage(spark, name)
        before = _store_totals(spark)
        qd.fn(spark, sf_dir).count()
        # sum ONLY the measured run's stages (id > before max): old-stage
        # eviction between snapshots can no longer deflate the figure
        after = _store_totals(spark, min_stage_id=before["max_stage_id"] + 1)
        if after["n_stages"] > retained // 2:
            print(f"# WARNING {name}: {after['n_stages']} stages vs "
                  f"spark.ui.retainedStages={retained} — a single run "
                  f"near the cap can self-evict; raise retainedStages",
                  file=sys.stderr)
        out[name] = {k: after[k] for k in after if k != "max_stage_id"}
        print(f"# {sf_dir.rsplit('/', 1)[-1]} {name}: "
              f"sw={out[name]['shuffle_write']} sr={out[name]['shuffle_read']} "
              f"in={out[name]['input']} spill={out[name]['spill_disk']} "
              f"skipped={out[name]['n_skipped']}",
              file=sys.stderr)
    return out


def _fmt(b: int) -> str:
    for unit in ("B", "KB", "MB", "GB"):
        if abs(b) < 1024 or unit == "GB":
            return f"{b:.1f} {unit}" if unit != "B" else f"{b} B"
        b /= 1024
    return f"{b:.1f} GB"


def byte_regress(measured: dict[str, dict[str, int]],
                 recorded: dict[str, dict[str, int]],
                 tolerance: float = 0.10) -> list[str]:
    """Compare measured base-SF bytes to a recorded artifact's
    ``queries`` section. Returns failure strings (empty = pass).

    Fails on: shuffle_write drift beyond ±tolerance (both directions —
    bytes VANISHING usually means a broadcast silently replaced an
    exchange the design wanted, or a stage stopped executing);
    measured-but-unrecorded queries (additions must be recorded
    deliberately); any nonzero base-SF spill (every recorded base
    measurement spills 0 bytes). A zero-byte recorded query pins
    exact-zero (those plans are broadcast/local by design). Recorded
    queries that were not measured are the CALLER's visible gap —
    reported by the CLI, not a failure here, so a targeted re-audit of
    two queries doesn't drag the whole set."""
    failures = []
    for name, m in measured.items():
        rec = recorded.get(name)
        if rec is None:
            failures.append(f"{name}: measured but not in artifact")
            continue
        want = rec["shuffle_write"]
        got = m["shuffle_write"]
        if want == 0:
            if got != 0:
                failures.append(f"{name}: bytes appeared ({got} vs 0)")
        elif abs(got - want) > tolerance * want:
            failures.append(
                f"{name}: shuffle_write {got} vs recorded {want} "
                f"({got / want:.3f}x, bar ±{tolerance:.0%})")
        if m.get("spill_disk", 0) > 0:
            failures.append(f"{name}: base-SF spill {m['spill_disk']} B "
                            f"(recorded 0)")
    return failures


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--scaled", default=None,
                    help="second corpus dir (scale_probe output); adds a "
                         "bytes-ratio column")
    ap.add_argument("--queries", nargs="*", default=None)
    ap.add_argument("--skip-xml", action="store_true")
    ap.add_argument("--regress", metavar="SHUFFLE_AUDIT_JSON", default=None,
                    help="compare base-SF shuffle_write per query to the "
                         "recorded artifact; exit 1 beyond ±10% or on new "
                         "base-SF spill. Default query set = the "
                         "artifact's recorded queries (load-invariant "
                         "plan-change gate — see module docstring)")
    ap.add_argument("--tolerance", type=float, default=0.10,
                    help="relative drift bar for --regress (default 0.10)")
    ap.add_argument("--attach-cap", type=int, default=None,
                    help="override operators._ATTACH_BROADCAST_CAP "
                         "(bytes). --attach-cap 0 forces every "
                         "dim_side/payload_side guard to its beyond-cap "
                         "strategy at ANY scale, so a small corpus runs "
                         "the same post-crossover plan as a large one — "
                         "the only way to read a clean byte RATIO across "
                         "a decade that otherwise straddles the "
                         "broadcast→shuffle_hash/merge transition "
                         "(SCALE.md r13 setsim account)")
    args = ap.parse_args()

    from bench import HEADLINE
    from xml_hive_spark.session import get_spark

    if args.attach_cap is not None:
        import xml_hive_spark.operators as _ops
        _ops._ATTACH_BROADCAST_CAP = args.attach_cap
        print(f"# _ATTACH_BROADCAST_CAP overridden to {args.attach_cap}",
              file=sys.stderr)

    recorded = None
    if args.regress:
        with open(args.regress) as fh:
            art = json.load(fh)
        recorded = art["queries"]
        if art.get("sf_dir") and art["sf_dir"] != args.sf_dir:
            print(f"# regress WARNING: artifact recorded at "
                  f"{art['sf_dir']}, measuring {args.sf_dir} — bytes are "
                  f"corpus-dependent, expect failures", file=sys.stderr)
        if args.queries is None:
            args.queries = sorted(recorded)

    names = args.queries or list(HEADLINE)
    if args.skip_xml and "xml_scan_bench" in names:
        names.remove("xml_scan_bench")

    spark = get_spark(app_name="xml-hive-spark-shuffle-audit",
                      extra_conf={"spark.ui.retainedStages": "100000",
                                  "spark.ui.retainedJobs": "100000"})
    base = measure(spark, names, args.sf_dir)
    scaled = measure(spark, names, args.scaled) if args.scaled else None
    spark.stop()

    report = {}
    for n in names:
        report[n] = dict(base[n])
        if scaled:
            report[n]["scaled_shuffle_write"] = scaled[n]["shuffle_write"]
            bw = base[n]["shuffle_write"]
            report[n]["shuffle_ratio"] = (
                round(scaled[n]["shuffle_write"] / bw, 2) if bw > 0 else None
            )
    print(json.dumps({"sf_dir": args.sf_dir, "scaled": args.scaled,
                      "queries": report}))

    hdr = "| query | shuffle W | shuffle R | input | spill |"
    sep = "|---|---|---|---|---|"
    if scaled:
        hdr += " shuffle W @scaled | ratio |"
        sep += "---|---|"
    print("\n" + hdr, file=sys.stderr)
    print(sep, file=sys.stderr)
    for n in sorted(names, key=lambda x: -report[x]["shuffle_write"]):
        r = report[n]
        row = (f"| {n} | {_fmt(r['shuffle_write'])} | {_fmt(r['shuffle_read'])}"
               f" | {_fmt(r['input'])} | {_fmt(r['spill_disk'])} |")
        if scaled:
            ratio = r["shuffle_ratio"]
            row += (f" {_fmt(r['scaled_shuffle_write'])} |"
                    f" {ratio if ratio is not None else '—'} |")
        print(row, file=sys.stderr)

    if recorded is not None:
        unmeasured = sorted(set(recorded) - set(names))
        if unmeasured:
            print(f"# regress: {len(unmeasured)} recorded queries not "
                  f"re-measured: {', '.join(unmeasured)}", file=sys.stderr)
        failures = byte_regress(base, recorded, args.tolerance)
        for f in failures:
            print(f"# byte REGRESSED {f}", file=sys.stderr)
        print(f"# byte regress: {len(base) - len(failures)}/{len(base)} "
              f"within ±{args.tolerance:.0%}", file=sys.stderr)
        if failures:
            sys.exit(1)


if __name__ == "__main__":
    main()
