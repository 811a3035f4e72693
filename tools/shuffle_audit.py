"""Per-query shuffle-byte audit: measure the exchanges, don't audit them.

For each query the tool runs the plan once untimed (JIT, index and XML
one-times), clears the cache, then runs it again under its own job group
and reads that run's totals through ``perfbench.sparkstats.op_layers``
(the status stores are populated with spark.ui.enabled=false): shuffle
write and read, spill, and the Python boundary (plan-node count,
start+init and run seconds, Arrow bytes each way), plus the seconds the
query function takes to build its DataFrame on the driver.

With ``--scaled DIR`` (a corpus built by tools/scale_probe.py) every
query is measured at both scales and the bytes RATIO is reported — a
linear plan moves <= factor x the shuffle bytes at a factor-x corpus;
a plan whose candidate set or join fan-out grows superlinearly shows
it in the ratio even when wall-clock hides it behind parallelism.

Usage:
    python tools/shuffle_audit.py [--sf-dir SF_DIR] [--scaled SCALED_DIR]
                                  [--queries name ...]
                                  [--regress SHUFFLE_AUDIT_*.json]
                                  [--plans DIR]

Prints one JSON line {sf_dir, scaled, cpus, shuffle_partitions,
queries: {query: {shuffle_write, shuffle_read, spill_disk, ...}}} plus a
markdown table for SCALE.md. ``--plans DIR`` also writes each measured
query's formatted plan to ``DIR/<query>.txt``.

``--regress`` compares each query's base-SF shuffle_write to a recorded
artifact and exits 1 on drift beyond ±10 %. Shuffle bytes replay
within a few percent across sessions (most rows byte-identical) while
wall-clock moves with box load, so the byte gate catches a silently
changed join strategy, a lost map-side combine or a candidate-volume
regression that timing noise hides. Bytes
follow the map-task count, so an artifact is comparable only at the
core count and shuffle-partition count it records: ``--regress`` exits 1
before measuring when the session's differ. Queries recorded but not
measured are listed; queries measured but unrecorded fail (a new query
must be added to the artifact deliberately). Spill at the base SF also
fails: every recorded base-SF measurement has spill 0.
"""

from __future__ import annotations

import argparse
import io
import json
import sys
import time
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.sparkstats import _PY_NODE, _seq, op_layers  # noqa: E402

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


def python_nodes(spark, group: str) -> int:
    """Python evaluation nodes (sparkstats' ``_PY_NODE``) in the plans of
    the SQL executions run under ``group``. A subtree a plan lists twice
    shares its metric accumulators, so it counts once."""
    conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
    sql = spark._jsparkSession.sharedState().statusStore()
    seen = set()
    for ex in _seq(conv, sql.executionsList()):
        if ex.description() != group:
            continue
        for node in _seq(conv, sql.planGraph(ex.executionId()).allNodes()):
            if _PY_NODE.search(node.name()):
                seen.add(tuple(m.accumulatorId()
                               for m in _seq(conv, node.metrics())))
    return len(seen)


def measure_query(spark, group: str, fn, sf_dir: str,
                  plan_path: Path | None = None) -> dict:
    """One steady-state run of ``fn(spark, sf_dir)``: a warm run under
    ``group + " warm"``, then the measured run under job group ``group``,
    whose totals come from ``op_layers``."""
    sc = spark.sparkContext
    sc.setJobGroup(group + " warm", group + " warm", False)
    fn(spark, sf_dir).count()  # JIT, index/XML-gen one-times
    # Spark reuses a prior identical execution's shuffle outputs (stages
    # show SKIPPED), which silently zeroes the measured run's bytes —
    # dedup_simhash at 10x read 1.8 KB instead of its true 167 MB before
    # this clear. WITHIN-run persist/reuse still applies, which is the
    # plan behavior being measured.
    spark.catalog.clearCache()
    drain_storage(spark, group)
    sc.setJobGroup(group, group, False)
    try:
        start = time.perf_counter()
        df = fn(spark, sf_dir)
        build_s = time.perf_counter() - start
        df.count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tot = op_layers(spark, [group])[group]
    row = {
        "shuffle_write": int(tot["shuffle_write_bytes"]),
        "shuffle_read": int(tot["shuffle_read_bytes"]),
        "spill_disk": int(tot["spill_bytes"]),
        "python_nodes": python_nodes(spark, group),
        "python_start_init_s": round(tot.get("py.python_start_s", 0.0)
                                     + tot.get("py.python_init_s", 0.0), 3),
        "python_run_s": round(tot.get("py.python_run_s", 0.0), 3),
        "arrow_bytes_in": round(tot.get("py.arrow_bytes_in", 0.0)),
        "arrow_bytes_out": round(tot.get("py.arrow_bytes_out", 0.0)),
        "build_s": round(build_s, 3),
    }
    if plan_path is not None:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan_path.write_text(buf.getvalue())
    return row


def measure(spark, names, sf_dir: str,
            plans_dir: Path | None = None) -> dict[str, dict]:
    from xml_hive_spark.operators import all_queries

    reg = all_queries()
    out = {}
    for name in names:
        plan_path = plans_dir / f"{name}.txt" if plans_dir else None
        m = out[name] = measure_query(spark, f"shuffle-audit {sf_dir} {name}",
                                      reg[name].fn, sf_dir, plan_path)
        print(f"# {sf_dir.rsplit('/', 1)[-1]} {name}: "
              f"sw={m['shuffle_write']} sr={m['shuffle_read']} "
              f"spill={m['spill_disk']} py_nodes={m['python_nodes']} "
              f"build={m['build_s']}s", file=sys.stderr)
    return out


def recording_config(spark) -> dict[str, int]:
    """The session settings shuffle bytes depend on, as an artifact records them."""
    return {"cpus": spark.sparkContext.defaultParallelism,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions"))}


def config_mismatch(artifact: dict, current: dict[str, int]) -> str | None:
    """Why ``artifact`` is not comparable with a session at ``current``, or None."""
    recorded = {k: artifact.get(k) for k in current}
    if recorded == current:
        return None
    return (f"artifact recorded at cpus={recorded['cpus']} "
            f"shuffle_partitions={recorded['shuffle_partitions']}, this "
            f"session runs cpus={current['cpus']} "
            f"shuffle_partitions={current['shuffle_partitions']}; shuffle "
            f"bytes follow the task count (set SPARK_GRAFT_CPUS to match)")


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
                         "recorded artifact; exit 1 beyond ±10%%, on new "
                         "base-SF spill, or (before measuring) when the "
                         "artifact's cpus/shuffle_partitions differ from "
                         "the session's. Default query set = the "
                         "artifact's recorded queries")
    ap.add_argument("--tolerance", type=float, default=0.10,
                    help="relative drift bar for --regress (default 0.10)")
    ap.add_argument("--plans", metavar="DIR", type=Path, default=None,
                    help="write each measured query's formatted plan to "
                         "DIR/<query>.txt")
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

    art = recorded = None
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
    config = recording_config(spark)
    if art is not None:
        why = config_mismatch(art, config)
        if why is not None:
            spark.stop()
            sys.exit(f"# regress REFUSED {args.regress}: {why}")
    if args.plans is not None:
        args.plans.mkdir(parents=True, exist_ok=True)
    base = measure(spark, names, args.sf_dir, args.plans)
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
                      **config, "queries": report}))

    hdr = ("| query | shuffle W | shuffle R | spill | py nodes "
           "| py start+init | py run | build |")
    sep = "|---|---|---|---|---|---|---|---|"
    if scaled:
        hdr += " shuffle W @scaled | ratio |"
        sep += "---|---|"
    print("\n" + hdr, file=sys.stderr)
    print(sep, file=sys.stderr)
    for n in sorted(names, key=lambda x: -report[x]["shuffle_write"]):
        r = report[n]
        row = (f"| {n} | {_fmt(r['shuffle_write'])} | {_fmt(r['shuffle_read'])}"
               f" | {_fmt(r['spill_disk'])} | {r['python_nodes']}"
               f" | {r['python_start_init_s']} s | {r['python_run_s']} s"
               f" | {r['build_s']} s |")
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
