"""Benchmark launcher: one workload, one seed, one fresh measured process.

    python3 perfbench/run.py --workload xml_ingest --seed 1 --seconds 30 --trace 0

Run from the root of a source checkout. The launcher writes the seeded
inputs under ``.perfbench-runs/`` in the checkout, starts ``worker.py`` in
a fresh process with an isolated environment, samples the summed RSS of
that process tree, and prints every metric with its unit, then one JSON
line: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
workload twice, untraced then traced, and reports the per-layer metrics
plus the tracing overhead (traced ``wall_s`` minus untraced ``wall_s``).
See README.md for the workloads and the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import workloads  # noqa: E402

TAIL_BEYOND = 10  # op_tail_s: the highest percentile with this many samples beyond it
DRAIN_S = 30.0
SELF_LAYERS = ("bench", "session", "sources.xml_datasource", "reader", "xsd", "infer",
               "sources.xml_sink", "sources.avro_ocf", "operators", "spark")


def run_settings(proc_dir: str) -> dict[str, str]:
    """The environment of one measured process: its own TMPDIR (empty plan
    caches, package zip and scratch dirs) and Spark local dirs, and a
    session sized to this host."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    tmp = os.path.join(proc_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        # a sixteenth of the host: room for the Python workers and other tenants
        "SPARK_DRIVER_MEM": f"{mem_kib // 16 // 1024}m",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(proc_dir, "spark-local"),
        # no hsperfdata file: the JVM would write it under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONHASHSEED": "0",
    }


# ------------------------------------------------------------ process tree


def _session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid`` (zombies excluded)."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[3]) == sid:  # state ppid pgrp session
            pids.append(int(d))
    return pids


def _rss_bytes(pids: list[int]) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


def _kill_session(sid: int) -> None:
    try:
        os.killpg(sid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def run_process(argv: list[str], env: dict, cwd: str, log_path: str) -> tuple[int, float]:
    """Run ``argv`` in its own session; return (exit code, peak summed RSS
    in bytes of every process in that session). Waits until every process
    of the session has ended, killing stragglers after ``DRAIN_S``."""
    os.makedirs(cwd, exist_ok=True)
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(argv, env=env, cwd=cwd, stdout=log, stderr=log,
                                start_new_session=True)
    peak = 0
    done = threading.Event()

    def sample():
        nonlocal peak
        while not done.is_set():
            peak = max(peak, _rss_bytes(_session_pids(proc.pid)))
            done.wait(0.1)

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    try:
        code = proc.wait()
    except BaseException:  # interrupted: take the whole session down now
        _kill_session(proc.pid)
        proc.wait()
        raise
    finally:
        done.set()
        sampler.join()
        deadline = time.monotonic() + DRAIN_S
        while _session_pids(proc.pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if _session_pids(proc.pid):
            _kill_session(proc.pid)
            while _session_pids(proc.pid) and time.monotonic() < deadline + DRAIN_S:
                time.sleep(0.1)
    return code, float(peak)


def measured_run(args, run_dir: str, tag: str, trace: bool) -> dict:
    d = os.path.join(run_dir, tag)
    settings = run_settings(d)
    if tag == "main":
        for k, v in settings.items():
            print(f"# setting {k}={v}")
    env = dict(os.environ, **settings, PERFBENCH_T0=repr(time.time()))
    out = os.path.join(d, "result.json")
    argv = [sys.executable, os.path.join(ROOT, "perfbench", "worker.py"),
            "--workload", args.workload, "--trace", str(int(trace)),
            "--ctx", os.path.join(run_dir, "ctx.json"), "--out", out]
    log = os.path.join(d, "worker.log")
    code, peak = run_process(argv, env, d, log)
    if code != 0 or not os.path.exists(out):
        with open(log, errors="replace") as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"measured process {tag} exited {code}:\n{tail}")
    with open(out) as f:
        res = json.load(f)
    res["peak_rss_bytes"] = peak
    res["dir"] = d
    return res


# ------------------------------------------------------------------ metrics


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest nearest-rank percentile with at
    least TAIL_BEYOND samples above it; the maximum if there are too few."""
    xs = sorted(samples)
    n = len(xs)
    if n <= TAIL_BEYOND:
        return xs[-1], 100.0
    rank = n - TAIL_BEYOND  # 1-based; TAIL_BEYOND samples lie beyond it
    return xs[rank - 1], 100.0 * rank / n


# printed but left out of the result line: with at most ten later ops in a
# run no percentile has ten samples beyond it, and the slowest op alone
# spreads more from run to run than any bound BENCHMARK.json may set
UNBOUNDED = ("op_tail_s",)


def end_to_end(res: dict, spec, ctx: dict) -> tuple[dict, dict]:
    # the later ops: the last pass's, the run's first op excluded
    later = [r for r in res["ops"][1:] if r["pass"] == spec.passes - 1]
    durs = [r["s"] for r in later]
    value, pct = tail(durs)
    scans = [r for r in later if r["kind"] in spec.scan_kinds]
    scan_mb = sum(ctx["scan_bytes"][r["kind"]] for r in scans) / 1e6
    metrics = {
        "setup_s": (res["setup_s"], "s"),
        "first_op_s": (res["first_op_s"], "s"),
        "op_p50_s": (statistics.median(durs), "s"),
        "op_tail_s": (value, "s"),
        "wall_s": (res["wall_s"], "s"),
        "scan_mb_s": (scan_mb / sum(r["s"] for r in scans), "MB/s"),
        "peak_rss_mb": (res["peak_rss_bytes"] / 2**20, "MiB"),
    }
    notes = {
        "op_tail_s": f"p{pct:.1f} of {len(durs)} later ops (not bounded)",
        "op_p50_s": f"median of {len(durs)} later ops",
        "setup_s": f"get_spark {res['get_spark_s']:.3f} s, register {res['register_s']:.3f} s",
    }
    return metrics, notes


def _med(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs: list[float]) -> float:
    return statistics.fmean(xs) if xs else 0.0


def per_layer(base: dict, traced: dict, spans: list[dict], ctx: dict) -> dict:
    """Per-layer metrics of a traced run; a layer the workload does not
    reach reads 0."""
    ops = traced["ops"]
    probes = traced.get("probes", {})
    xml = "flat" in ctx
    reg = [] if xml else ops

    def lay(r, key):
        return r["layers"].get(key, 0.0)

    def span_s(name):
        return [s["end"] - s["start"] for s in spans
                if s["name"] == name and s["op"] not in (None, "probe")]

    plan = span_s("reader.plan_annotated_splits")
    plan_items = [s.get("items", 0) for s in spans
                  if s["name"] == "reader.plan_annotated_splits"]
    filt = [r for r in ops if r["kind"] == "scan_filter"]
    scans = [r for r in ops[1:] if r["kind"] in workloads.FLAT_OPS]
    m: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (traced["get_spark_s"], "s"),
        "sources.xml_datasource.register_s": (traced["register_s"], "s"),
        "reader.plan_s": (plan[0] if plan else 0.0, "s"),
        "reader.plan_warm_s": (_med(plan[1:]), "s"),
        "reader.splits": (float(plan_items[0]) if plan_items else 0.0, "count"),
        "reader.plan_cache_files": (float(probes.get("reader.plan_cache_files", 0)), "count"),
        "flat.fastpath": (probes.get("flat.fastpath", 0.0), "bool"),
        "flat.split_mb_s": (probes.get("flat.split_mb_s", 0.0), "MB/s"),
        "flat.split_fallback_mb_s": (probes.get("flat.split_fallback_mb_s", 0.0), "MB/s"),
        "sources.xml_datasource.python_run_s": (
            _med([lay(r, "scan_stage_run_s") for r in scans]), "s"),
        "sources.pushdown.rows_kept_ratio": (
            _med([lay(r, "scan.rows_out") for r in filt]) / ctx["flat"]["records"]
            if xml else 0.0, "ratio"),
        "sources.xml_datasource.arrow_bytes_out": (
            probes.get("sources.xml_datasource.arrow_bytes_out", 0.0), "B"),
        "xsd.xsd_to_struct_s": (_med(span_s("xsd.xsd_to_struct")), "s"),
        "infer.infer_xml_schema_s": (_med(span_s("infer.infer_xml_schema")), "s"),
        "reader.row_path_mb_s": (probes.get("reader.row_path_mb_s", 0.0), "MB/s"),
        "sources.avro_ocf.write_s": (_med(span_s("sources.avro_ocf.write_avro_ocf")), "s"),
        "sources.avro_ocf.read_s": (
            _med([r["s"] for r in ops if r["kind"] == "avro_read"]), "s"),
        "sources.avro_ocf.out_bytes_per_in_byte": (
            _med([r["out_bytes"] for r in ops if "out_bytes" in r])
            / ctx["nested"]["xml_bytes"] if xml else 0.0, "ratio"),
    }
    for q in workloads.WORKLOADS["registry_mix"].kinds:
        first = next((r for r in reg if r["kind"] == q), {})
        m[f"operators.{q}.cold_s"] = (first.get("s", 0.0), "s")
        m[f"operators.{q}.warm_s"] = (first.get("warm_s", 0.0), "s")
    m.update({
        "operators.python_run_s": (_mean([lay(r, "py.python_run_s") for r in reg]), "s"),
        "operators.python_boot_s": (_mean(
            [lay(r, "py.python_start_s") + lay(r, "py.python_init_s") for r in reg]), "s"),
        "operators.arrow_bytes_in": (_mean([lay(r, "py.arrow_bytes_in") for r in reg]), "B"),
        "operators.arrow_bytes_out": (_mean([lay(r, "py.arrow_bytes_out") for r in reg]), "B"),
        "operators.cached_relations_left": (
            float(max((r["cached_left"] for r in reg), default=0)), "count"),
    })
    for key, unit in (("task_run_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"),
                      ("shuffle_write_bytes", "B"), ("shuffle_read_bytes", "B"),
                      ("spill_bytes", "B")):
        m["spark." + key] = (_mean([lay(r, key) for r in ops]), unit)
    self_s = traced.get("self_s", {})
    for layer in SELF_LAYERS:
        m[f"{layer}.self_s"] = (self_s.get(layer, 0.0), "s")
    m["trace.overhead_s"] = (traced["wall_s"] - base["wall_s"], "s")
    m["trace.spans"] = (float(traced.get("spans", 0)), "count")
    return m


# --------------------------------------------------------------------- main


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    args = ap.parse_args()
    # SIGTERM unwinds like Ctrl-C, so the measured session is killed
    signal.signal(signal.SIGTERM, signal.default_int_handler)
    if not os.path.isfile(os.path.join(ROOT, "xml_hive_spark", "__init__.py")):
        print("perfbench: no xml_hive_spark package next to perfbench/; "
              "run from a source checkout", file=sys.stderr)
        return 2
    spec = workloads.WORKLOADS[args.workload]
    run_dir = os.path.join(ROOT, ".perfbench-runs",
                           f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        return measure(args, spec, run_dir)
    except KeyboardInterrupt:
        print("perfbench: interrupted", file=sys.stderr)
        return 130
    finally:
        if not args.keep:
            shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, spec, run_dir: str) -> int:
    t = time.perf_counter()
    ctx = workloads.prepare(args.workload, run_dir, args.seed)
    with open(os.path.join(run_dir, "ctx.json"), "w") as f:
        json.dump(ctx, f)
    print(f"# inputs: {sum(set(ctx['scan_bytes'].values()))} bytes, "
          f"generated in {time.perf_counter() - t:.2f} s")
    print(f"# schedule: {len(spec.kinds)} ops, {spec.passes} pass(es), closed loop, "
          f"one client (fixed work: --seconds {args.seconds:g} does not size it)")

    try:
        base = measured_run(args, run_dir, "main", trace=False)
        if args.trace:
            traced = measured_run(args, run_dir, "traced", trace=True)
            with open(os.path.join(traced["dir"], "spans.json")) as f:
                spans = json.load(f)["spans"]
            metrics, notes = per_layer(base, traced, spans, ctx), {}
            runs = [base, traced]
        else:
            metrics, notes = end_to_end(base, spec, ctx)
            runs = [base]
    except RuntimeError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    for r in runs:
        for op in r["ops"]:
            if op["error"]:
                print(f"# FAILED {op['id']}: {op['error']}")
    for k, (v, unit) in metrics.items():
        print(f"# {k:<44} {v:>14.6g} {unit:<6} {notes.get(k, '')}")
    print(f"# failed_ops_ratio {failed / attempted:.4f} ({failed}/{attempted})")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                    if k not in UNBOUNDED},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
