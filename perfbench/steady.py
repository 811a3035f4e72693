"""Steadiness check: run a workload over several seeds, summarise each
end-to-end metric, and compare two sets of runs against the bounds in
BENCHMARK.json.

    python3 perfbench/steady.py run --workload xml_ingest --runs 10 --out a.jsonl
    python3 perfbench/steady.py summary a.jsonl
    python3 perfbench/steady.py compare a.jsonl b.jsonl

``run`` appends each run's result line to ``--out``. ``summary`` prints
each metric's median, quartiles and spread (quartile distance over the
median) and flags a spread above a third of the metric's bound.
``compare`` also checks that the second set's median is not worse than
the first's by more than the bound. Exits 1 when a check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def bounds() -> dict[str, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m for m in spec["end_to_end"]}


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def summarise(runs: list[dict]) -> dict[str, tuple[float, float, float]]:
    out = {}
    for name in runs[0]["metrics"]:
        xs = [r["metrics"][name]["value"] for r in runs]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        out[name] = (q1, statistics.median(xs), q3)
    return out


def report(path: str, b: dict) -> bool:
    runs = load(path)
    ok = all(r["correct"] and r["failed"] == 0 for r in runs)
    print(f"{path}: {len(runs)} runs, all correct: {ok}")
    for name, (q1, med, q3) in summarise(runs).items():
        spread = (q3 - q1) / med
        limit = b[name]["bound"]
        flag = "" if spread < limit / 3 else "  SPREAD ABOVE BOUND/3"
        ok &= spread <= limit
        print(f"  {name:<14} median {med:12.6g}  q1 {q1:12.6g}  q3 {q3:12.6g}"
              f"  spread {spread:6.3f} (bound {limit}){flag}")
    return ok


def compare(first: str, second: str, b: dict) -> bool:
    ok = report(first, b) & report(second, b)
    s1, s2 = summarise(load(first)), summarise(load(second))
    for name, m in b.items():
        m1, m2 = s1[name][1], s2[name][1]
        worse = (m2 - m1) / m1 if m["better"] == "lower" else (m1 - m2) / m1
        good = worse <= m["bound"]
        ok &= good
        print(f"  {name:<14} median {m1:.6g} -> {m2:.6g}: "
              f"{100 * worse:+.1f}% worse (bound {100 * m['bound']:.0f}%)"
              f"{'' if good else '  FAIL'}")
    return ok


def run(workload: str, seeds: list[int], seconds: int, out: str) -> bool:
    ok = True
    for seed in seeds:
        proc = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
             "--workload", workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            ok = False
            continue
        with open(out, "a") as f:
            f.write(lines[-1] + "\n")
        print(f"seed {seed}: {lines[-1]}")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--first-seed", type=int, default=1)
    r.add_argument("--out", required=True)
    s = sub.add_parser("summary")
    s.add_argument("file")
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    args = ap.parse_args()
    b = bounds()
    if args.cmd == "run":
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            seconds = json.load(f)["run_seconds"]
        seeds = list(range(args.first_seed, args.first_seed + args.runs))
        ok = run(args.workload, seeds, seconds, args.out) and report(args.out, b)
    elif args.cmd == "summary":
        ok = report(args.file, b)
    else:
        ok = compare(args.first, args.second, b)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
