"""The measured process: one fresh interpreter per run.

Started by ``run.py`` with the run's environment already set. It sets up
the session, runs the workload's passes over its ops as a closed loop
with one client, checks every result, reads Spark's status stores, and
writes a JSON summary to ``--out``.

Set-up time counts from ``PERFBENCH_T0``, the launcher's clock reading
just before it started this process.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, sparkstats, workloads  # noqa: E402
from perfbench.tracing import NullTracer, Tracer  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--ctx", required=True, help="context JSON written by the launcher")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    t0 = float(os.environ["PERFBENCH_T0"])

    tr = Tracer() if args.trace else NullTracer()
    if args.trace:
        tr.instrument()
    from xml_hive_spark import session
    from xml_hive_spark.sources import xml_datasource

    a = time.perf_counter()
    spark = session.get_spark(app_name=f"perfbench-{args.workload}")
    b = time.perf_counter()
    xml_datasource.register(spark)
    c = time.perf_counter()
    out = {"setup_s": time.time() - t0, "get_spark_s": b - a, "register_s": c - b}
    try:
        out.update(run(spark, args, tr))
    finally:
        spark.stop()
    if args.trace:
        tr.restore()
        tr.dump(os.path.join(os.path.dirname(args.out), "spans.json"))
        out["self_s"] = tr.self_times()
        out["spans"] = len(tr.spans)
    with open(args.out, "w") as f:
        json.dump(out, f)
    return 0


def run(spark, args, tr) -> dict:
    name = args.workload
    spec = workloads.WORKLOADS[name]
    with open(args.ctx) as f:
        ctx = json.load(f)
    ops = workloads.make_ops(name, spark, ctx, tr)
    sc = spark.sparkContext
    records = []
    rerun_s = 0.0  # warm reruns of a traced registry run, kept out of wall_s
    loop_start = time.perf_counter()
    for kind in spec.kinds * spec.passes:
        op_id = f"{len(records):03d}:{kind}"
        if name == "registry_mix":
            spark.catalog.clearCache()
        with tr.span("bench." + kind):
            got, dur, err = timed(sc, tr, op_id, ops[kind])
        if err is None:
            err = workloads.check(kind, got, ctx)
        rec = {"id": op_id, "kind": kind, "s": dur, "error": err,
               "pass": len(records) // len(spec.kinds)}
        if name == "registry_mix":
            rec["cached_left"] = sparkstats.cached_entries(spark)
            if args.trace and err is None:  # operators.<query>.warm_s
                _, rec["warm_s"], rec["error"] = timed(sc, tr, op_id + ":warm", ops[kind])
                rerun_s += rec["warm_s"]
        if kind == "avro_write" and err is None:
            rec["out_bytes"] = got
        records.append(rec)
        if rec["error"] is not None:
            print(f"op {op_id} failed: {rec['error']}", file=sys.stderr)
    wall_s = time.perf_counter() - loop_start - rerun_s
    tr.op = None
    res = {
        "ops": records,
        "attempted": len(records),
        "failed": sum(r["error"] is not None for r in records),
        "first_op_s": records[0]["s"],
        "wall_s": wall_s,
    }
    if args.trace:
        sc.setJobGroup("perfbench-probe", "perfbench-probe", False)
        layers = sparkstats.op_layers(spark, [r["id"] for r in records])
        for r in records:
            r["layers"] = layers[r["id"]]
        res["probes"], err = probes(name, ctx, tr)
        if name == "xml_ingest":  # the filtered-scan probe is checked too
            res["attempted"] += 1
            res["failed"] += err is not None
        if err is not None:
            print(f"probe failed: {err}", file=sys.stderr)
    return res


def timed(sc, tr, op_id: str, op):
    """Run one op under its own job group: (result, seconds, error)."""
    sc.setJobGroup(op_id, op_id, False)
    tr.op = op_id
    start = time.perf_counter()
    try:
        return op(), time.perf_counter() - start, None
    except Exception as exc:  # the op failed: count it, keep going
        return None, time.perf_counter() - start, (
            f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}")


def split_mb_s(asm, split) -> float:
    """MB/s of one split through ``fused_split_batches``, median of three
    passes."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        for _ in asm.fused_split_batches(split, inputs.FLAT_ROW_TAG):
            pass
        times.append(time.perf_counter() - t)
    return (split[2] - split[1]) / 1e6 / statistics.median(times)


def probes(name: str, ctx: dict, tr) -> tuple[dict, str | None]:
    """Per-layer numbers a traced run adds after the measured loop, all
    in-process: one flat split through the columnar and the per-row
    conversion, the filter op's scan as the source hands it to Spark, and
    one nested file through the row path. Returns (numbers, error); the
    error is set when the filtered scan keeps other rows than expected."""
    from pyspark.sql.types import StructType

    from xml_hive_spark import flat, reader, xsd
    from xml_hive_spark.sources import xml_datasource

    tr.op = "probe"
    out: dict[str, float] = {}
    err = None
    if name == "xml_ingest":
        schema = workloads.flat_schema()
        narrow = StructType([f for f in schema.fields if f.name in workloads.FILTER_COLUMNS])
        splits = reader.plan_annotated_splits(
            [ctx["path"]], inputs.FLAT_ROW_TAG, ctx["partition_bytes"])
        asm = flat.FlatAssembler.try_create(schema, "FAILFAST")
        out["flat.fastpath"] = float(asm is not None)
        split = splits[len(splits) // 2]
        # the narrow columns carry no entity, so every batch converts
        # columnar; `note` puts an '&' in every batch, which sends the
        # whole batch to per-row conversion
        out["flat.split_mb_s"] = split_mb_s(
            flat.FlatAssembler.try_create(narrow, "FAILFAST"), split)
        out["flat.split_fallback_mb_s"] = split_mb_s(asm, split)

        # scan_filter's scan: the source with the filters Spark pushes,
        # over the splits read_xml hands it
        src = xml_datasource.XmlHiveDataSource(
            {"rowTag": inputs.FLAT_ROW_TAG, "mode": "FAILFAST",
             "splits": json.dumps(splits)}).reader(narrow)
        src.pushFilters(workloads.flat_filter())
        rows = nbytes = 0
        for part in src.partitions():
            for batch in src.read(part):
                rows += batch.num_rows
                nbytes += batch.nbytes
        out["sources.xml_datasource.arrow_bytes_out"] = float(nbytes)
        want = sum(v["n_kept"] for v in ctx["flat"]["per_cat"].values())
        if rows != want:
            err = f"filtered scan kept {rows} rows, expected {want}"

        schema = xsd.xsd_to_struct(ctx["xsd"], inputs.NESTED_TYPE, inputs.NESTED_NS)
        path = sorted(glob.glob(os.path.join(ctx["xml_dir"], "*.xml")))[0]
        size = os.path.getsize(path)
        t = time.perf_counter()
        for rec in reader.iter_split_record_bytes((path, 0, size, "TEXT", 0),
                                                  inputs.NESTED_ROW_TAG):
            reader.parse_record_safe(rec, schema, "FAILFAST")
        out["reader.row_path_mb_s"] = size / 1e6 / (time.perf_counter() - t)
    tmp = os.environ.get("TMPDIR", "")
    out["reader.plan_cache_files"] = len(
        glob.glob(os.path.join(tmp, "xmlhive_plan_cache_*", "*.json")))
    return out, err


if __name__ == "__main__":
    sys.exit(main())
