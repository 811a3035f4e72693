"""Local stand-in for the driver's correctness gate: run every registry
query on Spark and its oracle on DuckDB at the given SF, compare
row-count, column names, and order-insensitive values.

Usage: python tools/verify_local.py [sf_dir] [query ...]

Each query gets ``QUERY_TIMEOUT_S`` seconds on each engine: past it,
the Spark jobs are cancelled or DuckDB is interrupted, the query is
reported as a TIMEOUT failure, and the run moves on. The Spark session
takes every core this process may run on.
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import threading
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


import numpy as np  # noqa: E402


def _norm(v):
    if v is None:
        return "∅"
    if isinstance(v, (bool, np.bool_)):
        return "1" if v else "0"
    if isinstance(v, (float, np.floating)):
        # exact repr of the PYTHON float — the driver's value hash may be
        # bit-exact, so the local gate must be at least as strict (numpy 2.x
        # repr would print np.float64(...), which Spark's side never emits)
        v = float(v)
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, np.integer):
        return str(int(v))
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, datetime):
        if v != v:  # pandas NaT (satisfies isinstance datetime)
            return "∅"
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            # DATE columns arrive as datetime.date from Spark's toPandas
            # but datetime64-at-midnight from DuckDB's fetchdf; normalize
            # midnight datetimes to the date form ON BOTH SIDES so the
            # asymmetry cancels (a true timestamp at exact midnight
            # normalizes identically in both engines — still symmetric)
            return v.date().isoformat()
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_norm(r[i]) for i in order) for r in rows)


# seconds a query may run on each engine before it is reported as TIMEOUT
QUERY_TIMEOUT_S = 600


class Deadline:
    """Context manager that calls ``cancel`` once ``seconds`` pass inside
    the block; ``fired`` tells whether it did."""

    def __init__(self, seconds: float, cancel):
        self.fired = False

        def fire():
            self.fired = True
            cancel()

        self._timer = threading.Timer(seconds, fire)

    def __enter__(self):
        self._timer.start()
        return self

    def __exit__(self, *exc):
        self._timer.cancel()
        return False


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("queries", nargs="*", help="names to check (default: all)")
    args = ap.parse_args()
    sf_dir, only = args.sf_dir, set(args.queries)

    from xml_hive_spark.operators import all_queries
    from xml_hive_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="verify-local", cpus=cpus, shuffle_partitions=cpus)
    con = duckdb.connect()
    for tname in TABLES:
        con.sql(
            f"CREATE VIEW {tname} AS SELECT * FROM read_parquet('{sf_dir}/{tname}.parquet')"
        )

    failures = []
    for name, qd in sorted(all_queries().items()):
        if only and name not in only:
            continue
        try:
            with Deadline(QUERY_TIMEOUT_S, spark.sparkContext.cancelAllJobs) as dl:
                df = qd.fn(spark, sf_dir)
                s_cols = df.columns
                # toPandas, NOT collect: the driver canonicalizes the Spark
                # side through pandas too, so nulls in numeric columns become
                # NaN on BOTH engines (collect's None vs fetchdf's NaN was a
                # local-gate-only asymmetry the driver never sees)
                s_rows = list(df.toPandas().itertuples(index=False, name=None))
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            why = (f"TIMEOUT after {QUERY_TIMEOUT_S:g} s" if dl.fired
                   else f"error: {str(e).splitlines()[0][:200]}")
            print(f"FAIL  {name}: spark {why}")
            continue
        if qd.oracle is None:
            print(f"ok*   {name}: rows-only ({len(s_rows)} rows)")
            continue
        try:
            with Deadline(QUERY_TIMEOUT_S, con.interrupt) as dl:
                res = con.sql(qd.oracle)
                d_cols = [c for c in res.columns]
                # go through pandas like the driver's canonicalizer does —
                # this is what surfaced the r5/r6 misses (DuckDB HUGEINT →
                # pandas float64 renders "7712.0" while Spark's long renders
                # "7712"); fetchall() hid that class of mismatch
                pdf = res.fetchdf()
                d_rows = list(pdf.itertuples(index=False, name=None))
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            why = (f"TIMEOUT after {QUERY_TIMEOUT_S:g} s" if dl.fired
                   else f"error: {str(e).splitlines()[0][:200]}")
            print(f"FAIL  {name}: duckdb {why}")
            continue
        problems = []
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duckdb={len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
        if not problems:
            cs, cd = canon_rows(s_cols, s_rows), canon_rows(d_cols, d_rows)
            if cs != cd:
                diffs = [(a, b) for a, b in zip(cs, cd) if a != b]
                problems.append(
                    f"{len(diffs)} differing rows; first: spark={diffs[0][0][:120]!r} "
                    f"duckdb={diffs[0][1][:120]!r}"
                )
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: " + "; ".join(problems))
        elif len(s_rows) == 0:
            # vacuous match — both sides empty proves nothing about values
            print(f"WARN  {name}: 0 rows on both engines (vacuous match)")
        else:
            print(f"ok    {name}: {len(s_rows)} rows match")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
