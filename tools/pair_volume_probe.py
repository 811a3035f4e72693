"""Candidate-stage volume probe for the containment-join family.

The shuffle-byte audit can read HIGH across a decade even when a plan
is logically linear: the pair-count exchange ships one row per
DISTINCT (a_id, b_id) pair per partition, so its bytes sit between
global-distinct-pairs and raw-join-rows depending on how effective the
map-side combine is — and combine effectiveness FALLS as the pair
count outgrows the partition count (each partition sees mostly-unique
pairs). SHUFFLE_AUDIT_r13's plagiarism_detect post-crossover ratio
(×15.66 at a ×10 corpus) is exactly this: this probe measured every
logical volume at both decades and all three are linear to four
significant digits (raw rows ×10.002, distinct pairs ×10.008,
survivors ×10.001), bounding the byte excess by the raw-rows line — a
one-time ≤ duplication-factor transition, not growth.

Builds on ``containment_pairs``' staging (``dedup._shingle_stages``)
and replicates its candidate stage up to the count-filter — no payload
attach, no argmax window — and reports, per corpus:

    raw_rows        Σ c over distinct pairs  (prefix-join output rows)
    distinct_pairs  |{(a_id, b_id)}| before the counted-pigeonhole cut
    survivors       pairs with c ≥ c_req (what reaches the verify join)

Usage:
    python tools/pair_volume_probe.py DIR [DIR ...]
        [--t-num 8] [--t-den 10] [--extra 29] [--probe-mod 5 2]

Defaults mirror ``plagiarism_detect`` (t = 0.8, EXTRA = 29, probe side
doc_id % 5 = 2). ``--probe-mod 1 0`` probes the full corpus
(= ``setsim_containment_join``'s shape at its own t/EXTRA).
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402


def volumes(spark, sf, t_num, t_den, extra, mod, rem):
    from xml_hive_spark.operators import t
    from xml_hive_spark.operators.dedup import _shingle_stages

    d = (
        t(spark, sf, "documents")
        .select("doc_id", F.lower(F.col("text")).alias("tx"))
        .filter(F.length("tx") >= 8)
    )
    ranked, _ = _shingle_stages(d, sf)
    ranked = ranked.persist()
    m_col = F.col("sz") - F.ceil(F.col("sz") * t_num / t_den)
    pl_col = F.least(F.col("sz"), m_col + 1 + extra)
    probe = (
        ranked.filter(F.col("rn") <= pl_col)
        .select(F.col("doc_id").alias("a_id"), "tok",
                F.col("sz").alias("sa"), (pl_col - m_col).alias("c_req"))
        .filter(F.col("a_id") % mod == rem)
    )
    index = ranked.select(F.col("doc_id").alias("b_id"), "tok",
                          F.col("sz").alias("sb"))
    agg = (
        probe.join(index, "tok")
        .filter((F.col("a_id") != F.col("b_id"))
                & (F.col("sb") * t_den >= F.col("sa") * t_num))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("c"), F.first("c_req").alias("c_req"))
    )
    row = agg.agg(
        F.sum("c").alias("raw_rows"),
        F.count(F.lit(1)).alias("distinct_pairs"),
        F.sum(F.when(F.col("c") >= F.col("c_req"), 1).otherwise(0))
        .alias("survivors"),
    ).collect()[0]
    spark.catalog.clearCache()  # ranked and the staging tables it persisted
    return row


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("dirs", nargs="+")
    ap.add_argument("--t-num", type=int, default=8)
    ap.add_argument("--t-den", type=int, default=10)
    ap.add_argument("--extra", type=int, default=29)
    ap.add_argument("--probe-mod", nargs=2, type=int, default=[5, 2],
                    metavar=("MOD", "REM"),
                    help="probe side = doc_id %% MOD == REM; 1 0 = full")
    args = ap.parse_args()

    from xml_hive_spark.session import get_spark

    spark = get_spark(app_name="pair-volume-probe")
    prev = None
    for sf in args.dirs:
        r = volumes(spark, sf, args.t_num, args.t_den, args.extra,
                    args.probe_mod[0], args.probe_mod[1])
        line = (f"{sf}: raw_rows={r['raw_rows']} "
                f"distinct_pairs={r['distinct_pairs']} "
                f"survivors={r['survivors']}")
        if prev is not None:
            line += (f"  (x{r['raw_rows'] / prev['raw_rows']:.3f} / "
                     f"x{r['distinct_pairs'] / prev['distinct_pairs']:.3f} / "
                     f"x{r['survivors'] / prev['survivors']:.3f})")
        print(line, flush=True)
        prev = r
    spark.stop()


if __name__ == "__main__":
    main()
