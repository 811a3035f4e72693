"""Benchmark harness (driver contract: one JSON line on stdout).

Runs the headline queries from the registry at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints

    {"metric": "headline_total_sec", "value": N, "unit": "sec",
     "queries": {name: sec, ...}, "med": {name: sec, ...}, "sf": 0.1}

The per-query band is (min, med) of the 3 timed samples: ``queries``
IS the min (it always was), ``med`` carries the median. r10's verbose
``bands`` {name: {min, med}} duplicated the min and pushed the JSON
line past the driver's 2000-char stdout tail capture — BENCH_r10's
artifact lost its head and failed to parse (VERDICT r10 item 5). The
line is now compact-separated and length-asserted < 1900 chars so the
committed artifact always parses from the tail alone. A hot box shows
med >> min on unchanged-code queries; a real regression moves min
itself.

Each query is fully executed (count() on the result — forces every
exchange/agg; results are small so no collect overhead distortion).
Cross-revision comparisons use an interleaved A/B in one session on
one host, not this artifact (SCALE.md §"Bench calibration").
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "q18_large_volume_customer",
    "window_rank_topn",
    "agg_rollup",
    "tumbling_window_agg",
    "asof_join",
    "dedup_exact",
    "dedup_minhash_lsh",
    "cosine_topk_bruteforce",
    "text_token_stats",
    "text_fingerprint",
    # LLM-prep corpus transforms (round 2)
    "vocab_topk",
    "pack_sequences",
    # ANN ladder cost tracking (round 6): the all-corpus top-k join and
    # the composed IVF×PQ probe — the two production ANN shapes
    "ann_join_topk",
    "cosine_topk_ivf_pq_probed",
    # exact set-similarity self-join (late round 6): prefix+length
    # filtered candidate join — the exact dedup counterpart to MinHash
    "setsim_join_prefix",
    # real-codec multimodal round trip (round 6): PNG is the
    # representative — zlib inflate + scanline unfilter per document
    "multimodal_png_codec",
    # warehouse/MERGE family (round 7): SCD2 history build + as-of
    # dimension lookup composed — tracks the MERGE path like the ANN ladder
    "scd2_point_in_time_join",
    # LLM-filter family (round 7): distinct-8-gram explode + hashed
    # broadcast join against the eval set — the corpus-shaped text path
    "decontaminate_eval_ngrams",
    # perception family (late round 7): real PNG decode per image +
    # banded fingerprint self-join — codec work feeding a join pipeline
    "image_phash_dedup",
    # curation capstone (late round 7): dedup → quality → decontaminate
    # → split in ONE DAG — the composed corpus workload
    "corpus_curation_pipeline",
    # GB-scale XML source scan (1 GiB at sf0.1): the engine's raison
    # d'être — file generated once and cached under $TMPDIR/xmlhive_bench_<uid>
    "xml_scan_bench",
    # round-14 boundary additions (SCALE.md r14 start item 1 —
    # ADDITIONS ONLY, nothing removed or renamed, so every BENCH_rN
    # total is comparable after subtracting these two entries): the
    # containment-join plagiarism pipeline and the block-pair simhash
    # dedup, both carrying fresh two-decade byte/exponent evidence
    "plagiarism_detect",
    "dedup_simhash",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from xml_hive_spark.operators import all_queries
    from xml_hive_spark.session import get_spark

    spark = get_spark(app_name="xml-hive-spark-bench")
    registry = all_queries()

    # untimed warm run immediately before each timed run: JIT/codegen
    # compilation, parquet footer cache, Arrow/Python worker startup —
    # report steady-state engine throughput. Warming per query (not one
    # global pass) keeps the warm state adjacent: a dozen intervening
    # queries recycle Python worker pools and JIT state, which showed up
    # as 1.5-2s of non-engine noise on the Python-heavy entries.
    # Min of 3 timed runs per query. A single timed sample has ±30 % noise
    # in this shared environment (measured round 3: q3 warm runs spanned
    # 0.885-1.262 s back-to-back, which is the entire "q3 regressed +31 %"
    # delta reported between rounds 1 and 2 — the plans were unchanged and
    # an isolated A/B of autoBroadcastJoinThreshold 10 MB vs 64 MB moved
    # q1/q3 by <4 %). Min-of-3 reports steady-state engine throughput.
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    for name in HEADLINE:
        qd = registry[name]
        qd.fn(spark, sf_dir).count()  # warm
        samples, n = [], 0
        for _ in range(3):
            t0 = time.perf_counter()
            n = qd.fn(spark, sf_dir).count()
            samples.append(time.perf_counter() - t0)
        timings[name] = round(min(samples), 3)
        medians[name] = round(sorted(samples)[1], 3)
        print(
            f"# {name}: {timings[name]:.3f}s med {medians[name]:.3f}s"
            f" ({n} rows)",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "med": medians,
        "sf": sf,
    }
    line = json.dumps(out, separators=(",", ":"))
    # the driver keeps only the last 2000 chars of stdout; the artifact
    # must parse from that tail alone (BENCH_r10 lost its head)
    assert len(line) < 1900, f"bench JSON line too long: {len(line)}"
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
