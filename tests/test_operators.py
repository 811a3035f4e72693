"""Registry smoke + targeted correctness for operators whose driver check
is rows-only, plus as-of join golden semantics on crafted input."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from xml_hive_spark.operators import all_queries

SMOKE = [
    "q1_pricing_summary",
    "join_nonequi_range",
    "agg_grouping_sets",
    "window_moving_avg",
    "explode_positional",
    "json_functions",
    "pandas_udf_scalar",
    "tumbling_window_agg",
    "session_window_agg",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "cosine_topk_lsh",
    "multimodal_decode_stub",
    "text_quality_score",
    "xml_scan_books",
]


@pytest.mark.parametrize("name", SMOKE)
def test_smoke(spark, sf_dir, name):
    df = all_queries()[name].fn(spark, sf_dir)
    assert df.count() >= 0  # executes the full plan


def test_registry_complete():
    reg = all_queries()
    assert len(reg) >= 70
    oracled = [n for n, q in reg.items() if q.oracle is not None]
    assert len(oracled) >= 65
    # rows-only entries are the genuinely non-SQL-expressible ones.
    # Re-audited round 10 (five conversions: the two PQ entries — the
    # r9 "16x the kmeans oracle" size estimate was wrong, all 16
    # subspaces ride the SAME unrolled CTEs via an ``m`` grouping
    # column — streaming_vector_ingest, whose "seeded k-means" blocker
    # went stale when the coarse trainer became md5-48 + integer-exact
    # in r9; bpe_learn_merges, whose "iterative argmax" blocker fell
    # to the k-means-style unroll once the greedy merge-apply step got
    # a gaps-and-islands closed form (lm.py:_bpe_merge_ctes); and
    # logreg_train_distributed, whose "exp() is not cross-libm
    # bit-reproducible" blocker was removed at the SOURCE — the r10
    # trainer uses a rational fast sigmoid + integer-exact reductions,
    # so training itself became engine- and partitioning-independent);
    # every remaining entry's blocker is named inline.
    rows_only = sorted(n for n, q in reg.items() if q.oracle is None)
    assert rows_only == [
        "agg_approx_distinct",  # Spark-internal HLL++ registers;
        # error bound pinned below
        "agg_approx_percentiles",  # sketch internals; error bound pinned below
        "embedding_pca_project",  # eigendecomposition — not
        # SQL-expressible (no closed form past the 4x4 characteristic
        # quartic, and the r10 power-iteration audit found the corpus
        # spectrum near-flat: lambda2/lambda1 = 0.93-0.99, so an
        # unrolled iterative twin would NOT converge to PCA — the
        # honest oracle is the 2x2 closed-form witness
        # pca_explained_variance_2d); numpy parity pinned in
        # test_embeddings
    ]


def test_approx_distinct_error_bound(spark, sf_dir):
    """HLL++ rsd=0.02 must land within 5% of exact (driver only checks
    rows; the sketch's accuracy contract is pinned here)."""
    approx = {
        r.l_returnflag: r.approx_parts
        for r in all_queries()["agg_approx_distinct"].fn(spark, sf_dir).collect()
    }
    exact = {
        r.l_returnflag: r.n_parts
        for r in all_queries()["agg_distinct_count"].fn(spark, sf_dir).collect()
    }
    for flag, n in exact.items():
        assert abs(approx[flag] - n) / n < 0.05


def test_asof_join_golden(spark, tmp_path):
    """Hand-computed as-of semantics on crafted events."""
    ts = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731
    rows = [
        # user 1: view@10:00(v=1), purchase@10:30, view@11:00(v=2), purchase@11:05
        (1, ts("2024-01-01 10:00:00"), 1, "view", 1.0),
        (2, ts("2024-01-01 10:30:00"), 1, "purchase", 9.0),
        (3, ts("2024-01-01 11:00:00"), 1, "view", 2.0),
        (4, ts("2024-01-01 11:05:00"), 1, "purchase", 9.0),
        # user 2: purchase with NO prior view
        (5, ts("2024-01-01 09:00:00"), 2, "purchase", 9.0),
        (6, ts("2024-01-01 09:30:00"), 2, "view", 3.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    df = df.withColumn("props", F.lit("{}"))
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = all_queries()["asof_join"].fn(spark, str(tmp_path))
    got = {r.event_id: (r.last_view_ts, r.last_view_value) for r in out.collect()}
    assert got[2] == (ts("2024-01-01 10:00:00"), 1.0)
    assert got[4] == (ts("2024-01-01 11:00:00"), 2.0)
    assert got[5] == (None, None)  # left join keeps view-less purchases


def test_multimodal_deterministic(spark, sf_dir):
    a = all_queries()["multimodal_decode_stub"].fn(spark, sf_dir).collect()
    b = all_queries()["multimodal_decode_stub"].fn(spark, sf_dir).collect()
    assert a == b
    assert sum(r.n for r in a) > 0


def test_percentiles_array_matches_scalar_twin(spark, sf_dir):
    """The JSON-serialized quartile array must decode to exactly the
    scalar twin's values (same percentile definition, one sort)."""
    import json

    scalar = {r.l_returnflag: r for r in
              all_queries()["agg_percentiles"].fn(spark, sf_dir).collect()}
    arr = {r.l_returnflag: r for r in
           all_queries()["agg_percentiles_array"].fn(spark, sf_dir).collect()}
    assert set(scalar) == set(arr)
    for flag, s in scalar.items():
        a = arr[flag]
        assert json.loads(a.qty_quartiles) == [s.qty_p25, s.qty_p50, s.qty_p75]
        assert a.price_p90 == s.price_p90
        assert a.n == s.n


def test_approx_percentile_error_bound(spark, sf_dir):
    """approx_percentile(accuracy=10000) must land within a tight rank
    neighborhood of the exact interpolated quartiles (driver checks rows
    only; the sketch's accuracy contract is pinned here)."""
    exact = {r.l_returnflag: r for r in
             all_queries()["agg_percentiles"].fn(spark, sf_dir).collect()}
    approx = {r.l_returnflag: r for r in
              all_queries()["agg_approx_percentiles"].fn(spark, sf_dir).collect()}
    assert set(exact) == set(approx)
    for flag, e in exact.items():
        a = approx[flag]
        for col in ("qty_p25", "qty_p50", "qty_p75"):
            # quantity is integral 1..50: a 1e-4 rank error is < 1 unit
            assert abs(getattr(a, col) - getattr(e, col)) <= 1.0, (flag, col)
        # price spans ~1e5: allow a proportional neighborhood
        assert abs(a.price_p90 - e.price_p90) / e.price_p90 < 0.01


def test_bm25_ranking_semantics(spark, sf_dir):
    """BM25: a document dense in query terms must outrank one without
    them; ranks are 1..10 and scores non-increasing."""
    from xml_hive_spark.operators.text import text_bm25_topk

    rows = text_bm25_topk(spark, sf_dir).collect()
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    scores = [r["bm25"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert scores[0] > 0


# Audited bare-`//` budget per oracle (VERDICT r10 item 3 — make the
# truncate-vs-floor bug class unrecreatable). DuckDB's integer `//`
# TRUNCATES toward zero (like Spark's `div` and this repo's _tdiv);
# Python's and numpy's `//` FLOOR. A bare `//` in oracle SQL is only
# correct when the dividend is provably non-negative OR the Spark-side
# twin truncates too; otherwise the exact-floor-by-pmod spelling
# `(x - ((x % d) + d) % d) // d` is required (commit b855cf4 fixed six
# oracles that were green only by coincidence). Each entry freezes the
# count of audited bare occurrences; adding one more anywhere fails the
# lint until the author re-audits and bumps the budget here.
_BARE_FLOORDIV_BUDGET = {
    # Spark side truncates too (_tdiv / Spark `div`):
    "logreg_train_distributed": 20,  # weight update, _tdiv both sides
    # dividend non-negative by construction:
    "graph_pagerank": 12,            # rank mass / teleport, >= 0
    "regression_slope_closed_form": 1,   # Spark side uses DIV
    # (truncates like DuckDB //) on the same integer expression
    "pareto_skyline_2d": 1,          # price cents >= 0
    "chi_square_independence": 1,    # squared numerator >= 0
    "split_leakage_safe": 1,         # n_chars >= 0 bucket
    "dedup_cluster_components": 1,   # doc ids >= 0
    "multimodal_gif_codec": 1,       # pixel bytes 0..255
    "multimodal_jpeg_codec": 8,      # pixel bytes / DCT indices >= 0
    "multimodal_frame_sample": 1,    # frame index >= 0
    "multimodal_feature_extract": 2,  # pixel sums >= 0
    "multimodal_resize_stub": 5,     # pixel coords >= 0
    "multimodal_image_augment": 2,   # pixel bytes >= 0
    "multimodal_tile_composite": 5,  # pixel coords >= 0
    "image_phash_dedup": 3,          # luma sums >= 0
    "audio_resample_decimate": 3,    # sample INDEX math, >= 0 (the
    # one negative-capable sample-value mean is pmod-spelled)
    "sketch_kmv_distinct": 1,        # md5-derived uint hash >= 0
    "sketch_quantile_histogram": 1,  # non-negative rank/width
    "dedup_embedding_cosine": 2,     # squared norms >= 0
    "cosine_topk_ivf_pq": 3,         # norms / subspace index >= 0
    "cosine_topk_ivf_pq_probed": 3,  # same shapes as _pq
    "ann_join_topk": 4,              # band index / count // 64, >= 0
    "maxsim_late_interaction": 1,    # squared norm >= 0
    "hybrid_rank_fusion_rrf": 2,     # rank >= 1
    "recursive_cte_hierarchy": 1,    # id arithmetic >= 0
    "streaming_quantile_histogram": 1,  # non-negative width
    "streaming_stream_join_outer": 4,   # epoch-ms buckets >= 0
    "streaming_sessionize": 2,       # epoch-ms buckets >= 0
}


def _bare_floordiv_count(sql: str) -> int:
    """Count `//` occurrences NOT using the exact-floor pmod spelling
    (heuristic: the pmod form has two `%` within the preceding 100
    chars — `((x % d) + d) % d`)."""
    import re

    return sum(
        1
        for m in re.finditer(r"//", sql)
        if sql[max(0, m.start() - 100):m.start()].count("%") < 2
    )


def test_oracle_floordiv_lint():
    """No oracle may gain a bare integer `//` beyond its audited budget
    (see _BARE_FLOORDIV_BUDGET). Red on a seeded violation, green on
    the registry."""
    # seeded violation: the detector must flag a bare // and must NOT
    # flag the exact-floor pmod spelling
    assert _bare_floordiv_count("SELECT a // b FROM t") == 1
    assert _bare_floordiv_count(
        "SELECT (a - ((a % b) + b) % b) // b FROM t"
    ) == 0

    over = {}
    for name, qd in all_queries().items():
        if qd.oracle is None:
            continue
        n = _bare_floordiv_count(qd.oracle)
        budget = _BARE_FLOORDIV_BUDGET.get(name, 0)
        if n > budget:
            over[name] = (n, budget)
    assert not over, (
        f"bare `//` beyond audited budget (DuckDB truncates, numpy "
        f"floors — use the pmod spelling or re-audit and bump "
        f"_BARE_FLOORDIV_BUDGET): {over}"
    )


def _latest_green(evidence_dir):
    """{query: latest round with a green driver hash}, CORRECTNESS_r<N>.json."""
    import json
    import re

    out = {}
    for path in evidence_dir.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        for name, row in json.loads(path.read_text()).items():
            if m and row.get("hash_match") is True:
                out[name] = max(out.get(name, 0), int(m.group(1)))
    return out


def test_next_window_plan_valid(tmp_path):
    """The driver checks the first 50 entries of all_queries() against
    DuckDB. Those 50 must be the window computed from the committed
    CORRECTNESS artifacts: 50 unique, registered names, none of them
    rows-only (a window slot must buy hash evidence), and every oracled
    query that has never had a green driver hash among them."""
    import shutil
    from pathlib import Path

    import __spark_entry__ as entry
    from xml_hive_spark.operators import REGISTRY, driver_window

    root = Path(__file__).resolve().parents[1]
    reg = all_queries()
    window = list(reg)[:50]
    assert window == driver_window(REGISTRY, root)
    assert len(set(window)) == 50, "duplicate names in the window"
    unknown = [n for n in window if n not in REGISTRY]
    assert not unknown, f"unregistered names: {unknown}"
    oracles = entry.oracle_sql()
    rows_only = [n for n in window if n not in oracles]
    assert not rows_only, f"rows-only entries waste window slots: {rows_only}"
    green = _latest_green(root)
    never = [n for n in oracles if n not in green]
    assert set(never) <= set(window), never

    # pinned evidence (rounds 1-14): plagiarism_detect, added in r13, had
    # no driver row, and the whole r9-vintage cohort was the oldest
    for path in root.glob("CORRECTNESS_r*.json"):
        if int(path.stem.rsplit("_r", 1)[1]) <= 14:
            shutil.copy(path, tmp_path)
    pinned = driver_window(REGISTRY, tmp_path)
    assert "plagiarism_detect" in pinned
    r14 = _latest_green(tmp_path)
    r9_vintage = [n for n in oracles if r14.get(n) == 9]
    assert len(r9_vintage) == 42
    assert set(r9_vintage) <= set(pinned)


def _oracled():
    from xml_hive_spark.operators import REGISTRY

    all_queries()
    return [n for n, qd in REGISTRY.items() if qd.oracle is not None]


def _write_round(d, rnd, rows):
    import json

    (d / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(
        {n: {"rows_match": True, "hash_match": h} for n, h in rows.items()}
    ))


def test_driver_window_without_evidence(tmp_path, monkeypatch):
    import xml_hive_spark.operators as ops

    monkeypatch.setattr(ops, "_LEAD", {})
    assert ops.driver_window(ops.REGISTRY, tmp_path) == _oracled()[:50]


def test_driver_window_null_hash_is_no_evidence(tmp_path, monkeypatch):
    import xml_hive_spark.operators as ops

    monkeypatch.setattr(ops, "_LEAD", {})
    oracled = _oracled()
    first = oracled[0]
    _write_round(tmp_path, 1, {first: None})  # rows-only driver row
    assert ops.driver_window(ops.REGISTRY, tmp_path) == oracled[:50]
    _write_round(tmp_path, 2, {first: False})  # a red hash is no evidence
    assert ops.driver_window(ops.REGISTRY, tmp_path) == oracled[:50]
    _write_round(tmp_path, 3, {first: True})
    # the only hashed query rotates behind every never-checked one
    assert ops.driver_window(ops.REGISTRY, tmp_path) == oracled[1:51]


def test_driver_window_lead_expires(tmp_path, monkeypatch):
    import xml_hive_spark.operators as ops

    oracled = _oracled()
    name = oracled[-1]
    monkeypatch.setattr(ops, "_LEAD", {name: 15})
    assert ops.driver_window(ops.REGISTRY, tmp_path) == [name] + oracled[:49]
    _write_round(tmp_path, 14, {name: True})  # older than the owed round
    assert ops.driver_window(ops.REGISTRY, tmp_path)[0] == name
    _write_round(tmp_path, 15, {name: True})
    assert ops.driver_window(ops.REGISTRY, tmp_path) == oracled[:50]


def test_driver_window_rejects_unregistered_lead(tmp_path, monkeypatch):
    import xml_hive_spark.operators as ops

    all_queries()
    monkeypatch.setattr(ops, "_LEAD", {"no_such_query": 15})
    with pytest.raises(KeyError, match="no_such_query"):
        ops.driver_window(ops.REGISTRY, tmp_path)
