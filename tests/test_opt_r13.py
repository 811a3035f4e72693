"""Round-13 optimization pins: each r13 change gets a test that fails
if the optimized shape regresses (plan-text assertions, same evidence
class as tests/test_plans.py) or if the fast path diverges from the
slow path it replaced (table_rows vs a real Spark count)."""

from __future__ import annotations

from xml_hive_spark.operators import all_queries, t, table_rows


def plan_of(spark, sf_dir, name: str) -> str:
    df = all_queries()[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_curation_pipeline_no_text_through_exchanges(spark, sf_dir):
    """r13 change 1: the curation dedup is a narrow hash/sort aggregate
    keyed on md5(text) — no Window over the corpus, and no exchange
    anywhere in the plan carries the text column (the r7–r12 shape
    shuffled and sorted full text twice)."""
    plan = plan_of(spark, sf_dir, "corpus_curation_pipeline")
    assert "Window" not in plan, plan
    # every Exchange node's input column list must be text-free; in
    # executedPlan().toString() the exchange line carries its output
    for ln in plan.splitlines():
        if "Exchange" in ln and "Broadcast" not in ln:
            assert "text#" not in ln, ln


def test_curation_pipeline_struct_min_is_rep_row(spark, sf_dir):
    """The struct-min aggregate must pick exactly the min-doc_id row's
    (lang, n_chars) — equivalence of the r13 rewrite to the old
    window-on-md5 dedup, checked value-for-value on the real corpus."""
    from pyspark.sql import Window, functions as F

    docs = t(spark, sf_dir, "documents")
    wdd = Window.partitionBy(F.md5(F.col("text").cast("binary")))
    old = (
        docs.select(
            "doc_id", "lang", "n_chars",
            F.min("doc_id").over(wdd).alias("rep"),
        )
        .filter(F.col("doc_id") == F.col("rep"))
        .select("doc_id", "lang", "n_chars")
    )
    new = (
        docs.groupBy(F.md5(F.col("text").cast("binary")).alias("k"))
        .agg(F.min(F.struct("doc_id", "lang", "n_chars")).alias("r"))
        .select("r.doc_id", "r.lang", "r.n_chars")
    )
    assert sorted(map(tuple, old.collect())) == sorted(map(tuple, new.collect()))


def test_codec_roundtrips_single_python_pass(spark, sf_dir):
    """r13 change 4: the fused per-row codec pipelines run exactly ONE
    Python evaluation node — a second MapInPandas would mean payloads
    crossing the Arrow/JVM boundary again."""
    for name in (
        "multimodal_png_codec",
        "multimodal_wav_codec",
        "multimodal_gif_codec",
        "multimodal_jpeg_codec",
        "audio_resample_decimate",
        "multimodal_video_framesample",
        "multimodal_image_augment",
        "multimodal_decode_stub",
        "multimodal_frame_sample",
        "multimodal_resize_stub",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert plan.count("MapInPandas") == 1, (name, plan)


def test_phash_fingerprint_cache_single_python_pass(spark, sf_dir):
    """image_phash_dedup's persisted fingerprint table is built by one
    fused Python pass (synth+decode+hash); the self-join reads the
    cache, so exactly one MapInPandas appears under the InMemoryRelation
    and none elsewhere."""
    plan = plan_of(spark, sf_dir, "image_phash_dedup")
    # the cached subtree prints once per InMemoryTableScan reference;
    # count MapInPandas per unique cache build = 1 (fused), not 2
    cached = [seg for seg in plan.split("InMemoryRelation") if "MapInPandas" in seg]
    assert cached, plan
    for seg in cached:
        assert seg.count("MapInPandas") <= 1, plan


def test_table_rows_matches_spark_count(spark, sf_dir):
    """r13 changes 2/3: the parquet-footer count must equal a real
    Spark count for every driver table it is used on."""
    for name in ("embeddings", "documents"):
        assert table_rows(sf_dir, name) == t(spark, sf_dir, name).count()


def test_missing_table_raises_at_the_footer_read(tmp_path):
    """The driver-side footer reads have no Spark fallback: a missing
    table raises where it is read, not later as a scheduled job."""
    import pytest

    from xml_hive_spark.operators.similarity import _query_batch_rows

    with pytest.raises(FileNotFoundError):
        table_rows(str(tmp_path), "documents")
    with pytest.raises(FileNotFoundError):
        _query_batch_rows(str(tmp_path))


def test_ann_signature_cache_is_ids_and_sigs_only(spark, sf_dir):
    """r13: ann_join_topk's persisted signature table must not store
    the 64-float vectors (the attach side reads the corpus table, so a
    vec column in the cache is dead weight ~10x the signature)."""
    plan = plan_of(spark, sf_dir, "ann_join_topk")
    rel_lines = [ln for ln in plan.splitlines() if "InMemoryRelation" in ln]
    assert rel_lines, plan
    for ln in rel_lines:
        assert "vec#" not in ln, ln
