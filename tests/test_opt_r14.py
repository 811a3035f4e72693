"""Round-14 optimization pins: each test freezes an equivalence or plan
property a specific r14 change relies on, so a regression that re-breaks
the optimization fails loudly rather than silently losing the win."""
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.test_opt_r13 import plan_of
from xml_hive_spark.operators import t


def test_curation_dedup_is_hash_aggregate_no_sorts(spark, sf_dir):
    """r14 change 1: the packed-decimal dedup encoding keeps every
    aggregation buffer UnsafeRow-mutable, so the whole pipeline plans
    with ZERO SortAggregate nodes (the r13 struct-min buffer forced a
    map-side AND reduce-side sort around the dedup exchange)."""
    plan = plan_of(spark, sf_dir, "corpus_curation_pipeline")
    assert "SortAggregate" not in plan, plan
    assert "Window" not in plan, plan


def test_curation_packed_min_is_rep_row(spark, sf_dir):
    """r14 change 1: dedup_min_id_reps (two packed DECIMAL(38,0) mins,
    doc_id-major ordering) must pick exactly the min-doc_id row's
    (lang, n_chars) — value-for-value equal to the window dedup on the
    real corpus, including the unhex(md5) group-key narrowing."""
    from xml_hive_spark.operators.curation import dedup_min_id_reps

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
    new = dedup_min_id_reps(docs)
    assert sorted(map(tuple, old.collect())) == sorted(
        map(tuple, new.collect())
    )


def test_curation_packed_encoding_domain_guards_raise(spark, sf_dir):
    """The packed encoding fails LOUDLY outside its domain (n_chars
    beyond the 10^12 slot; lang whose bytes don't round-trip through
    the no-leading-zero hex path) instead of silently mis-decoding."""
    import pytest
    from xml_hive_spark.operators.curation import dedup_min_id_reps

    bad_chars = spark.createDataFrame(
        [(1, "x", "en", 10**12)], "doc_id long, text string, lang string, n_chars long"
    )
    with pytest.raises(Exception, match="DOMAIN ERROR"):
        dedup_min_id_reps(bad_chars).collect()
    bad_lang = spark.createDataFrame(
        [(1, "x", "\x01x", 5)], "doc_id long, text string, lang string, n_chars long"
    )
    with pytest.raises(Exception, match="DOMAIN ERROR"):
        dedup_min_id_reps(bad_lang).collect()
    # multi-byte UTF-8 and 7-byte codes are INSIDE the domain
    ok = spark.createDataFrame(
        [(1, "x", "zh-日", 5), (2, "y", "pt-BR56", 7)],
        "doc_id long, text string, lang string, n_chars long",
    )
    got = {(r.doc_id, r.lang, r.n_chars) for r in dedup_min_id_reps(ok).collect()}
    assert got == {(1, "zh-日", 5), (2, "pt-BR56", 7)}


@pytest.mark.parametrize(
    "reducer", [{"threshold": 0.25}, {"k": 5}], ids=["threshold", "topk"]
)
def test_cosine_kernel_sources_bit_identical(spark, sf_dir, reducer):
    """Each reducer of the cosine pair kernel must give BIT-identical
    rows under both vector sources (side-load: ids-only Arrow crossing +
    per-task parquet vector load; attach: vectors joined onto every
    pair) on the full bench corpus. Both sources stay live: attach runs
    beyond _SIDELOAD_CAP and for in-memory inputs."""
    from xml_hive_spark.operators import table_rows
    from xml_hive_spark.operators import similarity as S

    emb = t(spark, sf_dir, "embeddings")
    n = table_rows(sf_dir, "embeddings")
    r = min(30, max(5, (n // 64).bit_length() - 1))
    sigs = (
        S.banded_signatures(emb, "vec_id", "embedding",
                            bands=16, rows_per_band=r)
        .select("id", "sig").persist()
    )
    cand = sigs.select("id", F.posexplode("sig").alias("band", "bucket"))
    a = cand.select("band", "bucket", F.col("id").alias("qid"))
    b = cand.select("band", "bucket", F.col("id").alias("nid"))
    uniq = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("qid") < F.col("nid"))
        .select("qid", "nid").distinct()
    )
    attach = S.score_candidates(
        uniq, emb.select("vec_id", "embedding"), n, None, **reducer
    )
    side = S.cosine_pair_kernel(
        uniq, vec_path=f"{sf_dir}/embeddings.parquet", **reducer
    )

    # partial top-k is partition-dependent; compare after the same
    # deterministic global cut ann_join_topk applies
    def cut(df):
        if "k" not in reducer:
            return df
        w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "nid")
        return (df.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= 5)
                .select("qid", "nid", F.round("cos_sim", 4), "rank"))
    got = sorted(map(tuple, cut(side).collect()))
    assert got and got == sorted(map(tuple, cut(attach).collect()))
    sigs.unpersist()


def test_ann_join_ships_ids_only_into_arrow(spark, sf_dir):
    """r14 change 2 plan pin: at bench SF the scoring MapInArrow's input
    carries NO vector column — (qid, nid) only; the old shape attached
    qe/ne (~528 B/row) onto every candidate pair before the boundary."""
    plan = plan_of(spark, sf_dir, "ann_join_topk")
    i = plan.index("MapInArrow")
    line = plan[i:].splitlines()[0]
    assert "qe" not in line and "ne" not in line and "embedding" not in line, line


def test_embedding_cosine_sideload_slims_signature_cache(spark, sf_dir):
    """With the side-loaded verify nothing reads ``vec`` from the
    persisted signature store, so the cache must hold (id, sig) only
    (the ann_join_topk r13 slimming applied to the sibling pipeline)."""
    plan = plan_of(spark, sf_dir, "dedup_embedding_cosine")
    i = plan.index("InMemoryRelation")
    line = plan[i:].splitlines()[0]
    assert "vec" not in line.replace("vec_id", ""), line
