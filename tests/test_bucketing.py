"""Bucketed co-located join: pre-bucketing both sides on the join key
eliminates the shuffle — the SCALE.md strategy for repeated fact-to-fact
joins. Evidence: the bucketed sort-merge join plan contains no
hash-partitioning Exchange, and results equal the plain join."""

from __future__ import annotations


import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("bkt"))
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # external bucketed tables (explicit path → no warehouse-dir reliance)
    (orders.write.mode("overwrite").bucketBy(8, "o_orderkey")
     .sortBy("o_orderkey").option("path", d + "/orders_b")
     .saveAsTable("orders_b"))
    (li.write.mode("overwrite").bucketBy(8, "l_orderkey")
     .sortBy("l_orderkey").option("path", d + "/lineitem_b")
     .saveAsTable("lineitem_b"))
    yield orders, li
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_bucketed_join_skips_shuffle(spark, bucketed_tables):
    orders, li = bucketed_tables
    ob, lb = spark.table("orders_b"), spark.table("lineitem_b")
    # force sort-merge join (broadcast would trivially have no hash exchange)
    joined = ob.hint("merge").join(
        lb.hint("merge"), ob.o_orderkey == lb.l_orderkey
    ).select("o_orderkey", "l_linenumber", "o_totalprice")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan[:1500]
    # both sides pre-bucketed on the join key → no shuffle exchange
    assert "Exchange hashpartitioning" not in plan, plan[:2000]

    plain = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        "o_orderkey", "l_linenumber", "o_totalprice"
    )
    assert joined.count() == plain.count()
    a = joined.agg(F.sum(F.col("o_totalprice").cast("decimal(30,6)"))).collect()
    b = plain.agg(F.sum(F.col("o_totalprice").cast("decimal(30,6)"))).collect()
    assert a == b


def test_unbucketed_same_join_does_shuffle(spark, sf_dir):
    """Control: the identical join over plain parquet DOES shuffle —
    proving the bucketing (not something else) removed the exchange."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    joined = orders.hint("merge").join(
        li.hint("merge"), orders.o_orderkey == li.l_orderkey
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" in plan


def test_registry_query_keeps_one_table_pair_per_sf(spark, sf_dir, tmp_path):
    """``bucketed_join_colocated`` rewrites the same two catalog tables
    on every build instead of adding a pair per build, so its plan is
    the same from one build to the next. The sf is a fresh directory
    (links to the driver tables) whose tables no earlier test built."""
    import contextlib
    import io
    import os
    import re

    from xml_hive_spark.operators import all_queries

    for name in ("orders", "lineitem"):
        os.symlink(f"{sf_dir}/{name}.parquet", tmp_path / f"{name}.parquet")
    build = all_queries()["bucketed_join_colocated"].fn

    def plan():
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            build(spark, str(tmp_path)).explain("formatted")
        return re.sub(r"#\d+L?|plan_id=\d+", "#", out.getvalue())

    before = len(spark.catalog.listTables())
    first = plan()
    second = plan()
    assert len(spark.catalog.listTables()) == before + 2
    assert first == second


def test_registry_query_writes_its_tables_once_per_source_state(spark, sf_dir, tmp_path):
    """A second build of ``bucketed_join_colocated`` on unchanged source
    tables starts no Spark job; a build after a source file changes
    rewrites the pair. Every build returns the same rows."""
    import os
    import shutil

    from xml_hive_spark.operators import all_queries

    for name in ("orders", "lineitem"):
        os.symlink(f"{sf_dir}/{name}.parquet", tmp_path / f"{name}.parquet")
    build = all_queries()["bucketed_join_colocated"].fn
    expected = build(spark, str(tmp_path)).collect()
    sc = spark.sparkContext

    def build_jobs(group):
        sc.setJobGroup(group, group, False)
        try:
            df = build(spark, str(tmp_path))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return df, sc.statusTracker().getJobIdsForGroup(group)

    df, jobs = build_jobs("bkt-unchanged")
    assert jobs == []
    assert df.collect() == expected

    os.unlink(tmp_path / "orders.parquet")
    shutil.copy(f"{sf_dir}/orders.parquet", tmp_path / "orders.parquet")
    df, jobs = build_jobs("bkt-changed")
    assert jobs
    assert df.collect() == expected
