"""Query-scoped persistence: every relation a query build persists goes
through ``operators.persisted`` and is released when the next query
starts, so a query plans the same whatever ran before it in the session.
A lint keeps ``persist``/``cache`` inside ``persisted``."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from test_map_rows import call_sites

from xml_hive_spark.operators import REGISTRY, all_queries

PERSIST = ("persist", "cache")


def _plan(df) -> str:
    """``df``'s formatted plan with expression ids, plan ids and lambda
    variable numbers masked (they count up through the session)."""
    text = df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    text = re.sub(r"#\d+L?|plan_id=\d+", "#", text)
    return re.sub(r"\blambda (\w+?)_\d+", r"lambda \1_", text)


def _cached(spark) -> int:
    return int(spark._jsparkSession.sharedState().cacheManager().numCachedEntries())


def test_persist_only_in_persisted_lint():
    """Package code persists only through ``operators.persisted``, so no
    call site picks its own cache lifetime. Red on a seeded violation,
    green on the package."""
    seeded = (
        "def build(df):\n"
        "    return df.groupBy('k').count().persist()\n"
        "side = lambda df: df.cache()\n"
    )
    assert call_sites(seeded, PERSIST) == {("build", "persist"), ("<module>", "cache")}

    pkg = Path(__file__).resolve().parent.parent / "xml_hive_spark"
    found = {
        (str(p.relative_to(pkg)), fn, call)
        for p in sorted(pkg.rglob("*.py"))
        for fn, call in call_sites(p.read_text(), PERSIST)
    }
    assert found == {("operators/__init__.py", "persisted", "persist")}


@pytest.mark.parametrize("name", ["image_phash_dedup", "setsim_join_prefix",
                                  "graph_triangles"])
def test_repeat_build_plans_alike(spark, sf_dir, name):
    """A query built again after an action on its first build plans as
    the first build did, not against the first build's caches."""
    build = all_queries()[name].fn
    first = build(spark, sf_dir)
    before = _plan(first)
    first.collect()
    assert _plan(build(spark, sf_dir)) == before


def test_plan_does_not_depend_on_the_previous_query(spark, sf_dir):
    """``setsim_containment_join`` after ``plagiarism_detect`` (both build
    on ``containment_pairs``) plans as it does in a cleared session."""
    reg = all_queries()
    spark.catalog.clearCache()
    alone = _plan(reg["setsim_containment_join"].fn(spark, sf_dir))
    spark.catalog.clearCache()
    reg["plagiarism_detect"].fn(spark, sf_dir).collect()
    assert _plan(reg["setsim_containment_join"].fn(spark, sf_dir)) == alone


def test_next_query_releases_the_previous_querys_relations(spark, sf_dir):
    """After query B builds, the cache manager holds B's relations only."""
    reg = all_queries()
    spark.catalog.clearCache()
    reg["graph_triangles"].fn(spark, sf_dir)
    own = _cached(spark)
    assert own > 0
    spark.catalog.clearCache()
    reg["image_phash_dedup"].fn(spark, sf_dir).collect()
    reg["graph_triangles"].fn(spark, sf_dir)
    assert _cached(spark) == own


def test_nested_query_keeps_the_outer_querys_relations(spark):
    """A query that builds on another keeps what it persisted before the
    inner call; the next outermost call releases it."""
    from xml_hive_spark.operators import persisted, query

    @query("_scope_inner")
    def inner(spark, sf):
        return spark.range(3)

    @query("_scope_outer")
    def outer(spark, sf):
        base = persisted(spark.range(5))
        inner(spark, sf)
        return base

    try:
        spark.catalog.clearCache()
        outer(spark, "unused")
        assert _cached(spark) == 1
        inner(spark, "unused")
        assert _cached(spark) == 0
    finally:
        REGISTRY.pop("_scope_inner")
        REGISTRY.pop("_scope_outer")
