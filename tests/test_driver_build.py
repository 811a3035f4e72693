"""Driver-side query building: a repeated build starts no Spark job but
parquet schema inference, and Column building walks no stack."""

from __future__ import annotations

import json
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
#: queries whose build runs Spark jobs by design: k-means iterations
#: collect their centroids on the driver
BUILD_TIME_JOBS = ("cosine_topk_ivf_kmeans",)
#: the stage name of ``spark.read.parquet``'s footer-inference job
FOOTER = "parquet at "


def _build_queries() -> list[str]:
    from perfbench.workloads import REGISTRY_JVM, REGISTRY_PYTHON

    audited = json.loads((REPO / "SHUFFLE_AUDIT_r16_c4.json").read_text())["queries"]
    return sorted(set(REGISTRY_PYTHON + REGISTRY_JVM) | set(audited))


def test_repeated_build_starts_only_footer_jobs(spark, sf_dir, monkeypatch):
    """Every registry_mix and audited query, built twice: the second build
    (indexes loaded) starts no Spark job before its action other than
    schema inference, one job at most per ``read.parquet`` call (a
    parquet write's job has the same stage name; the count keeps it out)."""
    from pyspark.sql import DataFrameReader

    from xml_hive_spark.operators import all_queries

    reads = []
    parquet = DataFrameReader.parquet

    def counted(self, *paths, **options):
        reads.append(paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", counted)
    reg = all_queries()
    sc = spark.sparkContext
    st = sc.statusTracker()
    stages, n_reads = {}, {}
    try:
        for name in _build_queries():
            reg[name].fn(spark, sf_dir)
            group = f"driver-build {name}"
            reads.clear()
            sc.setJobGroup(group, group, False)
            try:
                reg[name].fn(spark, sf_dir)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            stages[name] = [st.getStageInfo(s).name
                            for j in st.getJobIdsForGroup(group)
                            for s in st.getJobInfo(j).stageIds]
            n_reads[name] = len(reads)
    finally:
        spark.catalog.clearCache()
    other = {n: [s for s in names if not s.startswith(FOOTER)]
             for n, names in stages.items()}
    started = {n: s for n, s in other.items() if s and n not in BUILD_TIME_JOBS}
    assert not started, f"repeat builds that start jobs: {started}"
    over = {n: (len(s) - len(other[n]), n_reads[n]) for n, s in stages.items()
            if len(s) - len(other[n]) > n_reads[n]}
    assert not over, f"(footer-named stages, parquet reads): {over}"
    assert all(other[n] for n in BUILD_TIME_JOBS)  # the list names live cases


def test_call_site_capture_is_off(spark):
    """get_spark's default: building a Column walks no stack."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
