"""SparkSession factory with scale-oriented defaults.

Runs at ``local[<CPUs this process may use>]`` unless ``cpus`` or
``SPARK_GRAFT_CPUS`` says otherwise. The other knobs are what you'd set
on a 1000-executor cluster: AQE on (runtime re-planning, skew-join
handling, partition coalescing), Arrow for any Python↔JVM batch
transfer, UTC session time so timestamp semantics don't depend on
cluster locale. ``stat_checked_zip_caches`` fits the Python workers'
import caches to how often pyspark invalidates them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


_SCRATCH_ROOT: str | None = None


def stat_checked_zip_caches() -> None:
    """In a Spark Python worker, make ``zipimporter.invalidate_caches``
    re-read an archive only when its ``(st_ino, st_size, st_mtime_ns)``
    differs from the last read.

    pyspark calls ``importlib.invalidate_caches()`` before every task and
    every DataSource planner call; on CPython 3.11/3.12 each cached
    zipimporter then re-reads its archive's whole central directory, and
    a worker holds 12 of them for pyspark.zip (SCALE.md, 2026-10-17,
    "Python workers stop re-reading pyspark.zip"). Import results are
    unchanged: a changed archive is still re-read, an unchanged one keeps
    the directory already read. The driver interpreter is left alone.
    Idempotent."""
    if "PYTHON_WORKER_FACTORY_SECRET" not in os.environ:
        return
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "stat_checked", False):
        return
    stamps: dict[str, tuple[int, int, int] | None] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
            # 3.11/3.12 importers hold their own reference to the directory
            self._files = files
            return
        # stat before reading, so a write during the read shows next time
        stamps[self.archive] = stamp
        reread(self)

    invalidate_caches.stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def scratch_dir(prefix: str) -> str:
    """Fresh directory under ONE per-process scratch root that is removed
    at interpreter exit. Registry queries and streaming harnesses need
    throwaway landing/checkpoint/output dirs per invocation; a bare
    ``tempfile.mkdtemp`` per call leaks across repeated driver/bench runs
    (ADVICE r5)."""
    import tempfile

    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        import atexit
        import shutil

        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="xmlhive-scratch-")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


def get_spark(
    app_name: str = "xml-hive-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        env_cpus = os.environ.get("SPARK_GRAFT_CPUS")
        cpus = int(env_cpus) if env_cpus else len(os.sched_getaffinity(0))
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core; on a real cluster this
        # would be ~2-3x total cores, with AQE coalescing small partitions.
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # let the xmlhive DataSource evaluate pushed predicates before
        # rows cross the Python→JVM boundary (sources/pushdown.py)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # 1 GB/core — the shape a real executor gets (4-8 GB over 4-8
        # cores); the round-1 skeleton's 8g (0.25 GB/core) made join
        # viability depend on "memory weather" at the 100x probe corpus:
        # the staging-table persists alone exceed 8g there and the spill
        # read-ahead threads OOM under GCLocker thrash (r13, measured on
        # plagiarism_detect; the box has 128 GiB for local[32]). Plans
        # are still spill-audited — SHUFFLE_AUDIT records 0 spill bytes
        # at both probe decades for every headline query.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # session-creation-time overrides for tools (e.g. the shuffle audit
    # raises spark.ui.retainedStages so per-query stage-metric deltas
    # survive store eviction); no effect on an already-running session
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Python workers import the package by reference (mapInPandas /
    # applyInPandasWithState closures); ship it so sessions started from
    # any cwd — not just the repo root — resolve it on every worker.
    from xml_hive_spark.sources.xml_datasource import ship_package

    ship_package(spark)
    return spark
