"""SparkSession factory with scale-oriented defaults.

Runs at ``local[<CPUs this process may use>]`` unless ``cpus`` or
``SPARK_GRAFT_CPUS`` says otherwise, with a driver heap of a quarter of
the host's memory unless ``SPARK_DRIVER_MEM`` says otherwise. The other
knobs are what you'd set on a 1000-executor cluster: AQE on (runtime
re-planning, skew-join handling, partition coalescing), Arrow for any
Python↔JVM batch transfer, UTC session time so timestamp semantics
don't depend on cluster locale.

Two fits for the Python workers. A local session's JVM is launched from
:func:`shadow_spark_home`, so its workers import the driver's installed,
compiled pyspark instead of compiling ``$SPARK_HOME/python/lib/pyspark.zip``
(no ``.pyc``) in every pool; :func:`worker_spark_home` keeps the real
home whenever that could run a different pyspark. ``stat_checked_zip_caches``
fits the workers' remaining zip import caches to how often pyspark
invalidates them.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


_SCRATCH_ROOT: str | None = None


def stat_checked_zip_caches() -> None:
    """In a Spark Python worker, make ``zipimporter.invalidate_caches``
    re-read an archive only when its ``(st_ino, st_size, st_mtime_ns)``
    differs from the last read.

    pyspark calls ``importlib.invalidate_caches()`` before every task and
    every DataSource planner call; on CPython 3.11/3.12 each cached
    zipimporter then re-reads its archive's whole central directory
    (SCALE.md, 2026-10-17, "Python workers stop re-reading pyspark.zip").
    A local worker launched from :func:`shadow_spark_home` holds no
    importer for pyspark.zip, but those for the shipped package zip and
    the spark-core jar remain; under the real home it holds 12 more for
    pyspark.zip. Import results are unchanged: a changed archive is still
    re-read, an unchanged one keeps the directory already read. The
    driver interpreter is left alone. Idempotent."""
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


def default_driver_memory(meminfo: str = "/proc/meminfo",
                          proc_cgroup: str = "/proc/self/cgroup",
                          cgroup_root: str = "/sys/fs/cgroup") -> str:
    """A quarter of the smaller of ``MemTotal`` and this process's cgroup
    v2 ``memory.max`` (when set and readable): room for two driver JVMs
    and their Python workers on one host (SCALE.md, 2026-10-18)."""
    with open(meminfo) as f:
        limit = next(int(line.split()[1]) << 10 for line in f if line.startswith("MemTotal:"))
    try:
        with open(proc_cgroup) as f:
            group = next(line[3:].strip() for line in f if line.startswith("0::"))
        with open(os.path.join(cgroup_root, group.lstrip("/"), "memory.max")) as f:
            limit = min(limit, int(f.read()))
    except (OSError, StopIteration, ValueError):  # no v2 group, or "max"
        pass
    return f"{limit // 4 >> 20}m"


def _is_shadow_of(home: str, real: str, entries: list[str]) -> bool:
    """``home`` is a directory this user owns, that no one else may write,
    holding exactly a link ``e -> real/e`` for each of ``entries``."""
    import stat

    try:
        st = os.lstat(home)
        return (stat.S_ISDIR(st.st_mode) and st.st_uid == os.getuid()
                and not st.st_mode & 0o022
                and sorted(os.listdir(home)) == entries
                and all(os.readlink(os.path.join(home, e)) == os.path.join(real, e)
                        for e in entries))
    except OSError:
        return False


def shadow_spark_home(real_home: str) -> str:
    """A directory of symlinks to every entry of ``real_home`` except
    ``python/``. A JVM launched from it hands Python workers a
    ``PYTHONPATH`` naming zips that do not exist, so they import the
    interpreter's installed pyspark.

    Named by the uid and by the real home's path and entries, under the
    temp dir, and published by rename; it is never deleted, because a
    running JVM opens jars through it lazily. A directory found at that
    name is reused only if :func:`_is_shadow_of` holds: the JVM runs
    ``bin/`` and loads ``jars/`` from it. One of this user's that fails
    (say, half-removed by a temp cleaner) is rebuilt; one of another
    user's stays, and this session gets a private directory instead."""
    import hashlib
    import shutil
    import tempfile

    real = os.path.realpath(real_home)
    entries = sorted(e for e in os.listdir(real) if e != "python")
    key = hashlib.sha256("\0".join([real, *entries]).encode()).hexdigest()[:16]
    home = os.path.join(tempfile.gettempdir(), f"xml_hive_spark_home_{os.getuid()}_{key}")
    if _is_shadow_of(home, real, entries):
        return home

    def scratch():
        return tempfile.mkdtemp(prefix=f"{os.path.basename(home)}.tmp", dir=os.path.dirname(home))

    tmp = scratch()
    for e in entries:
        os.symlink(os.path.join(real, e), os.path.join(tmp, e))
    try:  # this user's stale entry at the name: move it aside, then drop it
        if os.lstat(home).st_uid == os.getuid() and not _is_shadow_of(home, real, entries):
            aside = scratch()
            os.replace(home, os.path.join(aside, "stale"))
            shutil.rmtree(aside)
    except OSError:  # absent, or moved by another process meanwhile
        pass
    try:
        os.replace(tmp, home)
        return home
    except OSError:
        pass
    if _is_shadow_of(home, real, entries):  # another process published it first
        shutil.rmtree(tmp)
        return home
    return tmp


def worker_spark_home(master: str, worker_python: str, real_home: str) -> str:
    """The ``SPARK_HOME`` to launch the JVM with: :func:`shadow_spark_home`
    when local workers would then import the very pyspark the driver runs,
    otherwise ``real_home``.

    Kept real when this process already has a py4j gateway (pyspark then
    launches no JVM, even after ``spark.stop()``), the master is not
    local, the driver's pyspark version is not the home's ``spark-core``
    jar version, or ``worker_python`` resolves ``pyspark`` to another
    ``__init__.py`` (asked of the interpreter itself: a pyenv shim names
    no file)."""
    import glob
    import subprocess

    import pyspark
    from pyspark import SparkContext

    if SparkContext._gateway is not None:
        return real_home
    if not re.fullmatch(r"local(\[[^\]]*\])?", master):
        return real_home
    if not glob.glob(os.path.join(real_home, "jars", f"spark-core_*-{pyspark.__version__}.jar")):
        return real_home
    try:
        found = subprocess.run(
            [worker_python, "-c",
             "import importlib.util; print(importlib.util.find_spec('pyspark').origin)"],
            capture_output=True, text=True, timeout=60)
    except (OSError, subprocess.TimeoutExpired):
        return real_home
    origin = found.stdout.strip()
    if found.returncode != 0 or os.path.realpath(origin) != os.path.realpath(pyspark.__file__):
        return real_home
    return shadow_spark_home(real_home)


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
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # session-creation-time overrides for tools (e.g. the shuffle audit
    # raises spark.ui.retainedStages so per-query stage-metric deltas
    # survive store eviction); no effect on an already-running session
    extra_conf = extra_conf or {}
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    from pyspark.find_spark_home import _find_spark_home

    real_home = _find_spark_home()
    home = worker_spark_home(
        extra_conf.get("spark.master", f"local[{cpus}]"),
        extra_conf.get("spark.pyspark.python") or os.environ.get("PYSPARK_PYTHON") or "python3",
        real_home)
    saved = os.environ.get("SPARK_HOME")
    os.environ["SPARK_HOME"] = home
    try:
        spark = builder.getOrCreate()
    finally:  # only the launched JVM sees the shadow home
        if saved is None:
            del os.environ["SPARK_HOME"]
        else:
            os.environ["SPARK_HOME"] = saved
    # Python workers import the package by reference (mapInPandas /
    # applyInPandasWithState closures); ship it so sessions started from
    # any cwd — not just the repo root — resolve it on every worker.
    from xml_hive_spark.sources.xml_datasource import ship_package

    ship_package(spark)
    return spark
