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

One fit for the driver JVM's start: it maps Spark's classes from a
dynamic class-data-sharing archive (:func:`class_archive_options`), which
the first session of a JDK and Spark install dumps at exit and later
sessions map; :func:`cds_state` says which. The archive and the shadow
home live in :func:`cache_dir`, regenerable per-user install state:
``rm -rf ~/.cache/xml_hive_spark`` resets both.

Every file the engine keeps outside a query's result has one of three
homes, all defined here. Output only this process reads (round-trip
tables, the time-travel history, the shipped package zip, checkpoints)
goes under :func:`scratch_dir`, removed at interpreter exit. Caches this
user's processes share (the XML split-plan cache, the IVF-PQ index
store, the generated bench XML) live in :func:`owned_store`, one
``$TMPDIR/xmlhive_<name>_<uid>`` directory each, keyed by
:func:`file_stamp` of their inputs. Install state (the shadow Spark home
and the class-data-sharing archive) lives in :func:`cache_dir`.
"""

from __future__ import annotations

import os
import re
import stat

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
    ``tempfile.mkdtemp`` per call leaks across repeated driver/bench runs."""
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


def _own(path: str, kind) -> os.stat_result | None:
    """``lstat`` of ``path`` when it is a ``kind`` (``stat.S_ISDIR`` or
    ``stat.S_ISREG``, so never a symlink) that this user owns and no one
    else may write; otherwise None."""
    try:
        st = os.lstat(path)
    except OSError:
        return None
    ok = kind(st.st_mode) and st.st_uid == os.getuid() and not st.st_mode & 0o022
    return st if ok else None


def _private_dir(path: str) -> str | None:
    """``path``, created with mode 0700 if missing; None unless it is a
    directory (not a symlink) this user owns with mode 0700."""
    try:
        os.makedirs(path, mode=0o700, exist_ok=True)
    except OSError:
        return None
    st = _own(path, stat.S_ISDIR)
    return path if st is not None and stat.S_IMODE(st.st_mode) == 0o700 else None


def cache_dir() -> str | None:
    """This user's cache directory, ``$XDG_CACHE_HOME/xml_hive_spark``
    (else ``~/.cache/xml_hive_spark``), per :func:`_private_dir`: the
    shadow Spark home and the class-data-sharing archive in it decide
    what the JVM runs and maps."""
    base = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(base):
        base = os.path.join(os.path.expanduser("~"), ".cache")
    return _private_dir(os.path.join(base, "xml_hive_spark"))


def owned_store(name: str) -> str | None:
    """``$TMPDIR/xmlhive_<name>_<uid>`` per :func:`_private_dir`: a cache
    this user's processes share. Its entries are published by rename and
    keyed by what they were built from, so any of them may be reused."""
    import tempfile

    return _private_dir(os.path.join(tempfile.gettempdir(), f"xmlhive_{name}_{os.getuid()}"))


def file_stamp(paths) -> tuple | None:
    """``((path, size, mtime_ns), ...)`` of ``paths``, the key by which an
    :func:`owned_store` entry built from them is reused (any rewrite
    changes it); None when one cannot be stat-ed."""
    try:
        return tuple((str(p), (st := os.stat(p)).st_size, st.st_mtime_ns) for p in paths)
    except OSError:
        return None


def _shadow_layout(real: str) -> dict[str, str | None]:
    """Entry name -> link target in a shadow of the Spark home ``real``;
    None for ``conf``, an empty directory, when the real one holds only
    ``*.template`` files (so no non-empty directory is on the JVM's class
    path and a class-data-sharing archive can be dumped)."""
    layout: dict[str, str | None] = {
        e: os.path.join(real, e) for e in os.listdir(real) if e != "python"}
    conf = os.path.join(real, "conf")
    if os.path.isdir(conf) and all(e.endswith(".template") for e in os.listdir(conf)):
        layout["conf"] = None
    return layout


def _is_shadow_of(home: str, layout: dict[str, str | None]) -> bool:
    """``home`` is a directory this user owns, that no one else may write,
    holding exactly ``layout``: a link per target, an empty directory of
    the same trust per None."""

    def holds(name, target):
        path = os.path.join(home, name)
        if target is None:
            return _own(path, stat.S_ISDIR) is not None and not os.listdir(path)
        return os.readlink(path) == target

    try:
        return (_own(home, stat.S_ISDIR) is not None
                and sorted(os.listdir(home)) == sorted(layout)
                and all(holds(e, t) for e, t in layout.items()))
    except OSError:
        return False


def shadow_spark_home(real_home: str) -> str:
    """A directory of symlinks to every entry of ``real_home`` except
    ``python/`` (and with an empty ``conf/`` per :func:`_shadow_layout`).
    A JVM launched from it hands Python workers a ``PYTHONPATH`` naming
    zips that do not exist, so they import the interpreter's installed
    pyspark.

    Named by the uid and by a hash of the real home's path and layout,
    in :func:`cache_dir` (else the temp dir), and published by rename; it
    is never deleted, because a running JVM opens jars through it lazily,
    and it stays at one path, because a class-data-sharing archive
    records the class path it was dumped with. A directory found at that
    name is reused only if :func:`_is_shadow_of` holds: the JVM runs
    ``bin/`` and loads ``jars/`` from it. One of this user's that fails
    (say, half-removed by a temp cleaner) is rebuilt; one of another
    user's stays, and this session gets a private directory instead."""
    import hashlib
    import shutil
    import tempfile

    real = os.path.realpath(real_home)
    layout = _shadow_layout(real)
    key = hashlib.sha256("\0".join(
        [real, *(f"{e}={layout[e] or ''}" for e in sorted(layout))]).encode()).hexdigest()[:16]
    parent = cache_dir() or tempfile.gettempdir()
    home = os.path.join(parent, f"xml_hive_spark_home_{os.getuid()}_{key}")
    if _is_shadow_of(home, layout):
        return home

    def scratch():
        return tempfile.mkdtemp(prefix=f"{os.path.basename(home)}.tmp", dir=parent)

    tmp = scratch()
    for e, target in layout.items():
        if target is None:
            os.mkdir(os.path.join(tmp, e), 0o755)
        else:
            os.symlink(target, os.path.join(tmp, e))
    try:  # this user's stale entry at the name: move it aside, then drop it
        if os.lstat(home).st_uid == os.getuid() and not _is_shadow_of(home, layout):
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
    if _is_shadow_of(home, layout):  # another process published it first
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


_CDS: dict[str, str] = {"state": "off", "detail": "this process launched no driver JVM"}
_SAFE_PATH = re.compile(r"[\w./+@-]+")  # passes through extraJavaOptions unquoted
_TMP_NAME = re.compile(r"cds-[0-9a-f]+(?:\.jsa|\.(\d+)\.tmp)")


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except OSError:  # exists, but not ours to signal
        pass
    return True


def _archive_key(home: str) -> str | None:
    """A hash of the ``java`` that ``bin/spark-class`` runs
    (``$JAVA_HOME/bin/java``, else ``java`` on ``PATH``), that JDK's
    ``release`` file, and the entries of ``home/jars`` with their size and
    ``mtime_ns``; None when there is no such ``java``."""
    import hashlib
    import shutil

    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java or not os.path.isfile(java):
        return None
    java = os.path.realpath(java)
    digest = hashlib.sha256(java.encode() + b"\0")
    try:
        with open(os.path.join(os.path.dirname(os.path.dirname(java)), "release"), "rb") as f:
            digest.update(f.read())
    except OSError:
        pass
    jars = os.path.join(home, "jars")
    for e in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, e))
        digest.update(f"\0{jars}/{e}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return digest.hexdigest()[:16]


def class_archive_options(home: str, conf: dict[str, str]) -> list[str]:
    """JVM options that start a driver launched from ``home`` (with the
    session settings ``conf``) from this user's dynamic class-data-sharing
    (CDS) archive of Spark's classes, recording what they do for
    :func:`cds_state`.

    The archive is ``cds-<key>.jsa`` in :func:`cache_dir`, keyed by
    :func:`_archive_key`. When it is there and :func:`_own` holds, the JVM
    maps it (``-XX:SharedArchiveFile``). When it is absent, the JVM dumps
    the classes it loaded to ``cds-<key>.<pid>.tmp`` at exit
    (``-XX:ArchiveClassesAtExit``) and :func:`_publish_archive` renames it.
    The JVM's CDS log goes to a file under :func:`scratch_dir`, never to
    the terminal.

    No options (state ``off``) when the caller sets CDS options, something
    else may put a non-empty directory on the class path (the JVM then
    exits 1 after its dump), the archive fails :func:`_own`, or another
    live process is writing it."""
    import glob

    global _CDS

    def off(why):
        global _CDS
        _CDS = {"state": "off", "detail": why}
        return []

    if re.search(r"Xshare|SharedArchiveFile|ArchiveClassesAtExit",
                 conf.get("spark.driver.extraJavaOptions", "")):
        return off("the caller sets class-data-sharing options")
    extra = [k for k in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
             if os.environ.get(k)]
    if conf.get("spark.driver.extraClassPath"):
        extra.append("spark.driver.extraClassPath")
    if os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell") != "pyspark-shell":
        extra.append("PYSPARK_SUBMIT_ARGS")
    if extra:
        return off(f"{extra[0]} may put a non-empty directory on the class path")
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(home, "conf")
    try:
        filled = bool(os.listdir(conf_dir))
    except OSError:
        filled = True
    if filled:
        return off(f"{conf_dir} on the class path is not an empty directory")
    cache = cache_dir()
    if cache is None:
        return off("no cache directory of this user's with mode 0700")
    try:
        key = _archive_key(home)
    except OSError as exc:
        return off(f"cannot list Spark's jars: {exc}")
    if key is None:
        return off("no java to key the archive by")
    archive = os.path.join(cache, f"cds-{key}.jsa")
    log = os.path.join(scratch_dir("cds-"), "cds.log")
    if not (_SAFE_PATH.fullmatch(archive) and _SAFE_PATH.fullmatch(log)):
        return off("the cache or temp path would need quoting in extraJavaOptions")
    if os.path.lexists(archive):
        if _own(archive, stat.S_ISREG) is None:
            return off(f"{archive} is not a regular file of this user's that only they may write")
        _CDS = {"state": "mapping", "detail": archive, "log": log}
        flag = f"-XX:SharedArchiveFile={archive}"
    else:
        for p in glob.glob(os.path.join(cache, f"cds-{key}.*.tmp")):
            m = _TMP_NAME.fullmatch(os.path.basename(p))
            if m and int(m[1]) != os.getpid() and _alive(int(m[1])):
                return off(f"another process is writing {p}")
        tmp = os.path.join(cache, f"cds-{key}.{os.getpid()}.tmp")
        _CDS = {"state": "writing", "detail": tmp, "archive": archive, "log": log}
        flag = f"-XX:ArchiveClassesAtExit={tmp}"
    return [flag, "-Xlog:cds*=off", f"-Xlog:cds:file={log}"]


def _publish_archive(proc, tmp: str, archive: str) -> bool:
    """Run at interpreter exit by the session whose JVM dumps the archive:
    close the gateway JVM's stdin (``PythonGatewayServer`` exits on EOF),
    wait for the dump it runs at ``System.exit``, and publish ``tmp`` as
    ``archive`` only if the JVM exited 0, so a partial file is never
    mapped. Then drop archives under other keys and dead writers' temp
    files, leaving one archive in the cache. A running context is stopped
    first, as pyspark's shell does at exit: its accumulator server would
    otherwise print an ``EOFError`` when the JVM goes."""
    import glob
    import subprocess

    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    except (Py4JError, OSError):
        pass
    try:
        proc.stdin.close()
        code = proc.wait(300)  # a dump takes seconds; a hung exit must not hang ours
    except (OSError, subprocess.TimeoutExpired):
        return False
    if code != 0:
        return False
    try:
        os.replace(tmp, archive)
    except OSError:  # no dump, or the cache dir went away meanwhile
        return False
    for p in glob.glob(os.path.join(os.path.dirname(archive), "cds-*")):
        m = _TMP_NAME.fullmatch(os.path.basename(p))
        if m and p != archive and (m[1] is None or not _alive(int(m[1]))):
            try:
                os.unlink(p)
            except OSError:
                pass
    return True


def cds_state() -> tuple[str, str]:
    """What this process's driver JVM does with the class-data-sharing
    archive: ``("mapped", archive)``; ``("refused", the JVM's one-line
    reason)``, read from its CDS log because ``-Xshare:auto`` falls back
    silently; ``("writing", temp file)``, published at interpreter exit;
    or ``("off", why)``."""
    if _CDS["state"] != "mapping":
        return _CDS["state"], _CDS["detail"]
    try:
        with open(_CDS["log"], errors="replace") as f:
            log = f.read()
    except OSError:
        return "refused", "the JVM wrote no class-data-sharing log"
    refused = re.search(r"UseSharedSpaces: (.*)", log)
    if refused:
        return "refused", refused[1].strip()
    if "Mapped dynamic region" in log:
        return "mapped", _CDS["detail"]
    return "refused", "no dynamic archive region was mapped"


def get_spark(
    app_name: str = "xml-hive-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """The session (see the module docstring for its defaults); ``extra_conf``
    entries are set last, at session creation.

    DataFrame call-site capture is off, so building a ``Column`` is one py4j
    call with no stack walk and no IPython import; for call sites in error
    contexts, pass ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``."""
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
        # let the xmlhive DataSource take pushed predicates: each is one
        # Arrow mask on the reader's batches, so dropped rows never cross
        # the Python→JVM boundary (sources/pushdown.py)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
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
    from pyspark import SparkContext

    # a live gateway's JVM exists: its options cannot change
    launching = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    if launching:
        cds = class_archive_options(home, extra_conf)
        if cds:
            builder = builder.config("spark.driver.extraJavaOptions", " ".join(
                [extra_conf.get("spark.driver.extraJavaOptions", ""), *cds]).strip())
    saved = os.environ.get("SPARK_HOME")
    os.environ["SPARK_HOME"] = home
    try:
        spark = builder.getOrCreate()
    finally:  # only the launched JVM sees the shadow home
        if saved is None:
            del os.environ["SPARK_HOME"]
        else:
            os.environ["SPARK_HOME"] = saved
    proc = getattr(SparkContext._gateway, "proc", None)
    if launching and _CDS["state"] == "writing" and proc is not None:
        import atexit

        atexit.register(_publish_archive, proc, _CDS["detail"], _CDS["archive"])
    # Python workers import the package by reference (mapInPandas /
    # applyInPandasWithState closures); ship it so sessions started from
    # any cwd — not just the repo root — resolve it on every worker.
    from xml_hive_spark.sources.xml_datasource import ship_package

    ship_package(spark)
    return spark
