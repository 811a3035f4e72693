"""Session plumbing: the default core count and driver heap, the Spark
home local workers import pyspark from, the shipped package zip, the
cached Avro probe and the workers' stat-checked zip import caches."""

from __future__ import annotations

import os
import subprocess
import sys
import types
import zipfile

import pytest


def _meminfo(tmp_path, kib=16_000_000):
    path = tmp_path / "meminfo"
    path.write_text(f"MemFree:  1000 kB\nMemTotal:  {kib} kB\n")
    return str(path)


def _cgroup(tmp_path, memory_max):
    tmp_path.mkdir()
    proc = tmp_path / "cgroup"
    proc.write_text("4:memory:/v1\n0::/jobs/one\n")
    root = tmp_path / "fs"
    (root / "jobs" / "one").mkdir(parents=True)
    if memory_max is not None:
        (root / "jobs" / "one" / "memory.max").write_text(memory_max + "\n")
    return str(proc), str(root)


def test_driver_heap_is_a_quarter_of_the_smaller_limit(tmp_path):
    from xml_hive_spark.session import default_driver_memory

    quarter = "3906m"  # of MemTotal, 16e6 KiB
    meminfo = _meminfo(tmp_path)
    # cgroup v2 limit below MemTotal wins
    assert default_driver_memory(meminfo, *_cgroup(tmp_path / "a", str(2 << 30))) == "512m"
    # a limit above MemTotal, "max", no memory.max, or no cgroup file: MemTotal
    for sub, memory_max in (("b", str(64 << 30)), ("c", "max"), ("d", None)):
        assert default_driver_memory(meminfo, *_cgroup(tmp_path / sub, memory_max)) == quarter
    assert default_driver_memory(meminfo, str(tmp_path / "missing"), str(tmp_path)) == quarter


def _fake_home(tmp_path):
    """A Spark home whose spark-core jar carries the driver's pyspark version."""
    import pyspark

    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / f"spark-core_2.13-{pyspark.__version__}.jar").write_bytes(b"")
    (home / "python" / "lib").mkdir(parents=True)
    (home / "python" / "lib" / "pyspark.zip").write_bytes(b"")
    (home / "bin").mkdir()
    (home / "RELEASE").write_text("Spark\n")
    return str(home)


@pytest.fixture
def decide(monkeypatch, tmp_path):
    """``worker_spark_home`` with every condition for the shadow home met
    (no py4j gateway yet, local master, this interpreter as the worker's)."""
    import tempfile

    from pyspark import SparkContext

    from xml_hive_spark import session

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(SparkContext, "_gateway", None)
    home = _fake_home(tmp_path)

    def run(master="local[2]", worker_python=sys.executable):
        return session.worker_spark_home(master, worker_python, home)

    run.home = home
    return run


def test_local_workers_get_the_shadow_home(decide, tmp_path):
    got = decide()
    assert got != decide.home
    assert os.path.dirname(got) == str(tmp_path)
    assert decide("local") == decide("local[*]") == got


def test_real_home_kept_once_a_gateway_runs(decide, monkeypatch):
    """pyspark launches no JVM while its gateway lives, even with no
    active context (after ``spark.stop()``)."""
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert decide() == decide.home


def test_real_home_kept_for_a_non_local_master(decide):
    assert decide("spark://driver:7077") == decide.home
    assert decide("local-cluster[2,1,1024]") == decide.home


def test_real_home_kept_on_a_version_mismatch(decide, monkeypatch):
    import pyspark

    monkeypatch.setattr(pyspark, "__version__", "0.0.1")
    assert decide() == decide.home


def test_real_home_kept_when_the_worker_resolves_another_pyspark(decide, monkeypatch, tmp_path):
    other = tmp_path / "other"
    (other / "pyspark").mkdir(parents=True)
    (other / "pyspark" / "__init__.py").write_text("")
    monkeypatch.setenv("PYTHONPATH", str(other))
    assert decide() == decide.home
    monkeypatch.delenv("PYTHONPATH")
    # an interpreter that cannot start, or has no pyspark at all
    assert decide(worker_python=str(tmp_path / "no-python")) == decide.home
    no_site = tmp_path / "python-no-site"
    no_site.write_text(f"#!/bin/sh\nexec {sys.executable} -S \"$@\"\n")
    no_site.chmod(0o755)
    assert decide(worker_python=str(no_site)) == decide.home


def test_shadow_home_links_all_but_python(tmp_path, monkeypatch):
    import tempfile

    from xml_hive_spark import session

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    (tmp_path / "tmp").mkdir()
    real = _fake_home(tmp_path)
    home = session.shadow_spark_home(real)
    links = sorted(os.listdir(home))
    assert links == sorted(e for e in os.listdir(real) if e != "python")
    for e in links:
        assert os.readlink(os.path.join(home, e)) == os.path.join(real, e)
    # published once, by rename: the same directory, no temp left behind
    assert session.shadow_spark_home(real) == home
    assert os.listdir(tmp_path / "tmp") == [os.path.basename(home)]
    assert sorted(os.listdir(home)) == links

    # another process publishes first: its home stands, ours is removed
    (tmp_path / "tmp2").mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp2"))
    real_replace = os.replace

    def lose_the_race(src, dst):
        os.mkdir(dst)
        for e in links:
            os.symlink(os.path.join(real, e), os.path.join(dst, e))
        real_replace(src, dst)

    monkeypatch.setattr(session.os, "replace", lose_the_race)
    raced = session.shadow_spark_home(real)
    assert os.listdir(tmp_path / "tmp2") == [os.path.basename(raced)]
    assert sorted(os.listdir(raced)) == links


def _tamper(home, how):
    if how == "wrong link":
        os.unlink(os.path.join(home, "jars"))
        os.symlink("/elsewhere/jars", os.path.join(home, "jars"))
    elif how == "missing link":
        os.unlink(os.path.join(home, "bin"))
    elif how == "extra entry":
        os.symlink("/elsewhere/python", os.path.join(home, "python"))
    elif how == "writable by others":
        os.chmod(home, 0o777)
    elif how == "a symlink":
        os.rename(home, home + ".target")
        os.symlink(home + ".target", home)


@pytest.mark.parametrize("how", ["wrong link", "missing link", "extra entry",
                                 "writable by others", "a symlink"])
def test_stale_shadow_home_of_this_user_is_rebuilt(tmp_path, monkeypatch, how):
    import tempfile

    from xml_hive_spark import session

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    (tmp_path / "tmp").mkdir()
    real = _fake_home(tmp_path)
    home = session.shadow_spark_home(real)
    _tamper(home, how)
    assert session.shadow_spark_home(real) == home
    assert not os.path.islink(home) and not os.stat(home).st_mode & 0o022
    assert sorted(os.listdir(home)) == ["RELEASE", "bin", "jars"]
    for e in os.listdir(home):
        assert os.readlink(os.path.join(home, e)) == os.path.join(real, e)
    leftovers = {home + ".target"} if how == "a symlink" else set()
    assert {str(p) for p in (tmp_path / "tmp").iterdir()} == {home} | leftovers


def test_shadow_home_of_another_user_is_not_used(tmp_path, monkeypatch):
    """A directory at this user's name, owned by someone else, is neither
    trusted nor touched: the session gets a private shadow home."""
    import tempfile

    from xml_hive_spark import session

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    (tmp_path / "tmp").mkdir()
    real = _fake_home(tmp_path)
    monkeypatch.setattr(session.os, "getuid", lambda: os.stat(tmp_path).st_uid + 1)
    planted = session.shadow_spark_home(real)  # owned by the real uid, not the one reported
    _tamper(planted, "wrong link")
    got = session.shadow_spark_home(real)
    assert got != planted and os.path.dirname(got) == os.path.dirname(planted)
    assert os.readlink(os.path.join(planted, "jars")) == "/elsewhere/jars"
    assert sorted(os.listdir(got)) == ["RELEASE", "bin", "jars"]
    for e in os.listdir(got):
        assert os.readlink(os.path.join(got, e)) == os.path.join(real, e)
    # the untouched one is still refused even when its links are right
    os.unlink(os.path.join(planted, "jars"))
    os.symlink(os.path.join(real, "jars"), os.path.join(planted, "jars"))
    assert session.shadow_spark_home(real) not in (planted, got)


class _Builder:
    """A stand-in for ``SparkSession.builder`` that records the master and
    the ``SPARK_HOME`` in force while the session is created."""

    def __init__(self, result, fail=False):
        self.result, self.fail = result, fail
        self.masters, self.homes = [], []

    def master(self, url):
        self.masters.append(url)
        return self

    def appName(self, _name):
        return self

    def config(self, _key, _value):
        return self

    def getOrCreate(self):
        self.homes.append(os.environ.get("SPARK_HOME"))
        if self.fail:
            raise RuntimeError("launch failed")
        return self.result


def test_default_cpus_follow_affinity(spark, monkeypatch):
    from xml_hive_spark import session

    builder = _Builder(spark)
    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=builder))
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    session.get_spark()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    session.get_spark()
    assert builder.masters == [f"local[{len(os.sched_getaffinity(0))}]", "local[3]"]


def test_spark_home_set_only_around_session_creation(monkeypatch):
    from xml_hive_spark import session
    from xml_hive_spark.sources import xml_datasource

    asked = []

    def choose(master, worker_python, real_home):
        asked.append((master, worker_python))
        return "/shadow"

    monkeypatch.setattr(session, "worker_spark_home", choose)
    monkeypatch.setattr(xml_datasource, "ship_package", lambda _spark: None)
    monkeypatch.setenv("PYSPARK_PYTHON", "env-python")
    for before in ("another-spark-home", None):
        if before is None:
            monkeypatch.delenv("SPARK_HOME", raising=False)
        else:
            monkeypatch.setenv("SPARK_HOME", before)
        for fail in (False, True):
            builder = _Builder(object(), fail=fail)
            monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=builder))
            if fail:
                with pytest.raises(RuntimeError):
                    session.get_spark(cpus=2)
            else:
                session.get_spark(cpus=2)
            assert builder.homes == ["/shadow"]
            assert os.environ.get("SPARK_HOME") == before
    assert set(asked) == {("local[2]", "env-python")}
    asked.clear()
    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=_Builder(object())))
    session.get_spark(cpus=2, extra_conf={"spark.master": "spark://driver:7077",
                                          "spark.pyspark.python": "conf-python"})
    assert asked == [("spark://driver:7077", "conf-python")]


def test_local_tasks_import_the_driver_pyspark(spark):
    """The JVM still names ``<SPARK_HOME>/python/lib/pyspark.zip`` on the
    workers' path, but under the shadow home no such file exists."""
    import pyspark

    def where(_):
        import os
        import sys

        import pyspark

        zips = [p for p in sys.path if p.endswith("pyspark.zip")]
        yield pyspark.__file__, [p for p in zips if os.path.exists(p)], len(zips)

    seen = spark.sparkContext.parallelize(range(4), 4).mapPartitions(where).collect()
    assert seen == [(pyspark.__file__, [], 1)] * 4


def test_package_zip_named_by_source_hash(spark, monkeypatch, tmp_path):
    import tempfile

    from xml_hive_spark.sources import xml_datasource

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(xml_datasource, "_PKG_ZIP", None)
    xml_datasource.ship_package(spark)
    first = xml_datasource._PKG_ZIP
    monkeypatch.setattr(xml_datasource, "_PKG_ZIP", None)
    xml_datasource.ship_package(spark)
    # same sources, same name; published by rename, so no temp file left
    assert xml_datasource._PKG_ZIP == first
    assert os.listdir(tmp_path) == [os.path.basename(first)]
    assert os.path.basename(first).startswith("xml_hive_spark_pkg_")
    with zipfile.ZipFile(first) as z:
        assert "xml_hive_spark/reader.py" in z.namelist()


def test_avro_probe_runs_once_per_application(spark, monkeypatch):
    from xml_hive_spark import session
    from xml_hive_spark.sources import xml_sink

    probes = []
    real = session.scratch_dir

    def counting(prefix):
        probes.append(prefix)
        return real(prefix)

    monkeypatch.setattr(session, "scratch_dir", counting)
    monkeypatch.setattr(xml_sink, "_AVRO_AVAILABLE", {})
    answers = {xml_sink.avro_available(spark) for _ in range(3)}
    assert len(answers) == 1 and probes == ["avro-probe-"]


def _multi_split_file(tmp_path, n=200):
    path = tmp_path / "multi.xml"
    path.write_text("<log>" + "".join(f'<e id="{i}"><v>{i}</v></e>' for i in range(n)) + "</log>")
    return str(path)


def _schema():
    from pyspark.sql.types import IntegerType, StructField, StructType

    return StructType([
        StructField("id", IntegerType(), False,
                    metadata={"xmlKind": "attribute", "xmlName": "id"}),
        StructField("v", IntegerType(), False,
                    metadata={"xmlKind": "element", "xmlName": "v"}),
    ])


def test_package_added_once_per_application(spark, monkeypatch, tmp_path):
    from pyspark import SparkContext

    from xml_hive_spark import session
    from xml_hive_spark.reader import read_xml
    from xml_hive_spark.sources import xml_datasource

    added = []
    real = SparkContext.addPyFile

    def spy(self, path):
        added.append(path)
        return real(self, path)

    monkeypatch.setattr(SparkContext, "addPyFile", spy)
    monkeypatch.setattr(xml_datasource, "_SHIPPED_APPS", set(), raising=False)
    monkeypatch.setattr(xml_datasource, "_REGISTERED_SESSIONS", set())
    assert session.get_spark(app_name="xml-hive-spark-tests", cpus=4,
                             shuffle_partitions=4) is spark
    xml_datasource.register(spark)
    path = _multi_split_file(tmp_path)
    for _ in range(2):
        df = read_xml(spark, path, "e", schema=_schema(), partition_bytes=512)
    assert df.count() == 200
    assert added == [xml_datasource._PKG_ZIP]


def test_worker_cwd_holding_another_checkout_is_refused(tmp_path):
    """Local workers put the JVM's working directory ahead of the shipped
    zip on ``sys.path``: a different ``xml_hive_spark`` there would run in
    the workers while the driver runs its own. Spark-free."""
    import shutil
    from pathlib import Path

    import pytest

    from xml_hive_spark.sources import xml_datasource

    pkg_root = Path(xml_datasource.__file__).resolve().parent.parent
    digest = xml_datasource._package_sources(pkg_root)[1]
    other = tmp_path / "other"
    (other / "xml_hive_spark").mkdir(parents=True)
    (other / "xml_hive_spark" / "__init__.py").write_text("STUB = True\n")
    with pytest.raises(RuntimeError) as exc:
        xml_datasource.check_worker_cwd(other, pkg_root, digest)
    assert str(other / "xml_hive_spark") in str(exc.value)
    assert str(pkg_root) in str(exc.value)

    # the checkout itself, a byte-identical copy, and a directory without
    # the package all pass
    xml_datasource.check_worker_cwd(pkg_root.parent, pkg_root, digest)
    same = tmp_path / "same"
    shutil.copytree(pkg_root, same / "xml_hive_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    xml_datasource.check_worker_cwd(same, pkg_root, digest)
    xml_datasource.check_worker_cwd(tmp_path, pkg_root, digest)


def test_planning_starts_no_spark_job(spark, tmp_path):
    """Phase A runs on the driver: building the read of a multi-split
    file submits no job."""
    import uuid

    from xml_hive_spark.reader import read_xml

    path = _multi_split_file(tmp_path)
    sc = spark.sparkContext
    group = f"plan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "plan a multi-split read")
    try:
        df = read_xml(spark, path, "e", schema=_schema(), partition_bytes=512)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert df.rdd.getNumPartitions() > 5
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_workers_reread_no_unchanged_archive(spark):
    """pyspark calls ``importlib.invalidate_caches()`` before every task.
    A worker that has imported the package re-reads no unchanged zip
    archive there (without the stat check: 12+ reads of pyspark.zip per
    task)."""
    import time

    sc = spark.sparkContext

    def install(_):
        import importlib
        import zipimport

        import xml_hive_spark  # noqa: F401

        if not hasattr(zipimport, "_test_reads"):
            real = zipimport._read_directory

            def counting(archive):
                zipimport._test_reads.append(archive)
                return real(archive)

            zipimport._test_reads = []
            zipimport._read_directory = counting
        importlib.invalidate_caches()  # the first checked call reads each archive
        zipimport._test_reads.clear()
        time.sleep(0.5)  # hold the worker so the four tasks spread over four
        yield os.getpid()

    def read(_):
        import zipimport

        reads = getattr(zipimport, "_test_reads", None)
        yield os.getpid(), None if reads is None else list(reads)
        if reads is not None:
            reads.clear()

    installed = set(sc.parallelize(range(4), 4).mapPartitions(install).collect())
    seen = sc.parallelize(range(8), 8).mapPartitions(read).collect()
    reused = [reads for pid, reads in seen if pid in installed and reads is not None]
    assert reused, seen
    assert all(reads == [] for reads in reused), seen


_ZIP_SEMANTICS = r"""
import importlib, os, sys, zipfile, zipimport

original = zipimport.zipimporter.invalidate_caches
import xml_hive_spark  # installs the check in a worker
from xml_hive_spark.session import stat_checked_zip_caches

if "PYTHON_WORKER_FACTORY_SECRET" not in os.environ:
    stat_checked_zip_caches()
    assert zipimport.zipimporter.invalidate_caches is original
    print("untouched")
    sys.exit(0)

checked = zipimport.zipimporter.invalidate_caches
assert checked is not original
stat_checked_zip_caches()
assert zipimport.zipimporter.invalidate_caches is checked  # idempotent

archive = sys.argv[1]
reads = []
real = zipimport._read_directory
def counting(path):
    if path == archive:
        reads.append(path)
    return real(path)
zipimport._read_directory = counting

def write(members):
    with zipfile.ZipFile(archive, "w") as z:
        for name, text in members.items():
            z.writestr(zipfile.ZipInfo(name, (2020, 1, 1, 0, 0, 0)), text)

def invalidations():
    del reads[:]
    importlib.invalidate_caches()
    return len(reads)

members = {"m1.py": "v = 1\n", "pkg/__init__.py": "", "pkg/a.py": "v = 2\n"}
write(members)
sys.path.insert(0, archive)
import m1, pkg.a  # two importers for one archive
assert invalidations() == 1  # first checked call: no stamp yet
assert invalidations() == 0
assert invalidations() == 0

# rewritten with new members: a new size, re-read once for both importers
write({**members, "m2.py": "v = 3\n", "pkg/b.py": "v = 4\n"})
assert invalidations() == 1
import m2, pkg.b
assert (m2.v, pkg.b.v) == (3, 4)
assert invalidations() == 0

# same size, new mtime: re-read
st = os.stat(archive)
write({**members, "m2.py": "v = 5\n", "pkg/b.py": "v = 4\n"})
assert os.stat(archive).st_size == st.st_size
os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
assert invalidations() == 1
assert invalidations() == 0
print("checked")
"""


def _zip_semantics(tmp_path, worker):
    env = {k: v for k, v in os.environ.items() if k != "PYTHON_WORKER_FACTORY_SECRET"}
    if worker:
        env["PYTHON_WORKER_FACTORY_SECRET"] = "test"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = os.pathsep.join([repo, env.get("PYTHONPATH", "")])
    script = tmp_path / "zip_semantics.py"
    script.write_text(_ZIP_SEMANTICS)
    out = subprocess.run(
        [sys.executable, str(script), str(tmp_path / "lib.zip")],
        env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    return out.stdout.split()


def test_zip_caches_stat_checked_in_worker(tmp_path):
    assert _zip_semantics(tmp_path, worker=True) == ["checked"]


def test_zip_caches_untouched_outside_worker(tmp_path):
    assert _zip_semantics(tmp_path, worker=False) == ["untouched"]
