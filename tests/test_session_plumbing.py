"""Session plumbing: the default core count, the shipped package zip,
the cached Avro probe and the workers' stat-checked zip import caches."""

from __future__ import annotations

import os
import subprocess
import sys
import types
import zipfile


def test_default_cpus_follow_affinity(spark, monkeypatch):
    from xml_hive_spark import session

    masters = []

    class Recorder:
        def master(self, url):
            masters.append(url)
            return self

        def appName(self, _name):
            return self

        def config(self, _key, _value):
            return self

        def getOrCreate(self):
            return spark

    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=Recorder()))
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    session.get_spark()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    session.get_spark()
    assert masters == [f"local[{len(os.sched_getaffinity(0))}]", "local[3]"]


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
