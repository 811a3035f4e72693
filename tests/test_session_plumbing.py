"""Session plumbing: the default core count, the shipped package zip and
the cached Avro probe."""

from __future__ import annotations

import os
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
