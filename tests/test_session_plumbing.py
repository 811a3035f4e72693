"""Session plumbing: the default core count and driver heap, the Spark
home local workers import pyspark from, the driver JVM's class-data-sharing
archive, the shipped package zip, the cached Avro probe and the workers'
stat-checked zip import caches."""

from __future__ import annotations

import json
import os
import shutil
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
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    (home / "RELEASE").write_text("Spark\n")
    return str(home)


@pytest.fixture
def cache(monkeypatch, tmp_path):
    """This user's cache dir under ``tmp_path``, and the temp dir beside it."""
    import tempfile

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    (tmp_path / "tmp").mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    return tmp_path / "xdg" / "xml_hive_spark"


@pytest.fixture
def decide(monkeypatch, tmp_path, cache):
    """``worker_spark_home`` with every condition for the shadow home met
    (no py4j gateway yet, local master, this interpreter as the worker's)."""
    from pyspark import SparkContext

    from xml_hive_spark import session

    monkeypatch.setattr(SparkContext, "_gateway", None)
    home = _fake_home(tmp_path)

    def run(master="local[2]", worker_python=sys.executable):
        return session.worker_spark_home(master, worker_python, home)

    run.home = home
    return run


def test_local_workers_get_the_shadow_home(decide, cache):
    got = decide()
    assert got != decide.home
    assert os.path.dirname(got) == str(cache)
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


def test_shadow_home_links_all_but_python(tmp_path, monkeypatch, cache):
    from xml_hive_spark import session

    real = _fake_home(tmp_path)
    home = session.shadow_spark_home(real)
    links = sorted(e for e in os.listdir(real) if e not in ("python", "conf"))
    assert sorted(os.listdir(home)) == sorted(links + ["conf"])
    for e in links:
        assert os.readlink(os.path.join(home, e)) == os.path.join(real, e)
    # published once, by rename: the same directory, no temp left behind
    assert session.shadow_spark_home(real) == home
    assert os.listdir(cache) == [os.path.basename(home)]
    assert sorted(os.listdir(home)) == sorted(links + ["conf"])

    # another process publishes first: its home stands, ours is removed
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg2"))
    real_replace = os.replace

    def lose_the_race(src, dst):
        os.mkdir(dst)
        for e in links:
            os.symlink(os.path.join(real, e), os.path.join(dst, e))
        os.mkdir(os.path.join(dst, "conf"))
        real_replace(src, dst)

    monkeypatch.setattr(session.os, "replace", lose_the_race)
    raced = session.shadow_spark_home(real)
    assert os.listdir(tmp_path / "xdg2" / "xml_hive_spark") == [os.path.basename(raced)]
    assert sorted(os.listdir(raced)) == sorted(links + ["conf"])


def test_shadow_conf_is_empty_only_for_templates(tmp_path, cache):
    """A ``conf/`` of templates is an empty directory in the shadow home,
    which its trust check accepts; one holding a real file is linked."""
    from xml_hive_spark import session

    real = _fake_home(tmp_path)
    home = session.shadow_spark_home(real)
    conf = os.path.join(home, "conf")
    assert not os.path.islink(conf) and os.listdir(conf) == []
    assert session._is_shadow_of(home, session._shadow_layout(os.path.realpath(real)))
    assert session.shadow_spark_home(real) == home
    with open(os.path.join(real, "conf", "spark-defaults.conf"), "w") as f:
        f.write("spark.driver.extraClassPath /opt/extra\n")
    linked = session.shadow_spark_home(real)
    assert linked != home
    assert os.readlink(os.path.join(linked, "conf")) == os.path.join(real, "conf")


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
    elif how == "conf not empty":
        with open(os.path.join(home, "conf", "spark-env.sh"), "w") as f:
            f.write("export SPARK_DIST_CLASSPATH=/elsewhere\n")
    elif how == "conf a link":
        os.rmdir(os.path.join(home, "conf"))
        os.symlink("/elsewhere/conf", os.path.join(home, "conf"))


def _is_rebuilt_shadow(home, real):
    assert not os.path.islink(home) and not os.stat(home).st_mode & 0o022
    assert sorted(os.listdir(home)) == ["RELEASE", "bin", "conf", "jars"]
    assert os.listdir(os.path.join(home, "conf")) == []
    for e in ("RELEASE", "bin", "jars"):
        assert os.readlink(os.path.join(home, e)) == os.path.join(real, e)
    return True


@pytest.mark.parametrize("how", ["wrong link", "missing link", "extra entry",
                                 "writable by others", "a symlink", "conf not empty",
                                 "conf a link"])
def test_stale_shadow_home_of_this_user_is_rebuilt(tmp_path, cache, how):
    from xml_hive_spark import session

    real = _fake_home(tmp_path)
    home = session.shadow_spark_home(real)
    _tamper(home, how)
    assert session.shadow_spark_home(real) == home
    assert _is_rebuilt_shadow(home, real)
    leftovers = {home + ".target"} if how == "a symlink" else set()
    assert {str(p) for p in cache.iterdir()} == {home} | leftovers


def test_shadow_home_of_another_user_is_not_used(tmp_path, monkeypatch, cache):
    """A directory at this user's name, owned by someone else, is neither
    trusted nor touched: the session gets a private shadow home. The cache
    dir is then someone else's too, so both live in the temp dir."""
    from xml_hive_spark import session

    real = _fake_home(tmp_path)
    monkeypatch.setattr(session.os, "getuid", lambda: os.stat(tmp_path).st_uid + 1)
    assert session.cache_dir() is None
    planted = session.shadow_spark_home(real)  # owned by the real uid, not the one reported
    assert os.path.dirname(planted) == str(tmp_path / "tmp")
    _tamper(planted, "wrong link")
    got = session.shadow_spark_home(real)
    assert got != planted and os.path.dirname(got) == os.path.dirname(planted)
    assert os.readlink(os.path.join(planted, "jars")) == "/elsewhere/jars"
    assert sorted(os.listdir(got)) == ["RELEASE", "bin", "conf", "jars"]
    for e in ("RELEASE", "bin", "jars"):
        assert os.readlink(os.path.join(got, e)) == os.path.join(real, e)
    # the untouched one is still refused even when its links are right
    os.unlink(os.path.join(planted, "jars"))
    os.symlink(os.path.join(real, "jars"), os.path.join(planted, "jars"))
    assert session.shadow_spark_home(real) not in (planted, got)


# ------------------------------------------------ class-data-sharing archive


@pytest.fixture
def cds(monkeypatch, tmp_path, cache):
    """``class_archive_options`` for the shadow of a fake Spark home whose
    ``conf/`` holds only templates, in an environment that puts nothing
    else on the class path."""
    from xml_hive_spark import session

    for k in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
              "PYSPARK_SUBMIT_ARGS"):
        monkeypatch.delenv(k, raising=False)
    monkeypatch.setattr(session, "_CDS", dict(session._CDS))
    (tmp_path / "scratch").mkdir()
    monkeypatch.setattr(session, "_SCRATCH_ROOT", str(tmp_path / "scratch"))
    home = session.shadow_spark_home(_fake_home(tmp_path))

    def run(conf=None):
        return session.class_archive_options(home, conf or {})

    run.home = home
    run.key = session._archive_key(home)
    run.archive = str(cache / f"cds-{run.key}.jsa")
    return run


class _Gateway:
    """A gateway JVM's process: exits with ``code`` once its stdin is
    closed, having dumped ``dump`` first if given."""

    def __init__(self, code, dump=None):
        import io

        self.code, self.dump, self.stdin = code, dump, io.BytesIO()

    def wait(self, timeout):
        assert self.stdin.closed  # PythonGatewayServer exits on EOF
        if self.dump:
            with open(self.dump, "wb") as f:
                f.write(b"classes")
            os.chmod(self.dump, 0o444)
        return self.code


def _dead_pid():
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


def test_archive_written_then_published_then_mapped(cds, cache, monkeypatch):
    from pyspark import SparkContext

    from xml_hive_spark import session

    monkeypatch.setattr(SparkContext, "_active_spark_context", None)  # not the suite's

    tmp = str(cache / f"cds-{cds.key}.{os.getpid()}.tmp")
    opts = cds()
    assert opts[0] == f"-XX:ArchiveClassesAtExit={tmp}"
    # CDS logs to a file, and nothing to stdout (the JVM's default)
    assert opts[1] == "-Xlog:cds*=off" and opts[2].startswith("-Xlog:cds:file=")
    assert session.cds_state() == ("writing", tmp)

    old = cache / "cds-0123456789abcdef.jsa"
    old.write_bytes(b"an archive of another JDK")
    dead = cache / f"cds-{cds.key}.{_dead_pid()}.tmp"
    dead.write_bytes(b"a crashed writer's partial dump")
    live = cache / f"cds-0123456789abcdef.{os.getppid()}.tmp"
    live.write_bytes(b"another writer's dump in progress")
    # a JVM that exits non-zero, or exits 0 without dumping: nothing published
    assert not session._publish_archive(_Gateway(1, dump=tmp), tmp, cds.archive)
    os.unlink(tmp)
    assert not session._publish_archive(_Gateway(0), tmp, cds.archive)
    assert not os.path.exists(cds.archive)
    assert session._publish_archive(_Gateway(0, dump=tmp), tmp, cds.archive)
    assert sorted(os.listdir(cache)) == sorted(
        [os.path.basename(cds.home), os.path.basename(cds.archive), live.name])

    opts = cds()
    assert opts[0] == f"-XX:SharedArchiveFile={cds.archive}"
    log = opts[2].split("file=", 1)[1]
    with open(log, "w") as f:
        f.write("[0.016s][info][cds] Mapped dynamic region #0 at base 0x7f35 (ReadWrite)\n")
    assert session.cds_state() == ("mapped", cds.archive)
    with open(log, "a") as f:  # -Xshare:auto: refused after mapping, silently
        f.write("[0.032s][info][cds] UseSharedSpaces: Required classpath entry does not "
                "exist: /gone/conf/\n")
    assert session.cds_state() == ("refused", "Required classpath entry does not exist: /gone/conf/")
    os.unlink(log)
    assert session.cds_state() == ("refused", "the JVM wrote no class-data-sharing log")


@pytest.mark.parametrize("how", ["another user's", "group-writable", "a symlink", "a directory"])
def test_untrusted_archive_is_never_mapped(cds, cache, monkeypatch, how):
    from xml_hive_spark import session

    target = cache / "elsewhere.jsa"
    target.write_bytes(b"classes")
    target.chmod(0o664 if how == "group-writable" else 0o444)
    if how == "a directory":
        os.mkdir(cds.archive, 0o755)
    elif how == "a symlink":
        os.symlink(target, cds.archive)
    else:
        os.rename(target, cds.archive)
    if how == "another user's":
        real_lstat = os.lstat

        def lstat(path, *args, **kwargs):
            st = real_lstat(path, *args, **kwargs)
            if os.fspath(path) != cds.archive:
                return st
            return os.stat_result((st.st_mode, st.st_ino, st.st_dev, st.st_nlink,
                                   st.st_uid + 1, *st[5:]))

        monkeypatch.setattr(session.os, "lstat", lstat)
    assert cds() == []
    state, why = session.cds_state()
    assert state == "off" and cds.archive in why


@pytest.mark.parametrize("how", ["under a file", "open to others"])
def test_unusable_cache_dir_means_no_archive(cds, cache, tmp_path, monkeypatch, how):
    """The session starts without the archive, and the shadow home falls
    back to the temp dir."""
    from xml_hive_spark import session

    if how == "under a file":
        (tmp_path / "a-file").write_text("")
        monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "a-file"))
    else:
        cache.chmod(0o755)
    assert session.cache_dir() is None
    assert cds() == []
    assert session.cds_state() == ("off", "no cache directory of this user's with mode 0700")
    home = session.shadow_spark_home(str(tmp_path / "spark"))
    assert os.path.dirname(home) == str(tmp_path / "tmp")


def test_no_archive_under_a_path_that_needs_quoting(cds, tmp_path, monkeypatch):
    from xml_hive_spark import session

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "my cache"))
    assert cds() == []
    assert session.cds_state()[0] == "off"


def test_leftover_temp_file_is_never_mapped(cds, cache):
    from xml_hive_spark import session

    writing = cache / f"cds-{cds.key}.{os.getppid()}.tmp"
    writing.write_bytes(b"half an archive")
    assert cds() == []
    assert session.cds_state() == ("off", f"another process is writing {writing}")
    writing.unlink()
    dead = cache / f"cds-{cds.key}.{_dead_pid()}.tmp"
    dead.write_bytes(b"half an archive")
    opts = cds()
    assert opts[0] == f"-XX:ArchiveClassesAtExit={cache}/cds-{cds.key}.{os.getpid()}.tmp"
    assert not any(dead.name in o for o in opts)


def test_archive_key_follows_java_and_jars(cds, tmp_path, monkeypatch):
    from xml_hive_spark import session

    jar = next((tmp_path / "spark" / "jars").iterdir())
    keys = [cds.key]
    jar.write_bytes(b"a rebuilt jar")
    keys.append(session._archive_key(cds.home))
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))  # same size, new mtime
    keys.append(session._archive_key(cds.home))
    jdk = tmp_path / "jdk"
    (jdk / "bin").mkdir(parents=True)
    (jdk / "bin" / "java").write_text("")
    (jdk / "release").write_text('JAVA_VERSION="17.0.20"\n')
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    keys.append(session._archive_key(cds.home))
    (jdk / "release").write_text('JAVA_VERSION="17.0.21"\n')
    keys.append(session._archive_key(cds.home))
    assert len(set(keys)) == len(keys)
    assert session._archive_key(cds.home) == keys[-1]
    os.unlink(jdk / "bin" / "java")
    assert session._archive_key(cds.home) is None


@pytest.mark.parametrize("source", ["SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
                                    "SPARK_DIST_CLASSPATH", "PYSPARK_SUBMIT_ARGS",
                                    "spark.driver.extraClassPath"])
def test_no_archive_when_the_class_path_may_hold_a_directory(cds, tmp_path, monkeypatch, source):
    """The JVM exits 1 after dumping with a non-empty directory on its
    class path; an empty ``SPARK_CONF_DIR`` is fine."""
    from xml_hive_spark import session

    conf_dir = tmp_path / "conf-dir"
    conf_dir.mkdir()
    if source == "SPARK_CONF_DIR":
        monkeypatch.setenv(source, str(conf_dir))
        assert cds()[0].startswith("-XX:ArchiveClassesAtExit=")
    (conf_dir / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    if source.startswith("spark."):
        assert cds({source: str(conf_dir)}) == []
    else:
        monkeypatch.setenv(source, str(conf_dir) if source != "PYSPARK_SUBMIT_ARGS"
                           else f"--driver-class-path {conf_dir} pyspark-shell")
        assert cds() == []
    assert session.cds_state()[0] == "off"


class _Builder:
    """A stand-in for ``SparkSession.builder`` that records the master and
    the ``SPARK_HOME`` in force while the session is created."""

    def __init__(self, result, fail=False):
        self.result, self.fail = result, fail
        self.masters, self.homes, self.confs = [], [], {}

    def master(self, url):
        self.masters.append(url)
        return self

    def appName(self, _name):
        return self

    def config(self, key, value):
        self.confs[key] = value
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


def test_archive_options_join_the_callers(cds, monkeypatch):
    """The caller's ``extraJavaOptions`` are kept; none are added when the
    caller sets CDS options or when a gateway JVM already runs."""
    from pyspark import SparkContext

    from xml_hive_spark import session
    from xml_hive_spark.sources import xml_datasource

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setattr(session, "worker_spark_home", lambda *_args: cds.home)
    monkeypatch.setattr(xml_datasource, "ship_package", lambda _spark: None)

    def java_options(caller=None):
        builder = _Builder(object())
        monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=builder))
        extra = {"spark.driver.extraJavaOptions": caller} if caller else {}
        session.get_spark(cpus=2, extra_conf=extra)
        return builder.confs.get("spark.driver.extraJavaOptions")

    got = java_options("-Dcaller=1 -Xss4m")
    assert got.startswith("-Dcaller=1 -Xss4m -XX:ArchiveClassesAtExit=")
    assert got.split()[2:4] == cds()[:2]
    assert java_options().startswith("-XX:ArchiveClassesAtExit=")
    assert java_options("-Xshare:off") == "-Xshare:off"
    assert session.cds_state() == ("off", "the caller sets class-data-sharing options")
    monkeypatch.setattr(session, "_CDS", {"state": "off", "detail": "kept"})
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "4242")
    assert java_options() is None
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT")
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert java_options("-Dcaller=1") == "-Dcaller=1"
    assert session.cds_state() == ("off", "kept")  # the running JVM's state stands


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


def test_package_zip_named_by_source_hash(spark, monkeypatch):
    from xml_hive_spark import session
    from xml_hive_spark.sources import xml_datasource

    monkeypatch.setattr(xml_datasource, "_PKG_ZIP", None)
    xml_datasource.ship_package(spark)
    first = xml_datasource._PKG_ZIP
    monkeypatch.setattr(xml_datasource, "_PKG_ZIP", None)
    xml_datasource.ship_package(spark)
    # same sources, same name; written alone into this process's scratch
    second = xml_datasource._PKG_ZIP
    assert os.path.basename(second) == os.path.basename(first)
    assert first.startswith(session._SCRATCH_ROOT + os.sep)
    assert os.listdir(os.path.dirname(first)) == [os.path.basename(first)]
    assert os.path.basename(first).startswith("xml_hive_spark_pkg_")
    with zipfile.ZipFile(first) as z:
        assert "xml_hive_spark/reader.py" in z.namelist()


def test_avro_probe_runs_once_per_application(spark, monkeypatch):
    from xml_hive_spark.sources import xml_sink

    probes = []
    real = xml_sink._lookup_avro

    def counting(s):
        probes.append(s)
        return real(s)

    monkeypatch.setattr(xml_sink, "_lookup_avro", counting)
    monkeypatch.setattr(xml_sink, "_AVRO_AVAILABLE", {})
    answers = {xml_sink.avro_available(spark) for _ in range(3)}
    assert len(answers) == 1 and probes == [spark]


def test_avro_probe_lets_other_errors_raise(monkeypatch):
    """Only the lookup's "not found" picks the pure-Python OCF writer; any
    other failure raises and is not cached. Spark-free."""
    from pyspark.errors import AnalysisException

    from xml_hive_spark.sources import xml_sink

    fake = types.SimpleNamespace(sparkContext=types.SimpleNamespace(applicationId="app-1"))
    monkeypatch.setattr(xml_sink, "_AVRO_AVAILABLE", {})

    def fail(error):
        def lookup(_spark):
            raise error
        return lookup

    monkeypatch.setattr(xml_sink, "_lookup_avro", fail(OSError("no space left on device")))
    with pytest.raises(OSError):
        xml_sink.avro_available(fake)
    assert xml_sink._AVRO_AVAILABLE == {}
    monkeypatch.setattr(xml_sink, "_lookup_avro", fail(
        AnalysisException(message="Failed to find data source: avro.")))
    assert xml_sink.avro_available(fake) is False


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


_CDS_RUN = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from xml_hive_spark import session
spark = session.get_spark(app_name="cds-check", cpus=1, shuffle_partitions=1)
assert spark.sparkContext.parallelize(range(10), 1).sum() == 45  # a Python task
print(json.dumps(session.cds_state()))
"""


def test_first_process_publishes_the_archive_and_the_next_maps_it(tmp_path):
    """Two fresh processes with their own TMPDIRs share this user's cache:
    the first dumps the archive at exit and publishes it, the second maps
    it, and no CDS log line reaches either's stdout or stderr."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "cds_run.py"
    script.write_text(_CDS_RUN)
    cache = tmp_path / "xdg" / "xml_hive_spark"
    env = {k: v for k, v in os.environ.items() if not k.startswith("PYSPARK_GATEWAY")}
    env.update(XDG_CACHE_HOME=str(tmp_path / "xdg"), SPARK_DRIVER_MEM="512m")
    states = []
    try:
        for run in ("first", "second"):
            (tmp_path / run).mkdir()
            out = subprocess.run([sys.executable, str(script), repo], capture_output=True,
                                 text=True, timeout=600, env=dict(env, TMPDIR=str(tmp_path / run)))
            assert out.returncode == 0, out.stderr[-3000:]
            assert "][cds" not in out.stdout + out.stderr
            assert "Traceback" not in out.stderr, out.stderr[-3000:]
            states.append(json.loads(out.stdout.strip().splitlines()[-1]))
            if run == "first":
                archives = [p for p in cache.iterdir() if p.name.startswith("cds-")]
                assert [p.suffix for p in archives] == [".jsa"]
    finally:  # the archive is about 140 MB; pytest keeps its temp dirs
        shutil.rmtree(tmp_path / "xdg", ignore_errors=True)
    assert states[0][0] == "writing" and states[0][1].endswith(".tmp")
    assert states[1] == ["mapped", str(archives[0])]
