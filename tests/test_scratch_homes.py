"""Where the engine keeps files outside query results: per-process
scratch (``session.scratch_dir``), one owned per-user store
(``session.owned_store``), or install state (``session.cache_dir``);
and the one byte-range rule the batch and streaming readers share."""

from __future__ import annotations

import ast
import os
import shutil
from pathlib import Path

import pytest

from xml_hive_spark import session

_TEMP_CALLS = {"gettempdir", "mkdtemp", "mkstemp", "TemporaryDirectory",
               "NamedTemporaryFile", "TemporaryFile"}


def _temp_path_sites(src: str) -> set[tuple[str, str]]:
    """(enclosing function, what) of every ``tempfile`` temp-path call
    and every string literal starting with ``/tmp`` in ``src``."""
    sites: set[tuple[str, str]] = set()
    imported = {n.asname or n.name for node in ast.walk(ast.parse(src))
                if isinstance(node, ast.ImportFrom) and node.module == "tempfile"
                for n in node.names if n.name in _TEMP_CALLS}

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if isinstance(child, ast.Call):
                f = child.func
                if (isinstance(f, ast.Attribute) and f.attr in _TEMP_CALLS
                        and isinstance(f.value, ast.Name) and f.value.id == "tempfile"):
                    sites.add((fn, f.attr))
                elif isinstance(f, ast.Name) and f.id in imported:
                    sites.add((fn, f.id))
            elif (isinstance(child, ast.Constant) and isinstance(child.value, str)
                  and child.value.startswith("/tmp")):
                sites.add((fn, "/tmp"))
            visit(child, fn)

    visit(ast.parse(src), "<module>")
    return sites


def test_temp_paths_only_in_session_lint():
    """Package and ``tools/`` code asks for a temp directory, or names
    ``/tmp``, only in ``session.py``, so no module or tool grows its own
    shared temp path back. Red on a seeded violation, green on the
    package and the tools."""
    seeded = (
        "import tempfile\n"
        "from tempfile import mkdtemp as md\n"
        "def f():\n"
        "    return tempfile.gettempdir(), md(), '/tmp/x', f'/tmp/{1}'\n"
    )
    assert _temp_path_sites(seeded) == {("f", "gettempdir"), ("f", "md"), ("f", "/tmp")}

    pkg = Path(session.__file__).resolve().parent
    found = {(str(p.relative_to(pkg.parent)), fn, what)
             for p in sorted([*pkg.rglob("*.py"), *(pkg.parent / "tools").rglob("*.py")])
             for fn, what in _temp_path_sites(p.read_text())}
    assert found and {path for path, _, _ in found} == {"xml_hive_spark/session.py"}, found


class TestOwnedStore:
    def test_named_by_user_and_private(self, tmp_path, monkeypatch):
        monkeypatch.setattr("tempfile.tempdir", str(tmp_path))
        d = session.owned_store("plan_cache")
        assert d == str(tmp_path / f"xmlhive_plan_cache_{os.getuid()}")
        assert os.stat(d).st_mode & 0o777 == 0o700

    @pytest.mark.parametrize("how", ["a symlink", "writable by others", "another user's"])
    def test_untrusted_store_is_refused(self, tmp_path, monkeypatch, how):
        monkeypatch.setattr("tempfile.tempdir", str(tmp_path))
        path = tmp_path / f"xmlhive_ann_index_{os.getuid()}"
        if how == "a symlink":
            (tmp_path / "elsewhere").mkdir(mode=0o700)
            path.symlink_to(tmp_path / "elsewhere")
        elif how == "writable by others":
            path.mkdir()
            path.chmod(0o777)
        else:
            path.mkdir(mode=0o700)
            uid = os.stat(path).st_uid + 1
            monkeypatch.setattr(session.os, "getuid", lambda: uid)
            path.rename(tmp_path / f"xmlhive_ann_index_{uid}")
        assert session.owned_store("ann_index") is None

    def test_caches_skip_a_refused_store(self, tmp_path, monkeypatch):
        """No plan-cache entry and no index directory when the store is
        refused; the bench XML then goes to this process's scratch."""
        from xml_hive_spark import reader
        from xml_hive_spark.operators import ann_index, xmlio

        monkeypatch.setattr(reader, "owned_store", lambda name: None)
        monkeypatch.setattr(ann_index, "owned_store", lambda name: None)
        monkeypatch.setattr(xmlio, "owned_store", lambda name: None)
        key = (("f.xml", 10, 1), "row", 1024)
        reader._plan_disk_store(key, [("f.xml", 0, 10, "TEXT", 0)])
        assert reader._plan_disk_load(key) is None
        assert ann_index._index_dir(("k",)) is None
        path, _ = xmlio.ensure_bench_xml(4096)
        assert path.startswith(session._SCRATCH_ROOT + os.sep)
        assert sorted(os.listdir(os.path.dirname(path))) == ["scan_4096.xml", "scan_4096.xml.meta"]

    def test_one_file_stamp(self, tmp_path):
        f = tmp_path / "a.xml"
        f.write_bytes(b"<r/>")
        st = os.stat(f)
        assert session.file_stamp([f]) == ((str(f), 4, st.st_mtime_ns),)
        assert session.file_stamp([f, tmp_path / "missing"]) is None


def test_byte_ranges_cover_the_file_without_empty_ranges():
    """``ceil(size / partition_bytes)`` non-empty ranges from 0 to
    ``size``, each starting where the last ended: exactly the fence the
    streaming reader used to build itself (``min(i * step, size)`` for
    ``i <= n``), none of whose ranges is empty. Checked for every
    ``partition_bytes`` below 200 at every size below 1,000 and every
    7th size up to 3,000."""
    from xml_hive_spark.reader import GZIP_SPLIT_END, byte_ranges

    for size in [*range(1, 1000), *range(1000, 3000, 7)]:
        for pb in range(1, 200):
            r = byte_ranges("f.xml", size, pb)
            n = -(-size // pb)
            step = -(-size // n)
            fence = [min(i * step, size) for i in range(n + 1)]
            assert r == list(zip(fence, fence[1:]))
    assert byte_ranges("f.xml", 0, 10) == []
    assert byte_ranges("f.xml.gz", 500, 10) == [(0, GZIP_SPLIT_END)]


def test_stream_partitions_use_the_batch_ranges(tmp_path, monkeypatch):
    """The streaming reader cuts a landed file into the same byte ranges
    as ``plan_splits`` at the size it recorded."""
    monkeypatch.setattr("tempfile.tempdir", str(tmp_path / "tmp"))
    from pyspark.sql.types import StringType, StructField, StructType

    from xml_hive_spark.reader import plan_annotated_splits
    from xml_hive_spark.sources.xml_stream import XmlStreamReader

    (tmp_path / "tmp").mkdir()
    land = tmp_path / "land"
    land.mkdir()
    f = land / "a.xml"
    f.write_text("<d>" + "".join(f"<r><v>{i}</v></r>" for i in range(300)) + "</d>")
    schema = StructType([StructField("v", StringType())])
    rd = XmlStreamReader(schema, {"path": str(land), "rowtag": "r",
                                  "partitionBytes": "997"})
    parts = rd.partitions(rd.initialOffset(), rd.latestOffset())
    got = [(p.path, p.start, p.end, p.state, p.depth) for p in parts]
    assert len(got) > 1
    assert got == plan_annotated_splits([str(f)], "r", 997)


def test_snapshot_change_feed_sees_a_rewritten_table(spark, sf_dir, tmp_path, monkeypatch):
    """A time-travel history written by an earlier process is never read:
    after ``orders.parquet`` is rewritten in place, a fresh process's
    ``snapshot_change_feed`` equals its DuckDB oracle on the new table."""
    import duckdb
    import pyarrow.parquet as pq

    from xml_hive_spark.operators import all_queries, storage

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy(Path(sf_dir) / "orders.parquet", sf / "orders.parquet")
    storage.time_travel_read(spark, str(sf)).collect()

    table = pq.read_table(Path(sf_dir) / "orders.parquet")
    pq.write_table(table.slice(0, 750), sf / "orders.parquet")
    # a fresh process: no scratch root and no memo yet
    monkeypatch.setattr(session, "_SCRATCH_ROOT", None)
    monkeypatch.setattr(storage, "_ROUNDTRIP_DIR", {})

    q = all_queries()["snapshot_change_feed"]
    got = sorted(tuple(r) for r in q.fn(spark, str(sf)).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf / 'orders.parquet'}')")
    want = sorted(con.execute(q.oracle).fetchall())
    assert got == want
