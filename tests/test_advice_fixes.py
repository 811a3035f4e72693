"""Regression tests for the round-2 advisor findings (ADVICE.md):

1. EqualNullSafe with a NaN literal must be deferred to Spark (Spark's
   ``<=>`` treats NaN as equal to NaN; Arrow's ``equal`` does not).
2. Every XML entry's schema resolution: passing exactly one of
   xsd=/sepTagType= must be an explicit error, never a silent fall-back
   to sampled inference.
3. The cross-process plan cache is per-user, version-stamped, and
   rejects tampered/stale-format entries instead of mis-parsing them.
4. ``register()`` respects an explicit user opt-out of
   spark.sql.python.filterPushdown.enabled (warns instead of overriding).
5. csv_roundtrip survives documents whose text contains newlines
   (multiLine read of quoted fields).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql.datasource import EqualNullSafe

from xml_hive_spark.sources.pushdown import compile_filter_arrow

from tests.test_pushdown import SCHEMA, mask


class TestEqualNullSafeNaN:
    def test_nan_literal_deferred(self):
        # col <=> NaN: Spark yields TRUE for NaN rows; Arrow's equal
        # cannot — the compiler must refuse so Spark evaluates it
        assert compile_filter_arrow(
            EqualNullSafe(("score",), float("nan")), SCHEMA) is None

    def test_non_nan_literal_still_compiled(self):
        rows = [(1, "a", 2.0), (1, "a", 3.0), (1, "a", None),
                (1, "a", float("nan"))]
        # NaN row vs non-NaN literal: False in both engines
        assert mask(EqualNullSafe(("score",), 2.0), rows) == [True, False, False, False]


class TestSchemaOptionPairing:
    """Exactly one of xsd=/sepTagType= is an error on every entry:
    ``format("xmlhive")``, ``read_xml`` and ``xmlhive-stream``. No Spark
    session is needed: each entry resolves its schema first."""

    def _entries(self, fixtures_dir, tmp_path, option, value):
        """Each entry's schema resolution given ``option`` alone."""
        from pyspark.sql.types import StringType, StructField, StructType

        from xml_hive_spark.reader import read_xml
        from xml_hive_spark.sources.xml_datasource import XmlHiveDataSource
        from xml_hive_spark.sources.xml_stream import XmlHiveStreamDataSource

        arg = {"xsd": "xsd", "sepTagType": "sep_tag_type"}[option]
        stream = XmlHiveStreamDataSource(
            {option: value, "rowTag": "book", "path": str(tmp_path)})
        return [
            XmlHiveDataSource(options={option: value, "path": "/nope.xml"}).schema,
            lambda: read_xml(None, str(fixtures_dir / "books" / "data.xml"), "book",
                             **{arg: value}),
            stream.schema,
            lambda: stream.streamReader(StructType([StructField("title", StringType())])),
        ]

    def test_xsd_alone_raises(self, fixtures_dir, tmp_path):
        for resolve in self._entries(fixtures_dir, tmp_path, "xsd",
                                     str(fixtures_dir / "books")):
            with pytest.raises(ValueError, match="must be passed together"):
                resolve()

    def test_septagtype_alone_raises(self, fixtures_dir, tmp_path):
        for resolve in self._entries(fixtures_dir, tmp_path, "sepTagType", "BookType"):
            with pytest.raises(ValueError, match="must be passed together"):
                resolve()


class TestPlanCacheHardening:
    def test_per_user_dir_and_version_stamp(self, tmp_path, monkeypatch):
        import tempfile

        from xml_hive_spark import reader as r

        monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
        key = (("f.xml", 10, 1), "row", 1024)
        plan = [("f.xml", 0, 10, "TEXT", 0)]
        r._plan_disk_store(key, plan)
        path = r._plan_disk_path(key)
        assert str(os.getuid()) in path.parent.name
        assert (path.parent.stat().st_mode & 0o077) == 0  # no group/other
        doc = json.loads(path.read_text())
        assert doc["v"] == r._PLAN_CACHE_FORMAT
        assert r._plan_disk_load(key) == plan

    def test_stale_format_and_tampered_entries_rejected(self, tmp_path, monkeypatch):
        import tempfile

        from xml_hive_spark import reader as r

        monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
        key = (("f.xml", 10, 1), "row", 1024)
        path = r._plan_disk_path(key)
        # pre-version-field format (a bare list) → invalidated, not parsed
        path.write_text(json.dumps([["f.xml", 0, 10, "TEXT", 0]]))
        assert r._plan_disk_load(key) is None
        # wrong version
        path.write_text(json.dumps({"v": 999, "plan": []}))
        assert r._plan_disk_load(key) is None
        # right version, tampered arity/types
        path.write_text(json.dumps({"v": r._PLAN_CACHE_FORMAT, "plan": [["f.xml", 0]]}))
        assert r._plan_disk_load(key) is None
        path.write_text(
            json.dumps({"v": r._PLAN_CACHE_FORMAT, "plan": [["f.xml", "0", 1, "T", 0]]})
        )
        assert r._plan_disk_load(key) is None


class TestRegisterConfRespected:
    def test_explicit_false_not_overridden(self, spark):
        from xml_hive_spark.sources import xml_datasource as xds

        conf_key = "spark.sql.python.filterPushdown.enabled"
        prev = spark.conf.get(conf_key, None)
        try:
            spark.conf.set(conf_key, "false")
            # force a fresh registration pass for this session object
            xds._REGISTERED_SESSIONS.discard(id(spark))
            with pytest.warns(UserWarning, match="explicitly false"):
                xds.register(spark)
            assert spark.conf.get(conf_key) == "false"
        finally:
            if prev is not None:
                spark.conf.set(conf_key, prev)
            else:
                spark.conf.unset(conf_key)
            xds._REGISTERED_SESSIONS.discard(id(spark))
            xds.register(spark)  # restore normal registered state


class TestCsvNewlineRoundtrip:
    def test_embedded_newline_survives(self, spark, tmp_path):
        rows = [
            (1, "line one\nline two", "en"),
            (2, 'quote " and, comma', "de"),
            (3, "plain", "en"),
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string, lang string")
        out = str(tmp_path / "csv_nl")
        df.write.mode("overwrite").option("header", "true").option(
            "escape", '"'
        ).csv(out)
        back = (
            spark.read.schema(df.schema)
            .option("header", "true")
            .option("escape", '"')
            .option("multiLine", "true")
            .csv(out)
        )
        assert sorted(back.collect()) == sorted(df.collect())


class TestFileUriAuthority:
    """ADVICE r5: file://host/path must not be misread as the relative
    path 'host/path'; file:/p and file:///p resolve to /p."""

    def test_triple_slash_and_single_slash(self, tmp_path):
        from xml_hive_spark.reader import resolve_paths

        f = tmp_path / "a.xml"
        f.write_text("<r/>")
        assert resolve_paths(f"file://{f}") == [str(f)]   # file:///tmp/.../a.xml
        assert resolve_paths(f"file:{f}") == [str(f)]      # file:/tmp/.../a.xml
        assert resolve_paths(f"file://localhost{f}") == [str(f)]

    def test_foreign_authority_rejected(self):
        from xml_hive_spark.reader import resolve_paths

        with pytest.raises(ValueError, match="authority"):
            resolve_paths("file://somehost/data/a.xml")


class TestStreamListRaceTolerance:
    """r9 advice: the UTF-16 plan-time peek in XmlStreamReader._list must
    tolerate landing-dir races (vanished / partially-written files) the
    same way the getsize stat does, and must peek each path only once."""

    def _reader(self, d):
        from pyspark.sql.types import StructType

        from xml_hive_spark.sources.xml_stream import XmlStreamReader

        return XmlStreamReader(
            StructType(), {"path": str(d), "rowTag": "r"}
        )

    def test_truncated_gzip_member_skipped_not_crash(self, tmp_path):
        import gzip

        ok = tmp_path / "a.xml"
        ok.write_bytes(b"<root><r><x>1</x></r></root>")
        good_gz = gzip.compress(b"<root><r><x>2</x></r></root>")
        # cut INSIDE the 10-byte gzip header: the 4-byte decompressed
        # peek then raises (EOFError/BadGzipFile) instead of returning
        # partial bytes — the mid-write snapshot a landing dir produces
        (tmp_path / "b.xml.gz").write_bytes(good_gz[:6])
        out = self._reader(tmp_path)._list()
        # the truncated member is skipped THIS poll (retried next); the
        # healthy file is still admitted
        assert str(ok) in out
        assert not any(p.endswith("b.xml.gz") for p in out)

    def test_utf16_still_fails_fast(self, tmp_path):
        (tmp_path / "u.xml").write_bytes(
            "<root><r><x>1</x></r></root>".encode("utf-16")
        )
        with pytest.raises(ValueError, match="UTF-16/UTF-32"):
            self._reader(tmp_path)._list()

    def test_known_files_not_repeeked(self, tmp_path):
        """Once a path is in the monotone floor it was vetted at
        admission; later polls must not re-open it (O(files) opens per
        poll otherwise — and a file REPLACED by bad bytes after commit
        must not retro-crash the stream)."""
        p = tmp_path / "a.xml"
        p.write_bytes(b"<root><r><x>1</x></r></root>")
        r = self._reader(tmp_path)
        r.latestOffset()  # admits + vets the file
        p.write_bytes("<root/>".encode("utf-16"))  # now invalid on disk
        out = r._list()  # must NOT raise: path already known
        assert str(p) in out
