"""Corrupt-record capture (spark-xml ``columnNameOfCorruptRecord``
semantics): under PERMISSIVE, records that fail parsing or coercion
surface their raw text in a declared sink column; clean rows leave it
null. The reference just warns-and-drops (AvroTransormer.scala:185)."""

from __future__ import annotations

import pytest
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from xml_hive_spark.reader import read_xml


def _schema():
    return StructType(
        [
            StructField("name", StringType(), True,
                        metadata={"xmlKind": "element", "xmlName": "name"}),
            StructField("qty", IntegerType(), True,
                        metadata={"xmlKind": "element", "xmlName": "qty"}),
        ]
    )


DOC = b"""<root>
<item><name>ok-1</name><qty>5</qty></item>
<item><name>broken</name><qty>five</qty></item>
<item><name>ok-2</name><qty>7</qty></item>
<item><name>unclosed<qty>9</qty></item>
<item><name>ok-3</name><qty>11</qty></item>
</root>"""


def _write(tmp_path):
    p = tmp_path / "items.xml"
    p.write_bytes(DOC)
    return str(p)


class TestReadXml:
    def test_permissive_captures_raw_text(self, spark, tmp_path):
        df = read_xml(
            spark, _write(tmp_path), "item", schema=_schema(),
            mode="PERMISSIVE", corrupt_column="_corrupt_record",
        )
        assert df.schema.fieldNames() == ["name", "qty", "_corrupt_record"]
        rows = sorted(df.collect(), key=lambda r: (r._corrupt_record or "", r.name or ""))
        clean = [r for r in rows if r._corrupt_record is None]
        bad = [r for r in rows if r._corrupt_record is not None]
        assert {r.name for r in clean} == {"ok-1", "ok-2", "ok-3"}
        assert {r.qty for r in clean} == {5, 7, 11}
        assert len(bad) == 2
        for r in bad:  # data fields null, raw record text preserved
            assert r.name is None and r.qty is None
        texts = sorted(r._corrupt_record for r in bad)
        assert "<qty>five</qty>" in texts[0] or "<qty>five</qty>" in texts[1]
        assert any("unclosed" in t for t in texts)

    def test_dropmalformed_unaffected(self, spark, tmp_path):
        df = read_xml(
            spark, _write(tmp_path), "item", schema=_schema(),
            mode="DROPMALFORMED", corrupt_column="_corrupt_record",
        )
        rows = df.collect()
        assert len(rows) == 3
        assert all(r._corrupt_record is None for r in rows)

    def test_declared_column_is_tagged_not_duplicated(self, spark, tmp_path):
        schema = _schema().add(StructField("bad", StringType(), True))
        df = read_xml(
            spark, _write(tmp_path), "item", schema=schema,
            mode="PERMISSIVE", corrupt_column="bad",
        )
        assert df.schema.fieldNames() == ["name", "qty", "bad"]
        assert df.filter("bad IS NOT NULL").count() == 2


class TestBareDataSource:
    def test_option_requires_declared_field(self, spark, tmp_path):
        import pytest

        from xml_hive_spark.sources.xml_datasource import register

        register(spark)
        path = _write(tmp_path)
        schema = _schema().add(StructField("_corrupt_record", StringType(), True))

        def load():
            # fresh load per query: a filterless re-scan of one loaded
            # DataFrame reuses the previous pushdown plan (upstream pin:
            # test_pushdown.test_upstream_plan_reuse_leaks_pushed_filters)
            return (
                spark.read.format("xmlhive")
                .schema(schema)
                .option("rowTag", "item")
                .option("mode", "PERMISSIVE")
                .option("columnNameOfCorruptRecord", "_corrupt_record")
                .option("path", path)
                .load()
            )

        assert load().filter("_corrupt_record IS NOT NULL").count() == 2
        assert load().count() == 5

        missing = (
            spark.read.format("xmlhive")
            .schema(_schema())
            .option("rowTag", "item")
            .option("columnNameOfCorruptRecord", "nope")
            .option("path", path)
            .load()
        )
        with pytest.raises(Exception, match="columnNameOfCorruptRecord"):
            missing.collect()

    def test_stream_captures_corrupt_records(self, spark, tmp_path):
        """``xmlhive-stream`` reads through the same reader, so the
        option fills the sink column there too."""
        from xml_hive_spark.sources.xml_stream import register_stream
        from xml_hive_spark.streaming import drain

        register_stream(spark)
        landing = tmp_path / "landing"
        landing.mkdir()
        _write(landing)
        schema = _schema().add(StructField("_corrupt_record", StringType(), True))
        stream = (
            spark.readStream.format("xmlhive-stream")
            .schema(schema)
            .option("rowTag", "item")
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .option("path", str(landing))
            .load()
        )
        rows = drain(stream, "append").collect()
        assert len(rows) == 5
        bad = sorted(r._corrupt_record for r in rows if r._corrupt_record is not None)
        assert len(bad) == 2 and "five" in bad[0] and "unclosed" in bad[1]


class TestFusedPathKeepsCorruptCapture:
    def test_flat_assembler_accepts_corrupt_sink(self, spark, tmp_path):
        """A corrupt-sink schema must KEEP the fused fast path (clean
        records: template/columnar; corrupt ones: exact fallback fills
        the text) — not silently degrade every record to ElementTree."""
        from xml_hive_spark.flat import FlatAssembler
        from xml_hive_spark.reader import tag_corrupt_field

        schema = tag_corrupt_field(_schema(), "_corrupt_record")
        asm = FlatAssembler.try_create(schema, "PERMISSIVE")
        assert asm is not None, "corrupt sink must not disable the fast path"

        # uniform run + a coercion-corrupt + a structurally-corrupt record
        recs = [
            f"<item><name>n{i}</name><qty>{i}</qty></item>" for i in range(50)
        ]
        recs[13] = "<item><name>bad</name><qty>NaN?</qty></item>"
        recs[29] = "<item><name>open<qty>9</qty></item>"
        data = ("<root>\n" + "\n".join(recs) + "\n</root>").encode()
        p = tmp_path / "doc.xml"
        p.write_bytes(data)
        batches = list(
            asm.fused_split_batches((str(p), 0, len(data), "TEXT", 0), "item")
        )
        rows = [r for b in batches for r in b.to_pylist()]
        assert len(rows) == 50
        bad = [r for r in rows if r["_corrupt_record"] is not None]
        assert len(bad) == 2
        assert all(r["name"] is None and r["qty"] is None for r in bad)
        assert any("NaN?" in r["_corrupt_record"] for r in bad)
        clean = [r for r in rows if r["_corrupt_record"] is None]
        assert {r["qty"] for r in clean} == set(range(50)) - {13, 29}


def test_single_record_run_span_excludes_absorbed_comment(spark, tmp_path):
    """A length-1 template run absorbs a trailing comment into its span
    (rx_multi ends past it); the reject-path re-read must still capture
    ONLY the record text — identical whatever batch/run shape produced
    the row."""
    from xml_hive_spark.flat import FlatAssembler
    from xml_hive_spark.reader import tag_corrupt_field

    schema = tag_corrupt_field(_schema(), "_corrupt_record")
    asm = FlatAssembler.try_create(schema, "PERMISSIVE")
    # a lone uniform record with a failing int capture, then a comment:
    # the learn sample comes first so the bad record rides the template
    data = (
        "<root>\n"
        + "\n".join(
            f'<item><name>n{i}</name><qty>{i}</qty></item>' for i in range(8)
        )
        + '\n<item><name>bad</name><qty>not-a-number</qty></item>'
        + "\n<!-- trailing note --><other/>\n"
        + "\n".join(
            f'<item><name>m{i}</name><qty>{i}</qty></item>' for i in range(8)
        )
        + "\n</root>"
    ).encode()
    p = tmp_path / "doc.xml"
    p.write_bytes(data)
    rows = [
        r
        for b in asm.fused_split_batches((str(p), 0, len(data), "TEXT", 0),
                                         "item")
        for r in b.to_pylist()
    ]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(bad) == 1
    text = bad[0]["_corrupt_record"]
    assert "not-a-number" in text
    assert "trailing note" not in text, text  # absorbed comment excluded
    assert text.rstrip().endswith("</item>")


def test_gzip_pushdown_and_corrupt_capture_compose(spark, tmp_path):
    """The three orthogonal reader features — compressed input
    (whole-member split), PERMISSIVE corrupt capture, and filter
    pushdown — must compose in one scan: filters apply to clean rows,
    corrupt rows surface their text (a corrupt row has NULL data fields,
    so a pushed predicate on them drops it — SQL three-valued logic)."""
    import gzip

    from xml_hive_spark.sources.xml_datasource import register

    register(spark)
    recs = [f"<item><name>n{i}</name><qty>{i}</qty></item>" for i in range(40)]
    recs[7] = "<item><name>x</name><qty>seven</qty></item>"  # coercion-corrupt
    data = ("<root>" + "".join(recs) + "</root>").encode()
    p = tmp_path / "items.xml.gz"
    p.write_bytes(gzip.compress(data))

    schema = _schema().add(StructField("_corrupt_record", StringType(), True))

    def load():
        return (
            spark.read.format("xmlhive")
            .schema(schema)
            .option("rowTag", "item")
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .option("path", str(p))
            .load()
        )

    # unfiltered: all 40 rows, one corrupt
    rows = load().collect()
    assert len(rows) == 40
    bad = [r for r in rows if r._corrupt_record is not None]
    assert len(bad) == 1 and "seven" in bad[0]._corrupt_record

    # pushed filter on a data column: clean matches only (the corrupt
    # row's qty IS NULL -> predicate unknown -> dropped)
    got = load().filter("qty >= 35").collect()
    assert sorted(r.qty for r in got) == [35, 36, 37, 38, 39]
    assert all(r._corrupt_record is None for r in got)

    # filter FOR the corrupt rows: the quarantine query
    q = load().filter("_corrupt_record IS NOT NULL").collect()
    assert len(q) == 1 and q[0].name is None


def test_only_malformed_records_are_dropped_or_nulled(monkeypatch):
    """DROPMALFORMED and PERMISSIVE absorb a malformed record (a parse
    or coercion error), nothing else: a reader bug, or a schema type the
    coercers do not cover, raises under every mode instead of becoming
    dropped or null rows."""
    from xml_hive_spark import reader

    good = b"<item><name>x</name><qty>5</qty></item>"
    assert reader.parse_record_safe(
        b"<item><name>x</name><qty>five</qty></item>", _schema(), "DROPMALFORMED") is None
    assert reader.parse_record_safe(b"<item><name>x", _schema(), "PERMISSIVE") == (None, None)

    def reader_bug(elem, struct):
        raise RuntimeError("reader bug")

    with monkeypatch.context() as m:
        m.setattr(reader, "assemble_row", reader_bug)
        for mode in ("PERMISSIVE", "DROPMALFORMED", "FAILFAST"):
            with pytest.raises(RuntimeError, match="reader bug"):
                reader.parse_record_safe(good, _schema(), mode)

    untyped = StructType([StructField("qty", BinaryType(), True,
                                      metadata={"xmlKind": "element", "xmlName": "qty"})])
    for mode in ("PERMISSIVE", "DROPMALFORMED"):
        with pytest.raises(TypeError, match="unsupported scalar type"):
            reader.parse_record_safe(good, untyped, mode)
