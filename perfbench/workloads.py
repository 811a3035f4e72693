"""The two workloads: inputs, op schedule, ops and their checks.

``prepare`` runs in the launcher before the measured process starts and
needs no Spark session. ``make_ops`` and ``check`` run in the measured
process. Ops drive the program only through its public functions, looked
up on their modules at call time so a traced run sees every call.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from perfbench import inputs

FLAT_OPS = ("scan_groupby", "scan_filter", "scan_project")
FILTER_COLUMNS = ("kind", "cat", "val")  # scan_filter's columns= projection
NESTED_OPS = ("xsd_explode", "infer_agg", "avro_write", "avro_read")
# ann_join_topk first: the run's first op pays the Python worker boot
REGISTRY_PYTHON = (
    "ann_join_topk",
    "dedup_embedding_cosine",
    "dedup_minhash_lsh",
    "setsim_join_prefix",
    "plagiarism_detect",
    "multimodal_png_codec",
    "corpus_curation_pipeline",
)
REGISTRY_JVM = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q18_large_volume_customer",
    "window_rank_topn",
)

FLAT_BYTES = 8 << 20
FLAT_SPLITS = 8
NESTED_FILES = 12
NESTED_ORDERS_PER_FILE = 300


@dataclass(frozen=True)
class Spec:
    name: str
    # a pass runs each op once, in this order; kinds[0] is the run's first
    # op. The first pass meets every op's code cold, so the order is fixed:
    # which op pays a first-in-process cost does not depend on the seed.
    kinds: tuple[str, ...]
    scan_kinds: tuple[str, ...]  # ops whose time scan_mb_s divides by
    # with 2, a second, warm pass repeats every op, and the later-op
    # metrics come from it: an op's first run in a process pays one-time
    # costs whose size varies from run to run far more than the op itself
    passes: int


WORKLOADS = {
    s.name: s
    for s in (
        Spec("xml_ingest", FLAT_OPS + NESTED_OPS,
             FLAT_OPS + ("xsd_explode", "infer_agg"), 2),
        Spec("registry_mix", REGISTRY_PYTHON + REGISTRY_JVM,
             REGISTRY_PYTHON + REGISTRY_JVM, 1),
    )
}


# ----------------------------------------------------------- launcher side


def prepare(name: str, run_dir: str, seed: int) -> dict:
    """Write the workload's inputs under ``run_dir``; return the context
    the measured process needs, expected answers included.
    ``scan_bytes`` maps each scan op to the input bytes it reads."""
    data = os.path.join(run_dir, "data")
    os.makedirs(data, exist_ok=True)
    if name == "xml_ingest":
        path = os.path.join(data, "flat.xml")
        flat = inputs.write_flat_xml(path, seed, FLAT_BYTES)
        xml_dir = os.path.join(data, "xml")
        xsd = os.path.join(data, "orders.xsd")
        nested = inputs.write_nested_xml(xml_dir, xsd, seed, NESTED_FILES,
                                         NESTED_ORDERS_PER_FILE)
        scan_bytes = dict.fromkeys(FLAT_OPS, flat["bytes"])
        scan_bytes.update(dict.fromkeys(NESTED_OPS, nested["xml_bytes"]))
        return {"path": path, "partition_bytes": -(-flat["bytes"] // FLAT_SPLITS),
                "flat": flat, "xml_dir": xml_dir, "xsd": xsd,
                "avro_dir": os.path.join(data, "avro"), "nested": nested,
                "scan_bytes": scan_bytes}
    if name == "registry_mix":
        from xml_hive_spark.operators import all_queries

        sf_dir = os.path.join(data, "sf0.01")
        parquet_bytes = inputs.write_registry_tables(sf_dir, seed)
        registry = all_queries()
        kinds = WORKLOADS[name].kinds
        oracles = {q: registry[q].oracle for q in kinds}
        return {"sf_dir": sf_dir, "oracle": inputs.registry_oracle(sf_dir, oracles),
                "scan_bytes": dict.fromkeys(kinds, parquet_bytes)}
    raise ValueError(f"unknown workload {name!r}")


# ----------------------------------------------------- measured-process side


def flat_filter():
    """The filters Spark pushes to the source for ``scan_filter``,
    the ``IsNotNull`` constraints it infers included."""
    from pyspark.sql.datasource import EqualTo, IsNotNull, LessThan

    return [IsNotNull(("val",)), IsNotNull(("kind",)),
            LessThan(("val",), inputs.FLAT_FILTER_VAL),
            EqualTo(("kind",), inputs.FLAT_FILTER_KIND)]


def flat_schema():
    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, StringType, StructField, StructType,
    )

    def field(name, dtype, kind):
        return StructField(name, dtype, True,
                           metadata={"xmlKind": kind, "xmlName": name})

    return StructType([
        field("id", LongType(), "attribute"),
        field("kind", StringType(), "attribute"),
        field("cat", StringType(), "element"),
        field("val", IntegerType(), "element"),
        field("price", DoubleType(), "element"),
        field("note", StringType(), "element"),
    ])


def make_ops(name: str, spark, ctx: dict, tr) -> dict:
    """``{kind: op}``; an op runs the program and returns collected
    results, which ``check`` compares with the expected answers."""
    from pyspark.sql import functions as F

    from xml_hive_spark import reader, xsd
    from xml_hive_spark.sources import avro_ocf, xml_sink

    def collect(df):
        with tr.span("spark.collect"):
            return df.collect()

    if name == "xml_ingest":
        schema = flat_schema()

        def scan(**kw):
            return reader.read_xml(spark, ctx["path"], inputs.FLAT_ROW_TAG,
                                   schema=schema,
                                   partition_bytes=ctx["partition_bytes"], **kw)

        ops = {
            "scan_groupby": lambda: collect(scan().groupBy("cat").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("val").alias("sum_val"),
                F.sum(F.round(F.col("price") * 100).cast("long")).alias("sum_cents"),
                F.sum(F.length("note")).alias("sum_note_len"))),
            "scan_filter": lambda: collect(
                scan(columns=list(FILTER_COLUMNS))
                .filter((F.col("val") < inputs.FLAT_FILTER_VAL)
                        & (F.col("kind") == inputs.FLAT_FILTER_KIND))
                .groupBy("cat").agg(F.count(F.lit(1)).alias("n_kept"),
                                    F.sum("val").alias("sum_val_kept"))),
            "scan_project": lambda: collect(scan(columns=["id"]).agg(
                F.count(F.lit(1)).alias("n"), F.sum("id").alias("s"),
                F.max("id").alias("m"))),
        }

        def by_xsd():
            return reader.read_xml(spark, ctx["xml_dir"], inputs.NESTED_ROW_TAG,
                                   xsd=ctx["xsd"], sep_tag_type=inputs.NESTED_TYPE,
                                   ns=inputs.NESTED_NS)

        def avro_write():
            d = ctx["avro_dir"]
            xml_sink.write_avro(by_xsd(), d)
            return sum(os.path.getsize(os.path.join(d, f))
                       for f in os.listdir(d) if f.endswith(".avro"))

        def avro_read():
            schema = xsd.xsd_to_struct(ctx["xsd"], inputs.NESTED_TYPE, inputs.NESTED_NS)
            return collect(avro_ocf.read_avro_ocf(spark, ctx["avro_dir"], schema))

        ops.update({
            "xsd_explode": lambda: collect(
                by_xsd().select("region", F.explode("line").alias("l"))
                .groupBy("region").agg(F.count(F.lit(1)).alias("lines"),
                                       F.sum("l.qty").alias("sum_qty"),
                                       F.sum("l.cents").alias("sum_cents"))),
            "infer_agg": lambda: collect(
                reader.read_xml(spark, ctx["xml_dir"], inputs.NESTED_ROW_TAG)
                .groupBy("region").agg(F.count(F.lit(1)).alias("orders"),
                                       F.sum("id").alias("sum_id"),
                                       F.count("priority").alias("with_priority"))),
            "avro_write": avro_write,
            "avro_read": avro_read,
        })
        return ops

    from xml_hive_spark.operators import all_queries

    registry = all_queries()

    def run_query(q):
        def op():
            with tr.span("operators." + q):
                df = registry[q].fn(spark, ctx["sf_dir"])
            with tr.span("spark.collect"):
                rows = list(df.toPandas().itertuples(index=False, name=None))
            return df.columns, rows
        return op

    return {q: run_query(q) for q in WORKLOADS[name].kinds}


def check(kind: str, got, ctx: dict) -> str | None:
    """None when the op's result is right; else a one-line reason."""
    if kind in FLAT_OPS:
        exp = ctx["flat"]
        if kind == "scan_project":
            n = exp["records"]
            want = (n, n * (n - 1) // 2, n - 1)
            have = tuple(got[0])
            return None if have == want else f"{have} != {want}"
        keys = (("n", "sum_val", "sum_cents", "sum_note_len") if kind == "scan_groupby"
                else ("n_kept", "sum_val_kept"))
        want = {c: tuple(v[k] for k in keys) for c, v in exp["per_cat"].items()
                if v[keys[0]] > 0}
        have = {r["cat"]: tuple(r[k] for k in keys) for r in got}
        return None if have == want else f"per-category {have} != {want}"
    if kind in NESTED_OPS:
        exp = ctx["nested"]
        if kind == "avro_write":
            return None if got > 0 else "no Avro bytes written"
        if kind == "avro_read":
            recs = [inputs.canonical_order(
                r.id, r.region, r.customer, r.priority, r.address.city,
                r.address.zip, [(x.no, x.sku, x.qty, x.cents) for x in r.line])
                for r in got]
            h = inputs.value_hash(recs)
            return None if h == exp["value_hash"] else f"value hash {h[:12]} differs"
        keys = (("lines", "sum_qty", "sum_cents") if kind == "xsd_explode"
                else ("orders", "sum_id", "with_priority"))
        want = {r: tuple(v[k] for k in keys) for r, v in exp["per_region"].items()
                if v["orders"] > 0}
        have = {r["region"]: tuple(r[k] for k in keys) for r in got}
        return None if have == want else f"per-region {have} != {want}"
    cols, rows = got
    return inputs.same_result(inputs.canonical_result(cols, rows), ctx["oracle"][kind])
