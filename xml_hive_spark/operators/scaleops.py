"""Scale-technique operators: explicit bloom-filter join pruning,
Z-order clustered layout with data skipping, and schema-evolution reads.

None of these exist in the reference (its relational tier is Hive
delegation with no layout or join-pruning control — SURVEY.md §2.B);
they are the techniques a 100 TB deployment of this engine leans on:
prune a fact-table shuffle with a few KB of broadcast bloom bits,
cluster cold data so multi-column box queries skip row groups, and read
a parquet lake whose schema widened over time. Each is expressed as
pure JVM-side DataFrame ops (no UDFs) with a full DuckDB oracle — the
optimization must be invisible in the RESULT and visible only in the
plan, which the tests pin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xml_hive_spark.operators import dsum, query, t

# ---------------------------------------------------------------- bloom

_BLOOM_BITS = 1 << 16  # 64 Kibit = 8 KiB of broadcast state
_BLOOM_WORDS = _BLOOM_BITS // 64
# k = 3 positions SLICED from ONE md5 (hex offsets, 16 bits each): one
# hash evaluation per probed row instead of three — measured 1.55 →
# 1.00 s over 600k rows at sf0.1 (the md5s were half the probe cost).
# Independent BITS of one strong hash are the standard k-hash stand-in
# (Kirsch-Mitzenmacher); no-false-negative stays structural (build and
# probe compute identical slices), portability unchanged (any engine
# with md5 reproduces the positions)
_BLOOM_SLICES = (1, 5, 9)


def _bloom_positions(col):
    """The k bit positions in [0, 2^16) for one key — three 4-hex-char
    slices of a single md5. Engine-portable and deterministic, same
    family as the count-min bucket hash (text.py)."""
    hx = F.md5(col.cast("string").cast("binary"))
    return [
        F.conv(F.substring(hx, off, 4), 16, 10).cast("long")
        for off in _BLOOM_SLICES
    ]


def bloom_build(df: DataFrame, key: str) -> list:
    """Distributed bloom build: every key sets k bit positions; positions
    aggregate into 64-bit words via bit_or — one partial+final hash-agg
    over ≤ k·|keys| skinny rows, then a BOUNDED collect (exactly
    _BLOOM_WORDS longs = 8 KiB regardless of corpus size — the same
    bounded-model-state contract as the k-means centroids)."""
    kc = F.col(key)
    pos = df.select(
        F.explode(F.array(*_bloom_positions(kc))).alias("p")
    )
    words = (
        pos.groupBy((F.col("p") / 64).cast("int").alias("w"))
        # SQL shiftleft takes a column bit-count (the Python wrapper
        # insists on a literal int)
        .agg(F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT)))"
        ).alias("bits"))
        .collect()
    )
    arr = [0] * _BLOOM_WORDS
    for r in words:
        arr[r["w"]] = r["bits"]
    return arr


def bloom_might_contain(arr: list, col):
    """JVM-side membership test against the broadcast word array: k
    md5 positions, each checked with element_at + shiftright + bit-AND —
    whole-stage-codegen expressions, no UDF. False positives possible,
    false negatives impossible (verified property-style in tests)."""
    lit_arr = F.array(*[F.lit(w).cast("long") for w in arr])
    cond = F.lit(True)
    for p in _bloom_positions(col):
        word = F.element_at(lit_arr, (p / 64).cast("int") + F.lit(1))
        cond = cond & (F.bit_get(word, (p % 64).cast("int")) == 1)
    return cond


@query(
    "join_bloom_pruned",
    oracle="""
SELECT s.s_nationkey AS nation,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(30,6))) AS DOUBLE)
         AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
WHERE s.s_acctbal > 4000
GROUP BY s.s_nationkey
ORDER BY nation
""",
    tags=("join", "bloom", "prune", "scale"),
)
def join_bloom_pruned(spark: SparkSession, sf: str) -> DataFrame:
    """Fact-table join with EXPLICIT bloom-filter pre-pruning: an 8 KiB
    deterministic bloom over the filtered supplier keys is built
    distributed (one hash-agg, bounded collect), broadcast as a literal
    word array, and applied to lineitem BEFORE the join — rows failing
    the bloom never enter the join exchange. The actual equi-join then
    removes bloom false positives, so the RESULT is exactly the plain
    inner join (the oracle) while the join-side shuffle carries only
    ~|matching| + fp rows instead of the whole fact table.

    Spark's own runtime bloom join
    (spark.sql.optimizer.runtime.bloomFilter.*) does this adaptively
    for suitable shapes; this operator is the explicit, engine-portable
    variant — the bloom bits are reproducible md5 arithmetic, so a
    downstream system (or DuckDB) can re-derive the identical filter.
    At 100 TB: the build side is a broadcast-sized dim scan; the probe
    side prunes at scan-adjacent cost (ONE md5 + 3 array probes/row, codegen'd)
    against an 8 KiB array — no shuffle is added, one is shrunk.
    Plan pinned in tests/test_scaleops.py: the bloom condition sits
    below the join, and pruned-row counts bound the false-positive
    rate."""
    sup = (
        t(spark, sf, "supplier")
        .filter(F.col("s_acctbal") > 4000)
        .select("s_suppkey", "s_nationkey")
    )
    arr = bloom_build(sup, "s_suppkey")
    li = t(spark, sf, "lineitem").select("l_suppkey", "l_extendedprice")
    pruned = li.filter(bloom_might_contain(arr, F.col("l_suppkey")))
    return (
        pruned.join(sup, pruned["l_suppkey"] == sup["s_suppkey"])
        .groupBy(F.col("s_nationkey").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice").alias("revenue"),
        )
        .orderBy("nation")
    )


# --------------------------------------------------------------- zorder


def _part1by1(col):
    """Interleave zeros between the low 16 bits of ``col`` (morton
    spread): 0bABCD -> 0b0A0B0C0D, via the classic shift-or-mask ladder
    as JVM bitwise expressions."""
    x = col.cast("long").bitwiseAND(F.lit(0xFFFF).cast("long"))
    for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F),
                       (2, 0x33333333), (1, 0x55555555)):
        x = x.bitwiseOR(F.shiftleft(x, shift)).bitwiseAND(
            F.lit(mask).cast("long")
        )
    return x


def zvalue(a, b):
    """Morton/Z-order interleave of two 16-bit-clamped dimensions —
    pure codegen bit arithmetic, no UDF."""
    return _part1by1(a).bitwiseOR(F.shiftleft(_part1by1(b), 1))


@query(
    "zorder_write_skipping",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
         AS total_price
FROM orders
WHERE o_custkey BETWEEN 100 AND 500
  AND o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate <  TIMESTAMP '1996-01-01'
""",
    tags=("storage", "zorder", "skipping", "scale"),
)
def zorder_write_skipping(spark: SparkSession, sf: str) -> DataFrame:
    """Z-ORDER clustered rewrite + multi-column box query: orders are
    rewritten to parquet clustered on the Morton interleave of
    (o_custkey, days(o_orderdate)) — range-partitioned AND sorted
    within files on the z-value — then a 2-D box query (customer range
    × one year) runs against the clustered copy. The oracle runs the
    same box on the ORIGINAL table: clustering must be value-invisible.

    Why this layout at 100 TB: a sort on either single column makes the
    OTHER column's per-row-group min/max spans useless; the z-curve
    bounds BOTH dimensions per row group, so parquet predicate pushdown
    (min/max stats) skips every row group outside the box — the
    lakehouse OPTIMIZE ZORDER BY capability, reproduced with plain
    DataFrame ops. The write is one range-exchange (sampled
    boundaries) + in-partition sort; the read shows PushedFilters on
    both columns (pinned with the skipping measurement in
    tests/test_scaleops.py)."""
    from xml_hive_spark.session import scratch_dir

    orders = t(spark, sf, "orders")
    z = zvalue(
        F.col("o_custkey"),
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date")),
    )
    out = scratch_dir("zorder-") + "/orders_z"
    (
        orders.withColumn("_z", z)
        .repartitionByRange(8, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(out)
    )
    clustered = spark.read.parquet(out)
    return clustered.filter(
        F.col("o_custkey").between(100, 500)
        & (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total_price"),
    )


# ------------------------------------------------------------------ hll

# Shared oracle-SQL fragments for the portable HLL. The batch, grouped,
# and streaming entries advertise "definitionally identical" sketches —
# these fragments are interpolated into all three oracle strings at
# import time so the register/rho/estimate arithmetic cannot drift
# between copies. DuckDB dialect (strpos/ltrim/::BIGINT).
HLL_REG_SQL = """(strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1)"""
HLL_RHO_SQL = """CASE WHEN ltrim(substr(hx, 3, 12), '0') = '' THEN 49
              ELSE 4 * (12 - length(ltrim(substr(hx, 3, 12), '0')))
                   + CASE substr(ltrim(substr(hx, 3, 12), '0'), 1, 1)
                       WHEN '1' THEN 3
                       WHEN '2' THEN 2 WHEN '3' THEN 2
                       WHEN '4' THEN 1 WHEN '5' THEN 1
                       WHEN '6' THEN 1 WHEN '7' THEN 1
                       ELSE 0 END
                   + 1 END"""
HLL_SUM_SQL = """CAST(SUM(1::BIGINT << (49 - mx)) AS BIGINT)
         + (256 - COUNT(*)) * (1::BIGINT << 49) AS ssum,
         CAST(256 - COUNT(*) AS BIGINT) AS zeros"""
HLL_EST_SQL = """round(CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
                       * 562949953421312.0 / CAST(ssum AS DOUBLE)
                       <= 640.0
                   AND zeros > 0
                  THEN 256.0 * ln(256.0 / CAST(zeros AS DOUBLE))
                  ELSE (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
                       * 562949953421312.0 / CAST(ssum AS DOUBLE) END,
             4)"""


@query(
    "sketch_hll_portable",
    oracle=f"""
WITH h AS (
  SELECT md5(CAST(l_partkey AS VARCHAR)) AS hx FROM lineitem
),
r AS (
  SELECT {HLL_REG_SQL} AS reg,
         {HLL_RHO_SQL} AS rho
  FROM h
),
m AS (
  SELECT reg, MAX(rho) AS mx FROM r GROUP BY reg
),
s AS (
  SELECT {HLL_SUM_SQL}
  FROM m
)
SELECT (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) FROM lineitem)
         AS n_exact,
       CAST(256 - zeros AS BIGINT) AS nonzero_registers,
       {HLL_EST_SQL} AS hll_est
FROM s
""",
    tags=("sketch", "hll", "distinct", "scale"),
)
def sketch_hll_portable(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-engine-portable HyperLogLog distinct count with a FULL
    value oracle — the engine-agnostic sibling of
    ``agg_approx_distinct`` (whose Spark HLL++ registers are not
    reproducible outside the JVM) and the count-min entry's design
    twin: m = 256 registers addressed by the first md5 byte, rho =
    leading-zero rank of the next 48 hash bits computed with pure
    string/CASE arithmetic (bit-identical in any engine with md5), and
    the harmonic sum kept EXACT as the integer Σ 2^(49−M[reg]) — so
    both engines divide the same two integers and the only floating
    noise left is one ln in the small-range branch, absorbed by
    round(…,4) (the BM25 precedent).

    Scale shape: the register table is a mergeable ≤256-row summary —
    one map-side-combined hash-agg regardless of corpus size, vs one
    shuffled row per distinct key for the exact count. The exact
    count is computed alongside as the honesty column (same contract
    as ``sketch_count_min``'s exact_n)."""
    li = t(spark, sf, "lineitem")
    reg, rho = hll_register_cols(F.col("l_partkey").cast("string"))
    regs = (
        li.select(reg.alias("reg"), rho.alias("rho"))
        .groupBy("reg")
        .agg(F.max("rho").alias("mx"))
    )
    exact = t(spark, sf, "lineitem").agg(
        F.countDistinct("l_partkey").cast("long").alias("n_exact")
    )
    return exact.crossJoin(
        hll_estimate_from_registers(regs)
    ).select("n_exact", "nonzero_registers", "hll_est")


def hll_register_cols(key_col):
    """(register, rho) column pair for one string key: register = first
    md5 byte, rho = leading-zero rank of the next 48 bits via pure
    string/CASE arithmetic. Shared by the batch and streaming HLL
    entries so both sketches are definitionally identical."""
    hx = F.md5(key_col.cast("binary"))
    sfx = F.substring(hx, 3, 12)
    # == ltrim(sfx, '0') in the DuckDB oracles: strip leading zero nibbles
    stripped = F.regexp_replace(sfx, "^0+", "")
    nib = F.substring(stripped, 1, 1)
    rho = F.when(stripped == "", F.lit(49)).otherwise(
        4 * (F.length(sfx) - F.length(stripped))
        + F.when(nib == "1", 3)
        .when(nib.isin("2", "3"), 2)
        .when(nib.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
        + 1
    )
    reg = (
        (F.conv(F.substring(hx, 1, 1), 16, 10).cast("int") * 16)
        + F.conv(F.substring(hx, 2, 1), 16, 10).cast("int")
    )
    return reg, rho


def hll_estimate_from_registers(regs: DataFrame, group_cols=()) -> DataFrame:
    """Final HLL harmonic estimate from a (reg, mx) register table —
    exact-integer power sum, float math only in the last expression
    (identical association to the DuckDB oracles). With ``group_cols``,
    the same arithmetic runs per group over a (group…, reg, mx) table;
    the delicate constants and the linear-counting switch live ONLY
    here, shared by the batch, grouped, and streaming entries."""
    gc = [F.col(c) for c in group_cols]
    agg_exprs = [
        (
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 49 - mx)"))
            + (F.lit(256) - F.count(F.lit(1)))
            * F.lit(1 << 49).cast("long")
        ).alias("ssum"),
        (F.lit(256) - F.count(F.lit(1))).cast("long").alias("zeros"),
    ]
    s = regs.groupBy(*gc).agg(*agg_exprs) if gc else regs.agg(*agg_exprs)
    raw = (
        F.lit(0.7213 / (1.0 + 1.079 / 256.0))
        * F.lit(65536.0)
        * F.lit(562949953421312.0)
        / F.col("ssum").cast("double")
    )
    est = F.when(
        (raw <= 640.0) & (F.col("zeros") > 0),
        F.lit(256.0) * F.log(F.lit(256.0) / F.col("zeros").cast("double")),
    ).otherwise(raw)
    return s.select(
        *gc,
        (F.lit(256) - F.col("zeros")).cast("long").alias("nonzero_registers"),
        F.round(est, 4).alias("hll_est"),
    )


@query(
    "sketch_hll_grouped",
    oracle=f"""
WITH h AS (
  SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS hx FROM events
),
r AS (
  SELECT event_type,
         {HLL_REG_SQL} AS reg,
         {HLL_RHO_SQL} AS rho
  FROM h
),
m AS (
  SELECT event_type, reg, MAX(rho) AS mx FROM r GROUP BY event_type, reg
),
s AS (
  SELECT event_type,
         {HLL_SUM_SQL}
  FROM m GROUP BY event_type
),
e AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY event_type
)
SELECT s.event_type, e.n_exact,
       {HLL_EST_SQL} AS hll_est
FROM s JOIN e USING (event_type)
ORDER BY event_type
""",
    tags=("sketch", "hll", "distinct", "grouped"),
)
def sketch_hll_grouped(spark: SparkSession, sf: str) -> DataFrame:
    """GROUPED portable-HLL distinct counts — distinct users PER EVENT
    TYPE, the everyday analytics shape of approximate distinct. Same
    cross-engine register arithmetic as ``sketch_hll_portable``; the
    register table is (group × ≤256) rows and the whole computation is
    two mergeable hash-aggs, so per-group distinct over any number of
    groups stays one shuffle of bounded rows per group — where exact
    per-group count(DISTINCT) shuffles one row per (group, key) pair.
    Exact counts ride along per group as the honesty column; the
    estimate itself is value-oracled (DuckDB recomputes identical
    registers)."""
    ev = t(spark, sf, "events")
    reg, rho = hll_register_cols(F.col("user_id").cast("string"))
    regs = (
        ev.select("event_type", reg.alias("reg"), rho.alias("rho"))
        .groupBy("event_type", "reg")
        .agg(F.max("rho").alias("mx"))
    )
    est = hll_estimate_from_registers(regs, group_cols=("event_type",))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return (
        est.join(exact, "event_type")
        .select("event_type", "n_exact", "hll_est")
        .orderBy("event_type")
    )


# ----------------------------------------------------- schema evolution


@query(
    "schema_evolution_read",
    oracle="""
SELECT era,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(priority) AS BIGINT) AS n_with_priority,
       CAST(sum(CAST(total AS DECIMAL(30,6))) AS DOUBLE) AS sum_total
FROM (
  SELECT 'v1' AS era, o_orderkey AS id, o_totalprice AS total,
         CAST(NULL AS VARCHAR) AS priority
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT 'v2' AS era, o_orderkey AS id, o_totalprice AS total,
         o_orderpriority AS priority
  FROM orders WHERE o_orderkey % 2 = 1
)
GROUP BY era ORDER BY era
""",
    tags=("storage", "schema-evolution", "parquet"),
)
def schema_evolution_read(spark: SparkSession, sf: str) -> DataFrame:
    """Schema-evolution read over a parquet lake written in two epochs:
    epoch v1 wrote (era, id, total); epoch v2 added a ``priority``
    column. ``mergeSchema`` unions the footers so old files surface the
    new column as NULL — the exact lake shape a long-lived 100 TB
    dataset grows into (backfills are the expensive alternative this
    read path avoids). The oracle reconstructs the same union with an
    explicit NULL cast.

    Scale note: mergeSchema=true costs a distributed footer read ONCE
    per query planning; steady-state deployments persist the merged
    schema in the catalog instead — both paths produce this plan."""
    from xml_hive_spark.session import scratch_dir

    orders = t(spark, sf, "orders")
    base = scratch_dir("evo-") + "/lake"
    (
        orders.filter(F.col("o_orderkey") % 2 == 0)
        .select(
            F.lit("v1").alias("era"),
            F.col("o_orderkey").alias("id"),
            F.col("o_totalprice").alias("total"),
        )
        .write.mode("overwrite")
        .parquet(base + "/epoch=1")
    )
    (
        orders.filter(F.col("o_orderkey") % 2 == 1)
        .select(
            F.lit("v2").alias("era"),
            F.col("o_orderkey").alias("id"),
            F.col("o_totalprice").alias("total"),
            F.col("o_orderpriority").alias("priority"),
        )
        .write.mode("overwrite")
        .parquet(base + "/epoch=2")
    )
    lake = spark.read.option("mergeSchema", "true").parquet(
        base + "/epoch=1", base + "/epoch=2"
    )
    return (
        lake.groupBy("era")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("priority").alias("n_with_priority"),
            dsum("total").alias("sum_total"),
        )
        .orderBy("era")
    )


@query(
    "sketch_hll_union",
    oracle="""
WITH h AS (
  SELECT md5(CAST(o_custkey AS VARCHAR)) AS hx FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate <  TIMESTAMP '1995-07-01'
),
r AS (
  SELECT {HLL_REG_SQL} AS reg,
         {HLL_RHO_SQL} AS rho
  FROM h
),
m AS (
  SELECT reg, MAX(rho) AS mx FROM r GROUP BY reg
),
s AS (
  SELECT {HLL_SUM_SQL}
  FROM m
)
SELECT (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate <  TIMESTAMP '1995-07-01') AS n_exact,
       CAST(256 - zeros AS BIGINT) AS nonzero_registers,
       {HLL_EST_SQL} AS hll_est
FROM s
""".format(
        HLL_REG_SQL=HLL_REG_SQL,
        HLL_RHO_SQL=HLL_RHO_SQL,
        HLL_SUM_SQL=HLL_SUM_SQL,
        HLL_EST_SQL=HLL_EST_SQL,
    ),
    tags=("sketch", "hll", "merge", "scale"),
)
def sketch_hll_union(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch ALGEBRA — the reason portable sketches exist at 100 TB:
    distinct customers over 1995 H1 computed by max-MERGING six
    independently-built MONTHLY register tables, never rescanning the
    union. The oracle builds one direct sketch over the whole half-year;
    register max is associative and commutative, so merged-monthly must
    equal direct-scan BIT-FOR-BIT — the equality check IS the
    mergeability proof. In production the monthly sketches are 256-row
    stored artifacts (one per partition/day/source); any time range
    rolls up by register max in milliseconds, where exact distinct
    would re-shuffle one row per key per query.

    Scale shape: per-month register build is one map-side-combined
    hash-agg each; the merge is a ≤(6×256)-row aggregate. Driver never
    sees data rows."""
    orders = t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-07-01").cast("timestamp"))
    )
    reg, rho = hll_register_cols(F.col("o_custkey").cast("string"))
    # six independent monthly sketches (the stored-artifact stand-in) ...
    monthly = (
        orders.select(
            F.month("o_orderdate").alias("mth"),
            reg.alias("reg"),
            rho.alias("rho"),
        )
        .groupBy("mth", "reg")
        .agg(F.max("rho").alias("mx"))
    )
    # ... merged by register max — no rescan of the union
    merged = monthly.groupBy("reg").agg(F.max("mx").alias("mx"))
    exact = orders.agg(
        F.countDistinct("o_custkey").cast("long").alias("n_exact")
    )
    return exact.crossJoin(
        hll_estimate_from_registers(merged)
    ).select("n_exact", "nonzero_registers", "hll_est")


@query(
    "copurchase_pairs",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       CAST(count(*) AS BIGINT) AS n_orders
FROM items a JOIN items b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY part_a, part_b
ORDER BY n_orders DESC, part_a, part_b
LIMIT 20
""",
    tags=("itemsets", "pairs", "scale"),
)
def copurchase_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise frequent-itemset mining (the co-purchase/co-occurrence
    counting at the heart of market-basket and item-to-item
    recommendation): for every pair of parts appearing in the same
    order, count the orders containing both; top-20 under a TOTAL
    deterministic order (count desc, then both keys).

    Scale shape: the oracle's O(n²)-looking self-join is replaced by
    ONE shuffle of lineitem keyed on l_orderkey (groupBy collect_set);
    pairs are generated per basket with nested JVM array transforms —
    the expansion is bounded by basket size squared (TPC-H baskets ≤ 7
    lines → ≤ 21 pairs), the property that makes pair mining tractable
    at 100 TB where a general self-join is not. The final top-20 is
    orderBy().limit() — TakeOrderedAndProject, partial top-k per
    partition, no global-window funnel (the BM25 lesson)."""
    items = (
        t(spark, sf, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    )
    pairs = items.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (x, i) ->"
                " transform(slice(parts, i + 2, size(parts)),"
                " y -> struct(x AS a, y AS b))))"
            )
        ).alias("p")
    )
    return (
        pairs.groupBy(
            F.col("p.a").alias("part_a"), F.col("p.b").alias("part_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(20)
    )


@query(
    "sketch_kmv_distinct",
    oracle="""
WITH h AS (
  SELECT DISTINCT
    CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 12) AS BIGINT)
      AS hv
  FROM orders
),
b AS (SELECT hv FROM h ORDER BY hv LIMIT 128),
a AS (SELECT COUNT(*) AS n_seen, MAX(hv) AS kth_min FROM b)
SELECT (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders)
         AS n_exact,
       CAST(kth_min AS BIGINT) AS kth_min,
       CAST(CASE WHEN n_seen < 128 THEN n_seen
                 ELSE 35747322042253312 // kth_min END AS BIGINT)
         AS kmv_est
FROM a
""",
    tags=("sketch", "kmv", "distinct", "scale"),
)
def sketch_kmv_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """K-minimum-values distinct sketch (the theta-sketch family's
    simplest member) with a FULL value oracle — the order-statistics
    sibling of ``sketch_hll_portable``: keep the k=128 smallest
    DISTINCT 48-bit md5 values of the key; the kth smallest estimates
    the distinct count as (k-1)·2^48 / h_(k) — pure INTEGER division,
    so unlike HLL's harmonic mean there is no float anywhere and the
    estimate is bit-identical on any engine with md5. Below k distinct
    keys the sketch IS exact (standard KMV small-range branch).

    Scale shape: bottom-k of a hashed column plans as
    TakeOrderedAndProject — per-partition partial bottom-k, then a
    k-row merge; the only full shuffle is the DISTINCT on 8-byte
    hashes. The k-value set is a mergeable bounded summary (union =
    merge + re-truncate, same algebra ``sketch_hll_union`` pins for
    registers); exact count computed alongside as the honesty column
    (the ``sketch_count_min`` contract)."""
    orders = t(spark, sf, "orders")
    hv = F.conv(
        F.substring(
            F.md5(F.col("o_custkey").cast("string").cast("binary")), 1, 12
        ),
        16,
        10,
    ).cast("long")
    bottom = orders.select(hv.alias("hv")).distinct().orderBy("hv").limit(128)
    agg = bottom.agg(
        F.count(F.lit(1)).alias("n_seen"), F.max("hv").alias("kth_min")
    )
    exact = orders.agg(
        F.countDistinct("o_custkey").cast("long").alias("n_exact")
    )
    return exact.crossJoin(F.broadcast(agg)).select(
        "n_exact",
        F.col("kth_min").cast("long").alias("kth_min"),
        F.when(F.col("n_seen") < 128, F.col("n_seen"))
        .otherwise(F.expr("35747322042253312 DIV kth_min"))
        .cast("long")
        .alias("kmv_est"),
    )


@query(
    "sketch_quantile_histogram",
    oracle="""
WITH b AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 10000 AS bucket,
         CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY bucket
),
c AS (
  SELECT bucket, n,
         SUM(n) OVER (ORDER BY bucket) AS cum,
         (SELECT SUM(n) FROM b) AS total
  FROM b
)
SELECT CAST((SELECT MIN(bucket) FROM c
             WHERE cum * 2 >= total) * 10000 AS BIGINT) AS p50_floor_cents,
       CAST((SELECT MIN(bucket) FROM c
             WHERE cum * 10 >= total * 9) * 10000 AS BIGINT)
         AS p90_floor_cents,
       CAST((SELECT MIN(bucket) FROM c
             WHERE cum * 100 >= total * 99) * 10000 AS BIGINT)
         AS p99_floor_cents,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS n_buckets
""",
    tags=("sketch", "quantile", "histogram", "scale"),
)
def sketch_quantile_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Portable QUANTILE sketch from a fixed-width histogram — the
    fourth member of the engine-portable sketch family (HLL =
    distincts, count-min = frequencies, KMV = distincts by order
    statistics, this = quantiles): order totals are bucketed at $100
    granularity in integer cents, and p50/p90/p99 are read off the
    cumulative counts as exact bucket floors. Every comparison is
    integer (cum·k ≥ total·q — no float division, no interpolation),
    so the DuckDB oracle reproduces the sketch bit-for-bit; resolution
    is the bucket width, the explicit accuracy/size knob.

    Scale shape: ONE map-side-combined hash-agg produces the histogram
    (bounded by the value range / width, ~2k buckets here, independent
    of row count); the cumulative walk runs over that bounded summary
    only. Histograms are trivially mergeable (bucket-wise +), the same
    algebra ``sketch_hll_union`` pins — where Spark's own
    ``approx_percentile`` sketch is not reproducible outside the JVM
    (``agg_approx_percentiles`` stays rows-only for exactly that
    reason)."""
    orders = t(spark, sf, "orders")
    b = (
        orders.select(
            F.expr(
                "CAST(round(o_totalprice * 100) AS BIGINT) DIV 10000"
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    total = b.agg(F.sum("n").alias("total"))
    c = b.select(
        "bucket", "n", F.sum("n").over(w).alias("cum")
    ).crossJoin(F.broadcast(total))
    def floor_at(num: int, den: int, alias: str):
        return (
            F.min(
                F.when(F.col("cum") * den >= F.col("total") * num,
                       F.col("bucket"))
            )
            * 10000
        ).cast("long").alias(alias)

    return c.agg(
        floor_at(1, 2, "p50_floor_cents"),
        floor_at(9, 10, "p90_floor_cents"),
        floor_at(99, 100, "p99_floor_cents"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
    )


@query(
    "spatial_grid_join",
    oracle="""
WITH p AS (
  SELECT c_custkey,
         (c_custkey * 37) % 1000 AS px,
         (c_custkey * 91) % 1000 AS py
  FROM customer
),
a AS (
  SELECT n_nationkey,
         (n_nationkey * 211) % 1000 AS ax,
         (n_nationkey * 389) % 1000 AS ay
  FROM nation
)
SELECT a.n_nationkey,
       CAST(count(*) AS BIGINT) AS n_within,
       CAST(MIN((px - ax) * (px - ax) + (py - ay) * (py - ay)) AS BIGINT)
         AS min_d2
FROM a JOIN p
  ON (px - ax) * (px - ax) + (py - ay) * (py - ay) <= 2500
GROUP BY a.n_nationkey
""",
    tags=("spatial", "join", "grid", "scale"),
)
def spatial_grid_join(spark: SparkSession, sf: str) -> DataFrame:
    """SPATIAL radius join via grid bucketing — the scale pattern for
    geo workloads (and the 2-D sibling of ``interval_overlap_join``'s
    month buckets): points and query anchors land in a 50×50 grid;
    each anchor expands to the 3×3 cell neighborhood covering its
    radius-50 disk, candidates come from an EQUI-join on the cell id,
    and the exact integer distance test (dx² + dy² ≤ 2500 — no floats,
    no sqrt) filters false candidates. The naive theta-join DuckDB
    oracle proves zero recall loss: a point within the radius is
    always within one cell of the anchor's cell (pigeonhole on the
    grid width ≥ radius).

    Scale shape: the candidate join is hash-partitioned on the cell id
    — never a cross product (pinned in test_plans) — and the per-anchor
    fan-out is a constant 9 cells; density skew in one cell is AQE's
    standard skew-join case. Coordinates are synthesized from keys so
    the oracle stays formula-exact."""
    cust = t(spark, sf, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 37) % 1000).alias("px"),
        ((F.col("c_custkey") * 91) % 1000).alias("py"),
    )
    pts = cust.select(
        "c_custkey", "px", "py",
        F.expr("px DIV 50").alias("cx"), F.expr("py DIV 50").alias("cy"),
    )
    nat = t(spark, sf, "nation").select(
        "n_nationkey",
        ((F.col("n_nationkey") * 211) % 1000).alias("ax"),
        ((F.col("n_nationkey") * 389) % 1000).alias("ay"),
    )
    anchors = nat.select(
        "n_nationkey", "ax", "ay",
        F.explode(
            F.expr(
                "flatten(transform(sequence(-1, 1), dx ->"
                " transform(sequence(-1, 1), dy ->"
                " struct(ax DIV 50 + dx AS cx, ay DIV 50 + dy AS cy))))"
            )
        ).alias("c"),
    ).select(
        "n_nationkey", "ax", "ay",
        F.col("c.cx").alias("cx"), F.col("c.cy").alias("cy"),
    )
    d2 = (F.col("px") - F.col("ax")) * (F.col("px") - F.col("ax")) + (
        F.col("py") - F.col("ay")
    ) * (F.col("py") - F.col("ay"))
    return (
        anchors.join(pts, ["cx", "cy"])
        .filter(d2 <= 2500)
        .groupBy("n_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_within"),
            F.min(d2).cast("long").alias("min_d2"),
        )
    )


#: sf -> file_stamp of the orders/lineitem pair whose bucketed tables
#: this process wrote
_BUCKETED: dict[str, tuple | None] = {}


@query(
    "bucketed_join_colocated",
    oracle="""
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS price_cents
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
""",
    tags=("join", "bucketing", "colocated", "scale"),
)
def bucketed_join_colocated(spark: SparkSession, sf: str) -> DataFrame:
    """BUCKETED co-located fact-to-fact join — the stored-layout answer
    to the shuffle problem (SURVEY §2.B join row; the strategy SCALE.md
    prescribes for repeated orders⋈lineitem): both fact tables are
    written bucketed (8 buckets, hashed and sorted on the join key), so
    the sort-merge join reads matching buckets pairwise with NO
    hash-partitioning Exchange on either side — at 100 TB, paying the
    bucketing once at write time and never shuffling either fact table
    on any subsequent join of that key. Shuffle elimination is pinned
    in tests/test_bucketing.py (this query's oracle proves the VALUE is
    the plain join's).

    The bucket layout is Spark's own (murmur3 on the key mod buckets),
    registered through the session catalog with explicit external
    paths. Both tables and their directory are named from ``sf``, so a
    session holds one pair per sf (in-memory catalog, nothing persists
    past it); the pair is written once per process and
    :func:`~xml_hive_spark.session.file_stamp` of the two source
    tables, and rewritten in place when either changes."""
    import hashlib

    from xml_hive_spark.operators.storage import _roundtrip_dir
    from xml_hive_spark.session import file_stamp

    key = hashlib.md5(sf.encode()).hexdigest()[:8]
    stamp = file_stamp([f"{sf}/orders.parquet", f"{sf}/lineitem.parquet"])
    if stamp is None or _BUCKETED.get(sf) != stamp:
        d = _roundtrip_dir("bkt", sf)
        orders = t(spark, sf, "orders").select(
            "o_orderkey", "o_orderpriority"
        )
        li = t(spark, sf, "lineitem").select("l_orderkey", "l_extendedprice")
        (orders.write.mode("overwrite").bucketBy(8, "o_orderkey")
         .sortBy("o_orderkey").option("path", d + "/orders")
         .saveAsTable(f"bkt_orders_{key}"))
        (li.write.mode("overwrite").bucketBy(8, "l_orderkey")
         .sortBy("l_orderkey").option("path", d + "/lineitem")
         .saveAsTable(f"bkt_lineitem_{key}"))
        _BUCKETED[sf] = stamp
    ob = spark.table(f"bkt_orders_{key}")
    lb = spark.table(f"bkt_lineitem_{key}")
    out = (
        ob.hint("merge")
        .join(lb.hint("merge"), lb.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("price_cents"),
        )
        .orderBy("o_orderpriority")
    )
    return out
