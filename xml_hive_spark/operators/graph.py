"""Graph analytics: PageRank over the customer↔supplier trade graph.

Complements the connected-components dedup clustering
(``dedup_cluster_components``) with the other classic iterative graph
primitive. LLM-pipeline relevance: PageRank over a document similarity
or citation graph is a standard quality/centrality prior for corpus
curation.

Scale shape: one Lloyd-style driver loop, but per iteration ONLY
DataFrame ops — contributions = edges ⋈ ranks (co-keyed on src), one
hash-agg by dst, one left join back to the node set. The shuffle per
iteration is keyed by node id; nothing is ever collected (the driver
holds zero graph state). With k fixed iterations lineage stays bounded;
at real scale you'd checkpoint every few iterations exactly like the
components operator truncates lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xml_hive_spark.operators import persisted, query, t

_DAMP = 0.85
_ITERS = 5
# Fixed-point scale for the PageRank iteration: ranks are BIGINT
# multiples of 1e-12.  Integer sums are associative, so the result is
# bit-identical regardless of partitioning/parallelism — in Spark, in
# DuckDB, and in the pure-Python test replica — which upgrades the
# registry entry from rows-only to a full value hash.
_UNIT = 10**12


def trade_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Directed edge list of the bipartite customer↔supplier graph: an
    edge each way per DISTINCT (customer, supplier) trading pair
    (lineitem bridges orders to suppliers). Node ids are tagged strings
    ('c<k>' / 's<k>') so the two key spaces can't collide."""
    orders = t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("cust"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("supp"),
        )
        .distinct()
    )
    # Mirror via ONE explode pass (not unionAll of two projections,
    # which would run the join+distinct once per branch — the
    # graph_triangles corner-count lesson).
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("cust").alias("src"), F.col("supp").alias("dst")),
                F.struct(F.col("supp").alias("src"), F.col("cust").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def pagerank(edges: DataFrame, damping: float = _DAMP,
             iters: int = _ITERS) -> DataFrame:
    """PageRank with uniform teleport over the given directed edges.
    Every node in the edge list has out-degree ≥ 1 here (edges are
    mirrored), so no dangling-mass correction is needed.

    FIXED-POINT iteration: ranks are BIGINT multiples of 1/``_UNIT``
    (1e-12), contributions use integer division (``DIV``), and damping
    is applied as an exact percent ratio.  Floating-point PageRank is
    not bit-stable across engines (parallel double sums re-associate);
    the integer recurrence is — the SAME numbers fall out of Spark at
    any parallelism, of DuckDB's unrolled SQL twin, and of the
    pure-Python replica in tests/test_graph.py, so the registry entry
    carries a full value hash instead of a rows-only check.  The
    quantization error vs exact real-arithmetic PageRank is bounded by
    iters·(indeg+2)/1e12 per node — irrelevant at any ranking use, and
    the price buys reproducibility (the property that matters for a
    curation prior: re-running the corpus pipeline must not reshuffle
    document priorities by machine).

    Returns (node, rank_units BIGINT, rank DOUBLE = units/1e12).

    The loop invariants (edges, nodes, outdeg) and each iteration's
    ranks are PERSISTED — without them iteration k's lazy plan nests
    every prior iteration and re-derives the edge list from the base
    tables each time it is referenced (measured 8.6 → 1.1 s for 5
    iterations at sf0.1, identical ranks; the graph_bfs_hops frontier
    discipline applied to the walk family). Per-iteration state is one
    (node, rank) row per vertex — O(V), never the crossed lineage.
    Superseded state is released as the walk advances: each new ranks
    is materialized, then its predecessor unpersisted; the invariants
    are unpersisted after the loop. The walk holds at most two O(V)
    rank tables at any instant, and one, the returned frame's, after
    pagerank() returns, until the next query starts."""
    dnum = round(damping * 100)
    if abs(dnum / 100.0 - damping) > 1e-12:
        raise ValueError("damping must be a multiple of 0.01 for the "
                         f"exact fixed-point iteration, got {damping}")
    # Hash-partition the edge list on src ONCE before caching: the
    # cached layout's outputPartitioning is visible to Catalyst, so
    # the outdeg groupBy and — on the over-cap sort-merge path below
    # — every iteration's edges-side join reuse it instead of
    # re-shuffling the edge list per iteration (the byte audit read
    # 11.7 GB at the 100x corpus for 5 iterations without this; edges
    # are the big side, ranks the small one). One edge shuffle total,
    # amortized across the loop — the standard iterative-graph layout.
    edges = persisted(edges.repartition("src"))
    # No-dangling contract (docstring): every node has out-degree >= 1,
    # so the src column alone spans the node set — one cache pass and
    # half the distinct input vs unioning both endpoint columns (the
    # DuckDB oracle derives nodes the same way).
    nodes = persisted(edges.select(F.col("src").alias("node")).distinct())
    n = nodes.count()  # one scalar to the driver — not graph state
    outdeg = persisted(edges.groupBy("src").agg(
        F.count(F.lit(1)).alias("outdeg")
    ))
    teleport = ((100 - dnum) * _UNIT) // (100 * n)
    # Vertex-scaled loop state must not broadcast past the cliff: ranks
    # and contribs are O(V) rows, and AQE happily broadcasts the small
    # persisted table at test SFs — at the r11 100x corpus (V ~ 1.6 M)
    # the HashedRelation build OOM'd the driver (BroadcastExchange
    # "Not enough memory", byte-audit sweep). The per-row estimate is
    # 400 B, deliberately 4x the one-shot attach convention: a
    # broadcast relation already expands the 16 B of data several-fold
    # (hash table + object headers), AND an iterative loop holds
    # multiple generations of broadcast relations live at once (each
    # iteration's three joins re-broadcast; predecessors are freed
    # lazily by GC, not at unpersist) — the sweep showed a fresh
    # session surviving what a loaded session OOM'd on with the same
    # plan. Below the cap the plan keeps the broadcasts it always had
    # (driver/bench SFs byte-identical).
    from xml_hive_spark.operators import payload_side

    vstate_bytes = n * 400
    ranks = nodes.withColumn("rank_units", F.lit(_UNIT // n).cast("long"))
    for k in range(iters):
        contribs = (
            edges.join(payload_side(ranks, vstate_bytes),
                       edges.src == ranks.node)
            .join(payload_side(outdeg, vstate_bytes), "src")
            .select("dst", F.expr("rank_units DIV outdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        new_ranks = persisted(
            nodes.join(payload_side(contribs, vstate_bytes),
                       nodes.node == contribs.dst, "left")
            .select(
                "node",
                F.expr(
                    f"CAST({teleport} AS BIGINT)"
                    f" + ({dnum} * coalesce(s, CAST(0 AS BIGINT))) DIV 100"
                ).alias("rank_units"),
            )
        )
        new_ranks.count()  # materialize BEFORE dropping the predecessor
        if k > 0:  # iteration 0 reads the unpersisted seed frame
            ranks.unpersist()
        ranks = new_ranks
    # the final ranks is cached; the invariants' blocks are dead weight
    for inv in (edges, nodes, outdeg):
        inv.unpersist()
    return ranks.select(
        "node",
        "rank_units",
        (F.col("rank_units") / F.lit(_UNIT)).alias("rank"),
    )


def _pagerank_oracle(iters: int = _ITERS, dnum: int = round(_DAMP * 100)) -> str:
    """DuckDB twin of the fixed-point iteration, unrolled (one CTE per
    Lloyd step — recursive CTEs cannot aggregate over the recursive
    reference, so the fixed iteration count is written out).  Integer
    arithmetic end to end ⇒ bit-identical to the Spark loop."""
    body = [
        "WITH pairs AS (",
        "  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS cust,",
        "                  's' || CAST(l_suppkey AS VARCHAR) AS supp",
        "  FROM lineitem JOIN orders ON l_orderkey = o_orderkey",
        "),",
        "e AS (",
        "  SELECT cust AS src, supp AS dst FROM pairs",
        "  UNION ALL SELECT supp AS src, cust AS dst FROM pairs",
        "),",
        "nodes AS (SELECT DISTINCT src AS node FROM e),",
        "outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY src),",
        "tele AS (SELECT CAST(({od} * 1000000000000) // (100 * count(*)) AS BIGINT) AS t,"
        "  CAST(1000000000000 // count(*) AS BIGINT) AS r0 FROM nodes)".format(
            od=100 - dnum
        ),
        ",r0 AS (SELECT node, (SELECT r0 FROM tele) AS r FROM nodes)",
    ]
    for k in range(1, iters + 1):
        body.append(
            """,r{k} AS (
  SELECT n.node,
         (SELECT t FROM tele) + ({dnum} * COALESCE(s.s, 0)) // 100 AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, CAST(SUM(p.r // o.outdeg) AS BIGINT) AS s
    FROM e JOIN r{prev} p ON e.src = p.node
           JOIN outdeg o ON o.src = e.src
    GROUP BY e.dst
  ) s ON s.node = n.node
)""".format(k=k, prev=k - 1, dnum=dnum)
        )
    body.append(
        'SELECT node, CAST(r AS DOUBLE) / 1000000000000 AS "rank"\n'
        f"FROM r{iters} ORDER BY r DESC, node LIMIT 20"
    )
    return "\n".join(body)


@query(
    "graph_pagerank",
    oracle=_pagerank_oracle(),
    tags=("graph", "pagerank", "iterative"),
)
def graph_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 PageRank nodes of the trade graph (5 iterations, d=0.85).

    FULL value oracle since the fixed-point rewrite: the BIGINT
    recurrence is order-independent, so Spark at any parallelism and
    DuckDB's unrolled CTE twin produce identical units and the final
    double division (exact int < 2^53 by exactly-representable 1e12)
    is correctly rounded in both.  Exact-integer parity with a
    pure-Python replica, mass conservation (quantified floor loss),
    and bipartite symmetry are asserted in tests/test_graph.py."""
    ranks = pagerank(trade_edges(spark, sf))
    return (
        ranks.orderBy(F.col("rank_units").desc(), "node")
        .limit(20)
        .select("node", "rank")
    )


@query(
    "graph_triangles",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY u, v HAVING count(*) >= 2
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e1.v = e2.u
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
),
nodes AS (
  SELECT a AS part_key FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT part_key, CAST(count(*) AS BIGINT) AS n_triangles
FROM nodes GROUP BY part_key
ORDER BY n_triangles DESC, part_key
LIMIT 10
""",
    tags=("graph", "triangles", "motif"),
)
def graph_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle participation counts on the co-purchase graph (parts
    that co-occur in >= 2 orders), top-10 parts by triangles touched —
    the classic graph-motif / community-density primitive.

    Scale shape: edges come from the basket-bounded pair expansion (one
    shuffle of lineitem keyed on order, pairs bounded by basket size² —
    never a general self-join; the copurchase_pairs pattern). The
    triangle enumeration is the oriented two-join algorithm: edges are
    directed low-id→high-id so each triangle is counted exactly once;
    the wedge join is keyed on the shared middle vertex and the closing
    join on the (u, w) pair — both plain shuffle equi-joins. At 100 TB
    you'd orient by (degree, id) instead of id to bound the wedge
    blow-up on hubs; id-orientation is kept here for oracle parity and
    the degree variant is a one-line change to the orientation key.

    The edge table is PERSISTED (three consumers: e1/e2/e3 — exchange
    reuse does not dedupe multi-consumed agg stages, the r8
    recompute-sweep lesson), so the basket expansion runs once instead
    of 3×; the corner counting explodes [a,b,c] in ONE pass over the
    triangle table (replacing a 3-way unionAll that re-ran the
    wedge+closing joins per branch), so the potentially huge triangle
    list is never cached or recomputed (interleaved A/B at sf0.1:
    2.34 → 2.09 s min-cold for the persist form, first pass 12.1 →
    3.7 s; the explode form matches with one consumer and no tri
    cache)."""
    items = (
        t(spark, sf, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    )
    edges = persisted(
        items.select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, (x, i) ->"
                    " transform(slice(parts, i + 2, size(parts)),"
                    " y -> struct(x AS u, y AS v))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
        .select("u", "v")
    )
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = edges.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    # One explode pass instead of a 3-way unionAll: the triangle table
    # has a single consumer, so it needs no persist — at real scale the
    # triangle list can dwarf the edge list and caching it would be the
    # expensive-wide-stage anti-pattern the copurchase_lift A/B measured.
    nodes = tri.select(
        F.explode(F.array("a", "b", "c")).alias("part_key")
    )
    return (
        nodes.groupBy("part_key")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), "part_key")
        .limit(10)
    )


def copurchase_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Undirected co-purchase edges (parts co-occurring in >= 2 orders)
    as a SYMMETRIC directed list — the ``graph_triangles`` edge builder
    (basket-bounded pair expansion, one order-keyed shuffle) emitted in
    both directions so frontier expansion sees every neighbor."""
    items = (
        t(spark, sf, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    )
    once = (
        items.select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, (x, i) ->"
                    " transform(slice(parts, i + 2, size(parts)),"
                    " y -> struct(x AS u, y AS v))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
        .select("u", "v")
    )
    # Mirror via ONE explode pass — the unionAll form re-ran the whole
    # basket-bounded expansion once per direction.
    return once.select(
        F.explode(
            F.array(
                F.struct(F.col("u"), F.col("v")),
                F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")


@query(
    "graph_bfs_hops",
    oracle="""
WITH RECURSIVE items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
once AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY u, v HAVING count(*) >= 2
),
e AS (
  SELECT u, v FROM once UNION ALL SELECT v, u FROM once
),
walk(node, hops) AS (
  SELECT (SELECT MIN(u) FROM e), 0
  UNION
  SELECT e.v, w.hops + 1 FROM walk w JOIN e ON e.u = w.node
  WHERE w.hops < 4
)
SELECT node AS part_key, CAST(MIN(hops) AS INT) AS hops
FROM walk GROUP BY node
""",
    tags=("graph", "bfs", "iterative"),
)
def graph_bfs_hops(spark: SparkSession, sf: str) -> DataFrame:
    """Single-source BFS over the co-purchase graph: minimum hop count
    from the lowest-id co-purchased part to every node within 4 hops —
    the reachability/shortest-path primitive beside PageRank (walk) and
    triangles (motif). The DuckDB oracle is the same traversal as a
    recursive CTE (UNION-dedup bounds the walk at nodes x 5 rows), so
    the iterative DataFrame loop is FULLY value-checked — as is
    pagerank since its exact fixed-point rewrite.

    Scale shape: per hop ONE frontier-to-edges equi-join keyed on the
    node id (frontier starts at 1 row and stays a broadcast-sized
    minority of the graph for small-diameter queries), one distinct,
    and an anti-join against the settled set — no driver graph state,
    no collect anywhere (the source node is itself a 1-row aggregate
    joined in, never collected). Fixed hop bound keeps lineage bounded;
    each frontier is persisted so prior hops never recompute, and the
    EDGE LIST is persisted too — it is consumed five times (source
    aggregate + one join per hop) and without the cache each hop
    re-runs the whole basket-bounded pair expansion (measured 5.55 →
    3.45 s min-cold at sf0.1, identical output — the pagerank
    loop-invariant discipline)."""
    edges = persisted(copurchase_edges(spark, sf))
    frontier = persisted(
        edges.groupBy()
        .agg(F.min("u").alias("node"))
        .select("node", F.lit(0).alias("hops"))
    )
    dist = frontier
    for step in range(1, 5):
        nxt = persisted(
            frontier.join(edges, frontier.node == edges.u)
            .select(F.col("v").alias("node"))
            .distinct()
            .withColumn("hops", F.lit(step))
            .join(dist, "node", "left_anti")
            .select("node", "hops")
        )
        dist = dist.unionAll(nxt)
        frontier = nxt
    return dist.select(F.col("node").alias("part_key"),
                       F.col("hops").cast("int").alias("hops"))
