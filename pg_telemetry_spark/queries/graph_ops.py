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
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pg_telemetry_spark.session import LOOP_BROADCAST_CAP, ckpt_lazy, loop_sizing
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
    edge list, precompute out-degrees ONCE (joined per round, not
    recomputed), then each round is contributions = ranks/deg
    exploded along edges, grouped by destination — ONE shuffle per
    round on the vertex key.  Fixed k=8 keeps the loop free of
    driver-side convergence collects (the same discipline as
    llm_dedup_cc's bounded rounds); each round's ranks are
    localCheckpointed to TRUNCATE lineage — persist alone leaves the
    logical plan compounding until its explain string OOMs a default
    driver (found by the plain-session driver sim, round 9); a real
    cluster swaps in reliable checkpoints.  An undirected co-purchase
    graph has no dangling vertices (every vertex has >= 1 edge), so
    the teleport term is the constant (1-d)/N.  Tier C: golden test
    pins the result against a local numpy power iteration
    (tests/test_units_graph.py); float rank sums are order-dependent
    so no SQL hash oracle."""
    e = copurchase_edges(_month_items(spark, sf_dir))
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).persist()
    deg = sym.groupBy("u").agg(F.count("*").alias("deg"))
    n_v = sym.select("u").distinct().count()
    d = 0.85
    ranks = deg.select("u", F.lit(1.0 / n_v).alias("rank"))
    edges_deg = sym.join(deg, "u").persist()
    # Optimization r16: the per-round join ships the RANKS side as a
    # broadcast (gated on the measured n_v, see LOOP_BROADCAST_CAP) so
    # the persisted edge table is never re-exchanged — each round is
    # then exactly ONE shuffle (the destination groupBy), and the
    # shuffle itself is capped by sized_shuffle (per-round state is
    # n_v rows; 200/32 near-empty partitions per round cost more in
    # fixed per-partition work than the data).  Plan diff: the round
    # join went SortMergeJoin(exchange, exchange) -> BroadcastHashJoin
    # (plans/r16/wl_pagerank_{before,after}.txt).  Optimization r17
    # (VERDICT r16 #1): the cap is DERIVED from the measured n_v and
    # only applies in the broadcast-gated regime — past
    # LOOP_BROADCAST_CAP the loop falls back to sort-merge rounds and
    # runs under the session conf with AQE skew handling intact.
    with loop_sizing(spark, n_v):
        for _ in range(8):
            contribs = (
                edges_deg.join(_vertex_side(ranks, n_v), "u")
                .select(
                    F.col("v").alias("u"), (F.col("rank") / F.col("deg")).alias("c")
                )
                .groupBy("u")
                .agg(F.sum("c").alias("inflow"))
            )
            new_ranks = contribs.select(
                "u",
                (F.lit((1.0 - d) / n_v) + F.lit(d) * F.col("inflow")).alias("rank"),
            )
            # localCheckpoint TRUNCATES the lineage (persist alone does
            # not: the logical tree still compounds per round and its
            # explain string alone OOMs a default driver by round 8); on
            # a real cluster swap in reliable checkpointing to survive
            # executor loss.  LAZY (optimization r17, guide §2.4): the
            # next round's gated broadcast build (or the final collect)
            # is the materializing action, so each round costs one job
            # fewer than an eager checkpoint — same blocks, same
            # truncation, measured identical ranks.
            ranks = new_ranks.transform(ckpt_lazy)
    out = (
        ranks.select(F.col("u").alias("part"), F.round("rank", 8).alias("rank"))
        .orderBy(F.desc("rank"), "part")
        .limit(20)
    )
    rows = out.collect()  # small: detach from the persisted lineage
    sym.unpersist()
    edges_deg.unpersist()
    return spark.createDataFrame(rows, out.schema)


@query("wl_label_propagation", group="graph", tier="C")
def wl_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) on the one-month co-purchase graph: every vertex
    starts as its own label; each of 5 fixed rounds reassigns every
    vertex the MODE of its neighbors' labels (ties to the smallest
    label — fully deterministic, no random visit order).  Returns the
    20 largest communities.

    Scale shape per round: one equi-join (edges x labels, vertex key),
    one (vertex, label) count agg, one per-vertex argmax via unsorted
    struct-max — three hash shuffles on uniform 8-byte keys, no
    windows; labels are localCheckpointed per round (same lineage
    discipline as wl_pagerank).  Tier C: golden replays the same
    synchronous rounds in local python
    (tests/test_units_graph.py)."""
    e = copurchase_edges(_month_items(spark, sf_dir))
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    sym = pin(sym)
    labels = sym.select("u").distinct().select("u", F.col("u").alias("label"))
    # One bounded scalar (the vertex count) gates the per-round
    # broadcast of the labels frame — same shape as wl_pagerank: the
    # pinned edge list streams through a BroadcastHashJoin instead of
    # being re-exchanged every round, and the two per-round
    # aggregations shuffle under the derived loop sizing (r16/r17:
    # width from the measured n_v, AQE-off only inside the
    # broadcast-gated regime — see session.loop_sizing).
    n_v = labels.count()
    with loop_sizing(sym.sparkSession, n_v):
        for _ in range(5):
            nbr = sym.join(
                _vertex_side(labels.select(F.col("u").alias("v"), "label"), n_v),
                "v",
            ).select("u", "label")
            cnt = nbr.groupBy("u", "label").agg(F.count("*").alias("c"))
            best = F.max(
                F.struct(F.col("c"), (-F.col("label")).alias("nl"))
            ).alias("b")
            labels = (
                cnt.groupBy("u")
                .agg(best)
                .select("u", (-F.col("b.nl")).alias("label"))
                # lazy: the next round's broadcast build (or the final
                # groupBy) materializes it — one job per round saved
                .transform(ckpt_lazy)
            )
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
    vertex.

    Scale shape per round: degree = ONE count agg over the symmetric
    edge list, survivor filter = ONE semi-join per endpoint on the
    vertex key; the edge table shrinks monotonically so each round is
    cheaper than the last.  The fixpoint test collects a single
    (count) row per round — O(rounds) scalar collects, the same
    bounded-driver-inventory class as the CC convergence checksum
    (SCALE.md); edges are localCheckpointed per round to truncate
    lineage.  Tier C: golden replays the peel in local python
    (tests/test_units_graph.py)."""
    k = 3
    # build the edge list once and union its two orientations — the
    # old shape called copurchase_edges(_month_items(...)) twice and
    # re-ran the full month-join + pair fan-out + distinct pipeline
    # for each side (optimization r16)
    e = pin(copurchase_edges(_month_items(spark, sf_dir)))
    sym = (
        e.select("u", "v")
        .unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        # lazy: the count right below materializes it in the same job
        .transform(ckpt_lazy)
    )
    n_prev = sym.count()
    # Survivor set <= vertex count <= n_prev (every vertex owns >= 1
    # symmetric edge row) — broadcast both semi-joins under the same
    # gate as wl_pagerank, so the (checkpointed) edge table is
    # filtered in place instead of re-exchanged twice per peel round;
    # the degree aggregation is the round's one shuffle (optimization
    # r16).  r17: the gate bound is n_prev, not 2*n_prev — the old
    # ~4x overestimate silently disabled the broadcast on mid-size
    # graphs well before the documented 5M-vertex cap (ADVICE r16);
    # the loop width is derived from the measured edge-row count and
    # the cap is scoped to the broadcast regime (VERDICT r16 #1).
    with loop_sizing(sym.sparkSession, n_prev):
        for _ in range(30):
            deg = sym.groupBy("u").agg(F.count("*").alias("d"))
            keep = deg.filter(F.col("d") >= k).select("u")
            keep = _vertex_side(keep, n_prev)
            sym = (
                sym.join(keep, "u", "left_semi")
                .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
                # lazy: the convergence count below is the
                # materializing action — one job per peel round, not two
                .transform(ckpt_lazy)
            )
            n = sym.count()  # 1-row convergence scalar per round (bounded)
            if n == n_prev:
                break
            n_prev = n
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
    at 10 hops), reporting vertices first reached at each hop — the
    reachability primitive behind "within N degrees" graph features.

    Scale shape per round: frontier x edges is ONE equi-join on the
    vertex key; visited-set subtraction is a left-anti join; both
    shrink as the frontier saturates.  The loop exits on an empty
    frontier via a 1-row count collect per hop (bounded scalar
    inventory, SCALE.md); visited is localCheckpointed per hop.  At
    100 TB the same loop runs with the visited set bucketed on the
    vertex key so both joins co-locate.  Tier C: golden replays the
    BFS in local python (tests/test_units_graph.py)."""
    e = copurchase_edges(_month_items(spark, sf_dir))
    sym = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
    )
    sym = pin(sym)
    deg = sym.groupBy("u").agg(F.count("*").alias("d"))
    # Bounded scalar: the vertex count gates the per-hop broadcasts
    # (frontier and visited are both <= n_v rows) so the pinned edge
    # table streams through BroadcastHashJoins each hop instead of
    # being re-exchanged; the frontier distinct is the hop's one
    # shuffle, sized from the measured n_v (r16/r17, see
    # session.loop_sizing).
    n_v = deg.count()
    src = (
        deg.agg(F.max(F.struct(F.col("d"), (-F.col("u")).alias("nu"))).alias("b"))
        .select((-F.col("b.nu")).alias("u"))
    )
    visited = src.select("u", F.lit(0).alias("hop")).transform(ckpt_lazy)
    frontier = visited.select("u")
    with loop_sizing(sym.sparkSession, n_v):
        for hop in range(1, 11):
            nxt = (
                sym.join(_vertex_side(frontier, n_v), "u", "left_semi")
                .select(F.col("v").alias("u"))
                .distinct()
                .join(_vertex_side(visited.select("u"), n_v), "u", "left_anti")
            )
            # lazy: the exhaustion count below materializes it — one
            # job per hop instead of two (optimization r17, guide §2.4)
            nxt = nxt.transform(ckpt_lazy)
            if nxt.count() == 0:  # 1-row scalar per hop (bounded)
                break
            # no checkpoint on the visited union (optimization r16):
            # every nxt IS already checkpointed, so visited is a
            # union of <= hops RDD-backed frames — no recompute risk,
            # lineage depth bounded by the hop cap, and dropping the
            # per-hop eager materialization saves one blocking job
            # per hop
            visited = visited.unionByName(
                nxt.select("u", F.lit(hop).alias("hop"))
            )
            frontier = nxt
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
