"""Connected components over an edge list — the cluster step that
turns near-dup PAIRS into dedup GROUPS (keep one doc per component).

Min-label propagation: every node starts labeled with its own id;
each round a node adopts the minimum label among itself and its
neighbors; fixpoint = components labeled by their minimum member.
Each round is one equi-join + one hash aggregate — no driver-side
graph, so it scales with the cluster.  Rounds needed = graph
diameter; near-dup clusters are shallow (a dup of a dup of a dup),
so 3–5 rounds close virtually all real corpora.  Both variants run
their rounds through :func:`pg_telemetry_spark.session.iterate`: each
round's state is lazily checkpointed (lineage stays flat; set
``PG_TELEMETRY_SPARK_CHECKPOINT_DIR`` for reliable checkpoints on a
cluster), and one scalar witness aggregate per round both
materializes the checkpoint and tests the fixpoint.  Each raises when
``max_iter`` rounds reach no fixpoint.

For adversarial long-chain graphs, the literature answer is
large-star/small-star (Kiveris et al., "Connected Components in
MapReduce and Beyond"), which converges in O(log n) rounds with the
same join-agg building blocks — implemented here as
:func:`connected_components_star`; the simple propagation remains the
right default for dedup-shaped (shallow) graphs, where its per-round
cost is lower.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from pg_telemetry_spark.session import (
    iterate,
    loop_shuffle_width,
    sized_shuffle,
)


def connected_components(
    edges: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
    max_iter: int = 20,
) -> DataFrame:
    """(id, comp) for every node in ``edges``; ``comp`` = min node id
    reachable from ``id``.  Deterministic; raises if ``max_iter``
    rounds don't reach the fixpoint."""
    und = edges.select(F.col(id1).alias("src"), F.col(id2).alias("dst"))
    sym = und.unionByName(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # seed with the 1-hop closed-neighborhood min (not self): shallow
    # dup graphs (pairs/triangles) then converge in ONE confirming
    # round instead of two — same agg shape as a propagation round, so
    # it costs nothing extra.  The seed's input is the full edge
    # stream, so its width is the CLUSTER width (defaultParallelism),
    # not a loop constant; AQE is off for this one bounded aggregation
    # because the persist() pins the pre-coalesce plan anyway
    # (canChangeCachedPlanOutputPartitioning=false) while each AQE
    # query stage is an extra blocking job.
    spark = edges.sparkSession
    with sized_shuffle(spark, spark.sparkContext.defaultParallelism):
        seed = (
            sym.groupBy("src")
            .agg(F.least(F.min("dst"), F.first("src")).alias("comp"))
            .select(F.col("src").alias("id"), "comp")
            .persist()
        )
        row = seed.agg(F.sum("comp").alias("s"), F.count("*").alias("n")).first()
    # monotone convergence witness: sum of labels strictly decreases
    # until fixpoint (labels only ever shrink toward the component
    # min).  The node count rides the same action and sizes the loop:
    # per-round state is O(nodes) labels, and dedup-shaped graphs have
    # O(1) average degree, so the node count is a faithful proxy for
    # the per-round join volume.
    n_nodes = row["n"]

    def step(labels: DataFrame, _: int) -> DataFrame:
        neigh = sym.join(labels, sym.dst == labels.id).groupBy("src").agg(
            F.min("comp").alias("nb_min")
        )
        return labels.join(neigh, labels.id == neigh.src, "left").select(
            labels.id,
            F.least(F.col("comp"), F.coalesce(F.col("nb_min"), F.col("comp"))).alias(
                "comp"
            ),
        )

    # The seed cache landed at cluster width; the loop reads it in
    # round 1, so narrow the VIEW to the loop width (coalesce is
    # block-merging, no shuffle, no job).
    labels, settled = iterate(
        seed.coalesce(loop_shuffle_width(spark, n_nodes)),
        step,
        n_nodes,
        max_iter,
        witness=[F.sum("comp")],
        start=(row["s"],),
    )
    seed.unpersist()
    if not settled:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")
    return labels


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star: for each node u, connect every STRICTLY LARGER
    neighbor to the minimum of u's closed neighborhood.  Emitted via
    an agg + equi-join on the center node rather than
    ``collect_set``/``explode`` — a root of an N-member component has
    degree N, and a single N-element array row is exactly the row-size
    ceiling this variant exists to avoid."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star: orient every edge toward the larger endpoint, then
    connect each center's smaller neighbors (and the center itself) to
    the neighborhood minimum.  Same agg+join shape as large-star."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    out = oriented.join(mins, "u").select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    centers = mins.select(F.col("u"), F.col("m").alias("v"))
    return out.unionByName(centers).filter(F.col("u") != F.col("v")).distinct()


def connected_components_star(
    edges: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
    max_iter: int = 30,
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    MapReduce and Beyond): alternating rounds converge in O(log n) on
    ANY graph shape — the adversarial case for plain min-label
    propagation is a long chain (diameter rounds); star contraction
    collapses it logarithmically.  Output schema matches
    :func:`connected_components`: (id, comp) with comp = component
    minimum.

    Fixpoint witness: the canonical edge set is summarized by
    (count, bit_xor(xxhash64(u, v))) — two scalar aggregates per
    round, no driver-side edge data (xor is order-independent and
    cannot overflow, unlike a sum of 64-bit hashes under ANSI mode).
    At fixpoint every edge is (node, root), i.e. a star, which IS the
    label assignment.
    """
    # The canonical edge build's input is the caller's full edge
    # stream, so its width is the CLUSTER width, not a loop constant;
    # AQE off for this one bounded distinct because the persist() pins
    # the pre-coalesce plan anyway while each AQE stage is an extra
    # blocking job.  The measured distinct-edge count then sizes the
    # loop — same rule as connected_components.
    spark = edges.sparkSession
    with sized_shuffle(spark, spark.sparkContext.defaultParallelism):
        und = (
            edges.select(F.col(id1).alias("u"), F.col(id2).alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .persist()
        )
        n_e = und.count()
    # narrow the loop's view of the cluster-width edge cache to the
    # loop width (block merge, no shuffle) — same move as
    # connected_components' seed.  No start witness: round 1 cannot
    # be a fixpoint match.
    star, settled = iterate(
        und.coalesce(loop_shuffle_width(spark, n_e)),
        lambda e, _: _small_star(_large_star(e)),
        n_e,
        max_iter,
        witness=[
            F.count("*"),
            F.expr("bit_xor(xxhash64(greatest(u, v), least(u, v)))"),
        ],
    )
    und.unpersist()
    if not settled:
        raise RuntimeError(f"connected_components_star: no fixpoint in {max_iter} rounds")
    # At fixpoint every edge is (member, root) with the root smallest:
    # members take the root's label, roots their own.
    labels = star.select(
        F.greatest("u", "v").alias("id"), F.least("u", "v").alias("comp")
    )
    return (
        labels.unionByName(labels.select(F.col("comp").alias("id"), "comp"))
        .groupBy("id")
        .agg(F.min("comp").alias("comp"))
    )
