"""Distributed PageRank (power iteration) over an edge list.

Companion to dedup.connected_components: the second iterative graph
primitive a corpus pipeline wants (authority/centrality scoring of a
similarity or citation graph, e.g. to pick the canonical document of a
near-dup cluster by importance instead of min-id).

The edge list is pre-aggregated ONCE into chunked adjacency arrays
(one row per src, hot sources split into ≤CHUNK-neighbor rows) plus one
SELF row per node carrying its out-degree, so each iteration shuffles
|V|-ish adjacency rows instead of |E| edge rows — and because the self
row also carries the node's old rank through the destination groupBy, a
full round is exactly ONE join (ranks × adjacency on src) + ONE
aggregation (exploded contributions by dst, map-side combined) whose
single collect returns both the convergence delta and the next round's
dangling mass. No other driver-side state; lineage is truncated per
round with a checkpoint and the PREVIOUS round's checkpoint is released
as soon as the next one is materialized (one materialize.scope owns the
loop state; the final rank vector is kept for the caller's scope). The
loop plans under _iterconf.iteration_conf
(AQE + shuffle partitions pinned down only for a measured-small graph;
no-op at scale). Dangling nodes (no out-edges) redistribute their mass
uniformly, so ranks sum to 1 at every step (checked in tests against a
dense numpy power iteration).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import materialize
from ._iterconf import iteration_conf

# Max neighbors per adjacency row: bounds the size of any single row at
# 100 TB scale (a celebrity node with 1e8 out-edges becomes ~1e8/65536
# rows instead of one unsplittable giant array).
_ADJ_CHUNK = 1 << 16


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1e-6,
) -> DataFrame:
    """(id, rank) for every node in `edges`; ranks sum to 1."""
    spark = edges.sparkSession
    e = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    with materialize.scope() as owned:
        nodes = materialize.persist(
            e.select(F.col("u").alias("id")).union(e.select("v")).distinct()
        )
        # persisted: consumed by both adjacency branches AND the n_src count
        outdeg = materialize.persist(e.groupBy("u").agg(F.count(F.lit(1)).alias("deg")))
        # Chunked adjacency (co-partitioned join on u: both sides shuffle
        # on u once, here, never again; ≤_ADJ_CHUNK neighbors per row)
        # PLUS one self row per node. The self row (vs=[u], is_self=true,
        # deg=real out-degree or 0 for dangling) rides the same join as
        # the contribution rows, so each iteration's groupBy(dst) receives
        # every node's OLD rank and out-degree alongside its incoming mass
        # — the whole round collapses to ONE join + ONE aggregate. The
        # previous shape (contribs join, nodes restore-join, old-rank
        # join, outdeg join = 4 joins + 2 aggregates per round) spent most
        # of q96's wall time in stage scheduling; fusing it is also
        # strictly fewer shuffles at 100 TB, not a small-graph special
        # case.
        adj_real = (
            e.join(outdeg, "u")
            .withColumn(
                "chunk",
                F.pmod(
                    F.xxhash64("v"),
                    F.greatest(F.lit(1), F.ceil(F.col("deg") / _ADJ_CHUNK)),
                ),
            )
            .groupBy("u", "chunk")
            .agg(F.collect_list("v").alias("vs"), F.first("deg").alias("deg"))
            .drop("chunk")
            .select("u", "vs", "deg", F.lit(False).alias("is_self"))
        )
        adj_self = (
            nodes.join(outdeg, nodes.id == outdeg.u, "left")
            .select(
                F.col("id").alias("u"),
                F.array(F.col("id")).alias("vs"),
                F.coalesce(F.col("deg"), F.lit(0)).cast("long").alias("deg"),
                F.lit(True).alias("is_self"),
            )
        )
        adj = materialize.persist(adj_real.unionByName(adj_self))
        # ONE setup action instead of three (r13, guide §1.2): the self
        # rows carry exactly one row per node with its true out-degree
        # (0 for dangling), so n and n_src fall out of the same aggregate
        # that materializes the adj persist (and, upstream, the
        # nodes/outdeg persists it consumes). Dangling mass at t=0 is then
        # pure arithmetic — the loop still needs no warm-up join/action.
        counts = adj.agg(
            F.count_if(F.col("is_self")).alias("n"),
            F.count_if(F.col("is_self") & (F.col("deg") > 0)).alias("n_src"),
        ).collect()[0]
        n, n_src = counts["n"], counts["n_src"]
        with iteration_conf(spark, n):
            ranks = materialize.checkpoint(
                nodes.select("id", F.lit(1.0 / n).alias("rank"))
            )
            base = (1.0 - damping) / n
            dangling = (n - n_src) / n  # Σ rank over out-degree-0 nodes at t=0
            for _ in range(max_iter):
                fused = (
                    ranks.select("id", "rank")
                    .join(adj, F.col("id") == adj.u)
                    .select(
                        F.explode("vs").alias("id"),
                        F.when(F.col("is_self"), 0.0)
                        .otherwise(F.col("rank") / F.col("deg"))
                        .alias("c"),
                        # only the self row fills these; max() below
                        # recovers them per destination group (nulls
                        # ignored)
                        F.when(F.col("is_self"), F.col("rank")).alias("old_r"),
                        F.when(F.col("is_self"), F.col("deg")).alias("deg0"),
                    )
                    .groupBy("id")
                    .agg(
                        F.sum("c").alias("in_mass"),
                        F.max("old_r").alias("old_r"),
                        F.max("deg0").alias("deg0"),
                    )
                )
                # lazy: the stats collect is the round's ONE action — it
                # materializes the new checkpoint and returns delta +
                # dangling together
                new_ranks = materialize.checkpoint(
                    fused.select(
                        "id",
                        (
                            F.lit(base)
                            + F.lit(damping)
                            # in_mass is never null: every node's self row
                            # puts a 0.0 in its group even with no in-edges
                            * (F.col("in_mass") + F.lit(dangling / n))
                        ).alias("rank"),
                        "old_r",
                        "deg0",
                    )
                )
                stats = new_ranks.agg(
                    F.sum(F.abs(F.col("rank") - F.col("old_r"))).alias("delta"),
                    F.sum(F.when(F.col("deg0") == 0, F.col("rank"))).alias("dangling"),
                ).collect()[0]
                materialize.release(ranks)  # prev round's blocks, no longer referenced
                ranks = new_ranks
                dangling = stats["dangling"] or 0.0
                if stats["delta"] is not None and stats["delta"] < tol:
                    break
        owned.keep(ranks)  # the result: its lineage is truncated
    return ranks.select("id", "rank")


def pagerank_canonicals(
    pairs: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
    damping: float = 0.85,
    max_iter: int = 12,
) -> DataFrame:
    """Importance-based canonical selection over an undirected pair list
    (near-dup pairs): PageRank the symmetrized graph, connected-component
    it, and return per component the top-ranked member.

    Output columns: component, canonical_id, canonical_rank, n_members,
    plus the graph-global n_nodes and total_mass (for invariant checks:
    total_mass ≈ 1 and every rank ≥ (1-damping)/n_nodes). Ties on rank
    break by id ascending so selection is deterministic.
    """
    from pyspark.sql import Window

    from .dedup import connected_components

    sym = pairs.select(F.col(id1).alias("src"), F.col(id2).alias("dst")).union(
        pairs.select(F.col(id2).alias("src"), F.col(id1).alias("dst"))
    )
    ranks = pagerank(sym, damping=damping, max_iter=max_iter)
    comp = connected_components(pairs, id1, id2)
    joined = comp.join(ranks, "id")
    # The two graph-global invariants come from a partial/final aggregate
    # broadcast back as a 1-row cross join — an unpartitioned window here
    # would funnel every node row through a single partition.
    glob = joined.agg(
        F.count(F.lit(1)).alias("n_nodes"), F.sum("rank").alias("total_mass")
    )
    w = Window.partitionBy("component").orderBy(F.desc("rank"), "id")
    return (
        joined.crossJoin(F.broadcast(glob))
        .withColumn("rk", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(Window.partitionBy("component")))
        .filter(F.col("rk") == 1)
        .select(
            "component",
            F.col("id").alias("canonical_id"),
            F.col("rank").alias("canonical_rank"),
            "n_members",
            "n_nodes",
            "total_mass",
        )
    )
