"""Distributed link-graph operators: PageRank and degree profiles.

Web-scale curation weights documents by link authority (PageRank /
harmonic-centrality style signals — the public OpenWebText/quality-
weighting recipe family), and the hyperlink graph at 100 TB is itself
a big-data object. Power iteration maps exactly onto Spark aggregates:
each round is one join (ranks → out-edges) + one map-side-combined
sum per destination — the same shuffle-by-key shape as a groupBy, no
driver-side state beyond the loop counter.

The connected-components sibling lives in ``llm/dedup.py``
(``near_dup_clusters`` — driver union-find for small graphs,
alternating large/small-star otherwise); this
module covers the weighted-propagation family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["pagerank", "degree_profile"]


def degree_profile(edges: DataFrame, src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """Per-node degree stats — (node, out_degree, in_degree), nodes
    with only one direction included (the other degree 0). Two
    map-side-combined aggregates and one full-outer join keyed by
    node."""
    out_d = edges.groupBy(F.col(src).alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree"))
    in_d = edges.groupBy(F.col(dst).alias("node")).agg(
        F.count(F.lit(1)).alias("in_degree"))
    return (out_d.join(in_d, "node", "full_outer")
            .select("node",
                    F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
                    F.coalesce("in_degree", F.lit(0)).alias("in_degree")))


def pagerank(edges: DataFrame, iterations: int = 10,
             damping: float = 0.85, src: str = "src",
             dst: str = "dst",
             checkpoint_every: int = 5,
             tol: float | None = None) -> DataFrame:
    """PageRank by power iteration → (node, rank), ranks summing to 1
    over the node set (dangling-node mass redistributed uniformly, the
    standard correction).

    Spark shape per round: ranks join the out-edge list on src (one
    shuffle keyed by node), contributions aggregate per dst (map-side
    combined), dangling mass is ONE scalar aggregate folded into the
    teleport term. Lineage is bounded by ``localCheckpoint``: every
    ``checkpoint_every`` rounds in the pure-lazy path, and EVERY round
    whenever a per-round scalar aggregate executes the rank frame
    (dangling mass, ``tol`` delta) — otherwise the aggregate re-runs
    the whole un-materialized lineage each round, O(checkpoint_every²)
    recomputation per window (ADVICE r9).

    ``tol``: optional early stop — iterate until the L1 rank delta
    ``Σ|r_i - r_{i-1}|`` falls below ``tol`` (or ``iterations`` is
    hit, whichever first). The delta is one scalar aggregate over the
    node-keyed join of consecutive (checkpointed) rank frames — one
    extra |V|-row job per round, the standard convergence criterion.

    At 100 TB: cost per round = one edge-list join, exactly as
    skew-prone as the in-degree distribution (a mega-hub dst is a hot
    reduce key — pre-aggregate survives map-side, so even that is
    bounded; measured on a planted power-law mega-hub graph in
    SCALING.md); the node-rank frame is |V| rows. Deterministic given
    the graph (float reassociation across partitions only).
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    d = float(damping)
    if not (0.0 <= d < 1.0):
        raise ValueError(f"damping must be in [0, 1), got {damping}")
    if int(checkpoint_every) < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1, got {checkpoint_every}")
    if tol is not None and not tol > 0.0:
        raise ValueError(f"tol must be > 0 when set, got {tol}")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # ONE node-keyed aggregate yields the node set, each node's
    # out-degree, AND the dangling set (out-degree 0) — merging what
    # used to be a distinct job plus a separate degree aggregate plus
    # an anti-join job into a single materialized pass over the edge
    # endpoints (same values: out-degree = #edges with src = node)
    nd = (e.select(F.col("src").alias("node"), F.lit(1).alias("__o__"))
          .unionByName(e.select(F.col("dst").alias("node"),
                                F.lit(0).alias("__o__")))
          .groupBy("node").agg(F.sum("__o__").alias("__nd__"))
          .localCheckpoint(eager=True))
    n_nodes = nd.count()
    nodes = nd.select("node")
    if n_nodes == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    out_deg = (nd.filter(F.col("__nd__") > 0)
               .select(F.col("node").alias("src"),
                       F.col("__nd__").alias("__deg__")))
    # out-edges with degree attached, reused every round
    ee = e.join(out_deg, "src").localCheckpoint(eager=True)
    # the dangling-node SET is static (out-degree 0 in the merged
    # aggregate); when empty (every node links out) the per-round
    # mass aggregate is skipped entirely, saving one job per iteration
    dangling_nodes = nd.filter(F.col("__nd__") == 0).select("node")
    has_dangling = dangling_nodes.limit(1).count() > 0
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    # per-round scalar aggregates (dangling mass / tol delta) execute
    # the rank frame — materialize it first so the aggregate, the next
    # round's join, and the caller's final action all read checkpointed
    # rows instead of re-running the lineage (ADVICE r9 medium)
    per_round_scalars = has_dangling or tol is not None
    materialized = False
    for i in range(int(iterations)):
        if per_round_scalars and not materialized:
            ranks = ranks.localCheckpoint(eager=True)
        prev = ranks
        contrib = (ee.join(ranks.withColumnRenamed("node", "src"), "src")
                   .select("dst",
                           (F.col("rank") / F.col("__deg__"))
                           .alias("__c__"))
                   .groupBy("dst")
                   .agg(F.sum("__c__").alias("__in__")))
        # dangling mass: one scalar aggregate over the (static, small)
        # dangling set's current (checkpointed) ranks, redistributed
        # with teleport
        dangling = 0.0
        if has_dangling:
            dangling = (ranks.join(dangling_nodes.select("node"),
                                   "node", "left_semi")
                        .agg(F.sum("rank")).collect()[0][0]) or 0.0
        base = (1.0 - d) / n_nodes + d * dangling / n_nodes
        ranks = (nodes.join(contrib,
                            nodes["node"] == contrib["dst"], "left")
                 .select("node",
                         (F.lit(base)
                          + F.lit(d) * F.coalesce(F.col("__in__"),
                                                  F.lit(0.0)))
                         .alias("rank")))
        materialized = False
        if tol is not None:
            # L1 delta vs the previous round; checkpoint first so the
            # delta aggregate, the next round's join, and the caller's
            # final action all reuse the same materialized rows
            ranks = ranks.localCheckpoint(eager=True)
            materialized = True
            delta = (ranks.join(
                         prev.withColumnRenamed("rank", "__prev__"),
                         "node")
                     .agg(F.sum(F.abs(F.col("rank")
                                      - F.col("__prev__"))))
                     .collect()[0][0]) or 0.0
            if delta < tol:
                break
        elif not per_round_scalars \
                and (i + 1) % int(checkpoint_every) == 0:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks
