"""Connected-components primitive over distributed edge lists — the
engine's ONLY connected-components algorithm (`dedup_cluster_cc`,
`dedup_semantic_cluster_cc` and the pipeline's `near_dedup` all label
through it).

Contract: label every node of the undirected edge list with its
component's MINIMUM node id — the fixpoint the recursive-CTE oracles
state.

``cc_star`` is the alternating large-star/small-star algorithm (Kiveris
et al. 2014, "Connected Components in MapReduce and Beyond"): each round
is two grouped min-aggregates + joins over the EDGE list, and the edge
set provably converges to disjoint stars centered at the component
minima in O(log² n) rounds REGARDLESS of component diameter, so a long
chain of near-duplicates resolves instead of exhausting a round cap.

The driver-side loop is over ROUNDS (distributed work inside), like
every other iterative op in the engine; per-round frames are
edge-list-sized (duplicate-population, orders of magnitude smaller than
the corpus) and eagerly localCheckpointed so round r's lineage does not
compound r plans deep.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: Safety cap on alternating rounds. The theoretical bound is O(log² n)
#: and measured convergence on near-clique dup graphs is 2-3 rounds, on
#: a planted 13-node chain 5 rounds; 60 covers any corpus this engine
#: can hold (it is NOT a diameter bound — hitting it would mean the
#: algorithm itself regressed).
_STAR_MAX_ROUNDS = 60


def cc_star(edges: DataFrame) -> DataFrame:
    """Exact connected components of the undirected ``edges`` frame
    (columns ``a``, ``b``; direction/duplication/self-loops are
    normalized away). Returns ``(node, lbl)`` for every node incident
    to an edge, ``lbl`` = the component's minimum node id — the same
    fixpoint the recursive-CTE oracles state.

    Per round: LARGE-STAR links every strictly-larger neighbor of each
    node u to m = min(Γ(u) ∪ {u}) (one bidirectional group-min + join),
    then SMALL-STAR links each node's smaller-or-equal neighborhood and
    itself to its minimum (one group-min + join on the canonical
    small-first orientation). Both operations preserve connectivity;
    alternating them strictly shrinks the potential until the edge set
    is a union of stars centered at component minima.
    """
    # The input is evaluated ONCE, into a checkpoint: callers hand in
    # pair frames whose lineage can hang off a whole index build, and
    # checkpoint (not cache) truncates that plan tree, so no round
    # re-stringifies it.
    canon = (edges.select(F.least("a", "b").alias("a"),
                          F.greatest("a", "b").alias("b"))
                  .distinct().localCheckpoint())
    nodes = (canon.select(F.col("a").alias("node"))
                  .unionByName(canon.select(F.col("b").alias("node")))
                  .distinct())
    e = canon.filter(F.col("a") != F.col("b"))
    for _ in range(_STAR_MAX_ROUNDS):
        # large-star over the bidirectional view; output (m, v) is
        # canonical by construction (m <= u < v)
        d = e.unionByName(e.select(F.col("b").alias("a"),
                                   F.col("a").alias("b")))
        m = (d.groupBy("a").agg(F.min("b").alias("mn"))
              .select("a", F.least("mn", "a").alias("m")))
        ls = (d.join(m, "a")
               .filter(F.col("b") > F.col("a"))
               .select(F.col("m").alias("a"), "b")
               .distinct())
        # small-star on the canonical orientation: group by the big
        # endpoint; its smaller neighbors AND itself relink to their min
        sm = ls.groupBy("b").agg(F.min("a").alias("m"))
        ss = (ls.join(sm, "b")
                .filter(F.col("a") != F.col("m"))
                .select(F.col("m").alias("na"), F.col("a").alias("nb"))
                .unionByName(sm.select(F.col("m").alias("na"),
                                       F.col("b").alias("nb")))
                .distinct()
                .select(F.col("na").alias("a"), F.col("nb").alias("b"))
                .localCheckpoint())
        same = ss.count() == e.count() and ss.subtract(e).isEmpty()
        e = ss
        if same:
            break
    else:
        raise RuntimeError(
            f"cc_star: star rounds did not converge within "
            f"{_STAR_MAX_ROUNDS} rounds — the O(log² n) bound is "
            f"violated, which indicates an algorithmic regression, not a "
            f"data property")
    return (nodes.join(e.select(F.col("b").alias("node"),
                                F.col("a").alias("lbl"))
                        .groupBy("node").agg(F.min("lbl").alias("lbl")),
                       "node", "left")
                 .select("node",
                         F.coalesce("lbl", "node").alias("lbl")))
