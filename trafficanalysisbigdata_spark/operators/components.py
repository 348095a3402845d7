"""Connected components over a near-duplicate pair graph — the transitive
closure step that turns pairwise "A~B" verdicts into dedup CLUSTERS (chain
A–B–C collapses to one keeper even though A≁C directly). This is the final
stage of a production dedup pipeline; the pairwise operators (dd2/dd4/sim4)
produce its edge list.

Algorithm: iterative min-label propagation with pointer jumping —
label(v) starts as min(v, neighbors), then each round takes the min over
neighbors' labels AND follows label chains one hop (label(label(v))).
Pointer jumping makes chain-shaped components converge in O(log diameter)
rounds instead of O(diameter). Each round is two shuffles (one neighbor
join + one label self-join); the loop runs driver-side with a convergence
check, the standard Spark shape for iterative graph algorithms (GraphX /
GraphFrames do the same under the hood). ``localCheckpoint`` truncates the
growing lineage each round — without it, round k replays rounds 1..k-1.

The fixpoint is exactly "label(v) = min vertex id reachable from v", so a
recursive-CTE reachability closure (DuckDB oracle) checks it bit-for-bit —
rare for an iterative distributed algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _free_checkpoint(df: DataFrame) -> None:
    """Free the cached blocks behind ``df``'s local checkpoint. Without this,
    every round of every dedup-closure run leaks one label set for the
    session lifetime (a real memory leak in a long-lived driver). The handle
    is ``df``'s own checkpointed RDD (its plan is a ``LogicalRDD``), so
    blocks another query checkpointed in the same session are never
    touched."""
    df._jdf.logicalPlan().rdd().unpersist(False)


def connected_components(
    pairs: DataFrame, src: str = "doc1", dst: str = "doc2", max_iter: int = 25
) -> DataFrame:
    """(v, component) for every vertex in ``pairs``; component = min vertex
    id reachable from v. Converges in ≤ max_iter rounds (raises if not —
    silent non-convergence would return wrong clusters).

    Round cost (r15 optimization pass): TWO joins per round instead of
    three. The neighbor-label rows and each vertex's OWN checkpointed label
    row feed ONE union into the min aggregate, so the aggregate computes
    ``least(old label, min neighbor label)`` directly — the former
    ``labels ⋈ nbr`` least-join is gone (and unlike a self-loop edge list,
    the union adds rows from the cheap cached label blocks, never a third
    evaluation of the caller's pair subtree). Convergence rides a MONOTONE
    checksum: labels only ever decrease (every round takes mins of existing
    labels, and the union keeps the own label in play), so ``sum(l)`` is
    strictly decreasing until the fixpoint and one aggregate per round
    replaces the ``old_l`` comparison column. The label sequence is
    identical to the three-join form round by round (A/B'd on the dd6/pipe12
    edge sets; equivalence vs union-find is property-tested in
    tests/test_properties.py).

    The edge list needs no ``distinct()``: every consumer of ``edges`` here
    is a MIN aggregate, which is duplicate-insensitive, so a dedup would be a
    full exchange + aggregate of the edge list at setup buying nothing (and
    the usual pair producers emit strictly ordered (doc1 < doc2) pairs, which
    symmetrize duplicate-free anyway) — A/B'd ~10% off the CC stage at
    sf0.1, labels identical.

    The per-round checkpoint is LAZY (r14 pass): the convergence aggregate
    is the action that materializes it, so a round runs ONE job. Each round
    also unpersists the previous round's checkpointed blocks, so peak cached
    state is one label set + the edge list, not O(rounds)."""
    edges = (
        pairs.select(F.col(src).alias("v"), F.col(dst).alias("w"))
        .unionByName(pairs.select(F.col(dst).alias("v"), F.col(src).alias("w")))
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.groupBy("v")
        .agg(F.min("w").alias("nbr_min"))
        .select("v", F.least(F.col("v"), F.col("nbr_min")).alias("l"))
        .localCheckpoint(eager=True)
    )
    prev_sum = labels.agg(F.sum("l").alias("s")).first()["s"]
    try:
        for _ in range(max_iter):
            nbr = (
                edges.join(labels.select(F.col("v").alias("w"), F.col("l").alias("lw")), "w")
                .select("v", "lw")
                .unionByName(labels.select("v", F.col("l").alias("lw")))
                .groupBy("v")
                .agg(F.min("lw").alias("l"))  # own label rides the union
            )
            # pointer jump: follow the label chain one hop (labels only hold
            # vertex ids, so the left join's miss arm is defensive only)
            jumped = (
                nbr.join(
                    nbr.select(F.col("v").alias("l"), F.col("l").alias("ll")),
                    "l",
                    "left",
                )
                .select("v", F.least("l", F.coalesce("ll", "l")).alias("l"))
                .localCheckpoint(eager=False)
            )
            new_sum = jumped.agg(F.sum("l").alias("s")).first()["s"]
            # the action above materialized `jumped`, whose lineage stops at
            # its own checkpoint: the previous round's labels are unreachable
            _free_checkpoint(labels)
            labels = jumped
            if new_sum == prev_sum:
                return labels.select("v", F.col("l").alias("component"))
            prev_sum = new_sum
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
    finally:
        # the edge list backs only the rounds, never the returned DataFrame
        _free_checkpoint(edges)
