"""Connected components over a near-duplicate pair graph — the transitive
closure step that turns pairwise "A~B" verdicts into dedup CLUSTERS (chain
A–B–C collapses to one keeper even though A≁C directly). This is the final
stage of a production dedup pipeline; the pairwise operators (dd2/dd4/sim4)
produce its edge list.

Two arms, picked from the size of the edge list once it is materialized
(Shark's partial DAG execution: choose the physical strategy from run-time
statistics of input that already exists). The symmetrized edge list is
eagerly checkpointed first, so its stored bytes are known from the block
manager without running a job.

- At or under Spark's own "small enough to ship whole" bound,
  ``spark.sql.autoBroadcastJoinThreshold`` as the session parses it, the
  whole edge list goes to ONE task: a grouped ``applyInPandas`` keyed by a
  constant runs a vectorized numpy union-find (min-label hooking plus
  pointer jumping over dense vertex indices). A list small enough to
  broadcast to every executor is small enough for one Python worker, and
  one task replaces the loop's per-round jobs — the fixed cost that
  dominates dd6/pipe12 at fixture scale. ``-1`` disables the arm, as it
  disables broadcasting.
- Above the bound: iterative min-label propagation with pointer jumping —
  label(v) starts as min(v, neighbors), then each round takes the min over
  neighbors' labels AND follows label chains one hop (label(label(v))).
  Pointer jumping makes chain-shaped components converge in O(log diameter)
  rounds instead of O(diameter). Each round is two shuffles (one neighbor
  join + one label self-join); the loop runs driver-side with a convergence
  check, the standard Spark shape for iterative graph algorithms (GraphX /
  GraphFrames do the same under the hood). ``localCheckpoint`` truncates
  the growing lineage each round — without it, round k replays rounds
  1..k-1.

Both arms reach the same fixpoint, "label(v) = min vertex id reachable from
v", so a recursive-CTE reachability closure (DuckDB oracle) checks either
bit-for-bit — rare for an iterative distributed algorithm.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# The loop arm's round budget: past it the loop raises instead of returning
# unconverged labels. Read at call time.
CC_MAX_ITER = 25


def _free_checkpoint(df: DataFrame) -> None:
    """Free the cached blocks behind ``df``'s local checkpoint. Without this,
    every round of every dedup-closure run leaks one label set for the
    session lifetime (a real memory leak in a long-lived driver). The handle
    is ``df``'s own checkpointed RDD (its plan is a ``LogicalRDD``), so
    blocks another query checkpointed in the same session are never
    touched."""
    df._jdf.logicalPlan().rdd().unpersist(False)


def _stored_bytes(df: DataFrame) -> int:
    """Bytes the block manager holds for ``df``'s local checkpoint, memory
    plus disk, asked of the driver's block-manager master per partition —
    no job runs. A partition with no stored block counts 0 bytes, so a
    checkpoint with no blocks at all (an empty edge list) reads 0."""
    sc = df.sparkSession.sparkContext
    rdd = df._jdf.logicalPlan().rdd()
    master = sc._jsc.sc().env().blockManager().master()
    block_id = sc._jvm.org.apache.spark.storage.RDDBlockId
    total = 0
    for p in range(rdd.getNumPartitions()):
        holders = master.getBlockStatus(block_id(rdd.id(), p), False).values().iterator()
        while holders.hasNext():
            status = holders.next()
            total += status.memSize() + status.diskSize()
    return total


def _min_label_union_find(pdf: pd.DataFrame) -> pd.DataFrame:
    """(v, component) for a whole symmetrized edge list (v, w), component =
    min vertex id of v's component. Vertex ids map to dense indices in id
    order, so the min index IS the min id. Every round hooks each root onto
    the smallest root across its edges (parent[i] <= i always holds, so no
    cycle forms), then pointer jumping flattens every vertex onto its root;
    the rounds stop when both ends of every edge share a root. Each round
    that does not stop hooks at least one root away, and the component's min
    vertex is never hooked, so it ends as the one root."""
    ids, dense = np.unique(
        np.concatenate([pdf["v"].to_numpy(), pdf["w"].to_numpy()]), return_inverse=True
    )
    v, w = dense[: len(pdf)], dense[len(pdf) :]
    parent = np.arange(len(ids))
    while not np.array_equal(parent[v], parent[w]):
        # the list is symmetrized, so hooking each edge's v-side root covers
        # both directions
        np.minimum.at(parent, parent[v], parent[w])
        while not np.array_equal(parent[parent], parent):
            parent = parent[parent]
    return pd.DataFrame({"v": ids, "component": ids[parent]})


def _union_find_components(edges: DataFrame) -> DataFrame:
    """The one-task arm: every edge to one group, labels from
    ``_min_label_union_find``, checkpointed eagerly so the returned plan
    never reads the edge blocks the caller frees."""
    vtype = edges.schema["v"].dataType
    out = StructType([StructField("v", vtype), StructField("component", vtype)])
    # aliased: a bare integer literal in groupBy reads as a column ordinal
    return (
        edges.groupBy(F.lit(0).alias("one_task"))
        .applyInPandas(_min_label_union_find, out)
        .localCheckpoint(eager=True)
    )


def _propagate_labels(edges: DataFrame) -> DataFrame:
    """The loop arm: min-label propagation with pointer jumping over the
    checkpointed edge list, ≤ ``CC_MAX_ITER`` rounds (raises if not
    converged — silent non-convergence would return wrong clusters).

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

    The per-round checkpoint is LAZY (r14 pass): the convergence aggregate
    is the action that materializes it, so a round runs ONE action (AQE
    still runs each of its shuffle stages as a job of its own). Each round
    also unpersists the previous round's checkpointed blocks, so peak cached
    state is one label set + the edge list, not O(rounds)."""
    labels = (
        edges.groupBy("v")
        .agg(F.min("w").alias("nbr_min"))
        .select("v", F.least(F.col("v"), F.col("nbr_min")).alias("l"))
        .localCheckpoint(eager=True)
    )
    prev_sum = labels.agg(F.sum("l").alias("s")).first()["s"]
    for _ in range(CC_MAX_ITER):
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
    raise RuntimeError(f"connected_components did not converge in {CC_MAX_ITER} rounds")


def connected_components(pairs: DataFrame) -> DataFrame:
    """(v, component) for every vertex of the (doc1, doc2) edges in
    ``pairs``; component = min vertex id reachable from v. The result is a
    plan over checkpointed labels, never driver-side data.

    The pairs are symmetrized into an edge list and eagerly checkpointed;
    its stored bytes (``_stored_bytes``, no job) then pick the arm. At or
    under the session's ``spark.sql.autoBroadcastJoinThreshold`` — the size
    Spark itself deems cheap enough to ship whole — one grouped task runs a
    numpy union-find (``_union_find_components``); on the sf0.01 dd6 edge
    list that is ~2 jobs after the edge checkpoint instead of the loop's
    ~25. Above it, or with the threshold at -1, the distributed loop runs
    (``_propagate_labels``), converging in ≤ ``CC_MAX_ITER`` rounds or
    raising; the budget bounds only the loop, since union-find has no round
    budget to exceed.

    The edge list needs no ``distinct()``: the loop's every consumer of
    ``edges`` is a MIN aggregate and union-find hooks are idempotent, so
    duplicates change nothing, and a dedup would be a full exchange +
    aggregate of the edge list at setup buying nothing (the usual pair
    producers emit strictly ordered (doc1 < doc2) pairs, which symmetrize
    duplicate-free anyway) — A/B'd ~10% off the CC stage at sf0.1, labels
    identical."""
    edges = (
        pairs.select(F.col("doc1").alias("v"), F.col("doc2").alias("w"))
        .unionByName(pairs.select(F.col("doc2").alias("v"), F.col("doc1").alias("w")))
        .localCheckpoint(eager=True)
    )
    bound = edges.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    try:
        # stored bytes are never negative, so a -1 bound (broadcast off)
        # sends every edge list to the loop, as Spark's canBroadcastBySize
        if _stored_bytes(edges) <= bound:
            return _union_find_components(edges)
        return _propagate_labels(edges)
    finally:
        # the edge list backs neither arm's returned DataFrame: both return
        # labels whose lineage stops at their own materialized checkpoint
        _free_checkpoint(edges)
