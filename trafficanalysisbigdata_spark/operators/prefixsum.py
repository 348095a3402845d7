"""Distributed ordered prefix-sum: the two-phase cumsum olap9 introduced
(value-range buckets from literal cuts -> per-bucket windows in parallel ->
num-buckets offset ledger broadcast back), packaged as ONE operator,
``two_phase_prefix_sums`` (any number of running sums, optional groups,
either direction), so every "running total over a globally ordered corpus"
query (olap9 Pareto, pipe11 token-budget selection, a17's weighted median,
tx17/tx17b Heaps curves) shares one audited implementation instead of
re-deriving the pattern.

Why not one global window: `Window.orderBy(key)` with no partition spec sorts
the WHOLE frame through a single reducer — fine at fixture scale, dead at
100 TB. The two-phase form costs one extra (tiny) ledger window and a
broadcast join, and every windowspecdefinition it emits carries a partition
spec (plan-guarded in tests/test_plans.py for both consumers).

Determinism (the olap9 argument, see plans/queries_olap.py): buckets are
assigned BY VALUE against literal cuts computed once on the driver — never
from physical placement (spark_partition_id after repartitionByRange is
documented nondeterministic, and a frame feeding two plan branches could
re-sample bounds differently per branch). The cuts need not be balanced for
correctness — equal keys always share a bucket, and the per-bucket window
breaks ties by the caller's tiebreak columns — only for parallelism.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_PID = "__psum_pid"
_LOCAL = "__psum_local"
_OFFSET = "__psum_offset"


def two_phase_prefix_sums(
    df: DataFrame,
    key: str,
    values: dict[str, str],
    descending: bool = False,
    group: tuple[str, ...] = (),
    tiebreak: tuple[str, ...] = (),
    n_buckets: int = 8,
    totals: dict[str, str] | None = None,
    cuts_from: DataFrame | None = None,
) -> DataFrame:
    """Append ``out`` = running sum of ``value`` for every (out, value) in
    ``values`` — inclusive of the current row — over ``df`` ordered by
    (``key`` asc, or desc with ``descending``, ``tiebreak...`` asc) WITHIN
    each ``group`` (the whole frame when ``group`` is empty). All running
    sums ride ONE partitioned window (the tx17 discipline), with no
    unpartitioned window anywhere.

    Phase 0 runs ONE 1-row Spark action (percentile_approx over ``key``)
    to derive literal range cuts — the explicit form of RangePartitioner's
    bounds sampling. Callers embedding this in a multi-branch plan get
    branch-consistent buckets by construction because the cuts are
    literals. The cuts are GLOBAL over ``key`` (a per-group quantile would
    need a per-group action or a skew-prone two-level agg, and the cuts
    need only spread work, not balance it per-group); the local window
    partitions by (group..., bucket); the offset ledger is one row per
    (group..., bucket) — n_groups x n_buckets rows, broadcast back — and
    its cumulative-offset window partitions by the group columns, so the
    only per-group serial state is the ledger's n_buckets rows, never the
    group's data. Equal keys always share a bucket, so correctness is
    independent of cut placement (the module's determinism argument).

    ``totals`` optionally appends per-GROUP grand totals of the named value
    columns to every row. They are free: the offset ledger already holds
    one (group, bucket) partial-sum row per bucket, so each total is one
    more window over those n_groups × n_buckets ledger rows (partitioned
    by the group columns, full frame) riding the same broadcast — callers
    that previously re-aggregated the INPUT for its group totals paid a
    full re-evaluation of the input subtree instead (tx17b re-tokenized
    the corpus for two sums; r15 optimization pass).

    ``cuts_from`` optionally supplies a cheaper frame for the phase-0
    percentile action. The cuts need only spread work over buckets, never
    balance it exactly, so ANY frame with the same ``key`` distribution
    works — and the driver action on ``df`` itself re-evaluates ``df``'s
    whole subtree (for tx17b: the tokenize/explode/first-seen pipeline)
    where a pruned base-table scan of the key column costs one column read.

    Consumers: olap9 and pipe11 (one descending running sum plus its grand
    total), a17 (per-flag weighted median), and tx17's decimated Heaps-fit
    path (running token/vocab/rank sums per source for corpora whose
    per-source doc count outgrows one window task)."""
    fracs = [i / n_buckets for i in range(1, n_buckets)]
    # `or []` guards the empty-frame edge: percentile_approx over zero rows
    # is NULL, and one bucket over an empty frame is still correct.
    cuts = (
        (cuts_from if cuts_from is not None else df)
        .select(
            F.percentile_approx(F.col(key).cast("double"), fracs, 10000).alias("c")
        ).first()["c"]
        or []
    )
    kd = F.col(key).cast("double")
    # Number of cuts on the "later" side of this key given the direction:
    # bucket 0 holds the rows that sort FIRST, equal keys share a bucket.
    bucket = reduce(
        lambda acc, c: acc + F.when(kd < c if descending else kd > c, 1).otherwise(0),
        cuts,
        F.lit(0),
    )
    ranged = df.withColumn(_PID, bucket)
    order = [F.desc(key) if descending else F.asc(key)] + [F.asc(t) for t in tiebreak]
    w_local = (
        Window.partitionBy(*group, _PID)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = ranged.select(
        "*",
        *[
            F.sum(val).over(w_local).alias(f"{_LOCAL}_{out}")
            for out, val in values.items()
        ],
    )
    ptot = local.groupBy(*group, _PID).agg(
        *[F.sum(val).alias(f"__p_{out}") for out, val in values.items()],
        *[
            F.sum(val).alias(f"__t_{out}")
            for out, val in (totals or {}).items()
        ],
    )
    w_off = (
        Window.partitionBy(*(group if group else (F.lit(0),)))
        .orderBy(_PID)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = (
        Window.partitionBy(*(group if group else (F.lit(0),)))
        .orderBy(_PID)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    ledger = ptot.select(
        *group,
        F.col(_PID),
        *[
            F.coalesce(F.sum(f"__p_{out}").over(w_off), F.lit(0)).alias(
                f"{_OFFSET}_{out}"
            )
            for out in values
        ],
        *[
            F.sum(f"__t_{out}").over(w_tot).alias(out)
            for out in (totals or {})
        ],
    )
    joined = local.join(F.broadcast(ledger), [*group, _PID])
    for out in values:
        joined = joined.withColumn(
            out, F.col(f"{_LOCAL}_{out}") + F.col(f"{_OFFSET}_{out}")
        )
    return joined.drop(
        _PID, *[f"{_LOCAL}_{out}" for out in values], *[f"{_OFFSET}_{out}" for out in values]
    )
