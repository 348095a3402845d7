"""Typed records over a DataFrame's physical plan: the one place tests read plans.

``plan_of(df)`` walks the JVM ``SparkPlan`` tree into one ``Node`` per
operator. AQE hides the tree behind leaf wrappers, so the walk unwraps them:
``AdaptiveSparkPlanExec.executedPlan()``, ``*QueryStageExec.plan()``,
``Reused{Exchange,Subquery}Exec.child()``, plus every node's ``subqueries()``.
Expression ids (``#12L``) are stripped: ``keys`` reads ``("doc_id",)``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_ID = re.compile(r"#\d+L?")
_UNWRAP = {"AdaptiveSparkPlanExec": "executedPlan", "ReusedExchangeExec": "child",
           "ReusedSubqueryExec": "child"}


@dataclass(frozen=True)
class Node:
    op: str  # class name less "Exec": "BroadcastHashJoin", "ShuffleExchange", ...
    text: str  # the node's own one-line string
    children: tuple[Node, ...] = ()
    join_type: str | None = None
    keys: tuple[str, ...] = ()  # join (left, right) / grouping / window or hash-exchange partition
    exprs: tuple[str, ...] = ()  # aggregate/window functions, generator, condition, projection
    mode: str | None = None  # WindowGroupLimit Partial/Final, exchange partitioning class
    limit: int | None = None
    pushed: tuple[str, ...] = ()  # scan: filters pushed to the source
    partition_filters: tuple[str, ...] = ()
    columns: tuple[str, ...] = ()  # scan: read schema


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _strs(s) -> tuple[str, ...]:
    return tuple(_ID.sub("", str(e)) for e in _seq(s))


def _node(j) -> Node:
    cls = j.getClass().getSimpleName()
    f: dict = {}
    if cls in _UNWRAP:
        kids = [getattr(j, _UNWRAP[cls])()]
    elif cls.endswith("QueryStageExec"):
        kids = [j.plan()]
    else:
        kids = _seq(j.children()) + _seq(j.subqueries())
    if cls in ("BroadcastHashJoinExec", "ShuffledHashJoinExec", "SortMergeJoinExec"):
        f.update(keys=_strs(j.leftKeys()) + _strs(j.rightKeys()))
    if cls.endswith("JoinExec"):
        f.update(join_type=str(j.joinType()))
    elif cls.endswith("AggregateExec"):
        f.update(keys=_strs(j.groupingExpressions()), exprs=_strs(j.aggregateExpressions()))
    elif cls == "WindowExec":
        f.update(keys=_strs(j.partitionSpec()), exprs=_strs(j.windowExpression()))
    elif cls == "WindowGroupLimitExec":
        f.update(keys=_strs(j.partitionSpec()), mode=str(j.mode()), limit=j.limit())
    elif cls == "TakeOrderedAndProjectExec":
        f.update(limit=j.limit())
    elif cls == "ShuffleExchangeExec":
        part = j.outputPartitioning()
        f.update(mode=part.getClass().getSimpleName())
        if f["mode"] == "HashPartitioning":
            f.update(keys=_strs(part.expressions()))
    elif cls == "ProjectExec":
        f.update(exprs=_strs(j.projectList()))
    elif cls in ("GenerateExec", "FilterExec"):
        e = j.generator() if cls == "GenerateExec" else j.condition()
        f.update(exprs=(_ID.sub("", str(e)),))
    elif cls == "FileSourceScanExec":
        f.update(pushed=_strs(j.pushedDownFilters()), partition_filters=_strs(j.partitionFilters()),
                 columns=tuple(j.requiredSchema().fieldNames()))
    return Node(cls.removesuffix("Exec"), j.simpleString(1000), tuple(map(_node, kids)), **f)


def plan_of(df, final: bool = False) -> Node:
    """``df``'s physical plan; ``final=True`` demands AQE's final plan (after an action)."""
    j = df._jdf.queryExecution().executedPlan()
    if final:
        assert j.isFinalPlan(), "no AQE final plan yet: run an action on this Dataset first"
    return _node(j)


def nodes(plan: Node, *ops: str) -> list[Node]:
    """Every node (pre-order), or only those whose ``op`` is one of ``ops``."""
    out = [plan] if not ops or plan.op in ops else []
    for c in plan.children:
        out += nodes(c, *ops)
    return out


def joins(plan: Node, keyed_on: str | None = None, how: str | None = None) -> list[Node]:
    return [n for n in nodes(plan) if (n.op.endswith("Join") or n.op == "CartesianProduct")
            and (keyed_on is None or keyed_on in n.keys) and how in (None, n.join_type)]


def exchanges(plan: Node, keyed_on: str | None = None) -> list[Node]:
    """Shuffle exchanges; with ``keyed_on``, hash exchanges on that column."""
    return [n for n in nodes(plan, "ShuffleExchange") if keyed_on is None or keyed_on in n.keys]
