#!/usr/bin/env python
"""Per-query probe: dump ``explain("formatted")`` for registry queries (all,
or a named subset) into a directory, and optionally time each — plan
construction plus a noop-sink execution, as bench.py does — so a single query
can be isolated without running the whole bench roster. Ends with a "plan
smells" summary read from each plan's operator tree (tests/plan_tree.py).

Usage:
    python scripts/opt_plans.py --out "$(mktemp -d)" [--time N] [names...]

Plans are captured at $SPARK_GRAFT_SF_DIR (default sf0.1 — the perf surface)
on local[$SPARK_GRAFT_CPUS], the bench's exact session shape.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
SMELLS = ("CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin", "BatchEvalPython")


def plan_smells(df) -> str | None:
    """Shapes worth a look in ``df``'s physical plan: pair-shaped or sort-merge
    joins, row-at-a-time Python UDFs, more than four shuffles."""
    from tests.plan_tree import exchanges, nodes, plan_of

    plan = plan_of(df)
    flags = sorted({n.op for n in nodes(plan, *SMELLS)})
    n_ex = len(exchanges(plan))
    if flags or n_ex > 4:
        return f"exchanges={n_ex} {' '.join(flags)}"
    return None


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="query names (default: all registered)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--time", type=int, default=0, help="noop-sink timing passes per query")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("opt-plans")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from trafficanalysisbigdata_spark.plans.registry import load_all, release_caches

    specs = load_all()
    names = args.names or list(specs)
    os.makedirs(args.out, exist_ok=True)

    # warmup (mirrors bench.py)
    if args.time:
        specs["a1_totals_by_event_type"].run(spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
        release_caches()

    timings: dict[str, list[float]] = {}
    smells: list[str] = []
    for name in names:
        spec = specs.get(name)
        if spec is None:
            print(f"unknown query {name!r}", file=sys.stderr)
            continue
        try:
            spark.sparkContext.setJobDescription(f"plan:{name}")
            df = spec.run(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:
            plan = f"PLAN CAPTURE FAILED: {e}"
            print(f"{name}: plan capture failed: {e}", file=sys.stderr)
            release_caches()
            with open(os.path.join(args.out, f"{name}.txt"), "w") as f:
                f.write(plan)
            continue
        with open(os.path.join(args.out, f"{name}.txt"), "w") as f:
            f.write(plan)
        smell = plan_smells(df)
        if smell:
            smells.append(f"{name}: {smell}")
        if args.time:
            runs = []
            for i in range(args.time):
                release_caches()
                spark.sparkContext.setJobDescription(f"time:{name}:{i}")
                t0 = time.perf_counter()
                df_i = spec.run(spark, SF_DIR)
                df_i.write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
            timings[name] = runs
            print(f"{name}: " + " ".join(f"{t:.3f}" for t in runs), flush=True)
        release_caches()

    if timings:
        med = {
            n: sorted(ts)[len(ts) // 2] for n, ts in timings.items()
        }
        for n in sorted(med, key=med.get, reverse=True):
            print(f"MED {med[n]:8.3f}  {n}")

    if smells:
        print("--- plan smells ---")
        for s in smells:
            print(s)


if __name__ == "__main__":
    main()
