#!/usr/bin/env python3
"""The repository benchmark: closed-loop workloads over the engine, one client.

    python3 perfbench/run.py --workload roster_sf0.01 --seed 1 --seconds 16 --trace 0

Run from the repository root. Workloads are pinned by name in
``perfbench/workloads.json`` (query lists, input tables, page/row/tick
counts); ``BENCHMARK.json`` lists their metrics. One run:

1. reads the engine's parquet fixtures committed under ``perfbench/data``
   (roster) or generates traffic pages and snapshots from ``--seed`` under a
   per-run scratch directory, and records the inputs' sha256;
2. sets up — session build on ``local[N]`` (shuffle width N = nproc),
   ``load_all()``, the first ``prep`` and one warm query — and reports the
   time from process start to the warm query's end, less input generation,
   as ``setup_s``: the cold set-up, JVM launch and first imports included;
3. runs one untimed pass that warms up and checks every output (DuckDB
   oracle for roster queries, pandas for traffic analyses and for the
   dashboard of every snapshot tick);
4. runs timed passes in a seed-permuted order until ``--seconds`` elapse
   (the pass in flight finishes; at least four passes), then reports
   ``pass_s`` (median pass wall; failed operations stay in it). The median
   operation latency ``op_p50_s`` goes to the context line.

With ``--trace 1`` untraced and traced passes alternate in pairs (U T T U
...); the per-layer metrics of the traced passes are reported per pass, with
the set-up's steps and the tracing overhead. The last stdout line is the
result JSON; the line before it holds the run's context (seed, input digest,
host, workload-specific figures).

``TMPDIR``, ``SPARK_LOCAL_DIRS``, the warehouse and the working directory
point into the scratch directory, which is removed at exit together with the
JVM the run started.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH_ROOT = os.path.join(ROOT, ".perfbench_scratch")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def process_age() -> float:
    """Seconds since this process started (its start time in /proc)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return time.clock_gettime(time.CLOCK_BOOTTIME) - int(fields[19]) / os.sysconf("SC_CLK_TCK")


class Bench:
    def __init__(self, args, spec: dict, scratch: str) -> None:
        self.args = args
        self.spec = spec
        self.wl = dict(spec["workloads"][args.workload])
        if args.toy:
            self.wl.update({k: v for k, v in spec["toy"].items() if k in self.wl})
        self.kind = self.wl["kind"]
        self.scratch = scratch
        if self.kind == "roster":
            self.data = os.path.join(HERE, self.wl["tables"])
        else:
            self.data = os.path.join(scratch, "data")
        self.n = nproc()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.cached_mb_peak = 0.0
        self.setup_steps: dict[str, float] = {}
        self.ticks: list[float] = []
        self.context: dict = {"workload": args.workload, "seed": args.seed}

    # -- inputs ----------------------------------------------------------------

    def make_inputs(self) -> None:
        import datagen

        if self.kind == "traffic":
            self.rows = datagen.traffic_rows(self.wl["pages"] * self.wl["rows_per_page"],
                                             self.args.seed)
            datagen.write_traffic(self.data, self.rows, self.wl["pages"], self.wl["ticks"])
        self.context["inputs_sha256"] = datagen.digest(self.data)

    # -- session ---------------------------------------------------------------

    def build_session(self):
        from pyspark.sql import SparkSession

        tmp = os.path.join(self.scratch, "tmp")
        spark = (
            SparkSession.builder.master(f"local[{self.n}]")
            .appName("perfbench")
            .config("spark.sql.shuffle.partitions", str(self.n))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.local.dir", os.path.join(self.scratch, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.scratch, "warehouse"))
            .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup_session(self) -> None:
        """Session build, ``load_all()``, the first ``prep`` (it ships the
        package zip) and one warm query; each step's time goes to
        ``setup_steps``."""
        t = time.perf_counter()

        def step(name):
            nonlocal t
            now = time.perf_counter()
            self.setup_steps[name], t = now - t, now

        self.spark = self.build_session()
        step("session.build_s")
        from trafficanalysisbigdata_spark.plans.registry import load_all
        from trafficanalysisbigdata_spark.session import prep

        self.specs = load_all()
        step("session.load_all_s")
        prep(self.spark)
        step("session.first_prep_s")
        if self.kind == "roster":
            self.noop(self.specs[self.wl["warm_query"]].run(self.spark, self.data))
        else:
            from trafficanalysisbigdata_spark.streaming.snapshot import dashboard_queries

            first = os.path.join(self.data, "snapshots", "snapshot-0001.parquet")
            snap = self.spark.read.schema(self.wl["snapshot_schema"]).parquet(first)
            dashboard_queries(snap)[self.wl["warm_query"]].collect()
        step("session.warm_query_s")

    def calibrate(self) -> float:
        """A fixed synthetic job (no file I/O, no engine code): moves only with
        host load, so runs on different days can be compared."""
        c = self.spec["calib"]
        t0 = time.perf_counter()
        self.noop(
            self.spark.range(0, c["rows"], 1, c["partitions"])
            .selectExpr("pmod(xxhash64(id), 1048576) AS h", "pmod(xxhash64(id, 7), 64) AS g")
            .groupBy("g").agg({"h": "sum"})
        )
        return time.perf_counter() - t0

    @staticmethod
    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def sample_cache(self) -> None:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / 1e6
        self.cached_mb_peak = max(self.cached_mb_peak, mb)

    # -- operations ------------------------------------------------------------

    def ops(self) -> list[tuple[str, object, object]]:
        """(name, build, consume) per operation of one pass, canonical order."""
        if self.kind == "roster":
            return [(q, (lambda q=q: self.specs[q].run(self.spark, self.data)), self.noop)
                    for q in self.wl["queries"]]
        from trafficanalysisbigdata_spark.api import TrafficAnalytics

        state = {}

        def ingest():
            pages = os.path.join(self.data, "pages")
            state["ta"] = TrafficAnalytics.from_paginated(self.spark, pages)
            return state["ta"].df

        ops = [("ingest", ingest, lambda df: df.count())]
        for a in self.wl["analyses"]:
            ops.append((a, (lambda a=a: getattr(state["ta"], a)()), lambda df: df.collect()))
        return ops

    def refresh(self) -> list[tuple[float, int, dict]]:
        """One snapshot-refresh run over every snapshot file; returns
        (time, batch id, collected results) per batch, time 0 = start."""
        from trafficanalysisbigdata_spark.streaming.snapshot import SnapshotRefreshJob

        snap_dir = os.path.join(self.data, "snapshots")
        shutil.rmtree(os.path.join(snap_dir, "_checkpoint"), ignore_errors=True)
        stamps: list[tuple[float, int, dict]] = []
        t0 = time.perf_counter()
        job = SnapshotRefreshJob(
            self.spark, snap_dir, self.wl["snapshot_schema"],
            on_batch=lambda bid, _q: stamps.append((time.perf_counter() - t0, bid, job.results)),
        )
        job.run_available_now()
        return stamps

    # -- check pass ------------------------------------------------------------

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.problems.append(msg)
        print(f"perfbench: FAILED {msg}", file=sys.stderr)

    def check_pass(self) -> None:
        """Untimed warm-up pass that checks every output."""
        if self.kind == "roster":
            self.check_roster()
        else:
            self.check_traffic()

    def check_roster(self) -> None:
        from concurrent.futures import ThreadPoolExecutor

        from tests.oracle_harness import compare, duck_connection
        from trafficanalysisbigdata_spark.plans.registry import release_caches

        queries = [q for q in self.wl["queries"] if self.specs[q].oracle]
        con = duck_connection(self.data)
        # the oracles run in DuckDB while Spark runs the queries (untimed)
        with ThreadPoolExecutor(1) as pool:
            want = {q: pool.submit(lambda q=q: con.execute(self.specs[q].oracle).df())
                    for q in queries}
            for q in self.wl["queries"]:
                self.attempted += 1
                if q not in want:
                    self.fail(f"{q}: pinned query has no oracle, so its output is unchecked")
                    continue
                try:
                    got = self.specs[q].run(self.spark, self.data)
                    if q == self.args.corrupt:
                        got = got.limit(0)
                    self.sample_cache()
                    probs = compare(q, got, want[q].result())
                except Exception as e:  # a failing query is a result, not a crash
                    probs = [f"{q}: raised {type(e).__name__}: {str(e)[:300]}"]
                finally:
                    release_caches()
                if probs:
                    self.fail("; ".join(probs))
        con.close()

    def check_traffic(self) -> None:
        import checks
        import datagen

        wl, rows = self.wl, self.rows
        want = checks.expected_analyses(rows)
        for name, build, consume in self.ops():
            self.attempted += 1
            try:
                df = build()
                if name == "ingest":
                    got, exp = df.count(), len(datagen.normalize_rows(rows))
                    probs = [] if got == exp else [f"ingest: {got} rows, want {exp}"]
                else:
                    got = checks.rows_frame(df.collect())
                    if name == self.args.corrupt:
                        got = got.iloc[:0]
                    probs = checks.frames_equal(name, got, want[name])
            except Exception as e:
                probs = [f"{name}: raised {type(e).__name__}: {str(e)[:300]}"]
            if probs:
                self.fail("; ".join(probs))
        self.attempted += 1
        try:
            stamps = self.refresh()
            if len(stamps) != wl["ticks"]:
                self.fail(f"refresh: {len(stamps)} batches, want {wl['ticks']}")
            norm = datagen.normalize_rows(rows)
            for k, (_t, bid, got) in enumerate(stamps, start=1):
                snapshot = norm.iloc[: len(norm) * k // wl["ticks"]]
                for q, exp in checks.expected_dashboard(snapshot).items():
                    probs = checks.frames_equal(f"tick {bid} {q}", checks.rows_frame(got[q]), exp)
                    if probs:
                        self.fail("; ".join(probs))
        except Exception as e:
            self.fail(f"refresh: raised {type(e).__name__}: {str(e)[:300]}")

    # -- timed passes ----------------------------------------------------------

    def timed_pass(self, order, tracer=None) -> tuple[float, list[float]]:
        from trafficanalysisbigdata_spark.plans.registry import release_caches

        lat = []
        t_pass = time.perf_counter()
        for name, build, consume in order:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    consume(build())
                else:
                    tracer.op(name, build, consume)
                # queries hand caches they persisted to the harness
                self.sample_cache()
                release_caches()
            except Exception as e:
                self.fail(f"{name}: raised {type(e).__name__}: {str(e)[:300]}")
            lat.append(time.perf_counter() - t0)
        if self.kind == "traffic":
            self.attempted += 1
            try:
                stamps = self.refresh()
                times = [t for t, _b, _r in stamps]
                self.ticks += [b - a for a, b in zip(times, times[1:])]
                if tracer is not None:
                    tracer.counts["snapshot.startup_s"] += times[0]
                    tracer.counts["snapshot.tick_sum_s"] += times[-1] - times[0]
                    tracer.counts["snapshot.ticks"] += len(times) - 1
                    tracer.counts["snapshot.rows_collected"] += sum(
                        len(rows) for _t, _b, res in stamps for rows in res.values())
            except Exception as e:
                self.fail(f"refresh: raised {type(e).__name__}: {str(e)[:300]}")
        return time.perf_counter() - t_pass, lat

    def measure(self) -> dict:
        rng = random.Random(self.args.seed)
        ops = self.ops()
        tracer = None
        if self.args.trace:
            from layers import Tracer

            tracer = Tracer(self.spark, self.wl.get("pages", 0))
        head = ops[:1] if self.kind == "traffic" else []  # ingest feeds the rest

        def permuted():
            return head + rng.sample(ops[len(head):], len(ops) - len(head))

        passes, traced, lat, per_op = [], [], [], {}
        t_start = time.perf_counter()
        # at least four timed passes: passes still speed up as the JVM warms,
        # so a run whose window held fewer would take its median from a
        # colder pass
        while (time.perf_counter() - t_start < self.args.seconds
               or len(passes) + len(traced) < 4):
            order = permuted()
            # untraced, traced, traced, untraced, ...: drift over the window
            # (warm-up, host load) falls on both sides alike
            use_tracer = tracer is not None and (len(passes) + len(traced)) % 4 in (1, 2)
            if use_tracer:
                tracer.install()
                try:
                    wall, _ = self.timed_pass(order, tracer)
                finally:
                    tracer.uninstall()
                traced.append(wall)
            else:
                wall, op_lat = self.timed_pass(order)
                passes.append(wall)
                lat += op_lat
                for (name, _b, _c), x in zip(order, op_lat):
                    per_op.setdefault(name, []).append(x)
        self.context.update({
            "passes": passes, "op_samples": len(lat), "op_p50_s": median(lat),
            "op_p50_by_name": {k: median(v) for k, v in per_op.items()},
        })
        if tracer is None:
            return {"pass_s": (median(passes), "s")}
        return self.layer_metrics(tracer, len(traced), median(traced) - median(passes))

    def layer_metrics(self, t, n: int, overhead: float) -> dict:
        c = t.counts

        def per(x: float) -> float:  # per traced pass
            return x / n

        def in_run(name: str) -> float:  # span time inside QuerySpec.run
            return sum(s.end - s.start for s in t.spans
                       if s.name == name and s.parent == "registry.run")

        run_s = t.total("registry.run")
        exec_s = t.total("exec.run")
        return {
            "session.prep_calls": (per(t.calls("session.prep")), "count"),
            "session.prep_s": (per(t.total("session.prep")), "s"),
            "io.register_views_calls": (per(t.calls("io.register_views")), "count"),
            "io.register_views_s": (per(t.total("io.register_views")), "s"),
            "io.fan_out_calls": (per(t.calls("io.fan_out")), "count"),
            "io.fan_out_fired": (per(c["io.fan_out_fired"]), "count"),
            "registry.run_s": (per(run_s), "s"),
            "registry.construct_self_s": (
                per(run_s - in_run("session.prep") - in_run("io.register_views")), "s"),
            "registry.construct_jobs": (per(c["registry.construct_jobs"]), "count"),
            "catalyst.plan_s": (per(t.total("catalyst.plan")), "s"),
            "exec.run_s": (per(exec_s), "s"),
            "exec.jobs": (per(c["exec.jobs"]), "count"),
            "exec.stages": (per(c["exec.stages"]), "count"),
            "exec.tasks": (per(c["exec.tasks"]), "count"),
            "exec.task_busy_s": (per(c["exec.task_busy_s"]), "s"),
            "exec.core_util": (c["exec.task_busy_s"] / (exec_s * self.n) if exec_s else 0.0, "ratio"),
            "exec.shuffle_read_bytes": (per(c["exec.shuffle_read_bytes"]), "bytes"),
            "exec.shuffle_write_bytes": (per(c["exec.shuffle_write_bytes"]), "bytes"),
            "exec.input_bytes": (per(c["exec.input_bytes"]), "bytes"),
            "exec.spill_bytes": (per(c["exec.spill_bytes"]), "bytes"),
            "components.cc_calls": (per(t.calls("components.cc")), "count"),
            "components.cc_s": (per(t.total("components.cc")), "s"),
            "components.cc_jobs": (per(c["components.cc_jobs"]), "count"),
            "paginated.scan_tasks": (per(c["paginated.scan_tasks"]), "count"),
            "paginated.scans_per_pass": (per(c["paginated.scans_per_pass"]), "count"),
            "snapshot.startup_s": (per(c["snapshot.startup_s"]), "s"),
            "snapshot.tick_s": (
                c["snapshot.tick_sum_s"] / c["snapshot.ticks"] if c["snapshot.ticks"] else 0.0, "s"),
            "snapshot.rows_collected": (per(c["snapshot.rows_collected"]), "count"),
            "trace.overhead_s": (overhead, "s"),
        }

    # -- one run ---------------------------------------------------------------

    def run(self) -> dict:
        phases, t = {}, time.perf_counter()

        def phase(name):
            nonlocal t
            now = time.perf_counter()
            phases[name], t = now - t, now

        self.make_inputs()
        phase("inputs")
        self.setup_session()
        setup_s = process_age() - phases["inputs"]
        phase("setup")
        calib = self.calibrate()
        self.check_pass()
        phase("check")
        metrics = self.measure()
        phase("measure")
        self.context["phases_s"] = phases
        if self.args.trace:
            metrics["host.calib_s"] = (calib, "s")
            metrics.update({k: (v, "s") for k, v in self.setup_steps.items()})
        else:
            metrics = {"setup_s": (setup_s, "s"), **metrics}
        self.context.update({
            "setup_steps_s": self.setup_steps, "host.calib_s": calib,
            "failed_frac": self.failed / max(self.attempted, 1),
            "cached_mb_peak": self.cached_mb_peak,
            "tick_p50_s": median(self.ticks), "problems": self.problems[:20],
            "host": host_context(self.spark, self.n),
        })
        return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}

    def shutdown(self) -> None:
        """Stop the session and the JVM this process launched, and wait."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def host_context(spark, n: int) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": n,
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--toy", action="store_true",
                   help="toy input sizes (smoke test): sf0.001, 2 pages, 2 ticks")
    p.add_argument("--corrupt", default=None, metavar="OP",
                   help="self-test only: replace OP's checked result with a wrong one")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "trafficanalysisbigdata_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "tests", "oracle_harness.py"))):
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    scratch = os.path.join(SCRATCH_ROOT, f"run-{os.getpid()}")
    for sub in ("tmp", "spark-local", "warehouse", "cwd"):
        os.makedirs(os.path.join(scratch, sub))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(scratch, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    cwd = os.getcwd()
    os.chdir(os.path.join(scratch, "cwd"))
    bench = Bench(args, spec, scratch)
    try:
        metrics = bench.run()
    finally:
        try:
            bench.shutdown()
        finally:
            os.chdir(cwd)
            shutil.rmtree(scratch, ignore_errors=True)
            try:
                os.rmdir(SCRATCH_ROOT)
            except OSError:  # another run still owns a directory in it
                pass
    print("perfbench-context " + json.dumps(bench.context, default=str))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
