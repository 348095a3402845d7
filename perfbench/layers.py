"""Per-layer accounting for the traced run, measured from outside the engine.

``Tracer.install`` wraps the public functions where their callers look them
up — ``session.prep``, ``io.register_views``, ``QuerySpec.run``,
``components.connected_components`` and ``io.fan_out_small_scan``, under
every engine module name bound to them — and records spans (name, start,
end, parent) in memory. Spark work is attributed per operation through a job group: ``statusTracker`` gives the
jobs and stages, the status store (``lastStageAttempt``) their tasks, run
time, shuffle, input and spill bytes. Nothing here edits engine code;
``uninstall`` restores every patched name.
"""

from __future__ import annotations

import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None


class Tracer:
    def __init__(self, spark, pages: int = 0) -> None:
        self.sc = spark.sparkContext
        # a paginated scan is a stage of one task per page that reads no
        # shuffle (0: the workload has no such scan)
        self.pages = pages
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[str] = []
        self._patched: list[tuple[object, str, object]] = []
        self._group: str | None = None

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(name, t0, time.perf_counter(), parent))

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    # -- patching ------------------------------------------------------------

    def _patch_everywhere(self, func, make) -> None:
        """Patch every loaded engine module attribute bound to ``func``: the
        defining module (which function-local imports read at call time)
        and every module that imported the name at load time."""
        wrapped = make(func)
        for name, mod in list(sys.modules.items()):
            if name.split(".")[0] != "trafficanalysisbigdata_spark" or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is func:
                    self._patched.append((mod, attr, func))
                    setattr(mod, attr, wrapped)

    def install(self) -> None:
        from trafficanalysisbigdata_spark.io import fan_out_small_scan, register_views
        from trafficanalysisbigdata_spark.operators.components import connected_components
        from trafficanalysisbigdata_spark.plans.registry import QuerySpec
        from trafficanalysisbigdata_spark.session import prep

        def timed(name):
            def make(orig):
                def wrapper(*a, **kw):
                    with self.span(name):
                        return orig(*a, **kw)
                return wrapper
            return make

        def cc(orig):
            def wrapper(*a, **kw):
                before = self._group_jobs()
                with self.span("components.cc"):
                    out = orig(*a, **kw)
                self.counts["components.cc_jobs"] += len(self._group_jobs() - before)
                return out
            return wrapper

        def fan_out(orig):
            def wrapper(df, *a, **kw):
                with self.span("io.fan_out"):
                    out = orig(df, *a, **kw)
                self.counts["io.fan_out_fired"] += out is not df
                return out
            return wrapper

        self._patch_everywhere(prep, timed("session.prep"))
        self._patch_everywhere(register_views, timed("io.register_views"))
        self._patch_everywhere(connected_components, cc)
        self._patch_everywhere(fan_out_small_scan, fan_out)
        run = QuerySpec.run
        self._patched.append((QuerySpec, "run", run))
        QuerySpec.run = timed("registry.run")(run)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- Spark job accounting ------------------------------------------------

    def _group_jobs(self) -> set[int]:
        if self._group is None:
            return set()
        return set(self.sc.statusTracker().getJobIdsForGroup(self._group))

    def _stages(self, job_ids: set[int]):
        """(job id, StageData) of every stage the jobs ran."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    sd = jsc.statusStore().lastStageAttempt(sid)
                except Py4JJavaError:  # stage never attempted (skipped)
                    continue
                if sd.status().toString() != "SKIPPED":
                    yield jid, sd

    def op(self, name: str, build, consume) -> None:
        """Trace one operation: construction (``build``), Catalyst planning
        of the returned frame, then execution (``consume``). Each phase's
        jobs are told apart by diffing the operation's job group."""
        self._group = f"perfbench:{name}:{len(self.spans)}"
        self.sc.setJobGroup(self._group, name)
        try:
            df = build()
            construct = self._group_jobs()
            if hasattr(df, "_jdf"):
                with self.span("catalyst.plan"):
                    df._jdf.queryExecution().executedPlan()
            with self.span("exec.run"):
                consume(df)
            run = self._group_jobs() - construct
            self._account(construct, run)
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._group = None

    def _account(self, construct: set[int], run: set[int]) -> None:
        c = self.counts
        c["registry.construct_jobs"] += len(construct)
        c["exec.jobs"] += len(run)
        for jid, sd in self._stages(construct | run):
            if self.pages and sd.numTasks() == self.pages and sd.shuffleReadBytes() == 0:
                c["paginated.scan_tasks"] += sd.numTasks()
                c["paginated.scans_per_pass"] += 1
            if jid not in run:
                continue
            c["exec.stages"] += 1
            c["exec.tasks"] += sd.numTasks()
            c["exec.task_busy_s"] += sd.executorRunTime() / 1000.0
            c["exec.shuffle_read_bytes"] += sd.shuffleReadBytes()
            c["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["exec.input_bytes"] += sd.inputBytes()
            c["exec.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
