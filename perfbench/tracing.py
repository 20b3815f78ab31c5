"""Per-layer tracing for the benchmark's traced run.

Everything here is read from outside the engine: the tracer times the
public calls a statement makes into each layer (spans), tags the Spark
jobs of each statement phase with ``setJobGroup``, and afterwards reads
jobs, stages and tasks from the status tracker, shuffle and spill bytes
from the status store, cached RDDs from ``getRDDStorageInfo``, Catalyst
phase times from ``QueryExecution.tracker()``, and streaming trigger
progress from a ``StreamingQueryListener``. Spans stay in memory and are
written out once, at the end of the run.

The untraced run passes ``NO_TRACE``, whose hooks do nothing.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from collections import defaultdict

# Per-layer metric names and units, in report order. Times and counts are
# totals per traced pass, except where the name says otherwise.
PER_LAYER = {
    "session.start_s": "s",
    "catalog.register_s": "s",
    "catalog.cache_fill_s": "s",
    "setup.warmup_s": "s",
    "jvm.jit_s": "s",
    "jvm.gc_s": "s",
    "jvm.heap_used_bytes": "bytes",
    "parser.parse_s": "s",
    "plans.render_s": "s",
    "plans.to_df_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "operators.build_s": "s",
    "operators.eager_jobs": "count",
    "operators.cached_rdds": "count",
    "operators.storage_bytes_held": "bytes",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "streaming.replay_s": "s",
    "streaming.triggers": "count",
    "streaming.trigger_p50_s": "s",
    "streaming.input_rows": "count",
    "streaming.addBatch_s": "s",
    "streaming.queryPlanning_s": "s",
    "streaming.walCommit_s": "s",
    "streaming.commitOffsets_s": "s",
    "streaming.latestOffset_s": "s",
    "streaming.getBatch_s": "s",
    "sources.tmp_bytes_left": "bytes",
    "trace.overhead": "ratio",
}

_CATALYST_PHASES = ("analysis", "optimization", "planning")
_STREAM_PHASES = (
    "addBatch", "queryPlanning", "walCommit", "commitOffsets",
    "latestOffset", "getBatch",
)


class _NoTrace:
    """The untraced run's tracer: every hook is a no-op."""

    def statement(self, name):
        return contextlib.nullcontext()

    def span(self, metric, group=None):
        return contextlib.nullcontext()

    def phases(self, qe):
        pass

    def plan(self, df):
        pass


NO_TRACE = _NoTrace()


class Tracer:
    """Spans and counters for one traced run of one workload."""

    def __init__(self, spark, storage_baseline: tuple[int, int]):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.baseline_rdds, self.baseline_bytes = storage_baseline
        self.spans: list[dict] = []
        self.totals: dict[str, float] = defaultdict(float)
        self.peaks: dict[str, float] = defaultdict(float)
        self.triggers: list[dict] = []
        self._stmt: str | None = None
        self._stmt_id = 0
        self._groups: list[tuple[str, str]] = []  # (span metric, job group)
        self._listener = None

    # -- hooks called by the statements -------------------------------

    @contextlib.contextmanager
    def statement(self, name: str):
        self._stmt, self._groups = name, []
        self._stmt_id += 1
        with self.span("statement"):
            yield
        self.sc.setJobGroup("perfbench/idle", "between statements")
        self._read_jobs()
        self._read_storage()

    @contextlib.contextmanager
    def span(self, metric: str, group: str | None = None):
        if group is not None:
            tag = f"perfbench/{self._stmt_id}/{self._stmt}/{group}"
            self.sc.setJobGroup(tag, f"{self._stmt} {group}")
            self._groups.append((metric, tag))
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.totals[metric] += t1 - t0
            self.spans.append({
                "stmt": self._stmt_id, "entry": self._stmt, "name": metric,
                "start": t0, "end": t1,
            })

    def phases(self, qe) -> None:
        """Add the Catalyst phase times recorded on ``qe``."""
        tracked = qe.tracker().phases()
        for phase in _CATALYST_PHASES:
            found = tracked.get(phase)
            if found.isDefined():
                self.totals[f"catalyst.{phase}_s"] += found.get().durationMs() / 1000

    def plan(self, df) -> None:
        """Plan an executed statement's DataFrame once, to read its
        Catalyst phases; the write that follows plans it again."""
        with self.span("catalyst.plan_s"):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
        self.phases(qe)

    # -- readers --------------------------------------------------------

    def _read_jobs(self) -> None:
        tracker = self.sc.statusTracker()
        for metric, tag in self._groups:
            jobs = tracker.getJobIdsForGroup(tag)
            # jobs an operator runs while building its DataFrame are eager
            # operator work; every other job is execution
            kind = "operators.eager_jobs" if metric == "operators.build_s" else "exec.jobs"
            self.totals[kind] += len(jobs)
            for job_id in jobs:
                info = tracker.getJobInfo(job_id)
                for stage_id in (info.stageIds if info else []):
                    self._read_stage(stage_id)

    def _read_stage(self, stage_id: int) -> None:
        store = self.store
        attempts = store.stageData(
            stage_id, False, getattr(store, "stageData$default$3")(),
            False, getattr(store, "stageData$default$5")(),
        )
        for i in range(attempts.size()):
            stage = attempts.apply(i)
            if stage.status().toString() == "SKIPPED":
                continue
            self.totals["exec.stages"] += 1
            self.totals["exec.tasks"] += stage.numTasks()
            self.totals["exec.failed_tasks"] += stage.numFailedTasks()
            self.totals["exec.shuffle_write_bytes"] += stage.shuffleWriteBytes()
            self.totals["exec.spill_bytes"] += (
                stage.memoryBytesSpilled() + stage.diskBytesSpilled())

    def _read_storage(self) -> None:
        rdds, held = storage_held(self.sc)
        self.peaks["operators.cached_rdds"] = max(
            self.peaks["operators.cached_rdds"], rdds - self.baseline_rdds)
        self.peaks["operators.storage_bytes_held"] = max(
            self.peaks["operators.storage_bytes_held"], held - self.baseline_bytes)

    # -- streaming progress --------------------------------------------

    def listen(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        triggers = self.triggers

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                triggers.append({
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs or {}),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Progress()
        self.spark.streams.addListener(self._listener)

    def drain(self, quiet_s: float = 0.5, limit_s: float = 5.0) -> None:
        """Wait until no progress event has arrived for ``quiet_s``: the
        listener bus delivers them after the query returns."""
        deadline = time.perf_counter() + limit_s
        seen = -1
        while len(self.triggers) != seen and time.perf_counter() < deadline:
            seen = len(self.triggers)
            time.sleep(quiet_s)

    def unlisten(self) -> None:
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    # -- report ---------------------------------------------------------

    def metrics(self, passes: int) -> dict[str, float]:
        out = {k: v / passes for k, v in self.totals.items() if k in PER_LAYER}
        out.update(self.peaks)
        if self.triggers:
            trig = [t["ms"].get("triggerExecution", 0) / 1000 for t in self.triggers]
            out["streaming.triggers"] = len(self.triggers) / passes
            out["streaming.trigger_p50_s"] = statistics.median(trig)
            out["streaming.input_rows"] = sum(t["rows"] for t in self.triggers) / passes
            for phase in _STREAM_PHASES:
                out[f"streaming.{phase}_s"] = sum(
                    t["ms"].get(phase, 0) for t in self.triggers) / 1000 / passes
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "triggers": self.triggers}, f)


def storage_held(sc) -> tuple[int, int]:
    """(cached RDDs, bytes they hold in memory and on disk)."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos)
