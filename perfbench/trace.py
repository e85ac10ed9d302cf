"""Span tracer for the traced benchmark run.

Spans are recorded from outside the program: :meth:`Tracer.install`
replaces public functions of the engine's layer modules with wrappers
that open a span around each call. Every span

- records its name, layer, start, end, parent span and run id in memory;
- runs its Spark jobs under a job group of its own;
- on exit reads those jobs' stages from the Spark status store
  (``statusTracker().getJobIdsForGroup`` then
  ``statusStore().lastStageAttempt``), which works with the UI
  disabled and runs no extra Spark job.

Spans are written out once, when the run ends. Self time and the
per-layer aggregates live in ``perfbench/report.py``.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

PACKAGE = "reciping_data_pipeline_spark"

# Layer module (relative to the engine package) -> public functions
# wrapped in the traced run. ``None`` wraps every public function the
# module defines itself.
LAYER_FUNCTIONS: dict[str, tuple[str, ...] | None] = {
    "pipeline.bronze": ("ingest_bulk", "ingest_interval"),
    "pipeline.silver": ("run_batch",),
    "pipeline.dims": ("build_all", "upsert_dim_user"),
    "pipeline.gold": ("run_bulk", "run_incremental"),
    "pipeline.analytics": ("register_gold_views", "run"),
    "sources.writers": (
        "overwrite_partitions",
        "overwrite_table",
        "append_table",
        "read_table",
        "table_exists",
    ),
    "sources.jsonl": ("read_lines", "read_interval"),
    "operators.dedup": None,
    "operators.similarity": None,
    "operators.graph": None,
}

WRITE_FUNCTIONS = frozenset({"overwrite_partitions", "overwrite_table", "append_table"})

# StageData getters summed per span (Spark 4.1 status-store API).
STAGE_FIELDS = (
    "executorRunTime",
    "jvmGcTime",
    "inputBytes",
    "inputRecords",
    "outputBytes",
    "outputRecords",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    run_id: str
    name: str
    layer: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: int = 0
    stages: int = 0
    # summed STAGE_FIELDS of the span's OWN jobs (children excluded)
    stage_sums: dict = field(default_factory=dict)
    # slowest own stage: executor run time and max / median task time
    slowest_stage_ms: int = 0
    slowest_stage_skew: float = 0.0
    cached_blocks_after: int = 0


class NullTracer:
    """Untraced runs: spans cost nothing and record nothing."""

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        yield None


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0

    # -- spans -----------------------------------------------------------
    def _group(self, span: Span) -> str:
        return f"perfbench-{self.run_id}-{span.span_id}"

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(
            span_id=len(self.spans),
            parent_id=parent.span_id if parent else None,
            run_id=self.run_id,
            name=name,
            layer=layer,
            start=time.perf_counter(),
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(self._group(s), name, False)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            t0 = time.perf_counter()
            self._collect(s)
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(self._group(parent), parent.name, False)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - t0

    def _collect(self, s: Span) -> None:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        job_ids = list(tracker.getJobIdsForGroup(self._group(s)))
        stage_ids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        sums = dict.fromkeys(STAGE_FIELDS, 0)
        slowest = None
        counted = 0
        for sid in sorted(stage_ids):
            sd = store.lastStageAttempt(sid)
            # AQE re-plans give already-run stages new, SKIPPED ids in
            # later jobs; only stages that ran carry metrics.
            if sd.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            counted += 1
            for f in STAGE_FIELDS:
                sums[f] += int(getattr(sd, f)())
            run_ms = int(sd.executorRunTime())
            if slowest is None or run_ms > slowest[0]:
                slowest = (run_ms, sid, int(sd.attemptId()))
        s.jobs = len(job_ids)
        s.stages = counted
        s.stage_sums = sums
        if slowest is not None:
            s.slowest_stage_ms = slowest[0]
            s.slowest_stage_skew = task_skew(_task_run_times(store, slowest[1], slowest[2]))
        s.cached_blocks_after = len(sc._jsc.sc().getRDDStorageInfo())

    # -- wrapping ----------------------------------------------------------
    def install(self) -> None:
        """Wrap each layer's public functions, and rebind every name in
        the engine's loaded modules that refers to one of them (a
        ``from module import fn`` binding bypasses the module attribute)."""
        originals: dict[int, object] = {}
        for rel, names in LAYER_FUNCTIONS.items():
            mod = importlib.import_module(f"{PACKAGE}.{rel}")
            if names is None:
                names = tuple(
                    n
                    for n, v in vars(mod).items()
                    if not n.startswith("_")
                    and callable(v)
                    and getattr(v, "__module__", None) == mod.__name__
                    and not isinstance(v, type)
                )
            for n in names:
                fn = getattr(mod, n)
                originals[id(fn)] = self._wrap(fn, rel, n)
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            for n, v in list(vars(mod).items()):
                w = originals.get(id(v))
                if w is not None:
                    self._patched.append((mod, n, v))
                    setattr(mod, n, w)

    def uninstall(self) -> None:
        for mod, n, v in reversed(self._patched):
            setattr(mod, n, v)
        self._patched.clear()

    def _wrap(self, fn, layer: str, name: str):
        tracer = self
        is_write = layer == "sources.writers" and name in WRITE_FUNCTIONS

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            wall0 = time.time()
            with tracer.span(f"{layer}.{name}", layer) as s:
                out = fn(*args, **kwargs)
            if is_write:
                t0 = time.perf_counter()
                path = args[1] if len(args) > 1 else kwargs["path"]
                s.attrs["files_written"] = files_written_since(path, wall0)
                tracer.overhead_s += time.perf_counter() - t0
            return out

        return wrapper

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _task_run_times(store, stage_id: int, attempt: int) -> list[int]:
    out = []
    it = store.taskList(stage_id, attempt, 100_000).iterator()
    while it.hasNext():
        m = it.next().taskMetrics()
        if m.isDefined():
            out.append(int(m.get().executorRunTime()))
    return out


def task_skew(run_times: list[int]) -> float:
    """Slowest task time over the median task time (1.0 = balanced)."""
    if not run_times:
        return 0.0
    ordered = sorted(run_times)
    # status-store task times are whole milliseconds
    return ordered[-1] / max(ordered[len(ordered) // 2], 1)


def files_written_since(path: str, wall0: float) -> int:
    """Parquet files under ``path`` modified at or after ``wall0``."""
    n = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and os.stat(os.path.join(root, f)).st_mtime >= wall0 - 1e-3:
                n += 1
    return n
