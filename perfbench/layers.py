"""Per-layer tracing, measured from outside the engine package.

`install` wraps public functions of the package's modules before the
registry imports the operator modules, so every operator that does
`from ..catalog import load_table` binds the wrapped function. Each
wrapped call records a span (name, start, end, parent id) and bumps
its layer's counters. The `*_counters` functions read what Spark itself
records for one op: jobs from the scheduler's job-id counter, per-stage task,
GC, I/O, shuffle and spill totals from the status store, planner phase
times and the SQL metrics of Python/Arrow nodes from the executed plan.

Nothing here runs in an untraced run: end-to-end metrics are measured
without these wrappers.
"""

from __future__ import annotations

import functools
import importlib
import os
import time
from collections import defaultdict


class Tracer:
    """Spans kept in memory and dumped once at the end of the run."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counts: defaultdict[str, float] = defaultdict(float)
        self.spark = None  # set once the session exists

    def start(self, name: str, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        })
        self._stack.append(sid)
        return sid

    def end(self, sid: int, **attrs) -> float:
        span = self.spans[sid]
        span["end"] = time.perf_counter()
        span.update(attrs)
        self._stack.pop()
        return span["end"] - span["start"]

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def add(self, key: str, value: float = 1.0) -> None:
        self.counts[key] += value

    def take_counts(self) -> dict[str, float]:
        out = dict(self.counts)
        self.counts.clear()
        return out

    def job_count(self) -> int:
        return next_job_id(self.spark) if self.spark is not None else 0


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.seconds = 0.0

    def __enter__(self) -> _Span:
        self.sid = self.tracer.start(self.name, **self.attrs)
        return self

    def __exit__(self, *exc) -> None:
        self.seconds = self.tracer.end(self.sid, failed=exc[0] is not None)


def next_job_id(spark) -> int:
    """Jobs submitted so far in this SparkContext (exact, synchronous)."""
    n = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    return n if isinstance(n, int) else n.get()  # py4j may hand back the AtomicInteger


def next_stage_id(spark) -> int:
    """Stages created so far in this SparkContext."""
    n = spark.sparkContext._jsc.sc().dagScheduler().nextStageId()
    return n if isinstance(n, int) else n.get()


def _tree_files(path: str) -> set[tuple[str, int, int]]:
    """(path, size, mtime) of every file under `path` (none if it is missing)."""
    out = set()
    for d, _, fs in os.walk(path):
        for f in fs:
            st = os.stat(os.path.join(d, f))
            out.add((os.path.join(d, f), st.st_size, st.st_mtime_ns))
    return out


def _wrap(tracer: Tracer, module: str, attr: str, layer: str, sink_arg=None) -> None:
    """Wrap `module.attr` in a `layer` span with call, time and job counters.

    `sink_arg` = (position, keyword) of a sink writer's output directory:
    the files the call creates or rewrites there count as written, the
    versions it leaves untouched do not."""
    mod = importlib.import_module(module)
    fn = getattr(mod, attr)

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        jobs0 = tracer.job_count()
        if sink_arg is not None:
            pos, kw = sink_arg
            sink = kwargs.get(kw, args[pos] if len(args) > pos else "")
            before = _tree_files(sink)
        with tracer.span(layer) as s:
            out = fn(*args, **kwargs)
        tracer.add(f"{layer}_calls")
        tracer.add(f"{layer}_s", s.seconds)
        tracer.add(f"{layer}_jobs", tracer.job_count() - jobs0)
        if sink_arg is not None:
            written = _tree_files(sink) - before
            tracer.add("sinks.files_written", len(written))
            tracer.add("sinks.bytes_written_mb", sum(f[1] for f in written) / 2**20)
        return out

    setattr(mod, attr, wrapped)


def install(tracer: Tracer) -> None:
    """Wrap the package's layer boundaries. Call before anything imports
    the operator modules (i.e. before `registry.all_queries()`)."""
    pkg = "data_engineering_challenge_spark"

    _wrap(tracer, f"{pkg}.session", "get_session", "session.get_session")
    _wrap(tracer, f"{pkg}.catalog", "load_table", "catalog.load_table")
    _wrap(tracer, f"{pkg}.registry", "track_persist", "registry.track_persist")
    _wrap(tracer, f"{pkg}.registry", "drain_cache_ledger", "registry.drain_cache_ledger")
    _wrap(tracer, f"{pkg}.sources.csv", "ingest_csv_files", "sources.csv.ingest_csv_files")
    _wrap(tracer, f"{pkg}.sinks.writers", "write_partitioned_parquet", "sinks.write",
          (1, "path"))
    _wrap(tracer, f"{pkg}.sinks.maintenance", "write_zordered", "sinks.write",
          (1, "path"))
    _wrap(tracer, f"{pkg}.sinks.versioned", "write_snapshot", "sinks.write",
          (1, "table_dir"))


# --------------------------------------------------------------------------
# Spark-side counters for one op
# --------------------------------------------------------------------------

_PY_NODE_MARKERS = ("Python", "Pandas", "Arrow")


def drain_listener_bus(spark) -> None:
    """Block until the status store has seen every finished job."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def exec_counters(spark, jobs: tuple[int, int], first_stage: int) -> dict[str, float]:
    """Stage/task totals over the jobs with ids in [jobs[0], jobs[1]).

    Stage ids shared by several jobs count once. A stage created before
    `first_stage` (by an earlier op) whose shuffle output a job reuses,
    and a stage the scheduler skipped, count under `exec.stages_skipped`.
    Raises when a job or one of its own stages has already left the
    status store: the totals would be short."""
    drain_listener_bus(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    stages: set[int] = set()
    c = defaultdict(float)
    c["exec.jobs"] = jobs[1] - jobs[0]
    try:
        for j in range(*jobs):
            ids = store.job(j).stageIds()
            stages.update(ids.apply(i) for i in range(ids.size()))
        for s in sorted(stages):
            sd = None if s < first_stage else store.lastStageAttempt(s)
            if sd is None or sd.status().toString() == "SKIPPED":
                c["exec.stages_skipped"] += 1
                continue
            c["exec.stages"] += 1
            c["exec.tasks"] += sd.numTasks()
            c["exec.task_run_s"] += sd.executorRunTime() / 1e3
            c["exec.task_cpu_s"] += sd.executorCpuTime() / 1e9
            c["exec.gc_s"] += sd.jvmGcTime() / 1e3
            c["exec.input_mb"] += sd.inputBytes() / 2**20
            c["exec.shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
            c["exec.shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
            c["exec.spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
    except Exception as e:  # py4j: NoSuchElementException from the store
        raise RuntimeError(f"jobs {jobs}: {str(e).splitlines()[0]}") from e
    return dict(c)


def plan_counters(df) -> dict[str, float]:
    """Planner phase times and Python-node SQL metrics of a collected frame."""
    qe = df._jdf.queryExecution()
    c = defaultdict(float)
    phases = qe.tracker().phases()
    for p in ("analysis", "optimization", "planning"):
        opt = phases.get(p)
        if opt.isDefined():
            c[f"plan.{p}_s"] = opt.get().durationMs() / 1e3

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(node.plan())
        if any(m in cls for m in _PY_NODE_MARKERS):
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                key, val = kv._1(), kv._2().value()
                if key == "pythonDataSent":
                    c["python.data_sent_mb"] += val / 2**20
                elif key == "pythonDataReceived":
                    c["python.data_received_mb"] += val / 2**20
                elif key == "pythonNumRowsReceived":
                    c["python.rows_received"] += val
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(qe.executedPlan())
    return dict(c)


def stream_counters(progress: list[dict]) -> dict[str, float]:
    """Totals over one streaming query's `recentProgress`."""
    c = defaultdict(float)
    for p in progress:
        if not p.get("numInputRows"):
            continue
        c["streaming.batches"] += 1
        for so in p.get("stateOperators", []):
            c["streaming.state_commit_ms"] += so.get("commitTimeMs", 0) or 0
            c["streaming.state_update_ms"] += so.get("allUpdatesTimeMs", 0) or 0
            c["streaming.peak_state_mb"] = max(
                c["streaming.peak_state_mb"], (so.get("memoryUsedBytes", 0) or 0) / 2**20
            )
    return dict(c)


def batch_ms(progress: list[dict]) -> list[float]:
    return [
        float(p["durationMs"]["triggerExecution"])
        for p in progress
        if p.get("numInputRows") and "triggerExecution" in p.get("durationMs", {})
    ]
