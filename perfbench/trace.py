"""Tracing for the benchmark's --trace 1 runs, recorded from outside the
program: in-memory spans around calls into the package's public functions,
checkpoint-cut counts, Spark job/stage metrics from the status store, epoch
records from a StreamingQueryListener, and JVM counters.

Untraced runs use only EpochListener (their latency unit for stream_ingest
is the micro-batch) and jvm_rss_mb; everything else here is off."""

from __future__ import annotations

import contextlib
import functools
import inspect
import sys
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

PACKAGE = "datafusion_cyberpolka_eda_spark"

# layer name -> (module, function name or None for every public function
# defined in that module). Run, pass, operation, registry build/collect and
# pipeline-run spans are opened by the worker; pipeline stage times come
# from run_pipeline's own stage_seconds.
LAYERS = {
    "functions.litexpr": ("functions.litexpr", None),
    "operators.similarity": ("operators.similarity", None),
    "operators.dedup.connected_components": ("operators.dedup", "connected_components"),
    "operators.ml": ("operators.ml", None),
    "operators.stats": ("operators.stats", None),
    "operators.profile": ("operators.profile", None),
    "operators.relational": ("operators.relational", None),
    "sources.load_table": ("sources.catalog", "load_table"),
}


class Tracer:
    """Spans kept in memory: id, parent id, name, start, end, thread.
    Each thread keeps its own stack; a span opened on a thread with an
    empty stack (the pipeline's GBT thread, streaming commit workers) takes
    the open operation span as its parent."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.cuts = {"local_lazy": 0, "local_eager": 0, "reliable": 0}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 1
        self.op_span: int | None = None

    def reset(self) -> None:
        """Forget spans and cut counts recorded so far (set-up's)."""
        with self._lock:
            self.spans = []
            self.cuts = dict.fromkeys(self.cuts, 0)

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, **attrs) -> dict:
        stack = self._stack()
        with self._lock:
            span = {
                "id": self._next_id,
                "parent": stack[-1] if stack else self.op_span,
                "name": name,
                "thread": threading.current_thread().name,
                "start": time.perf_counter(),
                "end": None,
                **attrs,
            }
            self._next_id += 1
            self.spans.append(span)
        stack.append(span["id"])
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == span["id"]:
            stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        span = self.open(name, **attrs)
        try:
            yield span
        finally:
            self.close(span)

    def wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, fn=fn.__name__):
                return fn(*args, **kwargs)

        return traced


def instrument(tracer: Tracer) -> None:
    """Wrap every layer function and rebind each reference to it held by
    any loaded package module (registry modules import functions by name,
    so patching only the defining module would miss most calls). Wrapped
    functions keep their module and qualified name, so cloudpickle still
    ships them to Python workers by reference."""
    import importlib

    importlib.import_module(f"{PACKAGE}.registry")  # loads every layer
    importlib.import_module(f"{PACKAGE}.pipeline.eda")
    wrappers: dict[int, object] = {}
    for layer, (mod_name, fn_name) in LAYERS.items():
        mod = sys.modules[f"{PACKAGE}.{mod_name}"]
        for name, obj in list(vars(mod).items()):
            if fn_name is not None and name != fn_name:
                continue
            if (
                name.startswith("_")
                or not inspect.isfunction(obj)
                or obj.__module__ != mod.__name__
            ):
                continue
            wrappers[id(obj)] = tracer.wrap(layer, obj)
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith(PACKAGE) or mod is None:
            continue
        for name, obj in list(vars(mod).items()):
            wrapped = wrappers.get(id(obj))
            if wrapped is not None:
                setattr(mod, name, wrapped)
    _instrument_cuts(tracer)


def _instrument_cuts(tracer: Tracer) -> None:
    from pyspark.sql.classic.dataframe import DataFrame

    local_cp = DataFrame.localCheckpoint
    reliable_cp = DataFrame.checkpoint

    def local_checkpoint(self, eager: bool = True, storageLevel=None):
        with tracer._lock:
            tracer.cuts["local_eager" if eager else "local_lazy"] += 1
        return local_cp(self, eager, storageLevel)

    def checkpoint(self, eager: bool = True):
        with tracer._lock:
            tracer.cuts["reliable"] += 1
        return reliable_cp(self, eager)

    DataFrame.localCheckpoint = local_checkpoint
    DataFrame.checkpoint = checkpoint


def layer_totals(spans: list[dict], layer: str) -> tuple[float, int]:
    """(seconds, calls) of the outermost calls into `layer`: a call made
    from inside another call of the same layer is part of that call."""
    by_id = {s["id"]: s for s in spans}
    seconds = 0.0
    calls = 0
    for s in spans:
        if s["name"] != layer or s["end"] is None:
            continue
        p = by_id.get(s["parent"])
        while p is not None and p["name"] != layer:
            p = by_id.get(p["parent"])
        if p is None:
            seconds += s["end"] - s["start"]
            calls += 1
    return seconds, calls


class SparkStatus:
    """Job and stage metrics of a job-id range, read from the SparkContext's
    status store (populated with the UI disabled too). Streaming-thread and
    AQE jobs fall in the range like any other."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        gw = spark.sparkContext._gateway
        self._max_q = gw.new_array(gw.jvm.double, 1)
        self._max_q[0] = 1.0

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def read(self, j0: int, j1: int, t0: float, t1: float) -> dict:
        """Metrics of jobs [j0, j1) of an operation that ran over the
        perf_counter interval [t0, t1]. Job times are wall-clock
        milliseconds, mapped onto perf_counter by the offset between the
        two clocks at read time."""
        offset = time.time() - time.perf_counter()
        intervals = []
        stage_ids: set[int] = set()
        for jid in range(j0, j1):
            try:
                job = self._store.job(jid)
            except Exception:  # evicted from the store or never registered
                continue
            if job.submissionTime().isDefined():
                start = job.submissionTime().get().getTime() / 1000 - offset
                end = (
                    job.completionTime().get().getTime() / 1000 - offset
                    if job.completionTime().isDefined()
                    else t1
                )
                intervals.append((max(start, t0), min(end, t1)))
            ids = job.stageIds()
            for i in range(ids.size()):
                stage_ids.add(int(ids.apply(i)))
        out = {
            "intervals": [iv for iv in intervals if iv[1] > iv[0]],
            "jobs": j1 - j0,
            "stages": 0,
            "tasks": 0,
            "tasks_per_stage": [],
            "executor_run_s": 0.0,
            "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
            "max_task_s": 0.0,
            "failed_tasks": 0,
        }
        for sid in sorted(stage_ids):
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # a stage the job skipped never ran
                continue
            if str(st.status().toString()) == "SKIPPED":
                continue
            n = int(st.numTasks())
            out["stages"] += 1
            out["tasks"] += n
            out["tasks_per_stage"].append(n)
            out["executor_run_s"] += st.executorRunTime() / 1000
            out["shuffle_read_bytes"] += int(st.shuffleReadBytes())
            out["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
            out["spill_bytes"] += int(st.memoryBytesSpilled()) + int(
                st.diskBytesSpilled()
            )
            out["failed_tasks"] += int(st.numFailedTasks())
            summary = self._store.taskSummary(sid, st.attemptId(), self._max_q)
            if summary.isDefined():
                out["max_task_s"] = max(
                    out["max_task_s"],
                    float(summary.get().executorRunTime().apply(0)) / 1000,
                )
        return out


class EpochListener(StreamingQueryListener):
    """One record per micro-batch that ran: triggerExecution and addBatch
    seconds and the batch's input rows."""

    def __init__(self) -> None:
        self.epochs: list[dict] = []
        self._started = 0
        self._terminated = 0
        self._cond = threading.Condition()

    def onQueryStarted(self, event) -> None:
        with self._cond:
            self._started += 1

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs
        if "addBatch" not in d:
            return
        with self._cond:
            self.epochs.append(
                {
                    "trigger_s": d.get("triggerExecution", 0) / 1000,
                    "add_batch_s": d["addBatch"] / 1000,
                    "rows": int(p.numInputRows),
                }
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cond:
            self._terminated += 1
            self._cond.notify_all()

    def drain(self, timeout: float = 10.0) -> None:
        """Wait until every started query's events have arrived (the
        listener bus delivers them asynchronously)."""
        with self._cond:
            self._cond.wait_for(
                lambda: self._terminated >= self._started, timeout=timeout
            )


def jvm_counters(spark) -> dict:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = gc_count = 0
    for b in mf.getGarbageCollectorMXBeans():
        gc_ms += max(0, int(b.getCollectionTime()))
        gc_count += max(0, int(b.getCollectionCount()))
    code_bytes = sum(
        int(p.getUsage().getUsed())
        for p in mf.getMemoryPoolMXBeans()
        if "Code" in str(p.getName())
    )
    return {
        "gc_s": gc_ms / 1000,
        "gc_count": gc_count,
        "codecache_used_mb": code_bytes / 2**20,
    }


def jvm_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM (VmHWM of the gateway process)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0
