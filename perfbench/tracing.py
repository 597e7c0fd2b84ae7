"""Per-layer tracing from outside the engine package.

Three sources, all read at the same boundaries (one operation's
construct / execute edges):

* **Spans.**  :func:`instrument` wraps every public function of the
  package's layer modules (``catalog``, ``session``, ``sources``,
  ``functions``, ``pipeline``, ``streaming``, ``operators``) by rebinding
  the module globals that reference them.  Each call becomes a span
  ``(name, layer, start, end, parent, op)`` kept in memory.
  ``DataFrame.localCheckpoint`` / ``checkpoint`` are wrapped the same way
  (layer ``materialize``).  :func:`uninstrument` restores every binding.
* **Spark status stores.**  :class:`StatusStores` reads the stages, jobs
  and SQL executions added since the previous read from the
  ``AppStatusStore`` / ``SQLAppStatusStore`` KV stores (populated with the
  UI disabled), serialized JVM-side to JSON in one call each.
* **Streaming progress.**  :class:`ProgressListener` is a
  ``StreamingQueryListener`` that keeps every ``QueryProgressEvent``.

Wrappers call the module-level :func:`_enter` / :func:`_exit`, so a
wrapper that gets captured in a UDF closure pickles by reference to this
module and is inert on executors.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import threading
import time
from typing import Any, Callable

PACKAGE = "gcp_cloudsql_airflow_bigquery_spark"


def layer_of(module_name: str) -> str | None:
    """Layer name for a package module, or None if it is not traced.

    ``plans`` modules are not wrapped: the registry call of an operation
    is the ``plans.construct`` span itself."""
    rel = module_name[len(PACKAGE) + 1 :]
    head = rel.split(".")[0]
    if head in ("catalog", "session", "pipeline", "sources", "functions", "streaming"):
        return head
    if head == "operators":
        sub = rel.split(".")[1] if "." in rel else ""
        if sub in ("graph", "tokenizer", "similarity"):
            return f"operators.{sub}"
        return "operators"
    return None


class Tracer:
    """In-memory span log.  One stack for the whole process: pipeline
    attempts run on a worker thread and foreachBatch callbacks on a py4j
    thread, but each runs while the caller's thread is blocked on it, so
    nesting stays well formed."""

    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self.stack: list[int] = []
        self.op: str | None = None
        self.enabled = False
        #: span name -> callback(name, "enter" | "exit"), run at the edges
        self.hooks: dict[str, Callable[[str, str], None]] = {}
        self._lock = threading.Lock()

    def enter(self, name: str, layer: str) -> int:
        hook = self.hooks.get(name)
        if hook is not None:
            hook(name, "enter")
        with self._lock:
            parent = self.stack[-1] if self.stack else None
            self.spans.append(
                {
                    "name": name,
                    "layer": layer,
                    "start": time.perf_counter(),
                    "end": None,
                    "parent": parent,
                    "op": self.op,
                }
            )
            idx = len(self.spans) - 1
            self.stack.append(idx)
            return idx

    def exit(self, idx: int, result: Any = None) -> None:
        with self._lock:
            span = self.spans[idx]
            span["end"] = time.perf_counter()
            if result is not None:
                span["result"] = result
            if idx in self.stack:
                # pop idx and anything left above it by an exception
                del self.stack[self.stack.index(idx) :]
        hook = self.hooks.get(span["name"])
        if hook is not None:
            hook(span["name"], "exit")

    def reset(self) -> None:
        self.spans, self.stack = [], []


TRACER = Tracer()


def _enter(name: str, layer: str) -> int | None:
    return TRACER.enter(name, layer) if TRACER.enabled else None


def _exit(idx: int | None, result: Any = None) -> None:
    if idx is not None:
        TRACER.exit(idx, result)


def _summarize(result: Any) -> Any:
    """Keep only small, JSON-safe facts about a return value."""
    attempts = getattr(result, "attempts", None)
    if isinstance(attempts, int):
        return {
            "attempts": attempts,
            "rows_written": getattr(result, "rows_written", None),
            "output_path": getattr(result, "output_path", None),
        }
    return None


def _make_wrapper(func, name: str, layer: str):
    @functools.wraps(func)
    def wrapper(*args, **kwargs):
        idx = _enter(name, layer)
        result = None
        try:
            result = func(*args, **kwargs)
            return result
        finally:
            _exit(idx, _summarize(result))

    wrapper.__perfbench_original__ = func
    return wrapper


def _package_modules() -> list:
    pkg = importlib.import_module(PACKAGE)
    mods = [pkg]
    for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
        mods.append(importlib.import_module(info.name))
    return mods


class Instrumentation:
    """The set of rebinding made by :func:`instrument`, undoable."""

    def __init__(self) -> None:
        self.rebinds: list[tuple[Any, str, Any]] = []

    def undo(self) -> None:
        for owner, attr, original in reversed(self.rebinds):
            setattr(owner, attr, original)
        self.rebinds.clear()


def instrument(dataframe_cls) -> Instrumentation:
    """Wrap the public functions of every traced layer module, rebinding
    each reference held in any package module's globals."""
    mods = _package_modules()
    wrappers: dict[int, Any] = {}
    for mod in mods:
        layer = layer_of(mod.__name__)
        if layer is None:
            continue
        short = mod.__name__[len(PACKAGE) + 1 :]
        for attr, obj in list(vars(mod).items()):
            if (
                attr.startswith("_")
                or not inspect.isfunction(obj)
                or obj.__module__ != mod.__name__
                or hasattr(obj, "__perfbench_original__")
            ):
                continue
            wrappers[id(obj)] = _make_wrapper(obj, f"{short}.{attr}", layer)
    inst = Instrumentation()
    for mod in mods:
        for attr, obj in list(vars(mod).items()):
            w = wrappers.get(id(obj))
            if w is not None and w.__perfbench_original__ is obj:
                inst.rebinds.append((mod, attr, obj))
                setattr(mod, attr, w)
    for meth in ("localCheckpoint", "checkpoint"):
        original = getattr(dataframe_cls, meth)
        inst.rebinds.append((dataframe_cls, meth, original))
        setattr(
            dataframe_cls,
            meth,
            _make_wrapper(original, f"DataFrame.{meth}", "materialize"),
        )
    return inst


# --------------------------------------------------------------------------
# Spark status stores


class StatusStores:
    """Incremental reader over the live application's status stores."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._jsc = spark.sparkContext._jsc.sc()
        self._gw = spark.sparkContext._gateway
        self._jvm = jvm
        klass = jvm.java.lang.Class.forName
        scala_module = (
            klass("com.fasterxml.jackson.module.scala.DefaultScalaModule$")
            .getField("MODULE$")
            .get(None)
        )
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            scala_module
        )
        self._store = self._jsc.statusStore().store()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._stage_cls = klass("org.apache.spark.status.StageDataWrapper")
        self._job_cls = klass("org.apache.spark.status.JobDataWrapper")
        self.next_stage = 0
        self.next_job = 0
        self.next_exec = 0
        self.drain()
        self.read()  # start after everything that already ran

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._jsc.listenerBus().waitUntilEmpty()

    def _json(self, obj) -> Any:
        return json.loads(self._mapper.writeValueAsString(obj))

    def read(self) -> dict[str, list]:
        """Stages, jobs and SQL executions recorded since the last read."""
        self.drain()
        key = self._gw.new_array(self._jvm.int, 2)
        key[0], key[1] = self.next_stage, 0
        stages = [
            s["info"] for s in self._json(self._store.view(self._stage_cls).first(key))
        ]
        jobs = [
            j["info"]
            for j in self._json(
                self._store.view(self._job_cls).first(self._jvm.java.lang.Integer(self.next_job))
            )
        ]
        n_exec = int(self._sql.executionsCount())
        execs = []
        if n_exec > self.next_exec:
            execs = self._json(
                self._sql.executionsList(self.next_exec, n_exec - self.next_exec)
            )
            self.next_exec = n_exec
        if stages:
            self.next_stage = max(s["stageId"] for s in stages) + 1
        if jobs:
            self.next_job = max(j["jobId"] for j in jobs) + 1
        for s in stages:
            s.pop("details", None)
        for e in execs:
            for k in ("details", "physicalPlanDescription", "metrics", "metricValues"):
                e.pop(k, None)
        return {"stages": stages, "jobs": jobs, "executions": execs}


def spark_totals(delta: dict[str, list]) -> dict[str, float]:
    """Sum one status-store delta into the ``spark.*`` quantities."""
    stages, jobs = delta["stages"], delta["jobs"]
    job_submit = {j["jobId"]: j.get("submissionTime") for j in jobs}
    pre_job_ms = 0.0
    for e in delta["executions"]:
        starts = [
            job_submit[int(j)]
            for j in (e.get("jobs") or {})
            if job_submit.get(int(j)) is not None
        ]
        if starts and e.get("submissionTime"):
            pre_job_ms += max(0, min(starts) - e["submissionTime"])
    tot = {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
        "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / 2**20,
        "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / 2**20,
        "spill_mb": sum(s["diskBytesSpilled"] for s in stages) / 2**20,
        "input_mb": sum(s["inputBytes"] for s in stages) / 2**20,
        "input_records": sum(s["inputRecords"] for s in stages),
        "failed_tasks": sum(s["numFailedTasks"] for s in stages),
        "pre_job_s": pre_job_ms / 1e3,
    }
    return tot


# --------------------------------------------------------------------------
# Streaming progress


def make_progress_listener():
    """A ``StreamingQueryListener`` that records every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[dict[str, Any]] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            ops = [
                {
                    "rows": s.numRowsTotal,
                    "stores": s.numStateStoreInstances,
                    "bytes": s.memoryUsedBytes,
                }
                for s in p.stateOperators
            ]
            with self._lock:
                self.events.append(
                    {
                        "run": str(p.runId),
                        "batch": p.batchId,
                        "rows": p.numInputRows,
                        "ms": dict(p.durationMs),
                        "state": ops,
                    }
                )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def take(self) -> list[dict[str, Any]]:
            with self._lock:
                out, self.events = self.events, []
            return out

    return ProgressListener()


def streaming_totals(events: list[dict[str, Any]]) -> dict[str, float]:
    """Sum progress events; state figures come from each run's last batch."""
    ms = lambda k: sum(e["ms"].get(k, 0) for e in events) / 1e3  # noqa: E731
    last: dict[str, dict] = {}
    for e in events:
        last[e["run"]] = e
    state = [s for e in last.values() for s in e["state"]]
    return {
        "batches": len(events),
        "input_rows": sum(e["rows"] for e in events),
        "trigger_s": ms("triggerExecution"),
        "add_batch_s": ms("addBatch"),
        "planning_s": ms("queryPlanning"),
        "wal_s": ms("walCommit") + ms("commitOffsets"),
        "state_rows": sum(s["rows"] for s in state),
        "state_stores": sum(s["stores"] for s in state),
        "state_mb": sum(s["bytes"] for s in state) / 2**20,
    }


# --------------------------------------------------------------------------
# Span arithmetic


def self_times(spans: list[dict[str, Any]]) -> list[float]:
    """Each span's duration minus its direct children's durations."""
    child = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return [
        (s["end"] - s["start"]) - child[i] if s["end"] is not None else 0.0
        for i, s in enumerate(spans)
    ]


def outermost(spans: list[dict[str, Any]], pred) -> list[int]:
    """Indices of spans matching ``pred`` with no matching ancestor."""
    out = []
    for i, s in enumerate(spans):
        if not pred(s):
            continue
        p = s["parent"]
        while p is not None and not pred(spans[p]):
            p = spans[p]["parent"]
        if p is None:
            out.append(i)
    return out


def inclusive(spans: list[dict[str, Any]], pred) -> tuple[float, int]:
    """Total time and count of the outermost spans matching ``pred``."""
    idx = outermost(spans, pred)
    return (
        sum(spans[i]["end"] - spans[i]["start"] for i in idx if spans[i]["end"]),
        len(idx),
    )
