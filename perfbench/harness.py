"""Closed-loop pass runner.

One client runs a workload's operations back to back, pass after pass
(a traced run alternates untraced / traced passes).  Untraced passes time
each operation's construct and execute phases and nothing else.  Traced
passes also install the span wrappers of :mod:`perfbench.tracing` and read
the status stores at every operation edge and around each
``pipeline.load``.
"""

from __future__ import annotations

import random
import statistics
import time
from typing import Any

from perfbench import tracing

WARM_PASSES = 2


class Harness:
    def __init__(self, spark, workload, trace: bool) -> None:
        self.spark = spark
        self.wl = workload
        self.trace = trace
        self.passes: list[dict[str, Any]] = []
        self.errors: list[str] = []
        self.attempted_ops = 0
        self.failed_ops = 0
        self.spans: list[dict[str, Any]] = []
        #: (label, status-store delta) of every traced read
        self.deltas: list[tuple[str, dict]] = []
        self.listener = tracing.make_progress_listener()
        spark.streams.addListener(self.listener)
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self.stores = tracing.StatusStores(spark) if trace else None
        self._phase = "construct"

    # -- measurement --------------------------------------------------------

    def warm_up(self, rng: random.Random) -> None:
        """``WARM_PASSES`` untimed passes of the operations exactly as the
        timed passes run them.  The output check before them is the first,
        cold call of each operation; after it, passes keep getting faster
        (the JVM's JIT is still compiling the planner), steeply for two or
        three passes, and how fast depends on how busy the host is."""
        for _ in range(WARM_PASSES):
            for name, construct, execute in self.wl.ops(rng):
                self.attempted_ops += 1
                try:
                    execute(construct())
                except Exception as e:  # noqa: BLE001 — a failed op is a result
                    self.failed_ops += 1
                    self.errors.append(f"warm-up {name}: {type(e).__name__}: {e}"[:400])

    def run_passes(self, seconds: float, rng: random.Random) -> None:
        """``round(seconds / nominal_pass_s)`` timed passes, at least two
        (a traced run alternates untraced and traced).  The count is
        fixed, not read off a clock: passes keep getting faster as the JIT
        warms, so a clock-bounded window would report a lower median
        whenever the host is quiet."""
        n = max(2, round(seconds / self.wl.nominal_pass_s))
        for i in range(n):
            self._pass(i, traced=self.trace and i % 2 == 1, rng=rng)

    def _pass(self, index: int, traced: bool, rng: random.Random) -> None:
        ops = self.wl.ops(rng)
        inst = None
        if traced:
            inst = tracing.instrument(type(self.spark.range(1)))
            tracing.TRACER.reset()
            tracing.TRACER.hooks = {"pipeline.load": self._load_edge}
            tracing.TRACER.enabled = True
            self._read("idle")
        self._bus.waitUntilEmpty()
        self.listener.take()
        records = []
        t0 = time.perf_counter()
        try:
            for name, construct, execute in ops:
                records.append(self._op(index, name, construct, execute, traced))
        finally:
            wall = time.perf_counter() - t0
            if traced:
                tracing.TRACER.enabled = False
                tracing.TRACER.hooks = {}
                inst.undo()
                base = len(self.spans)  # parents index this pass's list
                for s in tracing.TRACER.spans:
                    s["pass"] = index
                    if s["parent"] is not None:
                        s["parent"] += base
                self.spans.extend(tracing.TRACER.spans)
                tracing.TRACER.reset()
        self._bus.waitUntilEmpty()
        events = self.listener.take()
        self.passes.append(
            {
                "index": index,
                "traced": traced,
                "seconds": wall,
                "ops": records,
                "stream": tracing.streaming_totals(events),
                "stats": self.wl.pass_stats(),
            }
        )

    def _op(self, index, name, construct, execute, traced) -> dict[str, Any]:
        rec: dict[str, Any] = {"name": name, "ok": False}
        tr = tracing.TRACER
        op_span = None
        if traced:
            tr.op = f"{index}:{name}"
            op_span = tr.enter(name, "harness")
        t0 = time.perf_counter()
        t1 = t0
        try:
            span = tr.enter("construct", "plans") if traced else None
            try:
                obj = construct()
            finally:
                if traced:
                    tr.exit(span)
            t1 = time.perf_counter()
            if traced:
                self._read("construct")
                self._phase = "execute"
            span = tr.enter("execute", "execute") if traced else None
            try:
                execute(obj)
            finally:
                if traced:
                    tr.exit(span)
            rec["ok"] = True
        except Exception as e:  # noqa: BLE001 — a failed op is a result
            self.failed_ops += 1
            self.errors.append(f"pass {index} {name}: {type(e).__name__}: {e}"[:400])
        t2 = time.perf_counter()
        self.attempted_ops += 1
        if traced:
            self._read("execute")
            self._phase = "construct"
            tr.exit(op_span)
            rec["stream"] = tracing.streaming_totals(self.listener.take())
        rec.update(construct_s=t1 - t0, execute_s=t2 - t1, seconds=t2 - t0)
        return rec

    # -- status-store edges --------------------------------------------------

    def _read(self, label: str) -> None:
        self.deltas.append((label, self.stores.read()))

    def _load_edge(self, name: str, edge: str) -> None:
        # stages before a load belong to the phase around it; those
        # inside belong to the load (where a lazy extract is scanned)
        self._read(self._phase if edge == "enter" else "load")

    # -- results -------------------------------------------------------------

    def pass_times(self, traced: bool | None = None) -> list[float]:
        return [
            p["seconds"]
            for p in self.passes
            if traced is None or p["traced"] == traced
        ]

    def op_times(self) -> list[float]:
        """Latency of every untraced operation."""
        return [
            o["seconds"] for p in self.passes if not p["traced"] for o in p["ops"]
        ]

    def op_medians(self) -> list[float]:
        """Each operation's median latency over the untraced passes."""
        by_name: dict[str, list[float]] = {}
        for p in self.passes:
            if not p["traced"]:
                for o in p["ops"]:
                    by_name.setdefault(o["name"], []).append(o["seconds"])
        return [statistics.median(v) for v in by_name.values()]

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)
