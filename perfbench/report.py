"""Metric arithmetic over a finished run.

``workload`` metrics are computed in every run; ``per_layer`` metrics
come from the traced passes and are per-pass means.  The names and the
end-to-end metric each layer metric moves are listed in
``perfbench/README.md``.
"""

from __future__ import annotations

import statistics

from perfbench import tracing
from perfbench.session import NPROC

#: layers whose self time is reported as ``self.<layer>_s``
SELF_LAYERS = (
    "harness",
    "plans",
    "execute",
    "session",
    "catalog",
    "sources",
    "functions",
    "pipeline",
    "streaming",
    "operators",
    "materialize",
)
SPARK_UNITS = {
    "pre_job_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "input_mb": "MB",
    "failed_tasks": "count",
}
STREAM_UNITS = {
    "batches": "count",
    "input_rows": "count",
    "trigger_s": "s",
    "add_batch_s": "s",
    "planning_s": "s",
    "wal_s": "s",
    "state_rows": "count",
    "state_stores": "count",
    "state_mb": "MB",
}


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def workload_metrics(
    harness, wl, peak_rss_mb: float, op_p90_s: float
) -> dict[str, tuple[float, str]]:
    """Metrics a user sees that are not gated: the 90th percentile (a run
    has 10 to 30 operation samples), memory (it moves with JVM heap growth)
    and those only some workloads have (0 elsewhere)."""
    passes = [p for p in harness.passes if not p["traced"]] or harness.passes
    attempted = harness.attempted_ops + len(wl.checks)
    failed = harness.failed_ops + sum(not c.ok for c in wl.checks)
    op_s = lambda n: [o["seconds"] for p in passes for o in p["ops"] if o["name"] == n]  # noqa: E731
    full, incr = op_s("sync_full"), op_s("sync_incr")
    sync_rows = [
        p["stats"]["rows_written"] / sum(o["seconds"] for o in p["ops"])
        for p in passes
        if p["stats"].get("rows_written")
    ]
    pipelines = sum(p["stats"].get("pipelines", 0) for p in passes)
    attempts = sum(p["stats"].get("attempts", 0) for p in passes)
    trig = sum(p["stream"]["trigger_s"] for p in passes)
    rows = sum(p["stream"]["input_rows"] for p in passes)
    return {
        "op_p90_s": (op_p90_s, "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "failed_frac": (failed / attempted if attempted else 0.0, "ratio"),
        "sync_full_s": (_median(full), "s"),
        "sync_incr_s": (_median(incr), "s"),
        "sync_rows_per_s": (_median(sync_rows), "1/s"),
        "retry_frac": ((attempts - pipelines) / pipelines if pipelines else 0.0, "ratio"),
        "stream_rows_per_s": (rows / trig if trig else 0.0, "1/s"),
    }


def layer_metrics(harness, session_s: float) -> dict[str, tuple[float, str]]:
    spans = harness.spans
    traced = [p for p in harness.passes if p["traced"]]
    n = max(1, len(traced))
    out: dict[str, tuple[float, str]] = {"session.start_s": (session_s, "s")}

    def incl(pred) -> tuple[float, int]:
        t, c = tracing.inclusive(spans, pred)
        return t / n, c / n

    by_name = lambda name: (lambda s: s["name"] == name)  # noqa: E731
    by_layer = lambda layer: (lambda s: s["layer"] == layer)  # noqa: E731

    t, c = incl(by_name("catalog.load_table"))
    out["catalog.load_table_s"] = (t, "s")
    out["catalog.load_table_calls"] = (c, "count")

    construct = sum(o["construct_s"] for p in traced for o in p["ops"]) / n
    execute = sum(o["execute_s"] for p in traced for o in p["ops"]) / n
    deltas = {"construct": [], "execute": [], "load": []}
    for label, d in harness.deltas:
        if label in deltas:
            deltas[label].append(d)
    sums = {
        k: [tracing.spark_totals(d) for d in v] for k, v in deltas.items()
    }
    total = lambda key, labels=("construct", "execute", "load"): sum(  # noqa: E731
        t[key] for lab in labels for t in sums[lab]
    ) / n
    out["plans.construct_s"] = (construct, "s")
    out["plans.construct_jobs"] = (total("jobs", ("construct",)), "count")
    out["plans.construct_stages"] = (total("stages", ("construct",)), "count")
    out["plans.construct_share"] = (
        construct / (construct + execute) if construct + execute else 0.0,
        "ratio",
    )

    t, c = incl(by_layer("materialize"))
    out["operators.materialize_calls"] = (c, "count")
    out["operators.materialize_s"] = (t, "s")
    for sub in ("graph", "tokenizer", "similarity"):
        out[f"operators.{sub}_s"] = (incl(by_layer(f"operators.{sub}"))[0], "s")

    for key, unit in SPARK_UNITS.items():
        out[f"spark.{key}"] = (total(key), unit)
    wall = sum(p["seconds"] for p in traced) / n
    out["spark.slot_util"] = (
        total("executor_run_s") / (wall * NPROC) if wall else 0.0,
        "ratio",
    )

    out["sources.extract_s"] = (incl(by_layer("sources"))[0], "s")
    out["sources.rows_read"] = (total("input_records", ("load",)), "count")
    out["functions.transform_s"] = (incl(by_layer("functions"))[0], "s")

    out["pipeline.load_s"] = (incl(by_name("pipeline.load"))[0], "s")
    out["pipeline.merge_s"] = (incl(by_name("pipeline.merge_parquet"))[0], "s")
    out["pipeline.finalize_s"] = (incl(by_name("pipeline.finalize"))[0], "s")
    selfs = tracing.self_times(spans)
    runs = [i for i, s in enumerate(spans) if s["name"] == "pipeline.run_pipeline"]
    out["pipeline.reread_s"] = (sum(selfs[i] for i in runs) / n, "s")
    out["pipeline.attempts"] = (
        sum((spans[i].get("result") or {}).get("attempts", 0) for i in runs) / n,
        "count",
    )
    out["pipeline.output_mb"] = (
        sum(p["stats"].get("output_mb", 0.0) for p in traced) / n, "MB"
    )
    out["pipeline.output_files"] = (
        sum(p["stats"].get("output_files", 0) for p in traced) / n, "count"
    )

    stream_ops = [o for p in traced for o in p["ops"] if o.get("stream", {}).get("batches")]
    st = {
        k: sum(o["stream"][k] for o in stream_ops) / n for k in STREAM_UNITS
    }
    for key, unit in STREAM_UNITS.items():
        out[f"streaming.{key}"] = (st[key], unit)
    out["streaming.start_stop_s"] = (
        sum(o["construct_s"] for o in stream_ops) / n - st["trigger_s"], "s"
    )

    for layer in SELF_LAYERS:
        total_self = sum(
            selfs[i]
            for i, s in enumerate(spans)
            if s["layer"] == layer or s["layer"].startswith(layer + ".")
        )
        out[f"self.{layer}_s"] = (total_self / n, "s")

    on = harness.pass_times(traced=True)
    off = harness.pass_times(traced=False)
    out["trace.pass_traced_s"] = (_median(on), "s")
    out["trace.pass_untraced_s"] = (_median(off), "s")
    out["trace.overhead_s"] = (_median(on) - _median(off), "s")
    return out


def build_report(
    harness, wl, session_s: float, peak_rss_mb: float, op_p90_s: float
) -> dict[str, dict]:
    wm = workload_metrics(harness, wl, peak_rss_mb, op_p90_s)
    per_layer = dict(wm)
    if harness.trace:
        per_layer.update(layer_metrics(harness, session_s))
    return {"workload": wm, "per_layer": per_layer}
