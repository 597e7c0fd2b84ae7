"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  One process, ``local[nproc]``.  The run
sets up (Spark session, generated inputs, warm-up that doubles as the
output check), then runs closed-loop passes over the workload's
operations, as many as take ``--seconds`` on the reference host (at least
two), and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones of ``BENCHMARK.json``;
with ``--trace 1`` they are the per-layer ones, from a run whose passes
alternate between untraced and traced.  Spans and per-pass records are
written to ``.perfbench_run/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# import the benchmark as the ``perfbench`` package, never as top-level
# modules that could shadow the standard library
sys.path[0] = ROOT

from perfbench.session import NPROC  # noqa: E402 — needs the path above

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s"}


def host_load() -> dict:
    """nproc, loadavg, CPU steal ticks (time the hypervisor gave to other
    guests), CPU pressure and cgroup CPU throttling counters."""
    info: dict = {"nproc": NPROC, "loadavg": [round(x, 2) for x in os.getloadavg()]}
    try:
        with open("/proc/stat") as f:
            info["steal_ticks"] = int(f.readline().split()[8])
        with open("/proc/pressure/cpu") as f:
            info["cpu_pressure_some_avg60"] = float(f.readline().split()[2].split("=")[1])
    except (OSError, IndexError, ValueError):
        pass
    try:
        with open("/sys/fs/cgroup/cpu.stat") as f:
            for line in f:
                k, _, v = line.partition(" ")
                if k in ("nr_periods", "nr_throttled", "throttled_usec"):
                    info[f"cgroup_{k}"] = int(v)
    except OSError:
        pass
    return info


def jvm_peak_rss_mb(pid: int | None) -> float:
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def quantile(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[round(q * 100) - 1]


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="override the workload's scale factor (smoke test)")
    ap.add_argument("--inject-wrong", action="store_true",
                    help="compare against a deliberately wrong expected output")
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "gcp_cloudsql_airflow_bigquery_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench_run")
    work = os.path.join(run_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # everything the engine, Spark and Python workers write stays in the checkout
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)

    from perfbench import workloads
    from perfbench.harness import Harness
    from perfbench.report import build_report
    from perfbench.session import start_session, stop_session

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    env_start = host_load()

    t0 = time.perf_counter()
    spark, jvm_pid = start_session(work)
    session_s = time.perf_counter() - t0
    try:
        spec = workloads.WORKLOADS[args.workload]
        wl = spec(
            spark=spark,
            work=work,
            root=ROOT,
            seed=args.seed,
            scale=args.scale if args.scale is not None else spec.default_scale,
            inject_wrong=args.inject_wrong,
        )
        harness = Harness(spark, wl, trace=bool(args.trace))
        t1 = time.perf_counter()
        wl.prepare()
        t2 = time.perf_counter()
        wl.warmup_and_check()
        t3 = time.perf_counter()
        rng = random.Random(args.seed)
        harness.warm_up(rng)
        setup_s = time.perf_counter() - t0
        setup_parts = {
            "session_s": session_s,
            "prepare_s": t2 - t1,
            "warmup_check_s": t3 - t2,
            "warm_pass_s": t0 + setup_s - t3,
        }
        harness.run_passes(args.seconds, rng)
        wl.after_passes()
        harness.close()
    finally:
        rss = {
            "python_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
            "jvm_mb": jvm_peak_rss_mb(jvm_pid),
        }
        stop_session(spark)
    env_end = host_load()

    e2e = {
        "setup_s": setup_s,
        "pass_s": statistics.median(harness.pass_times(traced=False)),
        # the median operation, not the median sample: the operations'
        # latencies form one cluster each, and the pooled median falls in
        # a gap between two of them, where a few samples move it far
        "op_p50_s": statistics.median(harness.op_medians()),
    }
    report = build_report(
        harness, wl, session_s, rss["python_mb"] + rss["jvm_mb"],
        quantile(harness.op_times(), 0.9),
    )
    failed = harness.failed_ops + sum(not c.ok for c in wl.checks)
    attempted = harness.attempted_ops + len(wl.checks)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": wl.scale,
        "host": {"start": env_start, "end": env_end},
        "setup": setup_parts,
        "peak_rss": rss,
        "checks": [vars(c) for c in wl.checks],
        "errors": harness.errors,
        "passes": harness.passes,
        "end_to_end": e2e,
        "workload_metrics": report["workload"],
        "per_layer": report["per_layer"],
        "op_samples": len(harness.op_times()),
    }
    os.makedirs(run_dir, exist_ok=True)
    stem = os.path.join(run_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        with open(stem + "-spans.json", "w") as f:
            json.dump(harness.spans, f)
    shutil.rmtree(work, ignore_errors=True)

    for c in wl.checks:
        print(f"check {c.name}: {'ok' if c.ok else 'FAIL'} {c.detail}")
    for e in harness.errors:
        print(f"error {e}")
    print("host " + json.dumps(record["host"]))
    print("setup " + json.dumps(setup_parts))
    print(f"ops {len(harness.op_times())} samples over {len(harness.passes)} passes")
    for name, (value, unit) in report["workload"].items():
        print(f"metric {name} = {value:.6g} {unit}")
    for k, u in E2E_UNITS.items():
        print(f"metric {k} = {e2e[k]:.6g} {u}")
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in report["per_layer"].items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except ImportError as e:
        print(f"cannot import the engine: {e}", file=sys.stderr)
        sys.exit(2)
