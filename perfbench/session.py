"""Spark session start/stop for one benchmark run."""

from __future__ import annotations

import os
import subprocess

NPROC = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def start_session(work: str):
    """The engine's session (``session.get_spark``) on ``local[nproc]``,
    with every scratch location inside ``work``.  Returns the session and
    the pid of its JVM."""
    from gcp_cloudsql_airflow_bigquery_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    java_opts = (
        # no hsperfdata file under /tmp
        "-XX:-UsePerfData "
        f"-Djava.io.tmpdir={tmp} "
        f"-Dderby.system.home={os.path.join(work, 'derby')} "
        f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}"
    )
    spark = get_spark(
        "perfbench",
        master=f"local[{NPROC}]",
        extra_conf={
            "spark.driver.extraJavaOptions": java_opts,
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            # keep every stage, job and SQL execution of a run readable
            # from the status stores (the traced run diffs them)
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.ui.retainedExecutions": "1000000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return spark, (proc.pid if proc is not None else None)


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — already closed
        pass
    if proc is None:
        return
    try:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)
    except (OSError, subprocess.TimeoutExpired):
        proc.kill()
        proc.wait()
