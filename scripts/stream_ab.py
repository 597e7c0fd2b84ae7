"""Paired A/B for the r11 streaming state-store sizing (wave 1).

Runs each registered streamed query alternately with the state
partition target set tiny (64 KB -> ceil(2MB/64KB)=32 state
partitions, byte-equivalent to the pre-wave session constant) and at
the shipped default (128 MB -> 1 partition at bench SF), in ONE
session, interleaved A/B/A/B so ambient host noise hits both arms
equally.  Prints min-of-N per arm.

Usage: SPARK_GRAFT_CPUS=32 python scripts/stream_ab.py [runs]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from gcp_cloudsql_airflow_bigquery_spark.plans.events import QUERIES  # noqa: E402
from gcp_cloudsql_airflow_bigquery_spark.session import get_spark  # noqa: E402
from gcp_cloudsql_airflow_bigquery_spark.streaming import streams  # noqa: E402

# every registered query implemented in the streaming module
STREAMS = [n for n, fn in QUERIES.items() if fn.__module__ == streams.__name__]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    allq = entrymod.queries()
    spark = get_spark("stream-ab")
    spark.sparkContext.setLogLevel("ERROR")
    arms = {
        "before_32_stores": str(64 * 1024),
        "after_sized": str(128 * 1024 * 1024),
    }
    out: dict[str, dict[str, float]] = {n: {} for n in STREAMS}
    for n in STREAMS:
        fn = allq[n]
        # one warmup at sf0.001 (JIT + stream machinery)
        fn(spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
        for _ in range(runs):
            for arm, tgt in arms.items():
                spark.conf.set(streams._STATE_TARGET_CONF, tgt)
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.perf_counter() - t0
                out[n][arm] = min(out[n].get(arm, float("inf")), dt)
        spark.conf.unset(streams._STATE_TARGET_CONF)
        print(
            f"# {n}: before={out[n]['before_32_stores']:.2f} "
            f"after={out[n]['after_sized']:.2f}",
            flush=True,
        )
    print(json.dumps({n: {a: round(v, 3) for a, v in d.items()} for n, d in out.items()}))


if __name__ == "__main__":
    main()
