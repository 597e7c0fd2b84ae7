"""Table registry over the parquet fixture directories.

The reference's "catalog" is GCS object names keyed on
``{table}_{ds_nodash}`` (reference ``dags/cloudsql_to_bigquery.py:109,226``);
ours is a thin loader that registers each parquet table as both a
DataFrame and a temp view so ``spark.sql`` (the ``stage_final_query``
surface, reference ``dags/cloudsql_to_bigquery.py:11,70``) works
immediately.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _ts_guard(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a timestamp.

    ``events.ts`` may be written as either a plain parquet timestamp
    (current fixtures: TIMESTAMP(MICROS)) or as raw int64 nanoseconds
    (older fixtures wrote TIMESTAMP(NANOS), which surfaces as ``bigint``
    under ``spark.sql.legacy.parquet.nanosAsLong``). We read plain and
    only convert when the column actually arrived as int64 — both
    encodings yield ``ts: timestamp`` with microsecond precision,
    JVM-side, no Python data pass. Works on batch and streaming frames.
    """
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Parquet scan → column pruning and predicate
    pushdown are free once downstream ops are declarative.  ``events``
    goes through :func:`_ts_guard`.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    return _ts_guard(df) if name == "events" else df


def events_feed(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The events table as a ``(batch, stream)`` pair, both ts-guarded.

    One parquet schema read serves both sides: the stream is declared
    with the batch frame's raw schema.  The fixture is a single parquet
    FILE, and ``FileStreamSource`` derives basePath from its source path
    and needs a directory, so the stream reads the char-class glob
    ``[e]vents.parquet``: it matches exactly this file, and basePath
    resolves to the non-glob parent ``sf_dir``.
    """
    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    stream = spark.readStream.schema(raw.schema).parquet(
        os.path.join(sf_dir, "[e]vents.parquet")
    )
    return _ts_guard(raw), _ts_guard(stream)


def register_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load every fixture table and register it as a temp view."""
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
