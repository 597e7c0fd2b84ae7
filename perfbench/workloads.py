"""The benchmark's workloads.

A workload prepares its inputs, runs a warm-up that doubles as the output
check, and then hands the harness a list of operations for one pass.
Each operation is ``(name, construct, execute)``: ``construct`` builds
what the engine needs (for registry queries, the DataFrame, which for the
iterative and streaming entries launches jobs of its own) and
``execute`` runs it into Spark's ``noop`` sink.
"""

from __future__ import annotations

import functools
import importlib.util
import os
import random
from dataclasses import dataclass, field
from typing import Any, Callable, ClassVar

import duckdb
import pandas as pd

from perfbench import datagen
from perfbench.session import NPROC

Op = tuple[str, Callable[[], Any], Callable[[Any], None]]

# Sized so that every run (session start, set-up, the measuring window and
# the output check) fits a budget of 4 + 22 x 2 runs in under an hour on
# a 4-core host; see perfbench/README.md.
SQL_STAR = (
    "flagship_revenue_by_region_nation",
    "pricing_summary",
    "lineitem_two_way_anova",
    "dedup_exact",
)
ITERATIVE_OPS = (
    "event_state_communities",
    "doc_dup_clusters",
)
STREAM_INGEST = (
    "events_sessions_streamed",
    "events_dedup_streamed",
    "events_upsert_streamed",
)


@dataclass
class Check:
    name: str
    ok: bool
    detail: str = ""


@functools.lru_cache(maxsize=None)
def _check_oracle_module(root: str):
    """``scripts/check_oracle.py`` of the checkout, for its row canon."""
    path = os.path.join(root, "scripts", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame, canon) -> Check:
    """The comparison of ``scripts/check_oracle.py``: sorted column names,
    row count, then order-insensitive canonical row values."""
    if sorted(got.columns) != sorted(want.columns):
        return Check(name, False, f"columns {sorted(got.columns)} vs {sorted(want.columns)}")
    if len(got) != len(want):
        return Check(name, False, f"rowcount {len(got)} vs {len(want)}")
    try:
        a, b = canon(got), canon(want)
    except TypeError as e:
        return Check(name, False, str(e))
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:2]
        return Check(name, False, f"values differ: {diffs}")
    return Check(name, True, f"{len(got)} rows")


def corrupt(want: pd.DataFrame) -> pd.DataFrame:
    """A deliberately wrong expected output (one row short, or one extra)."""
    if len(want) > 0:
        return want.iloc[:-1]
    return pd.DataFrame({c: [None] for c in want.columns})


@dataclass
class Workload:
    spark: Any
    work: str
    root: str
    seed: int
    scale: float
    inject_wrong: bool = False
    checks: list[Check] = field(default_factory=list)

    name = ""
    default_scale = 0.1
    #: seconds one warm pass takes on the busy 4-core reference host; a
    #: run makes ``round(--seconds / nominal_pass_s)`` timed passes
    nominal_pass_s = 3.5
    #: registry tables the workload reads (None: all of them)
    tables: ClassVar[tuple[str, ...] | None] = None

    def prepare(self) -> None:
        raise NotImplementedError

    def warmup_and_check(self) -> None:
        raise NotImplementedError

    def ops(self, rng: random.Random) -> list[Op]:
        """The operations of one pass, in the order to run them."""
        raise NotImplementedError

    def pass_stats(self) -> dict[str, float]:
        """Facts about the pass that just ran (none by default)."""
        return {}

    def after_passes(self) -> None:
        """Checks on the outputs of the timed passes (none by default)."""



class RegistryWorkload(Workload):
    """Registry entries from ``__spark_entry__.queries()``, each checked
    against its ``oracle_sql()`` twin on DuckDB at ``check_sf``."""

    queries: tuple[str, ...] = ()
    check_sf = 0.001

    def prepare(self) -> None:
        import __spark_entry__ as entry

        self.registry = entry.queries()
        self.oracles = entry.oracle_sql()
        self.bench_dir = os.path.join(self.work, "bench_data")
        self.check_dir = os.path.join(self.work, "check_data")
        datagen.generate(self.bench_dir, self.scale, only=self.tables)
        if self.check_sf == self.scale:
            self.check_dir = self.bench_dir
        else:
            datagen.generate(self.check_dir, self.check_sf, only=self.tables)

    def warmup_and_check(self) -> None:
        canon = _check_oracle_module(self.root)._canon_pdf
        con = duckdb.connect()
        for t in self.tables or datagen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(self.check_dir, t)}.parquet'"
            )
        for i, name in enumerate(self.queries):
            try:
                got = self.registry[name](self.spark, self.check_dir).toPandas()
                want = con.execute(self.oracles[name]).df()
            except Exception as e:  # noqa: BLE001 — a failed op is a result
                self.checks.append(Check(name, False, f"{type(e).__name__}: {e}"))
                continue
            if self.inject_wrong and i == 0:
                want = corrupt(want)
            self.checks.append(compare(name, got, want, canon))
        con.close()

    def ops(self, rng: random.Random) -> list[Op]:
        # the seed picks the order once; each later pass rotates it, so
        # every run puts each operation first equally often (the first
        # operation of a pass runs measurably slower)
        if not hasattr(self, "_order"):
            self._order = list(self.queries)
            rng.shuffle(self._order)
        else:
            self._order = self._order[1:] + self._order[:1]
        names = self._order

        def op(name: str) -> Op:
            return (
                name,
                lambda: self.registry[name](self.spark, self.bench_dir),
                lambda df: df.write.format("noop").mode("overwrite").save(),
            )

        return [op(n) for n in names]


class SqlStar(RegistryWorkload):
    name = "sql_star"
    nominal_pass_s = 6.5
    queries = SQL_STAR
    tables = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "documents")


class IterativeOps(RegistryWorkload):
    name = "iterative_ops"
    default_scale = 0.001
    queries = ITERATIVE_OPS
    tables = ("events", "documents")


class StreamIngest(RegistryWorkload):
    name = "stream_ingest"
    default_scale = 0.01
    queries = STREAM_INGEST
    tables = ("events",)


class DriverOps(RegistryWorkload):
    """The iterative and the streaming operations in one workload: both
    spend their time on the Spark driver (plan construction, the jobs it
    launches, micro-batch planning), and one run of both fits the run
    budget with a measuring window long enough to be steady."""

    name = "driver_ops"
    default_scale = 0.01
    nominal_pass_s = 4.8
    check_sf = 0.01
    # of the two graph operations, label propagation only: connected
    # components would add 7 s of cold start and 2 s a pass, and both
    # reach the same layers (``operators.graph``, ``localCheckpoint``)
    queries = ITERATIVE_OPS[:1] + STREAM_INGEST
    tables = ("events",)


# --------------------------------------------------------------------------
# etl_star_sync: the reference's 2-dimension + 1-fact sync from an OLTP
# database (embedded Derby, in memory) through ``run_pipelines``.

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
STAR = ("nation", "customer", "orders")
DERBY_DDL = {
    "NATION": "N_NATIONKEY INT, N_NAME VARCHAR(25), N_REGIONKEY INT",
    "CUSTOMER": "C_CUSTKEY BIGINT, C_NAME VARCHAR(25), C_NATIONKEY INT, "
    "C_ACCTBAL DOUBLE, C_MKTSEGMENT VARCHAR(10)",
    "ORDERS": "O_ORDERKEY BIGINT, O_CUSTKEY BIGINT, O_ORDERSTATUS VARCHAR(1), "
    "O_TOTALPRICE DOUBLE, O_ORDERDATE TIMESTAMP, O_ORDERPRIORITY VARCHAR(15)",
}
DERBY_DDL["ORDERS_DELTA"] = DERBY_DDL["ORDERS"]
ROLLUP_SQL = """
SELECT n.N_NAME AS nation, c.C_MKTSEGMENT AS segment,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o.O_TOTALPRICE AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM ORDERS_stage o
JOIN CUSTOMER_stage c ON o.O_CUSTKEY = c.C_CUSTKEY
JOIN NATION_stage n ON c.C_NATIONKEY = n.N_NATIONKEY
GROUP BY n.N_NAME, c.C_MKTSEGMENT
"""
SNAPSHOT_DATE = "20240101"


def delta_slice(orders: pd.DataFrame, seed: int, frac_changed: float = 0.02,
                frac_new: float = 0.01) -> pd.DataFrame:
    """Seed-chosen changed and new fact rows (upper-case columns)."""
    import numpy as np

    rng = np.random.default_rng([seed, 7])
    n = len(orders)
    k_changed, k_new = max(1, round(n * frac_changed)), max(1, round(n * frac_new))
    changed = orders.iloc[np.sort(rng.choice(n, size=k_changed, replace=False))].copy()
    changed["O_ORDERSTATUS"] = "F"
    changed["O_TOTALPRICE"] = (changed["O_TOTALPRICE"] * 1.1).round(2)
    new = orders.iloc[rng.choice(n, size=k_new, replace=False)].copy()
    new["O_ORDERKEY"] = n + np.arange(k_new)
    new["O_TOTALPRICE"] = np.round(rng.uniform(1000.0, 500_000.0, k_new), 2)
    return pd.concat([changed, new], ignore_index=True)


class StarSync(Workload):
    """Warm-up and check at the measured scale: the sync's cost is in
    Spark jobs that only warm up on data of this size."""

    name = "etl_star_sync"
    nominal_pass_s = 3.4

    def prepare(self) -> None:
        self.bench = self._seed_source("bench", self.scale)

    def _seed_source(self, label: str, sf: float) -> dict[str, Any]:
        src_dir = os.path.join(self.work, f"star_{label}")
        datagen.generate(src_dir, sf, only=STAR)
        frames = {
            t: pd.read_parquet(os.path.join(src_dir, f"{t}.parquet")).rename(
                columns=str.upper
            )
            for t in STAR
        }
        delta = delta_slice(frames["orders"], self.seed)
        url = f"jdbc:derby:memory:perfbench_{label}"
        tables = dict(
            NATION=frames["nation"],
            CUSTOMER=frames["customer"],
            ORDERS=frames["orders"],
            ORDERS_DELTA=delta,
        )
        jvm = self.spark._jvm
        jvm.java.lang.Class.forName(DERBY_DRIVER)
        conn = jvm.java.sql.DriverManager.getConnection(url + ";create=true")
        try:
            st = conn.createStatement()
            for t, pdf in tables.items():
                # bulk import from CSV: the OLTP side is set-up, not measured
                csv = os.path.join(src_dir, f"{t}.csv")
                pdf.to_csv(csv, index=False, header=False, date_format="%Y-%m-%d %H:%M:%S")
                st.execute(f"CREATE TABLE {t} ({DERBY_DDL[t]})")
                st.execute(
                    "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE"
                    f"(NULL, '{t}', '{csv}', ',', '\"', 'UTF-8', 0)"
                )
            st.close()
        finally:
            conn.close()
        return {
            "url": url,
            "frames": frames,
            "delta": delta,
            "warehouse": os.path.join(self.work, f"warehouse_{label}"),
        }

    def _specs(self, target: dict[str, Any]):
        from gcp_cloudsql_airflow_bigquery_spark.config import PipelineSpec, SourceSpec

        src = SourceSpec(kind="jdbc", url=target["url"], driver=DERBY_DRIVER)
        n_orders = len(target["frames"]["orders"])
        fact_src = SourceSpec(
            kind="jdbc",
            url=target["url"],
            driver=DERBY_DRIVER,
            partition_column="O_ORDERKEY",
            lower_bound=0,
            upper_bound=n_orders,
            num_partitions=NPROC,
        )
        full = [
            PipelineSpec(export_table="NATION", source=src),
            PipelineSpec(
                export_table="CUSTOMER",
                source=src,
                write_mode="snapshot",
                snapshot_date=SNAPSHOT_DATE,
            ),
            PipelineSpec(
                export_table="ORDERS",
                source=fact_src,
                stage_final_query=ROLLUP_SQL,
                final_table="REVENUE_ROLLUP",
            ),
        ]
        incr = PipelineSpec(
            export_table="ORDERS_DELTA",
            stage_table="ORDERS",
            source=src,
            write_mode="merge",
            merge_keys=("O_ORDERKEY",),
            stage_final_query=ROLLUP_SQL,
            final_table="REVENUE_ROLLUP",
        )
        return full, incr

    def _full_sync(self, target: dict[str, Any]) -> None:
        from gcp_cloudsql_airflow_bigquery_spark import pipeline

        full, _ = self._specs(target)
        target["full"] = pipeline.run_pipelines(
            self.spark, full, pipeline.Warehouse(target["warehouse"])
        )

    def _incr_sync(self, target: dict[str, Any]) -> None:
        from gcp_cloudsql_airflow_bigquery_spark import pipeline

        _, incr = self._specs(target)
        target["incr"] = [
            pipeline.run_pipeline(self.spark, incr, pipeline.Warehouse(target["warehouse"]))
        ]

    def warmup_and_check(self) -> None:
        try:
            self._full_sync(self.bench)
            self._incr_sync(self.bench)
        except Exception as e:  # noqa: BLE001 — a failed op is a result
            self.checks.append(Check("warmup.sync", False, f"{type(e).__name__}: {e}"))
            return
        self._check_target("warmup", self.bench)

    def _check_target(self, label: str, target: dict[str, Any]) -> None:
        frames, delta = target["frames"], target["delta"]
        n_new = int((~delta["O_ORDERKEY"].isin(frames["orders"]["O_ORDERKEY"])).sum())
        want_rows = [len(frames["nation"]), len(frames["customer"]), len(frames["orders"])]
        got_rows = [r.rows_written for r in target["full"]]
        self.checks.append(
            Check(f"{label}.full_rows", got_rows == want_rows, f"{got_rows} vs {want_rows}")
        )
        got_incr = target["incr"][0].rows_written
        want_incr = len(frames["orders"]) + n_new
        self.checks.append(
            Check(f"{label}.incr_rows", got_incr == want_incr, f"{got_incr} vs {want_incr}")
        )
        canon = _check_oracle_module(self.root)._canon_pdf
        got = pd.read_parquet(os.path.join(target["warehouse"], "REVENUE_ROLLUP"))
        con = duckdb.connect()
        con.register("NATION_stage", frames["nation"])
        con.register("CUSTOMER_stage", frames["customer"])
        con.register("ORDERS_base", frames["orders"])
        con.register("ORDERS_delta", delta)
        con.execute(
            "CREATE VIEW ORDERS_stage AS SELECT * FROM ORDERS_base "
            "WHERE O_ORDERKEY NOT IN (SELECT O_ORDERKEY FROM ORDERS_delta) "
            "UNION ALL SELECT * FROM ORDERS_delta"
        )
        want = con.execute(ROLLUP_SQL).df()
        con.close()
        if self.inject_wrong:
            want = corrupt(want)
        self.checks.append(compare(f"{label}.rollup", got, want, canon))

    def ops(self, rng: random.Random) -> list[Op]:
        # the incremental cycle merges into what the full sync wrote
        bench = self.bench
        return [
            ("sync_full", lambda: None, lambda _: self._full_sync(bench)),
            ("sync_incr", lambda: None, lambda _: self._incr_sync(bench)),
        ]

    def pass_stats(self) -> dict[str, float]:
        bench = self.bench
        results = bench.get("full", []) + bench.get("incr", [])
        files, nbytes = 0, 0
        for dirpath, _, names in os.walk(bench["warehouse"]):
            for f in names:
                if f.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(dirpath, f))
        return {
            "rows_written": sum(r.rows_written for r in results),
            "pipelines": len(results),
            "attempts": sum(r.attempts for r in results),
            "output_files": files,
            "output_mb": nbytes / 2**20,
        }

    def after_passes(self) -> None:
        self._check_target("timed", self.bench)


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (StarSync, DriverOps, SqlStar, IterativeOps, StreamIngest)
}
