"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the engine's registry reads (``region nation
customer supplier part orders lineitem events documents embeddings``),
one parquet file each, with the column names, types and value domains
documented in ``FIXTURES.md``.  Row counts scale with ``sf`` the same
way the fixture directories do (``lineitem`` = 6 M x sf).  The data seed
is fixed, as the fixtures' is, so the same ``sf`` always gives
byte-identical tables; the benchmark's ``--seed`` varies what it does
with them.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
DATA_SEED = 42
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

_DAY_MS = 86_400_000
_EPOCH_1995 = 788_918_400_000  # 1995-01-01T00:00:00Z in ms
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in us


def table_sizes(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf``."""
    return {
        "customer": round(150_000 * sf),
        "supplier": max(10, round(10_000 * sf)),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates_ms(rng: np.random.Generator, n: int, days: int) -> pa.Array:
    ms = _EPOCH_1995 + rng.integers(0, days, n) * _DAY_MS
    return pa.array(ms, type=pa.timestamp("ms"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = []
    for _ in range(n):
        words = rng.choice(WORDS, size=int(rng.integers(8, 100)))
        text = " ".join(words)
        if rng.random() < 0.05:
            text += " dup"
        texts.append(text)
    # a handful of exact duplicates, as an at-least-once corpus has
    for i in rng.choice(n, size=max(1, n // 600), replace=False):
        texts[int(i)] = texts[int((i + 1) % n)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 0.1, (10, EMBED_DIM))
    vecs = (centers[labels] + rng.normal(0.0, 0.08, (n, EMBED_DIM))).astype(
        np.float32
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _build(name: str, rng: np.random.Generator, n: dict[str, int], sf: float) -> pa.Table:
    nc, ns, npart, no = n["customer"], n["supplier"], n["part"], n["orders"]
    if name == "region":
        return pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(REGIONS, pa.string()),
            }
        )
    if name == "nation":
        return pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        )
    if name == "customer":
        return pa.table(
            {
                "c_custkey": pa.array(np.arange(nc), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
                "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
                "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc), pa.string()),
            }
        )
    if name == "supplier":
        return pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
                "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
            }
        )
    if name == "part":
        names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
        return pa.table(
            {
                "p_partkey": pa.array(np.arange(npart), pa.int64()),
                "p_name": pa.array(rng.choice(names, npart), pa.string()),
                "p_brand": pa.array(
                    [f"Brand#{b}" for b in rng.integers(1, 26, npart)], pa.string()
                ),
                "p_type": pa.array(rng.choice(PART_TYPES, npart), pa.string()),
                "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
                "p_retailprice": pa.array(
                    np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)
                ),
            }
        )
    if name == "orders":
        return pa.table(
            {
                "o_orderkey": pa.array(np.arange(no), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
                "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), no), pa.string()),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no)),
                "o_orderdate": _dates_ms(rng, no, 2404),
                "o_orderpriority": pa.array(rng.choice(PRIORITIES, no), pa.string()),
            }
        )
    if name == "lineitem":
        nl = n["lineitem"]
        return pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
                "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, nl)),
                "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
                "l_returnflag": pa.array(rng.choice(("A", "N", "R"), nl), pa.string()),
                "l_linestatus": pa.array(rng.choice(("F", "O"), nl), pa.string()),
                "l_shipdate": _dates_ms(rng, nl, 2499),
            }
        )
    if name == "events":
        ne = n["events"]
        users = max(15, round(15_000 * sf))
        ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, ne)) + _EPOCH_2024
        return pa.table(
            {
                "event_id": pa.array(np.arange(ne), pa.int64()),
                "ts": pa.array(ts, type=pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, users, ne), pa.int64()),
                "event_type": pa.array(rng.choice(EVENT_TYPES, ne), pa.string()),
                "value": pa.array(np.round(rng.exponential(60.0, ne), 2)),
                "props": pa.array(
                    [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
                    pa.string(),
                ),
            }
        )
    if name == "documents":
        return _documents(rng, n["documents"])
    if name == "embeddings":
        return _embeddings(rng, n["embeddings"])
    raise KeyError(name)


def generate(
    out_dir: str, sf: float, only: tuple[str, ...] | None = None
) -> dict[str, int]:
    """Write the tables (all, or those named in ``only``) under
    ``out_dir``; return their row counts.  Each table draws from its own
    random stream, so a subset is identical to the same tables of a full
    run."""
    os.makedirs(out_dir, exist_ok=True)
    n = table_sizes(sf)
    counts: dict[str, int] = {}
    for i, name in enumerate(TABLES):
        if only is not None and name not in only:
            continue
        table = _build(name, np.random.default_rng([DATA_SEED, i]), n, sf)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
