"""Deterministic input tables for the benchmark.

Writes the ten tables the engine reads (``lambdatotheslaughter_spark.tables``
schemas) as one parquet file each. The content depends only on
``DATA_SEED`` and the row counts below, never on the workload seed: the
workload seed shuffles key order and shapes the stream feed, so one set of
expected-result digests (``digests.json``) covers every run.

Shapes follow the engine's fixture tables (FIXTURES.md): uniform TPC-H-ish
star schema, a 30-word document vocabulary with injected near-duplicates,
64-d labelled embeddings. ``events`` is denser in time than the fixtures
(one event every ~1.4 s over ~12 h) so that a five-minute chunk of the
stream feed holds a few hundred events.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
GENERATOR_VERSION = 1

ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "events": 30_000,
    "documents": 1_000,
    "embeddings": 1_000,
}
N_USERS = 1_000
EVENT_MEAN_GAP_S = 1.44
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "red", "blue", "hot", "old", "big", "green", "cold"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "spring", "valve"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_VOCAB = ("join hash row batch scan column customer filter small slow merge "
          "order vector line table data agg value key stream window a spark "
          "part group big sort query fast the").split()
_LANGS = ["en", "es", "zh", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, span: int, n: int) -> np.ndarray:
    return (np.datetime64(start, "D") + rng.integers(0, span, n)).astype("datetime64[us]")


def build_tables() -> dict[str, pa.Table]:
    """Every table, in a fixed order, from one seeded generator."""
    rng = np.random.default_rng(DATA_SEED)
    t: dict[str, pa.Table] = {}
    i32 = pa.int32()

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })

    n = ROWS["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(_SEGMENTS, n),
    })

    n = ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })

    n = ROWS["part"]
    retail = np.round(900.0 + 0.1 * (np.arange(n) % 10_000), 2)
    t["part"] = pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, n),
                                               rng.choice(_PART_NOUN, n))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n)],
        "p_type": rng.choice(_PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": retail,
    })

    n_orders = ROWS["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, ROWS["customer"], n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1_000.0, 500_000.0, n_orders),
        "o_orderdate": _days(rng, "1995-01-01", 2_404, n_orders),
        "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
    })

    # 0-13 lines per order numbered 1..k, so (orderkey, linenumber) is unique
    per_order = np.minimum(rng.poisson(4.07, n_orders), 13)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    lineno = np.arange(len(okey)) - starts + 1
    order = rng.permutation(len(okey))
    okey, lineno = okey[order], lineno[order]
    n = len(okey)
    partkey = rng.integers(0, ROWS["part"], n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, ROWS["supplier"], n),
        "l_linenumber": pa.array(lineno, i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey], 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", 2_498, n),
    })

    n = ROWS["events"]
    gaps_us = np.maximum(rng.exponential(EVENT_MEAN_GAP_S * 1e6, n), 1).astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": EVENTS_START + np.cumsum(gaps_us).astype("timedelta64[us]"),
        "user_id": rng.integers(0, N_USERS, n),
        "event_type": rng.choice(_EVENT_TYPES, n),
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })

    n = ROWS["documents"]
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as in the fixtures
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })

    n = ROWS["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 0.12, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.08, (n, 64))).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return t


def write_dataset(out_dir: str) -> str:
    """Write every table to ``out_dir/<name>.parquet``; return the dataset
    fingerprint (sha256 over the generator version and the file bytes)."""
    os.makedirs(out_dir, exist_ok=True)
    h = hashlib.sha256(f"perfbench-data-v{GENERATOR_VERSION}".encode())
    for name, table in build_tables().items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        with open(path, "rb") as f:
            h.update(name.encode() + b"\0" + hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]
