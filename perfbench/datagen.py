"""Deterministic synthetic tables for the benchmark.

Writes the same ten tables, with the same column names and types, as
the repository's test data (a TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings``), one parquet file per table. Row
counts scale linearly with ``sf`` (lineitem has ``6_000_000 * sf``
rows). The tables depend only on ``sf``: the data seed is fixed, so
every benchmark run reads the same inputs and the workload seed only
changes what the workloads do with them.

Usage: python3 perfbench/datagen.py OUT_DIR [SF]

``SF`` defaults to :data:`SF`, the scale the benchmark reads.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: scale of the tables the benchmark reads (lineitem has 6e6 * SF rows)
SF = 0.02
_DATA_SEED = 42
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
_COLORS = "red blue green black white small large steel".split()
_NOUNS = "ring widget bolt gear pipe valve frame plate".split()
_DAY_US = 86_400 * 1_000_000


def _days(rng, n: int, start: str, span_days: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, span_days, n) * _DAY_US
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    lens = rng.integers(10, 101, n)
    word_ids = rng.integers(0, len(_WORDS), int(lens.sum()))
    texts, at = [], 0
    for k in lens:
        texts.append(" ".join(_WORDS[w] for w in word_ids[at : at + k]))
        at += k
    # one document in twenty is a near-duplicate of an earlier one
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    langs = np.array(["en", "zh", "es", "de", "fr"])
    lang = langs[rng.choice(5, n, p=[0.41, 0.15, 0.15, 0.15, 0.14])]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": lang.tolist(),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def build(sf: float) -> dict:
    """Every table at scale ``sf``, as pyarrow tables keyed by name."""
    rng = np.random.default_rng(_DATA_SEED)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_line = max(int(6_000_000 * sf), 10)
    n_ev = max(int(1_000_000 * sf), 10)
    n_doc = max(int(50_000 * sf), 10)
    n_emb = max(int(20_000 * sf), 10)
    n_users = max(int(15_000 * sf), 5)
    i32 = pa.int32()
    t = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    segs = np.array("HOUSEHOLD MACHINERY FURNITURE BUILDING AUTOMOBILE".split())
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": segs[rng.integers(0, 5, n_cust)].tolist(),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    types = np.array("ECONOMY SMALL MEDIUM PROMO STANDARD LARGE".split())
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{_COLORS[c]} {_NOUNS[k]}"
                for c, k in zip(
                    rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": types[rng.integers(0, 6, n_part)].tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }
    )
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["P", "F", "O"])[
                rng.integers(0, 3, n_ord)
            ].tolist(),
            "o_totalprice": _money(rng, n_ord, 1000, 500000),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", 2399),
            "o_orderpriority": prio[rng.integers(0, 5, n_ord)].tolist(),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900, 105000),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[
                rng.integers(0, 3, n_line)
            ].tolist(),
            "l_linestatus": np.array(["F", "O"])[
                rng.integers(0, 2, n_line)
            ].tolist(),
            "l_shipdate": _days(rng, n_line, "1995-01-02", 2499),
        }
    )
    ts0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(ts0 + rng.integers(0, 30 * _DAY_US, n_ev))
    kinds = np.array("error click view signup purchase".split())
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": kinds[rng.integers(0, 5, n_ev)].tolist(),
            "value": np.round(
                np.clip(rng.exponential(50, n_ev), 0.01, 490.02), 2
            ),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, n_doc)
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), i32),
        }
    )
    return t


def write(out_dir: str, sf: float) -> None:
    """Write every table to ``out_dir/<name>.parquet``. The files are
    written under temporary names and renamed, and ``_SUCCESS`` is
    written last, so a half-written directory is never taken for a
    finished one."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build(sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path + ".tmp")
        os.replace(path + ".tmp", path)
    open(os.path.join(out_dir, "_SUCCESS"), "w").close()


def ensure(out_dir: str, sf: float) -> None:
    """Generate the tables unless a finished copy is already there."""
    if not os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        write(out_dir, sf)


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else SF)
