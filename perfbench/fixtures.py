"""Seeded synthetic fixture tables for the benchmark.

The catalog queries read ten parquet tables (``schemas.TABLE_NAMES``).
This module writes them from a seed, with the shapes the catalog was
built against: a TPC-H-like star schema, an ``events`` stream table and
a ``documents`` corpus in which one document in twenty is a near-copy of
an earlier one (so the dedup and graph rows find pairs). Row counts are
those of the sf0.01 tables; the same seed always gives the same files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

# rows per table at this benchmark's scale (the sf0.01 sizes)
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
DAY = np.timedelta64(1, "D")


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    offs = rng.integers(0, int((hi - lo) / DAY) + 1, n)
    return (lo + offs * DAY).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n = ROWS
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype="int32"),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32"),
    })
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n["customer"], dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype("int32"),
        "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n["customer"]
        ),
    })
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n["supplier"], dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype("int32"),
        "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
    })
    adjectives = ["cold", "small", "large", "hot", "red", "blue", "shiny", "old"]
    nouns = ["widget", "bolt", "gear", "pipe", "valve", "spring"]
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n["part"], dtype="int64"),
        "p_name": [f"{rng.choice(adjectives)} {rng.choice(nouns)}" for _ in range(n["part"])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(["ECONOMY", "PROMO", "STANDARD", "SMALL", "LARGE"], n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype("int32"),
        "p_retailprice": np.round(900 + np.arange(n["part"]) * 0.1, 2),
    })
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n["orders"], dtype="int64"),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, n["orders"], 1000.0, 500000.0),
        "o_orderdate": _days(rng, n["orders"], "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n["orders"]
        ),
    })
    nl = n["lineitem"]
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n["orders"], nl).astype("int64"),
        "l_partkey": rng.integers(0, n["part"], nl).astype("int64"),
        "l_suppkey": rng.integers(0, n["supplier"], nl).astype("int64"),
        "l_linenumber": rng.integers(1, 8, nl).astype("int32"),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
    })
    t["events"] = build_events(rng, n["events"])
    t["documents"] = build_documents(rng, n["documents"])
    dim = 64
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n["embeddings"], dtype="int64"),
        "embedding": list(rng.normal(0.0, 0.125, (n["embeddings"], dim)).astype("float32")),
        "label": rng.integers(0, 10, n["embeddings"]).astype("int32"),
    })
    return t


def build_events(rng: np.random.Generator, n: int) -> pd.DataFrame:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(start + rng.integers(0, span_us, n).astype("timedelta64[us]"))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype="int64"),
        "ts": ts,
        "user_id": rng.integers(0, max(n // 67, 15), n).astype("int64"),
        "event_type": rng.choice(list(EVENT_TYPES), n),
        "value": np.round(rng.exponential(50.0, n) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def build_documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(["en", "fr", "es", "zh", "de"], n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64"),
    })


def write_tables(seed: int, out_dir: str) -> str:
    """Write every fixture table as ``{out_dir}/{name}.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in build_tables(seed).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return out_dir
