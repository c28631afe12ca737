"""Seeded synthetic inputs: TPC-H-shaped ``orders``/``lineitem`` plus a
``documents`` corpus, at the row counts of the sf0.1 test
tables (scaled by ``sf / 0.1``).

Everything derives from one ``numpy.random.Generator`` per table, seeded
from the workload seed, so the same seed always yields byte-identical
tables and request streams.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_DAY = np.datetime64("1992-01-01", "D")
STATUSES = np.array(["O", "F", "P"])
STATUS_P = [0.49, 0.49, 0.02]
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
VOCAB = (
    "spark merge vector scan sort hash join group agg filter index table row "
    "column key value batch stream window query data part line order fast "
    "slow big small cache shuffle commit bucket token search rank score "
    "probe cluster dedup text corpus plan stage task job read write"
).split()
LANGS = np.array(["en", "zh", "de", "fr"])
ZIPF_S = 0.99


def rows_for(sf: float) -> dict:
    """Row counts per table at scale factor ``sf`` (TPC-H ratios)."""
    return {
        "orders": max(int(1_500_000 * sf), 100),
        "customers": max(int(150_000 * sf), 10),
        "lineitem": max(int(6_000_000 * sf), 400),
        "documents": max(int(50_000 * sf), 50),
    }


class Zipf:
    """Bounded Zipf(s) over ``n`` items. Rank r (0-based) is drawn with
    weight 1/(r+1)^s and mapped through a seeded permutation, so the hot
    items are scattered over the key space instead of clustering at 0."""

    def __init__(self, rng: np.random.Generator, n: int, s: float = ZIPF_S):
        w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
        self.cdf = np.cumsum(w) / w.sum()
        self.perm = rng.permutation(n)
        self.rng = rng

    def draw(self, size: int) -> np.ndarray:
        ranks = np.searchsorted(self.cdf, self.rng.random(size), side="right")
        return self.perm[np.minimum(ranks, len(self.perm) - 1)]


def _days(rng, n, span):
    return BASE_DAY + rng.integers(0, span, n)  # datetime64[D]: a parquet DATE


def orders(rng: np.random.Generator, n: int, n_cust: int) -> dict:
    """Column arrays of ``orders``; rowkey ``o_orderkey`` = 0..n-1."""
    return {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": rng.choice(STATUSES, n, p=STATUS_P),
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n), 2),
        "o_orderdate": _days(rng, n, 2400),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    }


def lineitem(rng: np.random.Generator, n: int, n_orders: int) -> dict:
    qty = rng.integers(1, 51, n).astype(np.float64)
    return {
        "l_orderkey": np.sort(rng.integers(0, n_orders, n)).astype(np.int64),
        "l_partkey": rng.integers(0, max(n // 30, 1), n).astype(np.int64),
        "l_suppkey": rng.integers(0, max(n // 600, 1), n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["O", "F"]), n),
        "l_shipdate": _days(rng, n, 2500),
    }


def documents(rng: np.random.Generator, n: int) -> dict:
    """Random word documents over a small vocabulary. Every twelfth doc
    is a near-duplicate (an earlier doc plus one extra word, Jaccard of
    word 3-gram shingles ~0.97), so dedup has real pairs to verify at
    every scale."""
    texts = []
    for i in range(n):
        if i % 12 == 11:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " " + VOCAB[int(rng.integers(0, len(VOCAB)))])
        else:
            words = rng.choice(VOCAB, int(rng.integers(30, 80)))
            texts.append(" ".join(words))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": np.array(texts, dtype=object),
        "lang": rng.choice(LANGS, n),
        "source": np.array([f"src{k}" for k in rng.integers(0, 8, n)], dtype=object),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def write(cols, path: str) -> None:
    pq.write_table(pa.table(cols), path)


def generate(seed: int, sf: float, out_dir: str, tables=("orders",)) -> dict:
    """Write the requested tables as parquet under ``out_dir``; returns
    {name: column arrays} for the shadow models and oracles."""
    n = rows_for(sf)
    out = {}
    for i, name in enumerate(("orders", "lineitem", "documents")):
        if name not in tables:
            continue
        rng = np.random.default_rng([seed, i])
        if name == "orders":
            cols = orders(rng, n["orders"], n["customers"])
        elif name == "lineitem":
            cols = lineitem(rng, n["lineitem"], n["orders"])
        else:
            cols = documents(rng, n["documents"])
        write(cols, f"{out_dir}/{name}.parquet")
        out[name] = cols
    return out
