"""Seeded synthetic tables for the benchmark.

Writes the ten parquet tables the engine reads (``region`` ... ``embeddings``)
with the column names and physical types of the project's test data, and
with the same value vocabularies (region names, market segments, part names,
order priorities, the 30-word document vocabulary with planted "dup"
near-duplicates), so every query's literal predicates select rows. Row
counts scale with ``sf`` as in the test data: TPC-H style for the
relational tables, 50 000 x sf documents and 20 000 x sf embeddings, with
at least 500 of each. The same ``(seed, sf)`` always yields byte-identical
values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
MIN_DOCS = 500
DIM = 64

_DAY_US = 86_400_000_000


def _epoch_us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _days(rng: np.random.Generator, n: int, first: str, last: str) -> pa.Array:
    """Uniform midnight timestamps in [first, last]."""
    lo, hi = _epoch_us(first) // _DAY_US, _epoch_us(last) // _DAY_US
    return pa.array(rng.integers(lo, hi + 1, n) * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def n_docs(sf: float) -> int:
    return max(MIN_DOCS, round(50_000 * sf))


def n_vecs(sf: float) -> int:
    return max(MIN_DOCS, round(20_000 * sf))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.asarray(DOC_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))]) for _ in range(n)]
    # 5% planted near-duplicates: a copy of another document plus one token.
    for dst, src in rng.choice(n, (n // 20, 2), replace=False):
        texts[dst] = texts[src] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Random unit vectors, as in the test data: pairwise cosine near 0,
    about 0.2% of pairs at 0.35 or more."""
    labels = rng.integers(0, 10, n)
    vecs = rng.normal(size=(n, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(10, round(150_000 * sf))
    n_supp = max(10, round(10_000 * sf))
    n_part = max(20, round(200_000 * sf))
    n_ord = max(100, round(1_500_000 * sf))
    n_line = 4 * n_ord
    n_evt = max(100, round(1_000_000 * sf))
    n_users = max(10, n_cust // 10)

    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(REGIONS, pa.string()),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in rng.integers(0, 8, (n_part, 2))
                    ],
                    pa.string(),
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
                "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
                "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
                "l_discount": rng.integers(0, 11, n_line) / 100,
                "l_tax": rng.integers(0, 9, n_line) / 100,
                "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
                "l_linestatus": _pick(rng, ("F", "O"), n_line),
                "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_evt), pa.int64()),
                # a 30-day stream regardless of scale
                "ts": pa.array(
                    _epoch_us("2024-01-01")
                    + np.cumsum(rng.exponential(30 * _DAY_US / n_evt, n_evt)).astype(np.int64),
                    pa.timestamp("us"),
                ),
                "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
                "event_type": _pick(rng, EVENT_TYPES, n_evt),
                "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)], pa.string()),
            }
        ),
        "documents": _documents(rng, n_docs(sf)),
        "embeddings": _embeddings(rng, n_vecs(sf)),
    }
    return tables


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
