"""Seeded generator for the engine's input tables.

Writes the ten parquet tables the engine reads (`sources.tables.TABLE_NAMES`)
in the shape of the engine's synthetic TPC-H-ish test fixtures: the same
schemas (microsecond timestamps without a time zone), row counts, key
ranges and value distributions, one row group per file, a 30-word document
vocabulary with 5% near-duplicate documents, and unit-norm 64-d embeddings.
``compare_inputs.py`` measures the match against a fixture directory;
``baseline/inputs_vs_sf0.01.txt`` is its receipt. The same (seed, sf)
always gives the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.14, 0.15]
EMBED_DIM = 64

_US_PER_DAY = 86_400_000_000


def _days_us(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * _US_PER_DAY


def _cents(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _rounded(rng, n: int, hi: float) -> np.ndarray:
    """Uniform on [0, hi] rounded to cents: the two end values are half as
    frequent as the others."""
    return np.round(rng.uniform(0.0, hi, n), 2)


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, type=pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 100, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + ln]))
        pos += ln
    # 5% near-duplicates: a copy of another document plus one marker word
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    langs = rng.choice(len(LANGS), n, p=LANG_WEIGHTS)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in langs],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_user = int(50_000 * sf), max(500, int(20_000 * sf)), int(15_000 * sf)

    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": _names("Customer", n_cust),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _cents(rng, n_cust, -999.99, 9999.99),
                "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": _names("Supplier", n_supp),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _cents(rng, n_supp, -999.99, 9999.99),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [
                    f"{ADJECTIVES[a]} {NOUNS[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
                "o_totalprice": _cents(rng, n_ord, 1000.0, 500_000.0),
                "o_orderdate": _ts(_days_us(rng, n_ord, "1995-01-01", "2001-08-01")),
                "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _cents(rng, n_line, 900.0, 105_000.0),
                "l_discount": _rounded(rng, n_line, 0.10),
                "l_tax": _rounded(rng, n_line, 0.08),
                "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
                "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
                "l_shipdate": _ts(_days_us(rng, n_line, "1995-01-02", "2001-11-04")),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_ev), pa.int64()),
                # a 30-day stream with exponential gaps between arrivals
                "ts": _ts(
                    np.datetime64("2024-01-01", "us").astype(np.int64)
                    + np.cumsum(rng.exponential(30 * _US_PER_DAY / n_ev, n_ev)).astype(np.int64)
                ),
                "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
                "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": _documents(rng, n_doc),
    }
    vecs = rng.standard_normal((n_emb, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return tables


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(table) or 1)
        rows[name] = len(table)
    return rows
