"""Seeded TPC-H-ish tables for the registry workload.

The registry queries read ten parquet tables (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings). This
module writes them from a seed with the column types, value domains,
row-count ratios and distributions measured on the repository's standard
synthetic test tables (TESTDATA.md: seed 42, sf 0.01 and sf 0.1; the
figures are in perfbench/README.md, "Registry inputs"). As there, columns
are drawn independently and uniformly unless noted, keys are dense from 0,
foreign keys are uniform and independent (so lines per order are about
Poisson(4)), money is rounded to cents and timestamps are naive
microseconds. ``SIZES`` at ``sf`` gives the row counts; sf 0.01 is 60,000
lineitem rows.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: rows per unit scale factor (documents/embeddings/users saturate at sf 0.1)
SIZES = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 50_000, "users": 15_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en"] * 3 + ["es", "zh", "de", "fr"]
WORDS = (
    "a the row query stream key agg scan slow table part merge window order "
    "column join vector fast spark line small customer group value hash "
    "batch data filter sort big"
).split()
EMBED_DIM = 64  # unit-norm Gaussian vectors; labels carry no cluster signal
DOC_TOKENS = (10, 99)  # tokens per document, uniform, bounds included
NEAR_DUP = 0.05  # share of documents that copy an earlier one plus " dup"


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    span = (np.datetime64(end) - np.datetime64(start)).astype(int)
    return np.datetime64(start, "us") + (
        rng.integers(0, span + 1, n) * 86_400_000_000
    ).astype("timedelta64[us]")


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table as ``out_dir/<name>.parquet``; returns row counts."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * sf)) for k, v in SIZES.items()}
    n["documents"] = min(n["documents"], 5_000)
    n["embeddings"] = min(n["embeddings"], 2_000)
    frames = {
        "region": pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS}
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype="int32"),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype("int32"),
            }
        ),
    }
    c = n["customer"]
    frames["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(c, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": rng.integers(0, 25, c).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": rng.choice(SEGMENTS, c),
        }
    )
    s = n["supplier"]
    frames["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(s, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": rng.integers(0, 25, s).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    frames["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(p, dtype="int64"),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(PART_ADJ, p), rng.choice(PART_NOUN, p))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
            "p_type": rng.choice(PART_TYPES, p),
            "p_size": rng.integers(1, 51, p).astype("int32"),
            "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 1),
        }
    )
    o = n["orders"]
    frames["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(o, dtype="int64"),
            "o_custkey": rng.integers(0, c, o).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], o),
            "o_totalprice": _money(rng, 1000, 500000, o),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", o),
            "o_orderpriority": rng.choice(PRIORITIES, o),
        }
    )
    li = n["lineitem"]
    flag_status = rng.integers(0, 6, li)
    frames["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, o, li).astype("int64"),
            "l_partkey": rng.integers(0, p, li).astype("int64"),
            "l_suppkey": rng.integers(0, s, li).astype("int64"),
            "l_linenumber": rng.integers(1, 8, li).astype("int32"),
            "l_quantity": rng.integers(1, 51, li).astype("float64"),
            # independent of quantity and part, as in the test tables
            "l_extendedprice": _money(rng, 900, 105000, li),
            "l_discount": np.round(rng.uniform(0, 0.1, li), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, li), 2),
            "l_returnflag": np.array(["A", "N", "R"])[flag_status % 3],
            "l_linestatus": np.array(["F", "O"])[flag_status // 3],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", li),
        }
    )
    e = n["events"]
    span_us = 30 * 86_400_000_000
    frames["events"] = pd.DataFrame(
        {
            "event_id": np.arange(e, dtype="int64"),
            "ts": np.datetime64("2024-01-01", "us")
            + np.sort(rng.integers(0, span_us, e)).astype("timedelta64[us]"),
            "user_id": rng.integers(0, n["users"], e).astype("int64"),
            "event_type": rng.choice(EVENT_TYPES, e),
            "value": np.maximum(np.round(rng.exponential(50, e), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    d = n["documents"]
    texts: list[str] = []
    for i in range(d):
        if i and rng.random() < NEAR_DUP:
            # a near-duplicate: an earlier document (itself maybe one) + " dup"
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            lo, hi = DOC_TOKENS
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(lo, hi + 1)))))
    frames["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(d, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, d),
            "source": [f"src{i % 20}" for i in range(d)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    m = n["embeddings"]
    vec = rng.normal(size=(m, EMBED_DIM)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    frames["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(m, dtype="int64"),
            "embedding": list(vec),
            "label": rng.integers(0, 10, m).astype("int32"),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    for name, df in frames.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return {name: len(df) for name, df in frames.items()}
