"""Seeded input generators for the benchmark.

The tables reproduce the schema, row counts per scale factor and value
distributions of the engine's synthetic TPC-H-ish test tables (see
TESTDATA.md): uniform keys, prices and dates, names derived from keys,
a 30-word document vocabulary with 10-100 words per document, and 5%
near-duplicate documents (another document's text plus " dup"), so the
dedup operators find pairs at the same rate. ``perfbench/compare_data.py``
measures both side by side; ``results/data_vs_testdata.json`` holds one
such comparison. The same seed always yields byte-identical parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

#: rows per unit of scale factor, as in the engine's test tables
ROWS_PER_SF = {
    "customer": 150_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "part": 200_000,
    "supplier": 10_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_WORDS = (["blue", "cold", "hot", "large", "new", "old", "red", "small"],
              ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def documents(n: int, rng: np.random.Generator, dup_frac: float = 0.05) -> pd.DataFrame:
    """doc_id, text (10-100 vocabulary words), lang, source, n_chars.

    ``dup_frac`` of the rows, at uniformly drawn positions, are another
    row's text plus " dup" (the base may itself be a near-duplicate)."""
    texts = [" ".join(rng.choice(VOCAB, size=int(rng.integers(10, 101)))) for _ in range(n)]
    n_dup = int(round(n * dup_frac)) if n > 1 else 0
    for i in np.sort(rng.choice(n, size=n_dup, replace=False)):
        base = int(rng.integers(0, n - 1))
        texts[i] = texts[base + (base >= i)] + " dup"
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, size=n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (a + rng.integers(0, int((b - a).astype(np.int64)) + 1, size=n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def tables(sf: float, rng: np.random.Generator) -> dict[str, pd.DataFrame]:
    """Every test table at scale ``sf``."""
    n = {k: max(1, int(v * sf)) for k, v in ROWS_PER_SF.items()}
    n_part, n_supp, n_users = n["part"], n["supplier"], max(1, int(15_000 * sf))
    region = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, size=n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    part = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_WORDS[0], size=n_part),
                                                 rng.choice(PART_WORDS[1], size=n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, size=n_part)],
            "p_type": rng.choice(PART_TYPES, size=n_part),
            "p_size": rng.integers(1, 51, size=n_part).astype(np.int32),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }
    )
    nc, no, nl, ne = n["customer"], n["orders"], n["lineitem"], n["events"]
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, size=nc).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], size=nc
            ),
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, size=no).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], size=no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], size=no
            ),
        }
    )
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, no, size=nl).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, size=nl).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, size=nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, size=nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, size=nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": np.round(rng.uniform(0.0, 0.1, size=nl), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, size=nl), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], size=nl),
            "l_linestatus": rng.choice(["F", "O"], size=nl),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
        }
    )
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    events = pd.DataFrame(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": start + np.sort(rng.integers(0, span_us, size=ne)).astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, size=ne).astype(np.int64),
            "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], size=ne),
            "value": np.round(rng.exponential(50.0, size=ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=ne)],
        }
    )
    return {
        "region": region,
        "nation": nation,
        "supplier": supplier,
        "part": part,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents(n["documents"], rng),
    }


def write_parquet(df: pd.DataFrame, path: str) -> None:
    """One file, one row group: a single-file source scans in row order."""
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def write_tables(tbls: dict[str, pd.DataFrame], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tbls.items():
        write_parquet(df, os.path.join(out_dir, f"{name}.parquet"))
