"""Seeded synthetic tables in the shape the engine's catalog reads.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one parquet file each, with the column names,
types and value domains of the TPC-H-ish star schema plus the ``events``
stream and the two corpus tables that ``yupana_spark.catalog`` and
``__spark_entry__`` expect.  The same seed and scale give byte-identical
inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = ("a agg batch big column customer data fast filter group hash "
             "join key line merge order part query row scan slow small sort "
             "spark stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

EVENTS_FROM = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_SPAN_US = 30 * 86400 * 10**6


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _write(out_dir: str, name: str, df: pd.DataFrame) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                   os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir: str, seed: int, sf: float = 0.1,
             n_docs: int | None = None) -> dict:
    """Write every table under ``out_dir``; returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs = n_docs if n_docs is not None else int(50_000 * sf)
    n_emb = int(20_000 * sf)
    tables = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": REGIONS}),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust)}),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10,
                                      1)}),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-02"),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord)}),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-05")}),
        "events": _events(rng, n_ev),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
    }
    for name, df in tables.items():
        _write(out_dir, name, df)
    return {name: len(df) for name, df in tables.items()}


def _events(rng, n: int) -> pd.DataFrame:
    ts = EVENTS_FROM + np.sort(rng.integers(0, EVENTS_SPAN_US, n)) \
        .astype("timedelta64[us]")
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 1500, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def _documents(rng, n: int) -> pd.DataFrame:
    words = np.array(DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)])
             for k in rng.integers(10, 101, n)]
    # near-duplicates (one word swapped for "dup") and a few exact copies,
    # so the dedup stages have pairs to find
    for i in rng.choice(np.arange(1, n), size=n // 20, replace=False):
        src = texts[int(rng.integers(0, i))].split()
        src[int(rng.integers(0, len(src)))] = "dup"
        texts[i] = " ".join(src)
    for i in rng.choice(np.arange(1, n), size=max(n // 600, 1), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def _embeddings(rng, n: int, dim: int = 64) -> pd.DataFrame:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vecs.astype(np.float32)),
        "label": labels})
