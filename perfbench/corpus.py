"""Seeded generator of the ``llm_curation`` workload's input tables.

Writes ``documents``, ``embeddings``, ``part`` and ``lineitem`` as
parquet files with the schemas of the engine's star schema
(``pmc_conversion_spark.tables``), so the registered queries and their
DuckDB oracles read them unchanged.
The same seed gives the same rows. The shapes that decide how much
work the queries do are fixed across seeds: the embedding cluster
centres, and a Zipf-skewed supplier popularity that makes the PageRank
loop converge in the same number of rounds.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 400
N_VECS = 400
N_PARTS = 2000
N_ORDERS = 15000
N_SUPPLIERS = 150
DIM = 64

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ("en", "fr", "de", "es", "zh")
LANG_P = (0.42, 0.145, 0.145, 0.145, 0.145)
ADJECTIVES = ("blue", "red", "small", "hot", "cold", "old", "new", "green")
NOUNS = ("bolt", "gear", "anvil", "ring", "rod", "widget", "plate", "nut")
P_TYPES = ("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")

TABLES = ("documents", "embeddings", "part", "lineitem")


def _documents(rng: np.random.Generator) -> pa.Table:
    texts = [" ".join(VOCAB[k] for k in
                      rng.integers(len(VOCAB), size=int(rng.integers(8, 90))))
             for _ in range(N_DOCS)]
    return pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[k] for k in
                          rng.choice(len(LANGS), size=N_DOCS, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    labels = rng.integers(10, size=N_VECS)
    centers = np.random.default_rng(0).normal(size=(10, DIM))
    vecs = centers[labels] + rng.normal(scale=3.0, size=(N_VECS, DIM))
    for i in range(10, N_VECS):
        if rng.random() < 0.05:            # near-identical vector
            vecs[i] = vecs[int(rng.integers(i))] + rng.normal(
                scale=0.01, size=DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, N_VECS * DIM + 1, DIM), pa.int32()), flat),
        "label": pa.array(labels.astype(np.int32)),
    })


def _part(rng: np.random.Generator) -> pa.Table:
    keys = np.arange(N_PARTS)
    return pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array([f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in
                            zip(rng.integers(8, size=N_PARTS),
                                rng.integers(8, size=N_PARTS))]),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, size=N_PARTS)]),
        "p_type": pa.array([P_TYPES[t] for t in
                            rng.integers(len(P_TYPES), size=N_PARTS)]),
        "p_size": pa.array(rng.integers(1, 51, size=N_PARTS)
                           .astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 2)),
    })


def _lineitem(rng: np.random.Generator) -> pa.Table:
    lines = rng.integers(1, 8, size=N_ORDERS)
    n = int(lines.sum())
    orderkey = np.repeat(np.arange(N_ORDERS), lines)
    linenumber = np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    popularity = 1.0 / np.arange(1, N_SUPPLIERS + 1) ** 0.8
    quantity = rng.integers(1, 51, size=n).astype(np.float64)
    day0 = np.datetime64("1995-01-01", "us")
    ship = day0 + rng.integers(0, 2500, size=n) * np.timedelta64(1, "D")
    return pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(N_PARTS, size=n), pa.int64()),
        "l_suppkey": pa.array(rng.choice(N_SUPPLIERS, size=n,
                                         p=popularity / popularity.sum()),
                              pa.int64()),
        "l_linenumber": pa.array(linenumber.astype(np.int32)),
        "l_quantity": pa.array(quantity),
        "l_extendedprice": pa.array(np.round(
            quantity * rng.uniform(900, 2100, size=n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, size=n) / 100),
        "l_tax": pa.array(rng.integers(0, 9, size=n) / 100),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], size=n)),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })


def write_tables(out_dir: str, seed: int) -> str:
    """Write every table under ``out_dir``; returns ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name, make in (("documents", _documents), ("embeddings", _embeddings),
                       ("part", _part), ("lineitem", _lineitem)):
        pq.write_table(make(rng), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
