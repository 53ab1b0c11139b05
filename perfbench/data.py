"""Seeded input generation for the benchmark workloads.

Every table has the schema of the engine's star fixtures (region, nation,
customer, supplier, part, orders, lineitem) or of its extension fixtures
(documents, embeddings). Sizes are fixed per workload; the seed only
changes the content, so two seeds cost the same amount of work and a
claim can be re-checked on a seed it was not written against.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_WEIGHTS = (0.44, 0.14, 0.14, 0.14, 0.14)

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z
_DATE_SPAN_DAYS = 2404  # through 2001-08-01


@dataclass(frozen=True)
class StarSize:
    customers: int
    parts: int
    orders: int
    lineitems: int
    suppliers: int = 100


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, n: int) -> pa.Array:
    days = rng.integers(0, _DATE_SPAN_DAYS, n)
    return pa.array(_EPOCH_1995_US + days * _DAY_US, pa.timestamp("us"))


def star_tables(seed: int, size: StarSize) -> dict[str, pa.Table]:
    """The seven star tables, generated from ``seed``."""
    rng = np.random.default_rng(seed)
    nc, npart, no, nl, ns = (
        size.customers, size.parts, size.orders, size.lineitems, size.suppliers,
    )
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    price = 900.0 + (np.arange(npart) % 1000) / 10.0
    part = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": price,
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _dates(rng, no),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })
    partkey = rng.integers(0, npart, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[partkey] * rng.uniform(0.9, 1.1, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _dates(rng, nl),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders, "lineitem": lineitem,
    }


def sample_rows(seed: int, table: pa.Table, keep: float) -> pa.Table:
    """A seeded row sample of ``table`` in a seeded order."""
    rng = np.random.default_rng(seed)
    n = table.num_rows
    idx = rng.permutation(n)[: int(round(n * keep))]
    return table.take(pa.array(idx))


def write_tables(tables: dict[str, pa.Table], directory: str) -> int:
    """Write each table as ``<directory>/<name>.parquet``; returns bytes."""
    os.makedirs(directory, exist_ok=True)
    return sum(_write(t, f"{directory}/{name}.parquet") for name, t in tables.items())


def _mutate(rng: np.random.Generator, tokens: list[str], n_edits: int) -> list[str]:
    out = list(tokens)
    for pos in rng.choice(len(out), size=n_edits, replace=False):
        out[pos] = VOCAB[(VOCAB.index(out[pos]) + 1 + rng.integers(0, len(VOCAB) - 1)) % len(VOCAB)]
    return out


def documents(seed: int, n_docs: int, dup_frac: float) -> pa.Table:
    """``n_docs`` documents of which ``dup_frac`` are near-duplicate copies
    (one or two substituted tokens) of an earlier base document. The
    duplicate density is a constant of the corpus, not of the seed."""
    rng = np.random.default_rng(seed)
    n_copies = int(round(n_docs * dup_frac))
    n_base = n_docs - n_copies
    texts: list[list[str]] = [
        list(np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(20, 100))])
        for _ in range(n_base)
    ]
    for parent in rng.integers(0, n_base, n_copies):
        texts.append(_mutate(rng, texts[parent], 1 + int(rng.integers(0, 2))))
    order = rng.permutation(n_docs)  # copies are interleaved, not trailing
    text = [" ".join(texts[i]) for i in order]
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": text,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_WEIGHTS)],
        "source": [f"src{i % 20}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def events(seed: int, n: int) -> pa.Table:
    """The ``events`` stream table: one row per user event in January 2024."""
    rng = np.random.default_rng(seed)
    jan_2024_us = 1_704_067_200 * 1_000_000
    ts = np.sort(rng.integers(0, 29 * _DAY_US, n)) + jan_2024_us
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 200, n), pa.int64()),
        "event_type": np.array(["click", "view", "signup", "purchase", "error"])[rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0, 50, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def embeddings(seed: int, n_vecs: int, dim: int = 64, n_labels: int = 10) -> pa.Table:
    """Unit vectors loosely clustered around ``n_labels`` seeded centres."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(n_labels, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, n_labels, n_vecs)
    vecs = 0.15 * centres[labels] + rng.normal(scale=0.125, size=(n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
