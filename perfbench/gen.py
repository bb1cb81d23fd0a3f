"""Seeded input tables for the benchmark workloads.

Writes the ten TPC-H-ish parquet tables that ``sources.tables.register_views``
expects into one ``sf_dir``. The KG pipeline reads only ``orders``,
``customer`` and ``nation`` (the synthetic transcripts corpus is a SQL
function of those three); the datapipe queries read ``documents``,
``embeddings`` and ``events``. The other four are small placeholders
with the schemas of the shipped test data. The same seed gives
byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_NATIONS = 25

# sources/synthetic.py formats person2 as lpad(custkey + 500000, 6): a
# larger key no longer fits six digits, so two customers would share a
# name and the corpus would silently merge them.
MAX_CUSTKEY = 500_000

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_DAYS_1995_TO_2001_08 = int(
    (np.datetime64("2001-08-01") - np.datetime64("1995-01-01")) / np.timedelta64(1, "D")
)


def _write(sf_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


def _ts(rng: np.random.Generator, n: int) -> pa.Array:
    days = rng.integers(0, _DAYS_1995_TO_2001_08 + 1, n)
    return pa.array(_EPOCH_1995 + days * _DAY_US, pa.timestamp("us"))


def write_tables(sf_dir: str, seed: int, customers: int, turns: int, docs: int) -> None:
    """``turns`` orders spread uniformly over ``customers`` customers,
    and ``docs`` documents with their embeddings and events.

    Each customer is one conversation of ~turns/customers turns; the
    corpus recipe itself reroutes every 23rd order into the hot
    conversation ``conv_000001``.
    """
    if customers > MAX_CUSTKEY:
        raise ValueError(f"{customers} customers: keys must stay below {MAX_CUSTKEY}")
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng(seed)

    _write(sf_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    _write(sf_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
        "n_regionkey": pa.array([i % 5 for i in range(N_NATIONS)], pa.int32()),
    }))
    custkey = np.arange(customers, dtype=np.int64)
    _write(sf_dir, "customer", pa.table({
        "c_custkey": custkey,
        "c_name": [f"Customer#{k:09d}" for k in custkey],
        "c_nationkey": pa.array(rng.integers(0, N_NATIONS, customers), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, customers), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], customers
        ),
    }))
    o_custkey = rng.integers(0, customers, turns).astype(np.int64)
    _write(sf_dir, "orders", pa.table({
        "o_orderkey": np.arange(turns, dtype=np.int64),
        "o_custkey": o_custkey,
        "o_orderstatus": rng.choice(["F", "O", "P"], turns),
        "o_totalprice": np.round(rng.uniform(1000, 500000, turns), 2),
        "o_orderdate": _ts(rng, turns),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], turns
        ),
    }))
    _write_placeholders(sf_dir, rng)
    # a stream of its own, so the documents do not depend on the KG table sizes
    _write_datapipe(sf_dir, np.random.default_rng([seed, 1]), docs)


def _write_placeholders(sf_dir: str, rng: np.random.Generator, n: int = 8) -> None:
    """Tables no workload reads but view registration opens."""
    _write(sf_dir, "supplier", pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n)],
        "s_nationkey": pa.array(rng.integers(0, N_NATIONS, n), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
    }))
    _write(sf_dir, "part", pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": ["red bolt"] * n,
        "p_brand": [f"Brand#{k % 25}" for k in range(n)],
        "p_type": ["LARGE"] * n,
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n) * 0.1, 2),
    }))
    _write(sf_dir, "lineitem", pa.table({
        "l_orderkey": np.arange(n, dtype=np.int64),
        "l_partkey": np.arange(n, dtype=np.int64),
        "l_suppkey": np.arange(n, dtype=np.int64),
        "l_linenumber": pa.array([1] * n, pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n), 2),
        "l_returnflag": ["N"] * n,
        "l_linestatus": ["O"] * n,
        "l_shipdate": _ts(rng, n),
    }))


# The documents vocabulary of the shipped sf tables: 30 words, uniform.
WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector "
    "window".split()
)
LANGS = (["en", "de", "es", "fr", "zh"], [0.41, 0.14, 0.15, 0.15, 0.15])
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_JAN_2024_US = np.datetime64("2024-01-01", "us").astype(np.int64)


def _write_datapipe(sf_dir: str, rng: np.random.Generator, docs: int) -> None:
    """Documents, embeddings and events in the vocabulary and shape of
    the shipped sf tables: 10-100 words a document, 5% of documents an earlier one's
    text plus " dup"; half as many 64-d embeddings; ten events a
    document over 30 days, ~67 per user."""
    lengths = rng.integers(10, 101, docs)
    texts = [" ".join(rng.choice(WORDS, n)) for n in lengths]
    for i in np.flatnonzero(rng.random(docs) < 0.05):
        if i:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    _write(sf_dir, "documents", pa.table({
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS[0], docs, p=LANGS[1]),
        "source": [f"src{k % 5}" for k in range(docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }))
    vecs = max(docs // 2, 8)
    _write(sf_dir, "embeddings", pa.table({
        "vec_id": np.arange(vecs, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(rng.normal(0, 0.125, vecs * 64).astype(np.float32)), 64
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, vecs), pa.int32()),
    }))
    n = 10 * docs
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n)) + _JAN_2024_US
    _write(sf_dir, "events", pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(n // 67, 1), n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }))
