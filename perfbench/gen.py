"""Seeded generator for the engine's input tables.

Writes the ten tables the registry reads (the TPC-H-like core, the
``events`` stream and the ``documents``/``embeddings`` extension tables)
as one single-row-group parquet file each, with the column names, types
and value domains of the engine's shared test fixtures. Every value is
drawn from ``numpy.random.default_rng(seed)``, so one seed always gives
byte-identical inputs and another seed gives other values of the same
shape and size.

Sizes follow the TPC-H scale factor ``sf`` for the core and ``events``
(``sf=0.01`` is 60,000 lineitem rows); ``documents`` and ``embeddings``
have their own row counts because several of their oracles are
quadratic in rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_DAY_US = 86_400 * 1_000_000
_EPOCH = np.datetime64("1970-01-01", "D")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
          "spark line sort window order data column join small customer query "
          "filter group big stream vector").split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_DIM = 64
_CLUSTERS = 10


def _days(rng, lo: str, hi: str, n: int) -> pa.Array:
    """Midnight timestamps uniform over the days ``[lo, hi]``."""
    a = (np.datetime64(lo, "D") - _EPOCH).astype(np.int64)
    b = (np.datetime64(hi, "D") - _EPOCH).astype(np.int64)
    return pa.array(rng.integers(a, b + 1, n) * _DAY_US, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _keyed(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in range(n)], pa.string())


def _documents(rng, n: int) -> dict:
    """Bag-of-words texts; about 5% are near-duplicates of an earlier
    document with one word replaced by ``dup``, so the dedup entries
    find pairs."""
    words = np.asarray(_WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            toks = texts[rng.integers(0, i)].split()
            toks[rng.integers(0, len(toks))] = "dup"
        else:
            toks = list(words[rng.integers(0, len(words), rng.integers(10, 101))])
        texts.append(" ".join(toks))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array(np.asarray([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n: int) -> dict:
    """Unit vectors around ten cluster centres; ``label`` is the cluster."""
    centres = rng.standard_normal((_CLUSTERS, _DIM))
    label = rng.integers(0, _CLUSTERS, n)
    v = centres[label] + 0.6 * rng.standard_normal((n, _DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * _DIM + 1, _DIM, dtype=np.int32))
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(label.astype(np.int32)),
    }


def tables(sf: float, seed: int, n_docs: int, n_vecs: int) -> dict[str, dict]:
    """Column dicts of every table for scale ``sf`` and ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_li = 4 * n_ord
    n_ev = max(int(1_000_000 * sf), 10)
    n_users = max(int(15_000 * sf), 10)
    ids = lambda n: pa.array(np.arange(n, dtype=np.int64))  # noqa: E731
    nation_keys = np.arange(25, dtype=np.int32)
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + (
        np.datetime64("2024-01-01", "D") - _EPOCH).astype(np.int64) * _DAY_US
    return {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(_REGIONS, pa.string()),
        },
        "nation": {
            "n_nationkey": pa.array(nation_keys),
            "n_name": pa.array([f"NATION_{k}" for k in nation_keys], pa.string()),
            "n_regionkey": pa.array(nation_keys % 5),
        },
        "customer": {
            "c_custkey": ids(n_cust),
            "c_name": _keyed("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": ids(n_supp),
            "s_name": _keyed("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        },
        "part": {
            "p_partkey": ids(n_part),
            "p_name": pa.array([f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                                rng.integers(0, 8, (n_part, 2))], pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                                pa.string()),
            "p_type": _pick(rng, _PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)),
        },
        "orders": {
            "o_orderkey": ids(n_ord),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
            "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n_li), 2)),
            "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_li), 2)),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
        },
        "events": {
            "event_id": ids(n_ev),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
                              pa.string()),
        },
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
    }


def generate(out_dir: str, sf: float, seed: int, n_docs: int = 500,
             n_vecs: int = 500) -> int:
    """Write every table under ``out_dir``; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, cols in tables(sf, seed, n_docs, n_vecs).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(pa.table(cols), path, compression="snappy",
                       row_group_size=1 << 30)
        total += os.path.getsize(path)
    return total
