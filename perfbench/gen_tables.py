"""Seeded relational, text and vector tables for the registry workloads.

``write_tables(seed, out_dir)`` writes the ten tables the registry reads
(``region nation customer supplier part orders lineitem events documents
embeddings``), one Parquet file each, at the sf0.01 shape of the engine's
test data: the same column names and Parquet types (timestamps as
microsecond, not UTC-adjusted), the same row counts and value domains.

The text and vector tables keep the properties the similarity queries
depend on: documents are 10-99 words over a 30-word vocabulary with about
one in ten a near-duplicate (an earlier document plus ``dup``), and
embeddings are random unit vectors of dimension 64 with labels 0-9.
The same seed gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
TABLES = ("region", "nation", *ROWS)

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DAY_US = 86_400 * 1_000_000
EPOCH_1995_US = 788_918_400 * 1_000_000
EPOCH_2024_US = 1_704_067_200 * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.1:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    # a near-duplicate pair lands in either id order
    perm = np.arange(n)
    swap = rng.random(n) < 0.5
    for i in np.flatnonzero(swap)[: n // 20]:
        j = int(rng.integers(0, n))
        perm[i], perm[j] = perm[j], perm[i]
    texts = [texts[p] for p in perm]
    lang = np.asarray(["en", "es", "zh", "de", "fr"], dtype=object)[
        rng.choice(5, size=n, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    ]
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    c, s, p, o, li, ev = (
        ROWS[k] for k in ("customer", "supplier", "part", "orders", "lineitem", "events")
    )
    out = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
            "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c)),
            "c_mktsegment": _pick(
                rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c
            ),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
            "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s)),
        },
        "part": {
            "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
            "p_name": pa.array(
                [
                    f"{a} {b}"
                    for a, b in zip(
                        np.asarray("blue old red hot large cold small new".split())[
                            rng.integers(0, 8, p)
                        ],
                        np.asarray("widget gizmo ring gear bolt plate anvil rod".split())[
                            rng.integers(0, 8, p)
                        ],
                    )
                ]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
            "p_type": _pick(
                rng, ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], p
            ),
            "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1)
            ),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, c, o).astype(np.int64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, o)),
            "o_orderdate": _ts(EPOCH_1995_US + rng.integers(0, 2404, o) * DAY_US),
            "o_orderpriority": _pick(
                rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o
            ),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, o, li).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, p, li).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, s, li).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, li)),
            "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], li),
            "l_linestatus": _pick(rng, ["F", "O"], li),
            "l_shipdate": _ts(EPOCH_1995_US + DAY_US + rng.integers(0, 2499, li) * DAY_US),
        },
        "events": {
            "event_id": pa.array(np.arange(ev, dtype=np.int64)),
            "ts": _ts(
                EPOCH_2024_US + np.sort(rng.integers(0, 30 * DAY_US, ev))
            ),
            "user_id": pa.array(rng.integers(0, 150, ev).astype(np.int64)),
            "event_type": _pick(rng, ["click", "view", "purchase", "signup", "error"], ev),
            "value": pa.array(_money(rng, 0.01, 490.0, ev)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ev)]),
        },
        "documents": _documents(rng, ROWS["documents"]),
    }
    vecs = rng.standard_normal((ROWS["embeddings"], 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = {
        "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, len(vecs)).astype(np.int32)),
    }
    return {name: pa.table(cols) for name, cols in out.items()}


def write_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, tbl in tables(seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows
