"""Seeded query corpus: the ten parquet tables the registry's queries
read (TPC-H-style star schema plus ``events``, ``documents`` and
``embeddings``), with the same schemas, value domains and row counts
per scale unit as the driver-generated corpus the package is tested
on.  The same ``(seed, scale)`` always yields byte-identical files.

``scale`` multiplies the row counts of ``ROWS`` (the smallest corpus:
150 customers, 1500 orders, about 6000 line items).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
        "lineitem": 6000, "events": 1000, "documents": 500, "embeddings": 500}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "small", "green", "red", "old"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data dup fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
DIM = 64


def _days(rng, n: int, lo: str, hi: str) -> pa.Array:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = lo_d + rng.integers(0, (hi_d - lo_d).astype(int), size=n)
    return pa.array(d.astype("datetime64[us]"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), size=n, p=p)]


def tables(seed: int, scale: int = 1) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, scale, 7])
    n = {k: v * scale for k, v in ROWS.items()}
    i32, i64 = pa.int32(), pa.int64()
    out = {}
    out["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(c), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": _money(rng, c, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, c),
    })
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(s), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
        "s_acctbal": _money(rng, s, -999.99, 9999.99),
    })
    p = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(p), i64),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, PART_ADJ, p), _pick(rng, PART_NOUN, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": _pick(rng, PART_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": np.round(900 + np.arange(p) % 200 * 0.1, 2),
    })
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(o), i64),
        "o_custkey": pa.array(rng.integers(0, c, o), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": _money(rng, o, 1000, 500000),
        "o_orderdate": _days(rng, o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, o),
    })
    # 1-7 lines per order, (l_orderkey, l_linenumber) unique, rows shuffled
    per_order = rng.integers(1, 8, o)
    okey = np.repeat(np.arange(o), per_order)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per_order])
    keep = rng.permutation(len(okey))[: n["lineitem"]]
    li = len(keep)
    qty = rng.integers(1, 51, li).astype("f8")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey[keep], i64),
        "l_partkey": pa.array(rng.integers(0, p, li), i64),
        "l_suppkey": pa.array(rng.integers(0, s, li), i64),
        "l_linenumber": pa.array(lnum[keep], i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100,
        "l_tax": rng.integers(0, 9, li) / 100,
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": _days(rng, li, "1995-01-01", "2001-12-31"),
    })
    e = n["events"]
    ts = np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, 30 * 86400 * 10**6, e))
    out["events"] = pa.table({
        "event_id": pa.array(range(e), i64),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, 15 * scale, e), i64),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": np.round(rng.gamma(1.1, 45.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    # documents: random word runs; every 20th is a one-word edit of an
    # earlier one, so the near-duplicate keys have pairs to find
    d = n["documents"]
    texts = []
    for i in range(d):
        if i % 20 == 19:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = _pick(rng, WORDS, int(rng.integers(8, 90)))
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(d), i64),
        "text": texts,
        "lang": _pick(rng, LANGS, d, p=[0.14, 0.38, 0.16, 0.16, 0.16]),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    # embeddings: ten Gaussian clusters in 64 dimensions
    m = n["embeddings"]
    label = rng.integers(0, 10, m)
    centres = rng.normal(0, 0.1, (10, DIM))
    vecs = (centres[label] + rng.normal(0, 0.05, (m, DIM))).astype("f4")
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(m), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, i32),
    })
    return out


def corpus(root: str, seed: int, scale: int = 1) -> str:
    """Write (or re-use) the corpus for ``(seed, scale)`` under
    ``root``; returns its directory."""
    d = os.path.join(root, f"seed{seed}_corpus{scale}")
    if os.path.exists(os.path.join(d, "DONE")):
        return d
    os.makedirs(d, exist_ok=True)
    for name, t in tables(seed, scale).items():
        pq.write_table(t, os.path.join(d, f"{name}.parquet"))
    open(os.path.join(d, "DONE"), "w").close()
    return d
