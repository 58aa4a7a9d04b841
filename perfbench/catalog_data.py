"""Seeded generator for the catalog tables the bench queries read.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one parquet file each under a directory, in
the layout and physical types ``sources/catalog.load_table`` expects
(naive ``timestamp[us]`` columns, ``list<float>`` embeddings). Value
distributions follow the shared test data: uniform keys and
categories, 1-7 lines per order, events sorted by time over 30 days,
a 31-word document vocabulary with about 5% near-duplicate copies
(the copy gains a trailing ``dup`` token), and 64-dimensional unit
embeddings drawn around ten label centres.

Row counts scale with ``sf`` the way the test data does (lineitem is
6M x sf); documents and embeddings keep a floor of 500 rows.
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
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64

_DAY_US = 86_400 * 1_000_000


def _day_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Whole days drawn uniformly from [lo, hi] (epoch microseconds)."""
    return lo + rng.integers(0, (hi - lo) // _DAY_US + 1, n) * _DAY_US


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = max(1, round(6_000_000 * sf))
    n_ev = max(1, round(1_000_000 * sf))
    n_users = max(1, round(15_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_vecs = max(500, round(20_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{ADJECTIVES[a]} {NOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(
                _dates(rng, _day_us(1995, 1, 1), _day_us(2001, 8, 1), n_ord)
            ),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _ts(
                _dates(rng, _day_us(1995, 1, 2), _day_us(2001, 11, 4), n_line)
            ),
        }
    )
    t0 = _day_us(2024, 1, 1)
    ts = np.sort(rng.integers(t0, t0 + 30 * _DAY_US, n_ev))
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(ts),
            "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = [
        " ".join(rng.choice(WORDS, int(n)))
        for n in rng.integers(10, 100, n_docs)
    ]
    # near-duplicates: copy an earlier document and append one token
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    centres = rng.normal(size=(10, EMBED_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vecs, dtype=np.int32)
    vecs = 1.12 * centres[labels] + rng.normal(size=(n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": labels,
        }
    )
    return out


def write(sf_dir: str, sf: float, seed: int) -> None:
    """Write every catalog table as ``<sf_dir>/<name>.parquet``."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
