"""Deterministic synthetic input tables for the benchmark.

Writes the ten tables the query registry reads (``session.TABLE_NAMES``) as
one parquet file each, with the same schemas, key domains and value
distributions as the project's test data: a TPC-H-like star schema with
uniform keys, an ``events`` stream, a ``documents`` text corpus in which
one document in twenty is a near-duplicate of an earlier one, and
unit-norm 64-d ``embeddings``.  Row counts scale linearly with ``sf``
(``lineitem`` has 6,000,000 x sf rows); the two corpora keep 500 rows as
a floor so the text and vector queries always have work.

The same ``(sf, seed)`` always gives byte-identical values, so oracle
results computed once for a data directory stay valid for it.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bump when the generated values change, so cached data is rebuilt.
VERSION = "perfbench-data-v1"

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _choice(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float, seed: int = 42) -> dict[str, pa.Table]:
    """Build every table in memory; see the module docstring."""
    rng = np.random.default_rng(seed)
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_line = max(1, int(6_000_000 * sf))
    n_event = max(1, int(1_000_000 * sf))
    n_user = max(1, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    partkey = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": partkey,
        "p_name": _choice(rng, names, n_part),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _choice(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (partkey % 1000) * 0.1, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2405, n_ord) * _DAY_US),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _choice(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(_EPOCH_1995 + (1 + rng.integers(0, 2499, n_line)) * _DAY_US),
    })
    out["events"] = pa.table({
        "event_id": np.arange(n_event, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n_event))),
        "user_id": rng.integers(0, n_user, n_event, dtype=np.int64),
        "event_type": _choice(rng, EVENT_TYPES, n_event),
        "value": np.round(rng.exponential(50.0, n_event), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_event)],
    })
    vocab = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n_doc):
        if i % 20 == 19:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), n_words)]))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _choice(rng, LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_vec, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel(), pa.float32()), 64
        ).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec, dtype=np.int32),
    })
    return out


def generate(out_dir: str, sf: float, seed: int = 42) -> str:
    """Write the tables under ``out_dir`` unless a complete copy of the
    same (version, sf, seed) is already there; returns ``out_dir``."""
    tag = f"{VERSION} sf={sf} seed={seed}"
    done = os.path.join(out_dir, ".done")
    if os.path.exists(done):
        with open(done) as f:
            if f.read().strip() == tag:
                return out_dir
        os.remove(done)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(done, "w") as f:
        f.write(tag + "\n")
    return out_dir
