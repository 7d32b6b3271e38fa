"""Seeded synthetic input snapshots for the benchmark.

Writes the ten fixture tables the engine reads (`region nation customer
supplier part orders lineitem events documents embeddings`, one
single-row-group parquet file each) with the schemas and value shapes
documented in FIXTURES.md: TPC-H-ish star schema with double money
columns rounded to cents, a 30-day µs-timestamped usage-event log, a
31-token bag-of-words document corpus with planted exact and near
duplicates, and 64-dim unit-norm float32 embeddings.

The same (seed, sf) always gives byte-identical tables, so a snapshot can
be regenerated instead of copied; `write_snapshot` returns the directory.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "fr", "es", "zh", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

_US_PER_DAY = 86_400_000_000
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _days(rng: np.random.Generator, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D")
    span = int((np.datetime64(last, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = n_cust * 10
    n_line = n_ord * 4
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
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
            "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_cust)),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_supp)),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN])
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                rng.integers(0, 25, n_part)
            ],
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": _cents(900.0 + (pk % 1000) / 10.0),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _cents(rng.uniform(1000.0, 500000.0, n_ord)),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _cents(rng.uniform(900.0, 105000.0, n_line)),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
        }
    )
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev))
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _EPOCH_2024 + ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": _cents(rng.exponential(50.0, n_ev)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    out["documents"] = _documents(rng, n_docs)
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb, dtype=np.int32),
        }
    )
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words docs of 10..100 tokens; ~0.2% exact copies and ~5%
    near copies (one to three tokens replaced) of earlier docs."""
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and roll < 0.05:
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), int(rng.integers(1, 4))):
                toks[j] = vocab[rng.integers(0, len(vocab))]
        else:
            toks = list(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))])
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_snapshot(root: str, seed: int, sf: float) -> str:
    """Write the seeded tables under ``root`` (created) and return it."""
    os.makedirs(root, exist_ok=True)
    for name, table in _tables(seed, sf).items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    return root
