"""Deterministic synthetic tables in the layout the engine reads.

``generate(out_dir, sf)`` writes one parquet file per table
(``region nation customer supplier part orders lineitem events
documents embeddings``) with the column names, types and value
domains of the engine's test tables: a TPC-H-like star schema, an
``events`` click stream, a text corpus and 64-d unit embeddings.
Row counts scale with ``sf`` (lineitem = 6e6 x sf). The same
``(sf, seed)`` always gives byte-identical values.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64

_DAY0 = dt.datetime(1995, 1, 1)
_EVENTS0 = dt.datetime(2024, 1, 1)


def _days(rng, n: int, lo: int, hi: int) -> np.ndarray:
    base = np.datetime64(_DAY0, "us")
    return base + rng.integers(lo, hi + 1, n).astype("timedelta64[D]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def tables(sf: float, seed: int = 42) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, int(round(sf * 1_000_000))])
    n_cust = max(int(15_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(20_000 * sf), 10)
    n_ord = max(int(150_000 * sf), 100)
    n_li = max(int(6_000_000 * sf), 400)
    n_ev = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 5)
    n_docs = max(int(50_000 * sf), 500)
    n_vec = max(int(20_000 * sf), 500)

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
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": _pick(rng, names, n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, 0, 2404),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _days(rng, n_li, 1, 2499),
        }
    )
    # one event every ~30 days / n on average, strictly increasing ts
    span_us = 30 * 86_400 * 1_000_000
    gaps = rng.exponential(span_us / (n_ev + 1), n_ev).astype(np.int64) + 1
    ts = np.datetime64(_EVENTS0, "us") + np.cumsum(gaps).astype("timedelta64[us]")
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    lens = rng.integers(10, 100, n_docs)
    words = rng.integers(0, len(WORDS), int(lens.sum()))
    texts, pos = [], 0
    for n in lens:
        texts.append(" ".join(WORDS[w] for w in words[pos : pos + n]))
        pos += n
    # a few exact re-posts, so exact and near dedup have work to find
    for i in range(0, n_docs - 1, 613):
        texts[i + 1] = texts[i]
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vecs = rng.standard_normal((n_vec, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vec).astype(np.int32),
        }
    )
    return out


def generate(out_dir: str, sf: float, seed: int = 42) -> None:
    """Write every table of scale ``sf`` under ``out_dir`` atomically:
    files land in a sibling temp dir that is renamed into place, so an
    interrupted run never leaves half-written tables behind."""
    if os.path.isdir(out_dir):
        return
    tmp = f"{out_dir}.partial"
    os.makedirs(tmp, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out_dir)
