"""Seeded generator for the benchmark's input tables.

Writes the TPC-H-shaped star schema plus the ``events``, ``documents`` and
``embeddings`` tables that the library's queries read, one parquet file
per table, with the same column names and types as the library's test
data. Values are uniform draws from a ``numpy`` generator, so the same
seed and scale factor always give byte-identical tables.

Shapes that the queries depend on:

- ``lineitem`` rows pick order, part and supplier keys independently, so
  the derived UFC fight table has ~6M x sf fights over 60 fighters;
- ~5% of ``documents`` are copies of an earlier document, most with a
  trailing ``dup`` token, so the dedup family finds near-duplicates;
- ~2% of ``embeddings`` are a perturbed copy of an earlier vector, so the
  cosine >= 0.9 dedup finds pairs;
- ``events`` carry a strictly increasing timestamp, so streaming windows
  and sessionization see an ordered feed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["red", "blue", "hot", "cold", "new", "old", "large", "small"]
_PART_NOUN = ["bolt", "ring", "plate", "gear", "rod", "anvil", "widget", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, int((hi_d - lo_d).astype(int)) + 1, n)
    return (lo_d + off).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All input tables at scale factor ``sf`` (sf 0.1 ~ 600k lineitems)."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 500)
    n_li = max(int(6_000_000 * sf), 2_000)
    n_ev = max(int(1_000_000 * sf), 1_000)
    n_users = max(int(15_000 * sf), 15)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    ts = pa.timestamp("us")
    out: dict[str, pa.Table] = {}

    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(names),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(_pick(rng, _SEGMENTS, n_cust)),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64),
    })
    adj = _pick(rng, _PART_ADJ, n_part)
    noun = _pick(rng, _PART_NOUN, n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
        ),
        "p_type": pa.array(_pick(rng, _PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(
            np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1), f64
        ),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord), f64),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord), ts),
        "o_orderpriority": pa.array(_pick(rng, _PRIORITIES, n_ord)),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float), f64),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_li), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(_pick(rng, ["F", "O"], n_li)),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_li), ts),
    })
    gaps = rng.exponential(26.0, n_ev) + 1e-4
    t_us = np.cumsum(np.round(gaps * 1e6)).astype("int64")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + t_us.astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pa.array(_pick(rng, _EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    out["documents"] = _documents(rng, min(max(int(500_000 * sf), 500), 5_000))
    out["embeddings"] = _embeddings(rng, min(max(int(200_000 * sf), 200), 2_000), 64, 10)
    return out


def _documents(rng, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src if rng.random() < 0.1 else src + " dup")
        else:
            toks = vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]
            texts.append(" ".join(toks))
    lang_idx = np.minimum(rng.integers(0, 20, n) // 4, 4)  # weighted to en
    lang_idx = np.where(rng.random(n) < 0.25, 0, lang_idx)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.asarray(_LANGS, dtype=object)[lang_idx]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int, n_labels: int) -> pa.Table:
    centers = rng.normal(size=(n_labels, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, n_labels, n)
    vecs = 0.5 * centers[labels] + rng.normal(size=(n, dim)) / np.sqrt(dim) * 3
    for i in range(1, n):
        if rng.random() < 0.02:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(size=dim) * 0.02
            labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
