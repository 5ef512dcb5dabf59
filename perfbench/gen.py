"""Seeded input generation for the benchmark workloads.

Everything the engine sees is produced here from a seed: the HyDFS
append log, the RainStorm source batches and the batch-query tables.
The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

N_CATEGORIES = 1000
ZIPF_S = 1.1


def categories() -> list[str]:
    return [f"cat{i:04d}" for i in range(N_CATEGORIES)]


def zipf_probs(n: int = N_CATEGORIES, s: float = ZIPF_S) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def log_rows(rng: np.random.Generator, first_id: int, n: int) -> pd.DataFrame:
    """``event_id, category, value`` rows: categories Zipf(1.1) over
    1000 keys, values in cents so the checksum is exact."""
    cats = np.array(categories())
    idx = rng.choice(N_CATEGORIES, size=n, p=zipf_probs())
    cents = rng.integers(0, 10_000, size=n)
    return pd.DataFrame(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "category": cats[idx],
            "value": cents / 100.0,
        }
    )


LOG_SCHEMA = "event_id long, category string, value double"


def row_hash(pdf: pd.DataFrame) -> tuple[int, int]:
    """(count, sum of crc32 over ``event_id|category|cents``): the
    driver-side twin of ``CHECKSUM_SQL``."""
    cents = np.rint(pdf["value"].to_numpy() * 100).astype(np.int64)
    total = 0
    for e, c, v in zip(pdf["event_id"].tolist(), pdf["category"].tolist(), cents.tolist()):
        total += zlib.crc32(f"{e}|{c}|{v}".encode())
    return len(pdf), total


# count(*) and an overflow-safe (decimal) sum of a per-row crc32 over
# every column; values are compared in cents.
CHECKSUM_EXPRS = (
    "count(*) AS n",
    "CAST(sum(CAST(crc32(concat_ws('|', event_id, category, "
    "CAST(round(value * 100) AS BIGINT))) AS DECIMAL(38,0))) AS STRING) AS h",
)


# -- batch-query tables -----------------------------------------------------

# Fixed generator seed: the tables are the same on every run, so the
# recorded BPE hash holds; the run seed only orders the queries.
TABLES_SEED = 20_250_901

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
_P_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
_P_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "fr", "es", "zh", "de"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def batch_tables(sf: float, docs: int, vecs: int, seed: int = TABLES_SEED) -> dict:
    """TPC-H-shaped tables plus ``events``, ``documents`` and
    ``embeddings``, with the column names and types the registry
    queries read. ``sf`` scales the relational tables (sf=0.01 gives
    60k lineitem rows); ``docs``/``vecs`` size the corpus tables."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_evt = int(1_500_000 * sf), int(1_000_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{_P_ADJ[a]} {_P_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(_P_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 2000) * 0.1, 2),
        }
    )
    odate = _days(rng, "1995-01-01", 2405, n_ord)
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": odate,
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    n_li = len(okey)
    lineno = (np.arange(n_li) - np.repeat(np.cumsum(per) - per, per) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": lineno,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, "1995-01-02", 2497, n_li),
        }
    )
    ts = np.datetime64("2024-01-01", "us") + rng.integers(
        0, 30 * 86_400_000_000, n_evt
    ).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, max(15, n_cust // 10), n_evt).astype(np.int64),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_evt)],
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    texts: list[str] = []
    for i in range(docs):
        if i >= 10 and rng.random() < 0.05:
            # planted near-duplicate: an earlier doc with its last word
            # replaced
            src = texts[int(rng.integers(0, i))].split()
            texts.append(" ".join(src[:-1] + ["dup"]))
        else:
            n_w = int(rng.integers(10, 100))
            texts.append(" ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), n_w)]))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS)[rng.integers(0, 5, docs)],
            "source": [f"src{i % 10}" for i in range(docs)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, vecs)
    x = centers[labels] * 0.15 + rng.normal(size=(vecs, 64))
    copies = rng.random(vecs) < 0.03
    for i in np.flatnonzero(copies):
        if i > 0:
            x[i] = x[int(rng.integers(0, i))] + rng.normal(scale=0.01, size=64)
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(vecs, dtype=np.int64),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return t


def write_tables(tables: dict, sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(sf_dir, f"{name}.parquet"))
