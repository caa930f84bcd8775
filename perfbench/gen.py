"""Seeded input generator for the benchmark.

Writes a synthetic copy of the star-schema + events + documents +
embeddings tables the query registry reads (same table names, column
names and parquet types, same value domains and shapes as the sf0.1
testdata), and the argument dicts of the engine requests.

Table contents come from a fixed base seed, so the DuckDB oracle hash
of every benchmarked query is computed once per checkout and cached.
The run seed picks what a run varies: the op order of every analytics
pass and the keys/values of every engine request. Same seed, same
inputs.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240101
BASE_SF = 0.1

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _ts(days_from: str, n_days: int, rng, n: int) -> pa.Array:
    """Midnight timestamps uniform over ``n_days`` days."""
    start = np.datetime64(days_from, "us")
    days = rng.integers(0, n_days, n).astype("timedelta64[D]")
    return pa.array(start + days, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(sf: float = BASE_SF, seed: int = BASE_SEED) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf``; deterministic in ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec, n_user = int(50_000 * sf), int(20_000 * sf), int(15_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part)
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", 2405, rng, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-02", 2499, rng, n_li),
    })
    month_us = 30 * 86_400 * 10**6
    ts_us = np.sort(rng.integers(0, month_us, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
                       type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # documents: random word strings; 5% are near-duplicates (a copy of
    # another document with one extra token), the shape the dedup rows
    # look for
    words = np.array(WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), n)])
        for n in rng.integers(10, 101, n_doc)
    ]
    dup_ids = rng.choice(n_doc, n_doc // 20, replace=False)
    for i in dup_ids:
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], i64),
    })
    emb = rng.standard_normal((n_vec, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n_vec), i32),
    })
    return t


def write_base(out_dir: str, sf: float = BASE_SF, seed: int = BASE_SEED) -> None:
    """One parquet file per table, ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in base_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def engine_requests(seed: int, n: int, stream: int = 0) -> list[tuple[str, dict]]:
    """``n`` engine requests, two flat jobs then one fan-out job, over
    and over, with seeded argument values: ``[(job_name, arguments),
    ...]``. Each ``stream`` is an independent sequence for the same
    seed."""
    rng = np.random.default_rng([stream, seed])
    out = []
    for i in range(n):
        if i % 3 < 2:
            vals = rng.integers(1, 10_000, 64)
            out.append(("flat", {f"a{j:02d}": int(v) for j, v in enumerate(vals)}))
        else:
            vals = rng.integers(1, 10_000, 16)
            out.append(("fanout", {f"c{j:02d}": int(v) for j, v in enumerate(vals)}))
    return out


def expected_pairs(job: str, arguments: dict) -> list[list]:
    """Pure-Python fold of the engine jobs defined in workloads.py:
    flat buckets every value by ``v % 8`` and sums per bucket; fan-out
    gives every argument its own child invocation, which splits the
    value into ``v % 3`` and the rest under keys ``"lo"``/``"hi"``,
    and the parent sums per key."""
    totals: dict = {}
    for _k, v in arguments.items():
        if job == "flat":
            totals[v % 8] = totals.get(v % 8, 0) + v
        else:
            for key, part in (("lo", v % 3), ("hi", v - v % 3)):
                totals[key] = totals.get(key, 0) + part
    return [[k, totals[k]] for k in sorted(totals, key=str)]


def digest(path: str, suffix: str = "") -> str:
    """sha256 over every file under ``path`` whose name ends with
    ``suffix`` (names and bytes); ``__pycache__`` is skipped."""
    import hashlib

    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for f in sorted(files):
            if not f.endswith(suffix):
                continue
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh, indent=1, sort_keys=True)
    os.replace(tmp, path)

