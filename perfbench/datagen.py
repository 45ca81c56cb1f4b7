"""Seeded generator for the engine's input tables.

Writes the ten tables the engine's catalog loads (``region`` ... ``embeddings``)
as parquet files with the column names, physical types and value domains of
the repository's TPC-H-like fixtures (see FIXTURES.md), at the sf0.1 row
counts: 600k lineitem rows, about 17 MB of parquet. The same seed always gives
byte-identical tables.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
WORDS = (
    "query row stream the spark line small fast group customer batch sort value "
    "hash filter big data dup part column order scan a slow agg key window table "
    "merge vector join"
).split()

# sf0.1 row counts of the fixtures
ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> pa.Array:
    """Midnight timestamps ``lo..hi`` days after 1995-01-01 (tz-naive)."""
    days = rng.integers(lo, hi + 1, n).astype("timedelta64[D]")
    return pa.array(_EPOCH_1995 + days, type=pa.timestamp("us"))


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
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

    ck = np.arange(ROWS["customer"], dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": _keyed_names("Customer", ck),
        "c_nationkey": rng.integers(0, 25, ck.size).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, ck.size),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, ck.size)),
    })

    sk = np.arange(ROWS["supplier"], dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": _keyed_names("Supplier", sk),
        "s_nationkey": rng.integers(0, 25, sk.size).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, sk.size),
    })

    pk = np.arange(ROWS["part"], dtype=np.int64)
    adj = rng.choice(PART_ADJ, pk.size)
    noun = rng.choice(PART_NOUN, pk.size)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, pk.size).astype(str))),
        "p_type": pa.array(rng.choice(PART_TYPES, pk.size)),
        "p_size": rng.integers(1, 51, pk.size).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })

    ok = np.arange(ROWS["orders"], dtype=np.int64)
    out["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, ck.size, ok.size),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], ok.size)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, ok.size),
        "o_orderdate": _days(rng, 0, 2404, ok.size),  # 1995-01-01 .. 2001-08-01
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, ok.size)),
    })

    nl = ROWS["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, ok.size, nl),
        "l_partkey": rng.integers(0, pk.size, nl),
        "l_suppkey": rng.integers(0, sk.size, nl),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
        "l_shipdate": _days(rng, 1, 2499, nl),  # 1995-01-02 .. 2001-11-04
    })

    ne = ROWS["events"]
    month_us = 30 * _DAY_US
    offsets = np.sort(rng.integers(0, month_us, ne))
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]"),
                       type=pa.timestamp("us")),
        "user_id": rng.integers(0, max(ne // 66, 1), ne),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne)),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)]),
    })

    nd = ROWS["documents"]
    lengths = rng.integers(8, 64, nd)
    words = rng.choice(WORDS, int(lengths.sum()))
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    text = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(nd)]
    out["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": text,
        "lang": pa.array(rng.choice(LANGS, nd, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(s) for s in text], dtype=np.int64),
    })

    nv = ROWS["embeddings"]
    labels = rng.integers(0, 10, nv).astype(np.int32)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels,
    })
    return out


def write(dst: str, seed: int) -> dict[str, int]:
    """Write the tables to ``dst`` (replacing it) and return their row counts.

    A ``rows.json`` marker is written last, so a directory holding it is
    complete and can be reused by :func:`ensure`.
    """
    tmp = dst + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rows = {}
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        rows[name] = table.num_rows
    with open(os.path.join(tmp, "rows.json"), "w") as fh:
        json.dump(rows, fh)
    shutil.rmtree(dst, ignore_errors=True)
    os.rename(tmp, dst)
    return rows


def ensure(dst: str, seed: int) -> dict[str, int]:
    """Reuse a complete earlier build of the same seed, else build it."""
    marker = os.path.join(dst, "rows.json")
    if os.path.exists(marker):
        with open(marker) as fh:
            return json.load(fh)
    return write(dst, seed)
