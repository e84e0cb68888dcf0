"""Seeded generator for the benchmark's input tables.

Writes the ten test tables (the schemas of ``sources.tables``) as single
parquet files, so the benchmark never reads data outside its checkout.
Row counts follow the test data described in TESTDATA.md: ``scale`` plays
the role of the TPC-H scale factor (sf0.01: 60,000 lineitems, 10,000
events). Value distributions mirror that data too: uniform keys,
exponential event values with unique microsecond timestamps, documents
drawn from a 30-word vocabulary with about 5% "copy plus ' dup'"
near-duplicates, and random 64-dimensional unit embeddings with 10 labels.

``replicate`` reproduces ``tools/scale_up_testdata.py``'s scheme without
Spark, with the tool's own key columns and offset: replica ``i`` offsets
every entity key by ``i * OFF``, circularly shifts embeddings by ``i``
positions and suffixes each document token with ``x{i}``; the dimension
tables (region, nation) are not replicated.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tools.scale_up_testdata import DIMS, KEY_COLS, OFF

TABLES = (*DIMS, *KEY_COLS)

WORDS = (
    "a the row query stream fast spark line small customer group value "
    "hash batch sort data big filter key agg scan slow table part merge "
    "window order column join vector"
).split()
ADJ = "small red blue large new hot old cold".split()
NOUN = "ring widget gizmo plate gear rod anvil bolt".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DAY_US = 86_400_000_000


def _day_us(year: int, month: int, day: int) -> int:
    return int(np.datetime64(f"{year:04d}-{month:02d}-{day:02d}", "us").astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(v.ravel()), 64
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def make_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The ten tables at ``scale``, fully determined by ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(100, int(200_000 * scale))
    n_ord = max(500, int(1_500_000 * scale))
    n_li = max(2_000, int(6_000_000 * scale))
    n_ev = max(1_000, int(1_000_000 * scale))
    n_users = max(15, int(15_000 * scale))
    n_docs = max(500, int(50_000 * scale))
    n_emb = max(500, int(20_000 * scale))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN], dtype=object)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
            "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, P_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900.0 + 0.1 * (np.arange(n_part) % 1000), 1),
        }
    )
    d0, d1 = _day_us(1995, 1, 1), _day_us(2001, 8, 1)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(d0 + DAY_US * rng.integers(0, (d1 - d0) // DAY_US + 1, n_ord)),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    s0, s1 = _day_us(1995, 1, 2), _day_us(2001, 11, 4)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _ts(s0 + DAY_US * rng.integers(0, (s1 - s0) // DAY_US + 1, n_li)),
        }
    )
    # distinct sorted microsecond offsets: per-user "latest event" is unique
    span = 30 * DAY_US
    ts = np.sort(rng.choice(span, n_ev, replace=False)) + _day_us(2024, 1, 1)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)]),
        }
    )
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def _replica(name: str, table: pa.Table, i: int) -> pa.Table:
    for col in KEY_COLS[name]:
        j = table.schema.get_field_index(col)
        table = table.set_column(j, col, pc.add(table[col], pa.scalar(i * OFF, table[col].type)))
    if name == "embeddings" and i > 0:
        v = np.stack(table["embedding"].to_numpy(zero_copy_only=False))
        v = np.roll(v, -i, axis=1).astype(np.float32)
        arr = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), v.shape[1])
        table = table.set_column(1, "embedding", arr.cast(pa.list_(pa.float32())))
    if name == "documents" and i > 0:
        text = [" ".join(w + f"x{i}" for w in s.split(" ")) for s in table["text"].to_pylist()]
        table = table.set_column(1, "text", pa.array(text))
    return table


def replicate(tables: dict[str, pa.Table], factor: int) -> dict[str, pa.Table]:
    """``factor`` disjoint replicas of every keyed table (see module doc)."""
    out = {name: tables[name] for name in DIMS}
    for name in KEY_COLS:
        out[name] = pa.concat_tables([_replica(name, tables[name], i) for i in range(factor)])
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> int:
    """Write each table to ``out_dir/<name>.parquet``; returns total bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
