"""Seeded generator for the analytic fixture tables the query mixes read.

The tables have the schemas and value distributions of the engine's
reference fixtures (FIXTURES.md): a TPC-H-like star schema, an `events`
table, a word-soup `documents` table with 5% planted near-duplicates, and
unit-norm 64-dimensional `embeddings`. Row counts scale with the scale
factor `sf` exactly as the reference fixtures do. The same (seed, sf)
always writes the same tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["hot", "large", "small", "cold", "shiny", "dull", "red", "blue"]
PART_NOUN = ["bolt", "ring", "nut", "gear", "pipe", "valve", "screw", "plate"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_US = 86_400_000_000


def _us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, options, n, p=None):
    return pa.array(np.asarray(options, dtype=object)[
        rng.choice(len(options), n, p=p)].tolist(), type=pa.string())


def sizes(sf: float) -> dict:
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf),
        "embeddings": max(500, int(20_000 * sf)),
    }


def documents(rng, n: int) -> pa.Table:
    """Word soup; every 20th document on average is an earlier document
    with " dup" appended (trigram Jaccard well above the 0.5 threshold)."""
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": _choice(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n: int) -> pa.Table:
    """Unit vectors in 10 label clusters. The first two coordinates (the
    plane q404's DBSCAN works in) put each label's points around its own
    anchor on a ring, with 30% of all points scattered as noise. The
    seed rotates the ring and draws every point; the cluster count, sizes
    and spacing stay fixed, so the number of label-propagation rounds
    DBSCAN needs does not change from seed to seed."""
    label = rng.integers(0, 10, n)
    noise = rng.random(n) < 0.3
    angle = rng.uniform(0, 2 * np.pi) + 2 * np.pi * label / 10
    xy = np.stack([0.3 * np.cos(angle), 0.3 * np.sin(angle)], axis=1)
    xy += rng.normal(0.0, 0.02, (n, 2))
    r = 0.5 * np.sqrt(rng.random(n))
    theta = rng.uniform(0, 2 * np.pi, n)
    xy[noise] = np.stack([r * np.cos(theta), r * np.sin(theta)], axis=1)[noise]
    rest = rng.standard_normal((n, 62))
    rest *= (np.sqrt(1.0 - (xy ** 2).sum(axis=1)) / np.linalg.norm(rest, axis=1))[:, None]
    v = np.concatenate([xy, rest], axis=1).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def tables(seed: int, sf: float) -> dict:
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c)),
        "c_mktsegment": _choice(rng, SEGMENTS, c),
    })
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s)),
    })
    p = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, len(PART_ADJ), p), rng.integers(0, len(PART_NOUN), p))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
        "p_type": _choice(rng, PART_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(p) % 1000) * 0.1, 1)),
    })
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o).astype(np.int64)),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], o),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, o)),
        "o_orderdate": _ts(_us("1995-01-01") + rng.integers(0, 2404, o) * DAY_US),
        "o_orderpriority": _choice(rng, PRIORITIES, o),
    })
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, p, li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, s, li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, li)),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
        "l_returnflag": _choice(rng, ["A", "N", "R"], li),
        "l_linestatus": _choice(rng, ["F", "O"], li),
        "l_shipdate": _ts(_us("1995-01-02") + rng.integers(0, 2498, li) * DAY_US),
    })
    e = n["events"]
    ts = np.sort(rng.integers(0, 30 * DAY_US, e)) + _us("2024-01-01")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, max(100, int(15_000 * sf)), e).astype(np.int64)),
        "event_type": _choice(rng, EVENT_TYPES, e),
        "value": pa.array(np.round(rng.exponential(50.0, e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
    })
    out["documents"] = documents(rng, n["documents"])
    out["embeddings"] = embeddings(rng, n["embeddings"])
    return out


def write(seed: int, sf: float, out_dir: str) -> None:
    """Write every table as `<out_dir>/<name>.parquet` (one file each)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
