"""Seeded input generator for the benchmark.

Writes parquet tables with the schemas of the engine's test lake
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings). The same seed always yields byte-identical
tables, and the program sees nothing but these files.

Value distributions follow the lake the registry is graded on:
events are uniform over days from 2024-01-01 at nanosecond precision,
with exponential values (mean 50) and a uniform event-type mix; documents
are word bags over a 31-word vocabulary with planted exact and near
duplicates; embeddings are unit-norm Gaussian 64-vectors.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("hash value filter data sort batch big dup query stream the row "
         "vector column part scan agg table slow key order window join a "
         "merge line fast spark customer group small").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.5, 0.125, 0.125, 0.125, 0.125]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["large", "small", "hot", "cold", "red", "blue", "old", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "nut", "pipe", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# ScaleGen's per-copy id stride: copy c offsets user_id and event_id by
# c * ID_STRIDE, so the key space grows while each user's history is kept
ID_STRIDE = 10_000_000
DAY_NS = 86_400 * 10**9
JAN_2024_NS = 1_704_067_200 * 10**9
DAY_MS = 86_400_000


def _write(table, path):
    pq.write_table(table, path)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_ms(rng, start_day, n_days, n):
    # whole days since the epoch, as ms timestamps
    return (start_day + rng.integers(0, n_days, n)) * DAY_MS


def star_tables(rng, out, scale):
    """TPC-H-like star schema at `scale` (1.0 = 1500 customers)."""
    n_cust, n_supp = int(1500 * scale), max(10, int(100 * scale))
    n_part, n_ord = int(2000 * scale), int(15000 * scale)
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }), f"{out}/supplier.parquet")
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    }), f"{out}/part.parquet")
    # 1995-01-01 .. 2001-08-01
    odate = _days_ms(rng, 9131, 2404, n_ord)
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("ms")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    }), f"{out}/orders.parquet")
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    lno = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    flag = rng.integers(0, 3, n_li)
    _write(pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in flag],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(odate[okey] + rng.integers(1, 122, n_li) * DAY_MS,
                               pa.timestamp("ms")),
    }), f"{out}/lineitem.parquet")


def events(rng, n, n_users, days, copies=1):
    """`n` base events over `n_users` and `days`, then `copies` ScaleGen
    copies."""
    ts = np.sort(JAN_2024_NS + rng.integers(0, days * DAY_NS, n))
    user = rng.integers(0, n_users, n)
    etype = rng.integers(0, 5, n)
    value = np.round(rng.exponential(50.0, n), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
    eid = np.arange(n)
    off = np.repeat(np.arange(copies, dtype=np.int64) * ID_STRIDE, n)
    return pa.table({
        "event_id": pa.array(np.tile(eid, copies) + off, pa.int64()),
        "ts": pa.array(np.tile(ts, copies), pa.timestamp("ns")),
        "user_id": pa.array(np.tile(user, copies) + off, pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in np.tile(etype, copies)],
        "value": np.tile(value, copies),
        "props": props * copies,
    })


def doc_texts(rng, n):
    """Word-bag texts, 10-100 words each."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[at:at + k]))
        at += k
    return out


def documents(rng, n):
    """`n` documents; ~1% exact and ~3% near copies of earlier ones."""
    text = doc_texts(rng, n)
    kind = rng.random(n)
    for i in range(1, n):
        if kind[i] < 0.04:
            src = text[rng.integers(0, i)].split(" ")
            if kind[i] >= 0.01:
                src[rng.integers(0, len(src))] = VOCAB[rng.integers(0, len(VOCAB))]
            text[i] = " ".join(src)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": text,
        "lang": [LANGS[i] for i in rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def unit_vectors(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def embeddings(rng, n):
    v = unit_vectors(rng, n)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


# Input sizes per workload. raster_x10: 1,000 events over 60 users and
# 2 days, scaled out 10x by the ScaleGen scheme (10,000 events, 600
# users; 2 days keep every user_id % 4 series dense enough for 36-hour
# windows), and the star schema at 750 customers. store_rw: 2,000
# documents and 1,000 embeddings; the stores are built over 80% and the
# rest arrives as append batches.
RASTER_EVENTS, RASTER_USERS, RASTER_DAYS, RASTER_COPIES = 1_000, 60, 2, 10
RASTER_STAR = 0.5
STORE_DOCS, STORE_VECS = 2_000, 1_000


def generate(workload, seed, out):
    """Write the workload's tables for `seed` under `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    if workload == "raster_x10":
        star_tables(rng, out, RASTER_STAR)
        _write(events(rng, RASTER_EVENTS, RASTER_USERS, RASTER_DAYS, RASTER_COPIES),
               f"{out}/events.parquet")
    elif workload == "store_rw":
        _write(documents(rng, STORE_DOCS), f"{out}/documents.parquet")
        _write(embeddings(rng, STORE_VECS), f"{out}/embeddings.parquet")
    else:
        raise ValueError(f"unknown workload {workload}")


def table_rows(out):
    """Total rows over the parquet tables written under `out`."""
    return sum(pq.ParquetFile(os.path.join(out, f)).metadata.num_rows
               for f in sorted(os.listdir(out)) if f.endswith(".parquet"))
