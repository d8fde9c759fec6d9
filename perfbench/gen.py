"""Seeded input generator for the benchmark.

Everything the program reads is made here from the workload seed: the
TPC-H-like base tables the declared queries run on, the CDC waves of the
trickle workload and the restatement batches of the bulk reload. The same
seed gives byte-identical files; the program sees only these files.

The tables follow the column names, types and value domains of the
project's test data (one parquet file per table), so the declared queries
and their oracle SQL run on them unchanged.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["large", "small", "hot", "cold", "blue", "red", "old", "new"]
NOUN = ["ring", "bolt", "plate", "gear", "nut", "screw", "pipe", "valve"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]


# The base tables are the same for every run: the workload seed chooses
# what changes (wave keys, idle triggers, query order), not the data the
# changes apply to, so seeds differ in that and nothing else.
BASE_SEED = 42


def rng(seed, stream):
    """Independent generator per (seed, named stream)."""
    return np.random.Generator(np.random.PCG64([seed, sum(map(ord, stream))]))


def write(path, columns):
    """One parquet file with a single row group, written deterministically."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(columns), path, compression="snappy",
                   write_statistics=True, store_schema=False)


def days(r, n, start, end):
    span = (datetime.date.fromisoformat(end) -
            datetime.date.fromisoformat(start)).days
    base = np.datetime64(start, "us")
    return base + r.integers(0, span + 1, n).astype("timedelta64[D]")


def pick(r, values, n):
    return pa.array(np.asarray(values, dtype=object)[r.integers(0, len(values), n)],
                    pa.string())


def money(r, n, lo, hi):
    return np.round(r.uniform(lo, hi, n), 2)


def customer_cols(r, keys, n_nations=25):
    n = len(keys)
    return {
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys], pa.string()),
        "c_nationkey": pa.array(r.integers(0, n_nations, n), pa.int32()),
        "c_acctbal": pa.array(money(r, n, -999.99, 9999.99), pa.float64()),
        "c_mktsegment": pick(r, SEGMENTS, n),
    }


def orders_cols(r, keys, n_cust):
    n = len(keys)
    return {
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": pick(r, ["F", "O", "P"], n),
        "o_totalprice": pa.array(money(r, n, 1000.0, 500000.0), pa.float64()),
        "o_orderdate": pa.array(days(r, n, "1995-01-01", "2001-08-01"),
                                pa.timestamp("us")),
        "o_orderpriority": pick(r, PRIORITIES, n),
    }


def lineitem_cols(r, orderkeys, linenumbers, n_part, n_supp):
    n = len(orderkeys)
    return {
        "l_orderkey": pa.array(orderkeys, pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(linenumbers, pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(money(r, n, 900.0, 105000.0)),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
        "l_returnflag": pick(r, ["A", "N", "R"], n),
        "l_linestatus": pick(r, ["F", "O"], n),
        "l_shipdate": pa.array(days(r, n, "1995-01-02", "2001-11-04"),
                               pa.timestamp("us")),
    }


def sizes(sf):
    return {"customer": int(150000 * sf), "supplier": max(int(10000 * sf), 10),
            "part": int(200000 * sf), "orders": int(1500000 * sf),
            "lineitem": int(6000000 * sf), "events": int(1000000 * sf),
            "documents": int(50000 * sf), "embeddings": int(20000 * sf)}


def base_tables(out, sf, seed):
    """The ten query tables at scale factor `sf` under `out/<name>.parquet`."""
    n = sizes(sf)
    r = rng(seed, "region")
    write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(f"{out}/customer.parquet",
          customer_cols(rng(seed, "customer"), np.arange(n["customer"])))
    r = rng(seed, "supplier")
    k = np.arange(n["supplier"])
    write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(k, pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in k], pa.string()),
        "s_nationkey": pa.array(r.integers(0, 25, len(k)), pa.int32()),
        "s_acctbal": pa.array(money(r, len(k), -999.99, 9999.99))})
    r = rng(seed, "part")
    k = np.arange(n["part"])
    write(f"{out}/part.parquet", {
        "p_partkey": pa.array(k, pa.int64()),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(r.integers(0, 8, len(k)), r.integers(0, 8, len(k)))]),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, len(k))]),
        "p_type": pick(r, PTYPES, len(k)),
        "p_size": pa.array(r.integers(1, 51, len(k)), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (k % 1000) / 10.0, 1))})
    write(f"{out}/orders.parquet", orders_cols(
        rng(seed, "orders"), np.arange(n["orders"]), n["customer"]))
    r = rng(seed, "lineitem")
    write(f"{out}/lineitem.parquet", lineitem_cols(
        r, r.integers(0, n["orders"], n["lineitem"]),
        r.integers(1, 8, n["lineitem"]), n["part"], n["supplier"]))
    r = rng(seed, "events")
    m = n["events"]
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        r.integers(0, 30 * 86400 * 10**6, m)).astype("timedelta64[us]")
    write(f"{out}/events.parquet", {
        "event_id": pa.array(np.arange(m), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(int(15000 * sf), 10), m), pa.int64()),
        "event_type": pick(r, EVENT_TYPES, m),
        "value": pa.array(np.round(r.exponential(50.0, m), 2)),
        "props": pa.array([f'{{"k": {v}}}' for v in r.integers(0, 100, m)])})
    r = rng(seed, "documents")
    m = n["documents"]
    texts = [" ".join(np.asarray(WORDS, dtype=object)[r.integers(0, len(WORDS), L)])
             for L in r.integers(10, 101, m)]
    # a share of near-duplicates: an earlier document with one word appended
    for i in range(1, m, 20):
        texts[i] = texts[int(r.integers(0, i))] + " dup"
    write(f"{out}/documents.parquet", {
        "doc_id": pa.array(np.arange(m), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pick(r, LANGS, m),
        "source": pa.array([f"src{s}" for s in r.integers(0, 20, m)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    r = rng(seed, "embeddings")
    m = n["embeddings"]
    labels = r.integers(0, 10, m)
    centers = r.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + r.normal(0.0, 0.6, (m, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(f"{out}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


# ---- the query mix ----------------------------------------------------------

# Scale of the measured tables and of the set-up's warm pass.
QUERY_SF = 0.01
WARM_SF = 0.001


# ---- the CDC trickle ------------------------------------------------------

# Rows per entity in the trickle's initial load and the share of them each
# wave changes.
CDC_ROWS = {"orders": 20000, "customer": 2000, "lineitem": 40000}
CDC_WAVE_SHARE = 0.005
# Triggers come in blocks of BLOCK: one finds no new files (which one is
# seeded), the others land a wave each. A run measures whole blocks, so
# every run has the same share of idle triggers.
BLOCK = 2
# Blocks generated; a run stops earlier when its time is up.
CDC_BLOCKS = 40


def with_op(cols, op):
    n = len(next(iter(cols.values())))
    return {**cols, "op": pa.array([op] * n, pa.string())}


def cdc_base(src, seed):
    """Initial load of the three trickle entities under `src/<entity>/`."""
    n = CDC_ROWS
    write(f"{src}/customer/w0000.parquet",
          with_op(customer_cols(rng(seed, "cdc-customer"), np.arange(n["customer"])), "I"))
    write(f"{src}/orders/w0000.parquet", with_op(orders_cols(
        rng(seed, "cdc-orders"), np.arange(n["orders"]), n["customer"]), "I"))
    r = rng(seed, "cdc-lineitem")
    ok = np.repeat(np.arange(n["lineitem"] // 4), 4)
    write(f"{src}/lineitem/w0000.parquet", with_op(lineitem_cols(
        r, ok, np.tile(np.arange(1, 5), n["lineitem"] // 4), 2000, 100), "I"))


def cdc_schedule(seed):
    """Per block, per trigger: True when it is idle (no new files)."""
    r = rng(seed, "cdc-schedule")
    blocks = []
    for _ in range(CDC_BLOCKS):
        block = [False] * BLOCK
        block[int(r.integers(0, BLOCK))] = True
        blocks.append(block)
    return blocks


def cdc_wave(stage, seed, wave):
    """Wave `wave` (1-based) of the trickle under `stage/<entity>/`.

    Each wave changes CDC_WAVE_SHARE of every entity's rows. Orders carry
    updates, new keys, deletes (op 'D') and rows that violate the
    `o_totalprice IS NOT NULL` expectation; customers carry attribute
    updates; line items carry quantity and price updates. Keys are unique
    within a wave, and the seed chooses which keys each wave touches."""
    r = rng(seed, f"cdc-wave-{wave}")
    n = CDC_ROWS
    k = max(int(n["orders"] * CDC_WAVE_SHARE), 8)
    keys = r.choice(n["orders"], k, replace=False)
    n_upd, n_del = k * 6 // 10, k // 10
    n_bad = k - n_upd - n_del
    fresh = n["orders"] + (wave - 1) * k + np.arange(k // 4)
    cols = orders_cols(r, np.concatenate([keys, fresh]), n["customer"])
    ops = ["U"] * n_upd + ["D"] * n_del + ["U"] * n_bad + ["I"] * len(fresh)
    price = cols["o_totalprice"].to_pylist()
    for i in range(n_upd + n_del, n_upd + n_del + n_bad):
        price[i] = None
    cols["o_totalprice"] = pa.array(price, pa.float64())
    write(f"{stage}/orders/w{wave:04d}.parquet", {**cols, "op": pa.array(ops)})
    kc = max(int(n["customer"] * CDC_WAVE_SHARE), 4)
    ckeys = np.sort(r.choice(n["customer"], kc, replace=False))
    write(f"{stage}/customer/w{wave:04d}.parquet",
          with_op(customer_cols(r, ckeys), "U"))
    kl = max(int(n["lineitem"] * CDC_WAVE_SHARE), 8)
    lk = np.sort(r.choice(n["lineitem"], kl, replace=False))
    write(f"{stage}/lineitem/w{wave:04d}.parquet", with_op(lineitem_cols(
        r, lk // 4, lk % 4 + 1, 2000, 100), "U"))


# ---- the bulk reload -------------------------------------------------------

BULK_ROWS = 150000
# Batches generated after the initial load; a run stops earlier when its
# time is up.
BULK_BATCHES = 4


def bulk_batch(stage, seed, batch):
    """Batch `batch` of the reload: a restatement of BULK_ROWS line items.

    Nine in ten keys restate rows of the original key space with new
    values; the rest are new keys. Keys are unique within a batch."""
    r = rng(seed, f"bulk-{batch}")
    keys = r.choice(BULK_ROWS, BULK_ROWS * 9 // 10, replace=False)
    fresh = BULK_ROWS + batch * BULK_ROWS + np.arange(BULK_ROWS // 10)
    k = np.sort(np.concatenate([keys, fresh]))
    write(f"{stage}/lineitem/b{batch:04d}.parquet",
          lineitem_cols(r, k // 4, k % 4 + 1, 20000, 1000))
