"""Seeded generator for the sql_board fixture tables.

Writes the ten TPC-H-ish tables the declared queries read (one parquet
file each, the layout `graft.Tables.t` loads) with the schemas and value
domains of the repository's fixture set: uniform keys with referential
integrity, two-decimal prices, day-granular dates, a time-ordered event
stream with small JSON props, a 31-word document vocabulary and unit
64-d label-clustered embeddings. The same (seed, sf) always gives the
same bytes.

Usage: python3 fixtures.py <out_dir> <seed> [sf]
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the row query stream fast spark line small customer group value "
         "hash batch sort data big filter dup key agg scan slow table part "
         "merge window order column join vector").split()
ADJ = "blue old small new hot large cold red".split()
NOUN = "widget gizmo ring gear bolt plate anvil rod".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

US_PER_DAY = 86_400_000_000


def days_since(y, m, d):
    return (dt.date(y, m, d) - dt.date(1970, 1, 1)).days


def day_ts(days):
    """int day offsets -> timestamp[us] (no time zone, as the fixtures)."""
    return pa.array(days.astype(np.int64) * US_PER_DAY, type=pa.timestamp("us"))


def pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out, seed, sf=0.01):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_li = max(10, int(6_000_000 * sf))
    n_evt = max(10, int(1_000_000 * sf))
    n_user = max(10, int(15_000 * sf))
    n_doc = max(10, int(50_000 * sf))
    n_vec = max(10, int(20_000 * sf))

    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pick(rng, SEGMENTS, n_cust)})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, n_supp))})
    names = np.asarray([f"{a} {b}" for a in ADJ for b in NOUN], dtype=object)
    write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pick(rng, PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1))})
    d_ord0, d_ord1 = days_since(1995, 1, 1), days_since(2001, 8, 1)
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": day_ts(rng.integers(d_ord0, d_ord1 + 1, n_ord)),
        "o_orderpriority": pick(rng, PRIORITIES, n_ord)})
    d_ship0, d_ship1 = days_since(1995, 1, 2), days_since(2001, 11, 4)
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(money(rng, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": pick(rng, ["F", "O"], n_li),
        "l_shipdate": day_ts(rng.integers(d_ship0, d_ship1 + 1, n_li))})
    # a time-ordered stream over 30 days: strictly increasing microseconds
    t0 = days_since(2024, 1, 1) * US_PER_DAY
    span = 30 * US_PER_DAY
    ts = t0 + np.sort(rng.integers(0, span - n_evt, n_evt)) + np.arange(n_evt)
    write(out, "events", {
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": pa.array(ts.astype(np.int64), type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_evt).astype(np.int64)),
        "event_type": pick(rng, EVENT_TYPES, n_evt),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)])})
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)])
             for k in rng.integers(10, 100, n_doc)]
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pick(rng, LANGS, n_doc),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array(np.asarray([len(t) for t in texts], dtype=np.int64))})
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.5 + rng.normal(0.0, 1.0, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]) if len(sys.argv) > 3 else 0.01)
