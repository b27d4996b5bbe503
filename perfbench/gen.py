"""Seeded generator for the benchmark's input tables.

The program reads the ten tables of its test data layout (TPC-H-like star
schema plus the `events`, `documents` and `embeddings` extension tables) as
one parquet file each. This module writes that layout at a given scale
factor from a seed, following the shapes and distributions of the
reference test data:

- events: 1,000,000 * sf rows, `event_id` contiguous from 0 (so blocks of
  8 rows are contiguous heights), time-ordered `ts` over 30 days, 15,000 *
  sf uniform users, five uniform event types;
- documents: 50,000 * sf bag-of-words texts over a 30-word vocabulary,
  5% of them near-duplicates of another document with " dup" appended;
- embeddings: 20,000 * sf unit vectors in 64 dimensions with ten labels;
- region / nation / customer / supplier / part / orders / lineitem with
  TPC-H-style keys and value ranges.

The same (seed, sf) always gives byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

EVENT_TYPES = np.array(["purchase", "click", "view", "signup", "error"])
WORDS = np.array(("spark window merge table column vector stream value data "
                  "small join filter big group hash customer sort order slow "
                  "line part fast row the agg key query a scan batch").split())
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
ADJ = np.array(["large", "hot", "blue", "small", "red", "green", "cold",
                "old"])
NOUN = np.array(["ring", "bolt", "nut", "screw", "gear", "pipe", "valve",
                 "spring"])
PTYPES = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM",
                   "PROMO"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

EPOCH_2024_US = 1704067200 * 1_000_000
DAY_US = 86_400 * 1_000_000
EPOCH_1995_MS = 788918400 * 1000
DAY_MS = 86_400 * 1000


def rows(sf, base, floor=1):
    return max(floor, int(round(base * sf)))


def events(rng, sf):
    n = rows(sf, 1_000_000, 64)
    users = rows(sf, 15_000, 15)
    ts = np.sort(rng.integers(0, 30 * DAY_US, n)) + EPOCH_2024_US
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng, sf):
    n = rows(sf, 50_000, 20)
    lens = rng.integers(10, 101, n)
    words = WORDS[rng.integers(0, len(WORDS), int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - k:e]) for e, k in zip(ends, lens)]
    n_dup = n // 20
    dups = rng.choice(n, size=2 * n_dup, replace=False)
    for src, dst in zip(dups[:n_dup], dups[n_dup:]):
        texts[dst] = texts[src] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, sf):
    n = rows(sf, 20_000, 20)
    m = rng.standard_normal((n, 64)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, 64 * n + 1, 64, dtype=np.int32)),
        pa.array(m.reshape(-1), type=pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def relational(rng, sf):
    n_cust, n_supp = rows(sf, 150_000, 15), rows(sf, 10_000, 10)
    n_part, n_ord = rows(sf, 200_000, 20), rows(sf, 1_500_000, 150)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
    }
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": pa.array(ck),
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, n_cust)])})
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(sk),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, n_supp))})
    pk = np.arange(n_part, dtype=np.int64)
    names = np.char.add(np.char.add(ADJ[rng.integers(0, 8, n_part)], " "),
                        NOUN[rng.integers(0, 8, n_part)])
    out["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array(names.astype(str)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(PTYPES[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) * 0.1, 2))})
    ok = np.arange(n_ord, dtype=np.int64)
    odate = EPOCH_1995_MS + rng.integers(0, 2404, n_ord) * DAY_MS
    out["orders"] = pa.table({
        "o_orderkey": pa.array(ok),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(odate * 1000, type=pa.timestamp("us")),
        "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n_ord)])})
    n_li = 4 * n_ord
    l_order = rng.integers(0, n_ord, n_li, dtype=np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(
            (odate[l_order] + rng.integers(1, 122, n_li) * DAY_MS) * 1000,
            type=pa.timestamp("us"))})
    return out


def generate(out_dir, seed, sf, tables=TABLES):
    """Write the requested tables as `<out_dir>/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    seed &= (1 << 64) - 1  # numpy seeds are non-negative
    built = {}
    for i, name in enumerate(TABLES):
        if name not in tables:
            continue
        rng = np.random.default_rng([seed, i])
        if name in ("events", "documents", "embeddings"):
            built[name] = globals()[name](rng, sf)
        elif name not in built:
            built.update(relational(np.random.default_rng([seed, 99]), sf))
    for name in tables:
        pq.write_table(built[name], os.path.join(out_dir, f"{name}.parquet"))
