"""Seeded, vectorized input generator for the benchmark.

Writes the fixture schema the declared queries read (one single-row-group
parquet file per table, as the reference fixtures are) with the
distributions of the repository's scale-fixture generator: uniform
10-100-word documents over the 30-word vocabulary, L2-normalized 64-dim
gaussian embeddings, Poisson(4) lines per order, and -- when zipf_s > 0 --
Zipf-skewed sources, boilerplate duplicates, event users and order
customers. Every array is drawn whole with numpy (no per-row inserts), so
generation stays a small, steady part of set-up.

The same (seed, zipf_s, scales) always yields byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array(["a", "agg", "batch", "big", "column", "customer", "data",
                  "fast", "filter", "group", "hash", "join", "key", "line",
                  "merge", "order", "part", "query", "row", "scan", "slow",
                  "small", "sort", "spark", "stream", "table", "the",
                  "value", "vector", "window", "dup"])
LANGS = np.array(["en", "fr", "es", "de", "zh"])
LANG_P = [0.4118, 0.1484, 0.1488, 0.1404, 0.1506]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = np.array(["large", "hot", "blue", "old", "cold", "small", "red",
                     "new"])
PART_NOUN = np.array(["ring", "bolt", "plate", "gear", "nut", "pipe",
                      "valve", "screw"])
PART_TYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                       "PROMO"])
STATUSES = np.array(["O", "P", "F"])
PRIOS = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                  "5-LOW"])
SEGS = np.array(["MACHINERY", "BUILDING", "FURNITURE", "HOUSEHOLD",
                 "AUTOMOBILE"])
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])

# base row counts at scale 1 (the sf0.1 fixture shape)
BASE = {"docs": 5000, "vecs": 2000, "events": 100000, "orders": 150000,
        "parts": 20000, "suppliers": 1000}


def zipf_p(k, s):
    w = np.arange(1, k + 1, dtype=float) ** (-s)
    return w / w.sum()


def _write(out, name, cols):
    t = pa.table(cols)
    pq.write_table(t, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(1, t.num_rows))


def _texts(rng, n):
    """n texts of 10-100 vocabulary words, with the rare 'dup' token at
    its observed ~0.09% rate; words are drawn as one flat array."""
    lens = rng.integers(10, 101, size=n)
    idx = rng.integers(0, 30, size=int(lens.sum()))
    idx[rng.random(size=idx.size) < 0.0009] = 30
    words = VOCAB[idx]
    ends = np.cumsum(lens)
    return [" ".join(words[e - l:e]) for e, l in zip(ends, lens)]


def documents(out, n, rng, zipf_s):
    texts = _texts(rng, n)
    langs = LANGS[rng.choice(5, size=n, p=LANG_P)]
    if zipf_s > 0:
        sources = rng.choice(20, size=n, p=zipf_p(20, zipf_s))
        dup = rng.random(size=n) < 0.10
        # boilerplate pool: which text a duplicate copies is itself
        # Zipf-picked, so duplicated mass concentrates on one hot string
        pool = _texts(rng, 20)
        pick = rng.choice(20, size=n, p=zipf_p(20, zipf_s))
        for i in np.nonzero(dup)[0]:
            texts[i] = pool[pick[i]]
    else:
        sources = rng.integers(0, 20, size=n)
        dup = np.nonzero(rng.random(size=n) < 0.0016)[0]
        for i in dup[dup > 0]:
            texts[i] = texts[rng.integers(0, i)]
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs),
        "source": pa.array(np.char.add("src", sources.astype(str))),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })


def embeddings(out, m, rng):
    v = rng.standard_normal((m, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, 64 * m + 1, 64, dtype=np.int32))
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(m, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, size=m).astype(np.int32)),
    })


def events(out, n, rng, zipf_s):
    users = max(1, n // 67)
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + rng.integers(0, 30 * 86400 * 1_000_000, size=n)
          .astype("timedelta64[us]"))
    uid = (rng.choice(users, size=n, p=zipf_p(users, zipf_s)) if zipf_s > 0
           else rng.integers(0, users, size=n))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(uid.astype(np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, size=n)]),
        "value": pa.array(np.round(np.abs(rng.standard_normal(n)) * 120.0, 2)),
        "props": pa.array(np.char.add(np.char.add(
            '{"k": ', rng.integers(0, 100, size=n).astype(str)), "}")),
    })


def _dates(rng, n, end):
    t0 = np.datetime64("1995-01-01", "s")
    span = int((np.datetime64(end, "s") - t0) / np.timedelta64(1, "s"))
    return (t0 + rng.integers(0, span, size=n).astype("timedelta64[s]")
            ).astype("datetime64[us]")


def star(out, n_orders, n_parts, n_supp, rng, zipf_s):
    n_cust = max(1, n_orders // 10)
    cust = (rng.choice(n_cust, size=n_orders, p=zipf_p(n_cust, zipf_s))
            if zipf_s > 0 else rng.integers(0, n_cust, size=n_orders))
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(cust.astype(np.int64)),
        "o_orderstatus": pa.array(STATUSES[rng.integers(0, 3, size=n_orders)]),
        "o_totalprice": pa.array(
            np.round(1000.0 + rng.random(n_orders) * 499000.0, 2)),
        "o_orderdate": pa.array(_dates(rng, n_orders, "2001-08-01"),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(PRIOS[rng.integers(0, 5, size=n_orders)]),
    })
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array(np.char.add("Customer#", np.char.zfill(
            np.arange(n_cust).astype(str), 9))),
        "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust)
                                .astype(np.int32)),
        "c_acctbal": pa.array(
            np.round(-1000.0 + rng.random(n_cust) * 11000.0, 2)),
        "c_mktsegment": pa.array(SEGS[rng.integers(0, 5, size=n_cust)]),
    })
    # lines per order ~ Poisson(4), empty orders dropped; (orderkey,
    # linenumber) is deliberately not unique, as in the reference fixtures
    per = rng.poisson(4.0, size=n_orders)
    n = int(per.sum())
    _write(out, "lineitem", {
        "l_orderkey": pa.array(np.repeat(np.arange(n_orders, dtype=np.int64),
                                         per)),
        "l_partkey": pa.array(rng.integers(0, n_parts, size=n)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, size=n)),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, size=n).astype(float)),
        "l_extendedprice": pa.array(
            np.round(900.0 + rng.random(n) * 104100.0, 2)),
        "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, size=n)]),
        "l_linestatus": pa.array(np.where(rng.random(n) < 0.5, "F", "O")),
        "l_shipdate": pa.array(_dates(rng, n, "2001-11-04"),
                               pa.timestamp("us")),
    })
    pk = np.arange(n_parts)
    _write(out, "part", {
        "p_partkey": pa.array(pk.astype(np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(
            PART_ADJ[rng.integers(0, 8, size=n_parts)], " "),
            PART_NOUN[rng.integers(0, 8, size=n_parts)])),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(
            1, 26, size=n_parts).astype(str))),
        "p_type": pa.array(PART_TYPES[rng.integers(0, 6, size=n_parts)]),
        "p_size": pa.array(rng.integers(1, 51, size=n_parts).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1)),
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array(np.char.add("Supplier#", np.char.zfill(
            np.arange(n_supp).astype(str), 9))),
        "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp)
                                .astype(np.int32)),
        "s_acctbal": pa.array(
            np.round(-1000.0 + rng.random(n_supp) * 11000.0, 2)),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })


def generate(out, seed, zipf_s, scales):
    """The tables a workload reads, under `out`. `scales` maps a table
    group -- "docs", "vecs", "events" or "star" (the eight star-schema
    tables) -- to a multiple of its sf0.1 row counts; groups it leaves out
    are not written."""
    os.makedirs(out, exist_ok=True)
    rng = [np.random.default_rng([seed, i]) for i in range(4)]
    if "docs" in scales:
        documents(out, int(BASE["docs"] * scales["docs"]), rng[0], zipf_s)
    if "vecs" in scales:
        embeddings(out, int(BASE["vecs"] * scales["vecs"]), rng[1])
    if "events" in scales:
        events(out, int(BASE["events"] * scales["events"]), rng[2], zipf_s)
    if "star" in scales:
        ss = scales["star"]
        star(out, int(BASE["orders"] * ss), int(BASE["parts"] * ss),
             max(1, int(BASE["suppliers"] * ss)), rng[3], zipf_s)
