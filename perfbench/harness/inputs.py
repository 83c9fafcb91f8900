"""Seeded input generation.

Every table and request list the program sees is drawn here from the
benchmark seed, so the same seed always gives byte-identical inputs. The
tables mimic the shapes of the repository's sf0.1 fixtures: a TPC-H-ish
orders/lineitem pair, a 5,000-document corpus of word soup over a fixed
30-word vocabulary with 5% near-duplicates marked "dup".
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

# rows per table at the fixtures' sf0.1 and sf0.01 scales
SCALES = {
    "sf0.1": dict(customers=15000, parts=20000, suppliers=1000,
                  orders=150000, lineitem=600000, documents=5000),
    "sf0.01": dict(customers=1500, parts=2000, suppliers=100, orders=15000,
                   lineitem=60000, documents=500),
}

EPOCH_1995 = np.datetime64("1995-01-01", "us")


def rng_for(seed, stream):
    """An independent generator per (seed, named stream): adding a stream
    never shifts the draws of another."""
    return np.random.Generator(np.random.PCG64(
        [int(seed) & 0xFFFFFFFF, sum(ord(c) * 131 ** i
                                     for i, c in enumerate(stream)) & 0xFFFFFFFF]))


def _days(rng, n):
    return EPOCH_1995 + (rng.integers(0, 2404, n) * 86400 * 10**6).astype("timedelta64[us]")


def orders_lineitem(seed, scale):
    s = SCALES[scale]
    r = rng_for(seed, "orders-" + scale)
    n = s["orders"]
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, s["customers"], n, dtype=np.int64)),
        "o_orderstatus": pa.array(r.choice(["O", "F", "P"], n)),
        "o_totalprice": pa.array(np.round(r.uniform(900, 400000, n), 2)),
        "o_orderdate": pa.array(_days(r, n)),
        "o_orderpriority": pa.array(r.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)),
    })
    r = rng_for(seed, "lineitem-" + scale)
    m = s["lineitem"]
    qty = r.integers(1, 51, m).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(r.integers(0, n, m, dtype=np.int64)),
        "l_partkey": pa.array(r.integers(0, s["parts"], m, dtype=np.int64)),
        "l_suppkey": pa.array(r.integers(0, s["suppliers"], m, dtype=np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, m, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * r.uniform(900, 2100, m), 2)),
        "l_discount": pa.array(r.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, m) / 100.0),
        "l_returnflag": pa.array(r.choice(["A", "N", "R"], m)),
        "l_linestatus": pa.array(r.choice(["O", "F"], m)),
        "l_shipdate": pa.array(_days(r, m)),
    })
    return orders, lineitem


def documents(seed, scale):
    n = SCALES[scale]["documents"]
    r = rng_for(seed, "documents-" + scale)
    lens = r.integers(10, 101, n)
    words = r.integers(0, len(VOCAB), int(lens.sum()))
    texts, at = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + ln]))
        at += ln
    # 5% near-duplicates: another (non-duplicate) document plus " dup"
    dups = r.choice(n, n // 20, replace=False)
    is_dup = np.zeros(n, bool)
    is_dup[dups] = True
    originals = np.flatnonzero(~is_dup)
    for d in dups:
        texts[d] = texts[r.choice(originals)] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(r.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def write_tables(seed, scale, out_dir):
    """The three fixture tables the battery rows read, as `<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    orders, lineitem = orders_lineitem(seed, scale)
    for name, t in (("orders", orders), ("lineitem", lineitem),
                    ("documents", documents(seed, scale))):
        pq.write_table(t, os.path.join(out_dir, name + ".parquet"))


def purchases(seed):
    """sf0.1 purchase records in a seeded arrival order: lineitem joined to
    orders as (customer, product, quantity), drawn like `orders_lineitem`
    draws those columns."""
    s = SCALES["sf0.1"]
    r = rng_for(seed, "purchases")
    cust_of_order = r.integers(0, s["customers"], s["orders"])
    m = s["lineitem"]
    cust = cust_of_order[r.integers(0, s["orders"], m)]
    prod = r.integers(0, s["parts"], m)
    qty = r.integers(1, 51, m)
    order = r.permutation(m)
    return cust[order], prod[order], qty[order]


def zipf_ranks(rng, n_items, size, s=0.99):
    """`size` draws of item ranks 0..n_items-1 with P(rank r) ~ 1/(r+1)^s."""
    w = 1.0 / np.arange(1, n_items + 1) ** s
    return rng.choice(n_items, size, p=w / w.sum())


def lookup_requests(seed, n, n_customers=15000):
    """The lookup mix as (instance, path) pairs, in blocks of 20 holding
    exactly 9 word-count point lookups, 9 Zipf-skewed purchase prefix
    scans and one miss of each, shuffled within the block."""
    r = rng_for(seed, "lookup-requests")
    hot = r.permutation(n_customers)           # rank -> customer id
    ranks = iter(zipf_ranks(r, n_customers, n))
    block = ["word"] * 9 + ["cust"] * 9 + ["word-miss", "cust-miss"]
    out = []
    while len(out) < n:
        for kind in r.permutation(block):
            inst = int(r.integers(0, 2))
            if kind == "word":
                path = f"/wordcount/{VOCAB[r.integers(0, len(VOCAB))]}"
            elif kind == "cust":
                path = f"/purchases/{hot[next(ranks)]}"
            elif kind == "word-miss":
                path = f"/wordcount/nosuchword{r.integers(0, 100)}"
            else:
                path = f"/purchases/{n_customers + int(r.integers(0, n_customers))}"
            out.append((inst, path))
    return out[:n]


def trickle(seed, n_records, n_lines, c, p):
    """Writes kept flowing during the lookup read phase: purchase records
    for existing (customer, product) pairs, and short lines over a fixed
    five-word subset, so every other word is never touched."""
    r = rng_for(seed, "trickle")
    idx = r.integers(0, len(c), n_records)
    sub = r.choice(len(VOCAB), 5, replace=False)
    lines = [" ".join(VOCAB[w] for w in r.choice(sub, 3)) for _ in range(n_lines)]
    return c[idx], p[idx], r.integers(1, 51, n_records), lines
