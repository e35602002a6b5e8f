"""Seeded input generators. The same seed always gives byte-identical inputs.

The shapes follow the sf0.1 tables the engine's own bench uses (a TPC-H-like
star schema plus a `documents` corpus): same columns, types and row counts,
values drawn from a numpy Generator seeded with the workload seed.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts
N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_DOCS = 5_000

NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
BRANDS = [f"Brand#{a}{b}" for a in range(1, 6) for b in range(1, 6)]
TYPES = [f"{a} {b}" for a in ("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY")
         for b in ("ANODIZED TIN", "BURNISHED COPPER", "PLATED STEEL",
                   "POLISHED BRASS", "BRUSHED NICKEL")]
# the sf0.1 corpus vocabulary: 30 words drawn uniformly
WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EPOCH_1992_US = 694_224_000_000_000  # 1992-01-01 in epoch micros
DAY_US = 86_400_000_000


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def tpch(out_dir, seed):
    """sf0.1 star schema, one parquet file per table: `<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, 1)
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), f"{out_dir}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": NATIONS,
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(1, N_CUSTOMER + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, N_CUSTOMER + 1)],
        "c_nationkey": r.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, N_CUSTOMER)]}),
        f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(1, N_SUPPLIER + 1, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, N_SUPPLIER + 1)],
        "s_nationkey": r.integers(0, 25, N_SUPPLIER).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, N_SUPPLIER), 2)}),
        f"{out_dir}/supplier.parquet")
    _write(pa.table({
        "p_partkey": np.arange(1, N_PART + 1, dtype=np.int64),
        "p_name": [f"part {i}" for i in range(1, N_PART + 1)],
        "p_brand": np.array(BRANDS)[r.integers(0, len(BRANDS), N_PART)],
        "p_type": np.array(TYPES)[r.integers(0, len(TYPES), N_PART)],
        "p_size": r.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(r.uniform(900.0, 2100.0, N_PART), 2)}),
        f"{out_dir}/part.parquet")
    okeys = np.arange(1, N_ORDERS + 1, dtype=np.int64)
    ocust = orders_custkeys(r, N_ORDERS)
    odate = EPOCH_1992_US + r.integers(0, 2400, N_ORDERS) * DAY_US
    _write(pa.table({
        "o_orderkey": okeys,
        "o_custkey": ocust,
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(r.uniform(900.0, 500000.0, N_ORDERS), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, N_ORDERS)]}),
        f"{out_dir}/orders.parquet")
    lines = r.integers(1, 8, N_ORDERS)  # 1..7 lines per order, ~600k rows
    n = int(lines.sum())
    lkey = np.repeat(okeys, lines)
    lnum = (np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    qty = r.integers(1, 51, n).astype(np.float64)
    _write(pa.table({
        "l_orderkey": lkey,
        "l_partkey": r.integers(1, N_PART + 1, n).astype(np.int64),
        "l_suppkey": r.integers(1, N_SUPPLIER + 1, n).astype(np.int64),
        "l_linenumber": lnum.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n), 2),
        "l_discount": np.round(r.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n)],
        "l_shipdate": pa.array(np.repeat(odate, lines)
                               + r.integers(1, 122, n) * DAY_US, pa.timestamp("us"))}),
        f"{out_dir}/lineitem.parquet")
    return {"lineitem_rows": n, "orders_rows": N_ORDERS}


def orders_custkeys(r, n):
    # two thirds of customers place orders (the TPC-H rule), unevenly
    active = r.permutation(np.arange(1, N_CUSTOMER + 1, dtype=np.int64))[: N_CUSTOMER * 2 // 3]
    return active[r.zipf(1.3, n) % len(active)]


def _sf01_corpus(seed):
    """The sf0.1 corpus shape: 5,000 docs of 7..96 uniform words; about 5%
    are near-duplicate variants (an earlier doc plus the word `dup`) and a
    handful are exact copies. Returns (texts, cluster id per doc, the
    clusters that hold an exact copy)."""
    r = _rng(seed, 3)
    texts, cluster, exact = [], [], set()
    for i in range(N_DOCS):
        u = r.random()
        if i > 10 and u < 0.0016:
            j = int(r.integers(0, i))
            texts.append(texts[j])
            cluster.append(cluster[j])
            exact.add(cluster[j])
        elif i > 10 and u < 0.05:
            j = int(r.integers(0, i))
            texts.append(texts[j] + " dup")
            cluster.append(cluster[j])
        else:
            n = int(r.integers(7, 97))
            texts.append(" ".join(np.array(WORDS)[r.integers(0, len(WORDS), n)]))
            cluster.append(i)
    return texts, np.array(cluster), exact


def documents(out_dir, seed, n_docs=N_DOCS):
    """`documents.parquet` (doc_id, text, lang, source, n_chars). Smaller
    corpora sample whole near-duplicate clusters of the sf0.1 shape, so the
    duplicate density stays that of the full corpus; every cluster that
    holds an exact copy comes first, so exact dedup always has work."""
    os.makedirs(out_dir, exist_ok=True)
    texts, cluster, exact = _sf01_corpus(seed)
    r = _rng(seed, 4)
    keep = np.arange(N_DOCS)
    if n_docs < N_DOCS:
        picked, total = [], 0
        members = {}
        for i, c in enumerate(cluster):
            members.setdefault(int(c), []).append(i)
        order = r.permutation(sorted(members))
        for c in sorted(exact) + [c for c in order if c not in exact]:
            if total >= n_docs:
                break
            picked.extend(members[int(c)])
            total += len(members[int(c)])
        keep = np.sort(np.array(picked))
    t = [texts[i] for i in keep]
    _write(pa.table({
        "doc_id": keep.astype(np.int64),
        "text": t,
        "lang": np.array(LANGS)[r.choice(len(LANGS), len(keep), p=LANG_P)],
        "source": [f"src{i % 20}" for i in keep],
        "n_chars": np.array([len(x) for x in t], dtype=np.int64)}),
        f"{out_dir}/documents.parquet")
    return len(keep)
