"""Seeded input generator for the benchmark workloads.

Writes one parquet table per name, with the schemas and value domains of
the TPC-H-ish test tables the program's queries are written against
(region, nation, customer, supplier, part, orders, lineitem, documents).
Files are written with pyarrow, so generation never goes through the
Hadoop local filesystem.

TPC-H tables are written only for workloads that read them:
  - the fact tables (customer, orders, lineitem) hold `fact_copies` copies
    of the base rows with a key offset per copy, the way examples/ScaleData scales
    a corpus; region, nation, supplier and part stay fixed;
  - l_partkey follows a Zipf(ZIPF) law over a seeded permutation of the
    part keys.
Every workload gets the document corpus (the traced run's kernel and dedup
probes read it), sized by its `gen` block in workloads.json: `docs`
documents with planted near-duplicates (5%: an earlier document plus one
token) and exact duplicates (0.2%), written `doc_copies` times; each
further copy gets a per-copy salt token after every second token, so
copies share no 3-shingles and the near-duplicate structure grows
linearly.

The same (workload, seed) always gives byte-identical tables.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
KEY_OFFSET = 1_000_000
ROW_GROUP = 65536
# base sizes (the sf0.01 shape); the fact tables are written as
# `fact_copies` key-offset copies
SUPPLIERS, PARTS = 1000, 20000
CUSTOMERS, ORDERS, LINEITEMS = 1500, 15000, 60000
ZIPF = 1.1  # l_partkey skew, so the sketch rows see heavy hitters
DUP_FRAC, EXACT_DUP_FRAC = 0.05, 0.002
TPCH_TABLES = {"region", "nation", "customer", "supplier", "part", "orders", "lineitem"}
PART_FILES = 8
SPLIT_TABLES = {"customer", "orders", "lineitem", "documents"}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

ORDER_DAY0 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404   # through 2001-08-01
SHIP_DAY0 = np.datetime64("1995-01-02", "D")
SHIP_DAYS = 2498    # through 2001-11-04


def load_spec(workload):
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)["workloads"]
    if workload not in spec:
        raise SystemExit(f"unknown workload {workload!r}; known: {sorted(spec)}")
    return spec[workload]


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, day0, span, n):
    d = day0 + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def zipf_keys(rng, domain, n):
    """n keys in [0, domain), Zipf(ZIPF) over a seeded permutation of the
    domain (so the hot keys differ per seed)."""
    ranks = np.arange(1, domain + 1, dtype=np.float64)
    p = ranks ** -ZIPF
    p /= p.sum()
    perm = rng.permutation(domain)
    return perm[rng.choice(domain, n, p=p)]


def names(prefix, keys):
    return pa.array([f"{prefix}#{k:09d}" for k in keys], pa.string())


def dims(rng):
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    ns = SUPPLIERS
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": names("Supplier", range(ns)),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, ns)})
    npart = PARTS
    pk = np.arange(npart)
    part = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, npart), rng.integers(0, 8, npart))], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)],
                            pa.string()),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, npart)],
                           pa.string()),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    return {"region": region, "nation": nation, "supplier": supplier,
            "part": part}


def facts(rng, copies):
    """Base customer/orders/lineitem, then `copies` key-offset replicas."""
    nc, no, nl = CUSTOMERS, ORDERS, LINEITEMS
    customer = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": names("Customer", range(nc)),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)],
                                 pa.string())})
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
                                  pa.string()),
        "o_totalprice": money(rng, 1000.0, 500000.0, no),
        "o_orderdate": days(rng, ORDER_DAY0, ORDER_DAYS, no),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, no)],
                                    pa.string())})
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(zipf_keys(rng, PARTS, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, SUPPLIERS, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
                                 pa.string()),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)],
                                 pa.string()),
        "l_shipdate": days(rng, SHIP_DAY0, SHIP_DAYS, nl)})

    def replicate(t, cols):
        parts = []
        for c in range(copies):
            off = t
            for name in cols:
                i = off.schema.get_field_index(name)
                off = off.set_column(i, name, pa.array(
                    t.column(name).to_numpy() + c * KEY_OFFSET, pa.int64()))
            parts.append(off)
        return pa.concat_tables(parts)

    return {"customer": replicate(customer, ["c_custkey"]),
            "orders": replicate(orders, ["o_orderkey", "o_custkey"]),
            "lineitem": replicate(lineitem, ["l_orderkey"])}


def documents(rng, g):
    n = g["docs"]
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)])
             for k in rng.integers(10, 101, n)]
    # planted duplicates: a near-duplicate is an earlier document plus one
    # token (3-shingle Jaccard ~0.95-0.99); an exact one is a verbatim copy
    for frac, suffix in ((DUP_FRAC, " dup"), (EXACT_DUP_FRAC, "")):
        picks = rng.choice(np.arange(1, n), int(round(frac * n)), replace=False)
        for i in picks:
            texts[i] = texts[int(rng.integers(0, i))] + suffix
    langs = np.array(LANGS)[rng.choice(5, n, p=LANG_P)]
    ids = np.arange(n)
    out_ids, out_texts, out_langs, out_src = [], [], [], []
    for c in range(g["doc_copies"]):
        for i in range(n):
            t = texts[i]
            if c:
                toks = t.split(" ")
                t = " ".join(w + f" zcp{c}z" if j % 2 == 1 else w
                             for j, w in enumerate(toks))
            out_texts.append(t)
        out_ids.append(ids + c * KEY_OFFSET)
        out_langs.append(langs)
        out_src.append(np.array([f"src{i % 20}" for i in ids]))
    return {"documents": pa.table({
        "doc_id": pa.array(np.concatenate(out_ids), pa.int64()),
        "text": pa.array(out_texts, pa.string()),
        "lang": pa.array(np.concatenate(out_langs), pa.string()),
        "source": pa.array(np.concatenate(out_src), pa.string()),
        "n_chars": pa.array([len(t) for t in out_texts], pa.int64())})}


def generate(workload, seed, out_dir):
    """Write the workload's tables into out_dir; return {table: rows}."""
    spec = load_spec(workload)
    g = spec["gen"]
    # one independent stream per table group, so resizing one group
    # leaves the others' values unchanged
    ss = np.random.SeedSequence([seed, 0x5EED])
    r_dims, r_facts, r_docs = (np.random.default_rng(s) for s in ss.spawn(3))
    # the corpus is always written: the traced run's kernel and dedup
    # probes read it on every workload
    tables = documents(r_docs, g)
    if set(spec["tables"]) & TPCH_TABLES:
        tables.update(dims(r_dims))
        tables.update(facts(r_facts, g["fact_copies"]))
    rows = {}
    for name, t in sorted(tables.items()):
        # fact tables and the corpus are directories of part files, so
        # scans split across cores the way multi-file tables do
        path = os.path.join(out_dir, f"{name}.parquet")
        parts = PART_FILES if name in SPLIT_TABLES else 1
        os.makedirs(path)
        step = -(-t.num_rows // parts)
        for i in range(parts):
            pq.write_table(t.slice(i * step, step),
                           os.path.join(path, f"part-{i:05d}.parquet"),
                           row_group_size=ROW_GROUP)
        rows[name] = t.num_rows
    return rows


if __name__ == "__main__":
    if len(sys.argv) != 4:
        raise SystemExit(__doc__)
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
