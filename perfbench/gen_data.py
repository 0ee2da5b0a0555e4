"""Seeded generator for the benchmark's dataset directories.

Writes the ten tables the program reads (TPC-H-style star schema plus the
`events` stream and the `documents`/`embeddings` corpus), one parquet file
each, with the schemas and value ranges of the program's test fixtures.
The same (scale, seed) always gives byte-identical files.

    python3 perfbench/gen_data.py <out_dir> <scale> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "green", "hot", "large", "red", "small", "steel", "white"]
NOUNS = ["bolt", "gear", "nut", "pin", "ring", "screw", "spring", "washer"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = ("a the data table query scan filter join group agg sort hash key value "
         "row column batch stream window merge order line part customer vector "
         "spark fast slow big small").split()
DAY_US = 86_400 * 1_000_000


def ts_us(days_since_epoch):
    return pa.array(np.asarray(days_since_epoch, dtype=np.int64) * DAY_US, pa.timestamp("us"))


def days(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "D").astype(np.int64))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def generate(out, scale, seed, tables=None):
    """Writes every table, or only those named in `tables` (the others are
    still drawn, so a table's contents never depend on the selection)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    n_supp, n_cust, n_part = int(10_000 * scale), int(150_000 * scale), int(200_000 * scale)
    n_orders, n_events = int(1_500_000 * scale), int(1_000_000 * scale)
    n_docs, n_vecs = max(500, int(50_000 * scale)), max(500, int(20_000 * scale))
    i32, i64 = pa.int32(), pa.int64()

    def write(name, cols):
        if tables is None or name in tables:
            pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    write("region", {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    write("nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(rng, SEGMENTS, n_cust)})
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array([f"{COLORS[c]} {NOUNS[k]}" for c, k in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})

    order_day = rng.integers(days(1995, 1, 1), days(2001, 8, 1) + 1, n_orders)
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_orders), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), i64),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": money(rng, 1000.0, 500_000.0, n_orders),
        "o_orderdate": ts_us(order_day),
        "o_orderpriority": pick(rng, PRIORITIES, n_orders)})

    # about 2% of orders have no lines, the rest 1..7 (mean fan-out 4)
    fanout = np.where(rng.random(n_orders) < 0.02, 0, rng.integers(1, 8, n_orders))
    n_lines = int(fanout.sum())
    l_order = np.repeat(np.arange(n_orders), fanout)
    starts = np.repeat(np.cumsum(fanout) - fanout, fanout)
    write("lineitem", {
        "l_orderkey": pa.array(l_order, i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_lines), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), i64),
        "l_linenumber": pa.array(np.arange(n_lines) - starts + 1, i32),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105_000.0, n_lines),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], n_lines),
        "l_linestatus": pick(rng, ["F", "O"], n_lines),
        "l_shipdate": ts_us(order_day[l_order] + rng.integers(1, 96, n_lines))})

    t0 = days(2024, 1, 1) * DAY_US
    ev_ts = np.sort(rng.integers(t0, t0 + 30 * DAY_US, n_events))
    write("events", {
        "event_id": pa.array(np.arange(n_events), i64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_events), i64),
        "event_type": pick(rng, EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(60.0, n_events), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], pa.string())})

    # corpus: random word sequences; 10% of documents are near copies of an
    # earlier one (two words replaced) and 0.5% are exact copies, so the
    # near-dup and exact-dup ops have clusters to find
    words = np.asarray(WORDS, dtype=object)
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.105:
            toks = texts[rng.integers(0, i)].split()
            if r >= 0.005:
                toks[rng.integers(0, len(toks))] = words[rng.integers(0, len(words))]
                toks[rng.integers(0, len(toks))] = words[rng.integers(0, len(words))]
        else:
            toks = list(words[rng.integers(0, len(words), rng.integers(8, 96))])
        texts.append(" ".join(toks))
    write("documents", {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts, pa.string()),
        "lang": pick(rng, LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], i64)})

    # embeddings: unit vectors around 10 label centres; 5% are near copies
    # of an earlier vector (cosine > 0.99) for the cosine dedup ops
    labels = rng.integers(0, 10, n_vecs)
    centres = rng.normal(0.0, 1.0, (10, 64))
    vecs = centres[labels] + rng.normal(0.0, 1.5, (n_vecs, 64))
    dup = np.flatnonzero(rng.random(n_vecs) < 0.05)
    dup = dup[dup > 0]
    src = (rng.random(dup.size) * dup).astype(np.int64)
    vecs[dup] = vecs[src] + rng.normal(0.0, 0.05, (dup.size, 64))
    labels[dup] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
