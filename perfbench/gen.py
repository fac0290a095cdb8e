"""Deterministic synthetic inputs for the query_mix workload.

Writes the ten tables the registered queries read (`region nation customer
supplier part orders lineitem events documents embeddings`, one parquet file
each) in the schema and value ranges of the repo's TPC-H-like test data.
Size is set by `scale` (1.0 = 150 customers, 1,500 orders, ~6,000 lineitems,
1,000 events, 500 documents, 500 embeddings). The same scale and generator
seed always give byte-identical tables; the timed inputs use the fixed
`DATA_SEED`, because the expected answers in `expected.json` are pinned
against them.

It also writes the events again as the streaming op's backlog,
`events_stream/part-<k>.parquet`: `STREAM_FILES` files in timestamp order
(and in modification-time order), with `ts` as a UTC timestamp, which an
event-time watermark needs.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

WORDS = ("the a data spark join stream small big fast slow order merge column "
         "group customer part value window row key filter sort scan table hash "
         "batch agg line query vector").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["blue", "hot", "small", "old", "new", "cold", "red", "large"]
NOUN = ["bolt", "gear", "anvil", "widget", "ring", "rod", "plate"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en"] * 3 + ["zh", "es", "de", "fr"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
STREAM_FILES = 2

US_PER_DAY = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000   # 1995-01-01 in microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01 in microseconds


def _ts(values):
    return pa.array(values, type=pa.timestamp("us"))


def tables(scale, seed=DATA_SEED):
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust = max(10, int(150 * scale))
    n_supp = max(5, int(10 * scale))
    n_part = max(20, int(200 * scale))
    n_ord = max(50, int(1500 * scale))
    n_evt = max(100, int(1000 * scale))
    n_doc = max(100, int(500 * scale))
    n_vec = max(100, int(500 * scale))

    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, len(ADJ), n_part), rng.integers(0, len(NOUN), n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, len(PTYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": [round(900.0 + (i % 1000) / 10.0, 1) for i in range(n_part)]})

    o_date = EPOCH_1995 + rng.integers(0, 2404, n_ord) * US_PER_DAY
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(o_date),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})

    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(l_order)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    part = rng.integers(0, n_part, n_li)
    ship = o_date[l_order] + rng.integers(1, 122, n_li) * US_PER_DAY
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (part % 1000) / 10.0) * rng.uniform(0.98, 1.02, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(ship)})

    ev_ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * US_PER_DAY, n_evt))
    out["events"] = pa.table({
        "event_id": pa.array(range(n_evt), pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, n_cust, n_evt), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_evt)],
        "value": np.round(rng.uniform(0.01, 490.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})

    # ~1 in 20 documents is a near-duplicate of an earlier one (its text
    # plus a trailing "dup"), the shape the dedup lanes look for
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 90))
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), n)))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    # ten labelled clusters around random unit centres, 64 dims
    centres = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centres[labels] + rng.normal(0.0, 0.6, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(scale, out_dir, seed=DATA_SEED):
    os.makedirs(out_dir, exist_ok=True)
    out = tables(scale, seed)
    for name, table in out.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    events = out["events"]
    events = events.set_column(events.schema.get_field_index("ts"), "ts",
                               events["ts"].cast(pa.timestamp("us", tz="UTC")))
    stream_dir = os.path.join(out_dir, "events_stream")
    os.makedirs(stream_dir, exist_ok=True)
    step = -(-events.num_rows // STREAM_FILES)
    for k in range(STREAM_FILES):
        path = os.path.join(stream_dir, f"part-{k}.parquet")
        pq.write_table(events.slice(k * step, step), path)
        # the file source takes the oldest file first; the watermark would
        # drop an older file's events if it came later
        os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))


if __name__ == "__main__":
    write(float(sys.argv[1]), sys.argv[2])
