"""Seeded generator of the ten warehouse tables `graft.Tables` loads, at the
size of the sf0.001 test data, with the same column types and value domains:
region nation customer supplier part orders lineitem events documents
embeddings, one parquet file each."""
import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "shiny"]
NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "tube"]
PTYPES = ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
WORDS = ("join hash row batch scan column customer filter small slow merge order vector "
         "line table data agg value key stream window a spark part group big sort query "
         "fast the").split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _day(r: random.Random, lo: dt.datetime, days: int) -> dt.datetime:
    return lo + dt.timedelta(days=r.randrange(days))


def write(out: str, seed: int) -> dict:
    r = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part, n_orders, n_events, n_docs, n_vecs = 150, 10, 200, 1500, 1000, 500, 500
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array([r.randrange(25) for _ in range(n_cust)], pa.int32()),
        "c_acctbal": [round(r.uniform(-999.99, 9999.99), 2) for _ in range(n_cust)],
        "c_mktsegment": [r.choice(SEGMENTS) for _ in range(n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array([r.randrange(25) for _ in range(n_supp)], pa.int32()),
        "s_acctbal": [round(r.uniform(-999.99, 9999.99), 2) for _ in range(n_supp)]})
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{r.choice(ADJ)} {r.choice(NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{r.randint(1, 25)}" for _ in range(n_part)],
        "p_type": [r.choice(PTYPES) for _ in range(n_part)],
        "p_size": pa.array([r.randint(1, 50) for _ in range(n_part)], pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) * 0.1, 2) for i in range(n_part)]})
    d0 = dt.datetime(1995, 1, 1)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array([r.randrange(n_cust) for _ in range(n_orders)], pa.int64()),
        "o_orderstatus": [r.choice("FOP") for _ in range(n_orders)],
        "o_totalprice": [round(r.uniform(1000, 500000), 2) for _ in range(n_orders)],
        "o_orderdate": pa.array([_day(r, d0, 2400) for _ in range(n_orders)], pa.timestamp("us")),
        "o_orderpriority": [r.choice(PRIORITIES) for _ in range(n_orders)]})
    n_lines = 4 * n_orders
    qty = [float(r.randint(1, 50)) for _ in range(n_lines)]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array([r.randrange(n_orders) for _ in range(n_lines)], pa.int64()),
        "l_partkey": pa.array([r.randrange(n_part) for _ in range(n_lines)], pa.int64()),
        "l_suppkey": pa.array([r.randrange(n_supp) for _ in range(n_lines)], pa.int64()),
        "l_linenumber": pa.array([r.randint(1, 7) for _ in range(n_lines)], pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": [round(q * r.uniform(900, 2100), 2) for q in qty],
        "l_discount": [r.randint(0, 10) / 100 for _ in range(n_lines)],
        "l_tax": [r.randint(0, 8) / 100 for _ in range(n_lines)],
        "l_returnflag": [r.choice("RAN") for _ in range(n_lines)],
        "l_linestatus": [r.choice("OF") for _ in range(n_lines)],
        "l_shipdate": pa.array([_day(r, d0 + dt.timedelta(days=1), 2500) for _ in range(n_lines)],
                               pa.timestamp("us"))})
    e0 = dt.datetime(2024, 1, 1)
    t["events"] = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array([e0 + dt.timedelta(microseconds=r.randrange(30 * 86400 * 10**6))
                        for _ in range(n_events)], pa.timestamp("us")),
        "user_id": pa.array([r.randrange(15) for _ in range(n_events)], pa.int64()),
        "event_type": [r.choice(EVENT_TYPES) for _ in range(n_events)],
        "value": [max(0.01, round(r.expovariate(1 / 50), 2)) for _ in range(n_events)],
        "props": ['{"k": %d}' % r.randrange(100) for _ in range(n_events)]})
    texts = []
    for i in range(n_docs):
        if i > 10 and r.random() < 0.05:
            texts.append(r.choice(texts[:i]) + " dup")  # near duplicate of an earlier doc
        else:
            texts.append(" ".join(r.choice(WORDS) for _ in range(r.randint(8, 90))))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [r.choice(LANGS) for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    vecs = []
    for _ in range(n_vecs):
        v = [r.gauss(0, 1) for _ in range(64)]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append([x / norm for x in v])
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([r.randrange(10) for _ in range(n_vecs)], pa.int32())})
    for name, table in t.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
