"""Seeded generator for the ten tables `SparkEntry.queries` read.

The schemas and value domains follow the repository's smallest TPC-H-like
test data (region, nation, customer, supplier, part, orders, lineitem,
events, documents, embeddings: 6000 lineitems); the values are drawn from
`random.Random(seed)`, so one seed always gives the same single-file parquet
tables.
"""
import datetime as dt
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("the a data spark row column batch table scan join merge sort hash key "
         "value order part line customer filter group agg window stream vector "
         "query fast slow big small").split()


def tables(seed):
    r = random.Random(seed)
    pick = lambda xs, n: [r.choice(xs) for _ in range(n)]
    money = lambda n, lo, hi: [round(r.uniform(lo, hi), 2) for _ in range(n)]
    days = lambda n, start, span: pa.array(
        [dt.datetime(*start) + dt.timedelta(days=r.randrange(span)) for _ in range(n)],
        pa.timestamp("us"))
    ints = lambda xs, t=pa.int64(): pa.array(list(xs), t)
    n_cust, n_supp, n_part, n_ord, n_line, n_evt, n_doc, n_vec = 150, 10, 200, 1500, 6000, 1000, 500, 500
    qty = [float(r.randrange(1, 51)) for _ in range(n_line)]
    texts = [" ".join(pick(WORDS, r.randrange(8, 90))) for _ in range(n_doc)]
    vecs = []
    for _ in range(n_vec):
        v = [r.gauss(0.0, 1.0) for _ in range(64)]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
    t0 = dt.datetime(2024, 1, 1)
    return {
        "region": {"r_regionkey": ints(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": ints(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": ints((i % 5 for i in range(25)), pa.int32())},
        "customer": {"c_custkey": ints(range(n_cust)),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": ints((r.randrange(25) for _ in range(n_cust)), pa.int32()),
                     "c_acctbal": money(n_cust, -999.99, 9999.99),
                     "c_mktsegment": pick(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD",
                                           "BUILDING"], n_cust)},
        "supplier": {"s_suppkey": ints(range(n_supp)),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": ints((r.randrange(25) for _ in range(n_supp)), pa.int32()),
                     "s_acctbal": money(n_supp, -999.99, 9999.99)},
        "part": {"p_partkey": ints(range(n_part)),
                 "p_name": [f"{a} {b}" for a, b in zip(
                     pick(["blue", "hot", "small", "old", "red", "new", "cold"], n_part),
                     pick(["bolt", "gear", "anvil", "ring", "widget", "rod", "plate"], n_part))],
                 "p_brand": [f"Brand#{r.randrange(1, 26)}" for _ in range(n_part)],
                 "p_type": pick(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part),
                 "p_size": ints((r.randrange(1, 51) for _ in range(n_part)), pa.int32()),
                 "p_retailprice": [round(900.0 + (i % 1000) * 0.1, 2) for i in range(n_part)]},
        "orders": {"o_orderkey": ints(range(n_ord)),
                   "o_custkey": ints(r.randrange(n_cust) for _ in range(n_ord)),
                   "o_orderstatus": pick(["F", "O", "P"], n_ord),
                   "o_totalprice": money(n_ord, 1000, 500000),
                   "o_orderdate": days(n_ord, (1995, 1, 1), 2400),
                   "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                            "5-LOW"], n_ord)},
        "lineitem": {"l_orderkey": ints(r.randrange(n_ord) for _ in range(n_line)),
                     "l_partkey": ints(r.randrange(n_part) for _ in range(n_line)),
                     "l_suppkey": ints(r.randrange(n_supp) for _ in range(n_line)),
                     "l_linenumber": ints((r.randrange(1, 8) for _ in range(n_line)), pa.int32()),
                     "l_quantity": qty,
                     "l_extendedprice": [round(q * r.uniform(900, 2100), 2) for q in qty],
                     "l_discount": [r.randrange(11) / 100 for _ in range(n_line)],
                     "l_tax": [r.randrange(9) / 100 for _ in range(n_line)],
                     "l_returnflag": pick(["A", "N", "R"], n_line),
                     "l_linestatus": pick(["O", "F"], n_line),
                     "l_shipdate": days(n_line, (1995, 1, 2), 2500)},
        "events": {"event_id": ints(range(n_evt)),
                   "ts": pa.array([t0 + dt.timedelta(microseconds=r.randrange(30 * 86400 * 10**6))
                                   for _ in range(n_evt)], pa.timestamp("us")),
                   "user_id": ints(r.randrange(15) for _ in range(n_evt)),
                   "event_type": pick(["click", "signup", "error", "view", "purchase"], n_evt),
                   "value": money(n_evt, 0.01, 490.0),
                   "props": [f'{{"k": {r.randrange(100)}}}' for _ in range(n_evt)]},
        "documents": {"doc_id": ints(range(n_doc)), "text": texts,
                      "lang": pick(["en", "en", "en", "zh", "de", "fr", "es"], n_doc),
                      "source": [f"src{i % 20}" for i in range(n_doc)],
                      "n_chars": ints(len(t) for t in texts)},
        "embeddings": {"vec_id": ints(range(n_vec)),
                       "embedding": pa.array(vecs, pa.list_(pa.float32())),
                       "label": ints((r.randrange(10) for _ in range(n_vec)), pa.int32())},
    }


def write(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables(seed).items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
