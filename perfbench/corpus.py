#!/usr/bin/env python3
"""Write a seeded corpus for the query pack: the ten tables the registered
queries and their DuckDB oracle read, with the same names, columns and
parquet types as the repository's test corpus, at about its sf0.01 size.

    python3 perfbench/corpus.py <out dir> <seed>

The same seed gives the same rows. Each table is one file,
`<out dir>/<table>.parquet`.
"""
import datetime
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join small customer query big "
         "stream group order filter").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
PART_TYPES = ["ECONOMY", "SMALL", "LARGE", "MEDIUM", "PROMO", "STANDARD"]
COLOURS = ["red", "blue", "green", "small", "large", "steel"]
NOUNS = ["widget", "bolt", "ring", "gear", "panel", "valve"]
LANGS = ["en"] * 9 + ["zh", "zh", "de", "de", "fr", "fr", "es", "es"]


def money(r, lo, hi):
    return round(r.uniform(lo, hi), 2)


def day(r, first, last):
    return first + datetime.timedelta(days=r.randrange((last - first).days + 1))


def write(out, seed):
    r = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def table(name, cols):
        arrays = [pa.array(v, type=t) for _, t, v in cols]
        pq.write_table(pa.Table.from_arrays(arrays, names=[n for n, _, _ in cols]),
                       os.path.join(out, name + ".parquet"))

    table("region", [("r_regionkey", i32, list(range(5))),
                     ("r_name", s, ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])])
    table("nation", [("n_nationkey", i32, list(range(25))),
                     ("n_name", s, [f"NATION_{i}" for i in range(25)]),
                     ("n_regionkey", i32, [i % 5 for i in range(25)])])
    n_cust, n_supp, n_part, n_ord = 1500, 100, 2000, 15000
    table("customer", [("c_custkey", i64, list(range(n_cust))),
                       ("c_name", s, [f"Customer#{i:09d}" for i in range(n_cust)]),
                       ("c_nationkey", i32, [r.randrange(25) for _ in range(n_cust)]),
                       ("c_acctbal", f64, [money(r, -999.99, 9999.99) for _ in range(n_cust)]),
                       ("c_mktsegment", s, [r.choice(SEGMENTS) for _ in range(n_cust)])])
    table("supplier", [("s_suppkey", i64, list(range(n_supp))),
                       ("s_name", s, [f"Supplier#{i:09d}" for i in range(n_supp)]),
                       ("s_nationkey", i32, [r.randrange(25) for _ in range(n_supp)]),
                       ("s_acctbal", f64, [money(r, -999.99, 9999.99) for _ in range(n_supp)])])
    table("part", [("p_partkey", i64, list(range(n_part))),
                   ("p_name", s, [f"{r.choice(COLOURS)} {r.choice(NOUNS)}" for _ in range(n_part)]),
                   ("p_brand", s, [f"Brand#{r.randint(1, 25)}" for _ in range(n_part)]),
                   ("p_type", s, [r.choice(PART_TYPES) for _ in range(n_part)]),
                   ("p_size", i32, [r.randint(1, 50) for _ in range(n_part)]),
                   ("p_retailprice", f64, [900 + (i % 1000) / 10 for i in range(n_part)])])
    o_first, o_last = datetime.datetime(1995, 1, 1), datetime.datetime(2001, 8, 1)
    table("orders", [("o_orderkey", i64, list(range(n_ord))),
                     ("o_custkey", i64, [r.randrange(n_cust) for _ in range(n_ord)]),
                     ("o_orderstatus", s, [r.choice("FOP") for _ in range(n_ord)]),
                     ("o_totalprice", f64, [money(r, 1000, 500000) for _ in range(n_ord)]),
                     ("o_orderdate", ts, [day(r, o_first, o_last) for _ in range(n_ord)]),
                     ("o_orderpriority", s, [r.choice(PRIORITIES) for _ in range(n_ord)])])
    n_li = 4 * n_ord
    l_first, l_last = datetime.datetime(1995, 1, 2), datetime.datetime(2001, 11, 4)
    table("lineitem", [("l_orderkey", i64, [r.randrange(n_ord) for _ in range(n_li)]),
                       ("l_partkey", i64, [r.randrange(n_part) for _ in range(n_li)]),
                       ("l_suppkey", i64, [r.randrange(n_supp) for _ in range(n_li)]),
                       ("l_linenumber", i32, [r.randint(1, 7) for _ in range(n_li)]),
                       ("l_quantity", f64, [float(r.randint(1, 50)) for _ in range(n_li)]),
                       ("l_extendedprice", f64, [money(r, 900, 105000) for _ in range(n_li)]),
                       ("l_discount", f64, [r.randint(0, 10) / 100 for _ in range(n_li)]),
                       ("l_tax", f64, [r.randint(0, 8) / 100 for _ in range(n_li)]),
                       ("l_returnflag", s, [r.choice("ANR") for _ in range(n_li)]),
                       ("l_linestatus", s, [r.choice("FO") for _ in range(n_li)]),
                       ("l_shipdate", ts, [day(r, l_first, l_last) for _ in range(n_li)])])
    # events: ascending capture times over 30 days, 150 users
    n_ev, t = 10000, datetime.datetime(2024, 1, 1)
    times = []
    for _ in range(n_ev):
        t += datetime.timedelta(microseconds=r.randrange(1, 518_400_000))
        times.append(t)
    table("events", [("event_id", i64, list(range(n_ev))),
                     ("ts", ts, times),
                     ("user_id", i64, [r.randrange(150) for _ in range(n_ev)]),
                     ("event_type", s, [r.choice(EVENT_TYPES) for _ in range(n_ev)]),
                     ("value", f64, [round(r.expovariate(1 / 40) + 0.01, 2) for _ in range(n_ev)]),
                     ("props", s, ['{"k": %d}' % r.randrange(100) for _ in range(n_ev)])])
    # documents: one in six is a near-copy of an earlier one, so the
    # dedup operators have pairs to find
    n_doc, texts = 500, []
    for i in range(n_doc):
        if i > 10 and r.random() < 1 / 6:
            w = r.choice(texts).split()
            w[r.randrange(len(w))] = r.choice(WORDS)
        else:
            w = [r.choice(WORDS) for _ in range(r.randint(10, 90))]
        texts.append(" ".join(w))
    table("documents", [("doc_id", i64, list(range(n_doc))),
                        ("text", s, texts),
                        ("lang", s, [r.choice(LANGS) for _ in range(n_doc)]),
                        ("source", s, [f"src{r.randrange(20)}" for _ in range(n_doc)]),
                        ("n_chars", i64, [len(x) for x in texts])])
    # embeddings: 64-d vectors around one centre per label
    centres = [[r.gauss(0, 0.12) for _ in range(64)] for _ in range(10)]
    labels = [r.randrange(10) for _ in range(n_doc)]
    vecs = [[c + r.gauss(0, 0.06) for c in centres[lab]] for lab in labels]
    table("embeddings", [("vec_id", i64, list(range(n_doc))),
                         ("embedding", pa.list_(pa.float32()), vecs),
                         ("label", i32, labels)])


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]))
