"""Seeded star-schema tables for the query workload.

Writes region … lineitem, events, documents and embeddings as one parquet
file each, with the columns and value domains the query registry reads.
`sf` scales the row counts the way the TPC-H scale factor does; the text
and vector tables keep a floor of 500 rows so the dedup, clustering and PQ
queries have material. Timestamps are written without a time zone, as in
the repository's test data.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the key agg row scan slow fast table value part hash merge batch spark line "
         "sort window order data column join small customer query big stream group filter vector").split()
ADJECTIVES = ["small", "red", "blue", "hot", "cold", "new", "old", "large"]
NOUNS = ["ring", "widget", "plate", "gear", "rod", "bolt", "anvil", "pipe"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]


def write(out_dir, seed, sf):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def n(base):
        return max(10, int(base * sf))

    def pick(xs, size):
        return np.asarray(xs, dtype=object)[rng.integers(0, len(xs), size)]

    def money(lo, hi, size):
        return np.round(lo + rng.random(size) * (hi - lo), 2)

    def save(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    n_cust, n_supp, n_part = n(150000), n(10000), n(200000)
    n_ord, n_line, n_events = n(1500000), n(6000000), n(1000000)
    n_docs, n_vecs = max(500, n(50000)), max(500, n(20000))

    save("region", {"r_regionkey": pa.array(range(5), i32),
                    "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)})
    save("nation", {"n_nationkey": pa.array(range(25), i32),
                    "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
                    "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    save("customer", {"c_custkey": pa.array(np.arange(n_cust), i64),
                      "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
                      "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                      "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust), f64),
                      "c_mktsegment": pa.array(pick(SEGMENTS, n_cust), s)})
    save("supplier", {"s_suppkey": pa.array(np.arange(n_supp), i64),
                      "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
                      "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                      "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp), f64)})
    save("part", {"p_partkey": pa.array(np.arange(n_part), i64),
                  "p_name": pa.array([f"{a} {b}" for a, b in zip(pick(ADJECTIVES, n_part), pick(NOUNS, n_part))], s),
                  "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
                  "p_type": pa.array(pick(TYPES, n_part), s),
                  "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                  "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0, f64)})

    day0 = np.datetime64("1995-01-01T00:00:00", "us")
    day = np.timedelta64(86400 * 10**6, "us")
    order_day = rng.integers(0, 2404, n_ord)
    save("orders", {"o_orderkey": pa.array(np.arange(n_ord), i64),
                    "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
                    "o_orderstatus": pa.array(pick(["O", "P", "F"], n_ord), s),
                    "o_totalprice": pa.array(money(1000, 500000, n_ord), f64),
                    "o_orderdate": pa.array(day0 + order_day * day, ts),
                    "o_orderpriority": pa.array(pick(PRIORITIES, n_ord), s)})
    l_order = rng.integers(0, n_ord, n_line)
    save("lineitem", {"l_orderkey": pa.array(l_order, i64),
                      "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
                      "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
                      "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
                      "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
                      "l_extendedprice": pa.array(money(900, 105000, n_line), f64),
                      "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
                      "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
                      "l_returnflag": pa.array(pick(["A", "N", "R"], n_line), s),
                      "l_linestatus": pa.array(pick(["O", "F"], n_line), s),
                      "l_shipdate": pa.array(day0 + (order_day[l_order] + rng.integers(1, 121, n_line)) * day, ts)})

    ev0 = np.datetime64("2024-01-01T00:00:00", "us")
    save("events", {"event_id": pa.array(np.arange(n_events), i64),
                    "ts": pa.array(ev0 + rng.integers(0, 30 * 86400 * 10**6, n_events).astype("timedelta64[us]"), ts),
                    "user_id": pa.array(rng.integers(0, max(10, n_cust // 10), n_events), i64),
                    "event_type": pa.array(pick(EVENT_TYPES, n_events), s),
                    "value": pa.array(money(0, 560, n_events), f64),
                    "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], s)})

    # documents: random word strings; about one in eight is a near copy of
    # an earlier document (a few words changed) and one in fifty an exact copy
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.02:
            t = texts[rng.integers(0, i)]
        elif i > 10 and r < 0.145:
            w = texts[rng.integers(0, i)].split(" ")
            for _ in range(1 + rng.integers(0, 3)):
                w[rng.integers(0, len(w))] = VOCAB[rng.integers(0, len(VOCAB))]
            t = " ".join(w)
        else:
            t = " ".join(pick(VOCAB, 8 + rng.integers(0, 90)))
        texts.append(t)
    save("documents", {"doc_id": pa.array(np.arange(n_docs), i64),
                       "text": pa.array(texts, s),
                       "lang": pa.array(pick(LANGS, n_docs), s),
                       "source": pa.array([f"src{i % 20}" for i in range(n_docs)], s),
                       "n_chars": pa.array([len(t) for t in texts], i64)})

    # embeddings: ten clusters in 64 dimensions, label = cluster
    centers = rng.normal(0, 0.15, (10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = (centers[labels] + rng.normal(0, 0.08, (n_vecs, 64))).astype(np.float32)
    save("embeddings", {"vec_id": pa.array(np.arange(n_vecs), i64),
                        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                        "label": pa.array(labels, i32)})
