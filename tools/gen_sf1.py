"""Generate an sf1 fixture (~6M lineitem rows, 10x sf0.1) into
testdata_sf1/ at the checkout root for scale-slope measurement (VERDICT r6
item 4).

/root/testdata is read-only and the driver's generator is not
shipped, so this is OUR generator: seed 42, same schema, same key
relationships, same categorical domains and the same qualitative
distributions as the driver fixtures (verified against sf0.01/sf0.1:
row-count ratios, value ranges, vocab, dup structure, unit-norm
embeddings, exact-2dp money). It is NOT bit-compatible with the driver
fixtures — correctness stays graded on /root/testdata; this dataset
exists only so SCALING_MEASURED.md can extend slopes one more decade.

Scale rules observed in the driver fixtures per 10x step: every table
x10 except region/nation (fixed) and embeddings (x4).

Run: python tools/gen_sf1.py   (~1 min, ~200 MB)
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "testdata_sf1",
)
SEED = 42

N_CUST = 150_000
N_SUPP = 10_000
N_PART = 200_000
N_ORDERS = 1_500_000
N_EVENTS = 1_000_000
N_EVENT_USERS = 15_000
N_DOCS = 50_000
N_VECS = 8_000
DIM = 64

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
            "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
              "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["large", "hot", "blue", "old", "cold", "small", "dark",
         "light"]
P_NOUN = ["ring", "bolt", "plate", "gear", "pin", "cap"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

DAY_US = 86_400_000_000


def _ts_day(rng, n, start_day, n_days):
    """Random midnight timestamps in [start, start+n_days) days."""
    days = rng.integers(0, n_days, n)
    return (start_day + days) * DAY_US


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    rng = np.random.default_rng(SEED)
    epoch_1995 = np.datetime64("1995-01-01").astype(
        "datetime64[D]").astype(np.int64)
    ts_us = pa.timestamp("us")

    def write(name, table):
        pq.write_table(table, f"{OUT}/{name}.parquet")
        print(f"{name}: {table.num_rows} rows")

    # region / nation: fixed small dims, identical to the fixtures
    write("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                   "MIDDLE EAST"],
    }))
    write("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))

    write("customer", pa.table({
        "c_custkey": pa.array(np.arange(N_CUST), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUST)],
        "c_nationkey": pa.array(
            rng.integers(0, 25, N_CUST).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, N_CUST), 2),
        "c_mktsegment": pa.array(
            np.array(SEGMENTS)[rng.integers(0, 5, N_CUST)]),
    }))

    write("supplier", pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPP), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPP)],
        "s_nationkey": pa.array(
            rng.integers(0, 25, N_SUPP).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, N_SUPP), 2),
    }))

    names = [f"{P_ADJ[rng.integers(0, len(P_ADJ))]} "
             f"{P_NOUN[rng.integers(0, len(P_NOUN))]}"
             for _ in range(N_PART)]
    write("part", pa.table({
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": names,
        "p_brand": [f"Brand#{rng.integers(0, 25)}"
                    for _ in range(N_PART)],
        "p_type": pa.array(
            np.array(P_TYPES)[rng.integers(0, len(P_TYPES), N_PART)]),
        "p_size": pa.array(
            rng.integers(1, 51, N_PART).astype(np.int32)),
        "p_retailprice": np.round(
            900.0 + (np.arange(N_PART) % 1000) / 10.0, 1),
    }))

    odate = _ts_day(rng, N_ORDERS, epoch_1995, 2404)  # -> 2001-08-01
    write("orders", pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(
            rng.integers(0, N_CUST, N_ORDERS).astype(np.int64)),
        "o_orderstatus": pa.array(
            np.array(["O", "P", "F"])[rng.integers(0, 3, N_ORDERS)]),
        "o_totalprice": np.round(
            rng.uniform(1000, 500000, N_ORDERS), 2),
        "o_orderdate": pa.array(odate, ts_us),
        "o_orderpriority": pa.array(
            np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)]),
    }))

    # lineitem: 1-7 lines per order (avg 4 -> ~6M rows)
    lines_per = rng.integers(1, 8, N_ORDERS)
    okey = np.repeat(np.arange(N_ORDERS), lines_per)
    n_li = len(okey)
    lnum = np.concatenate(
        [np.arange(1, k + 1) for k in lines_per]).astype(np.int32)
    ship = np.repeat(odate, lines_per) + rng.integers(
        1, 96, n_li) * DAY_US
    write("lineitem", pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(
            rng.integers(0, N_PART, n_li).astype(np.int64)),
        "l_suppkey": pa.array(
            rng.integers(0, N_SUPP, n_li).astype(np.int64)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(
            rng.uniform(1000, 100000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(
            np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(
            np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(ship, ts_us),
    }))

    # events: ts-ordered stream over 30 days, exact-2dp money values
    epoch_2024 = np.datetime64("2024-01-01").astype(
        "datetime64[D]").astype(np.int64)
    gaps = rng.exponential(30 * 86_400 / N_EVENTS, N_EVENTS)
    ts = (epoch_2024 * 86_400 + np.cumsum(gaps)) * 1_000_000
    write("events", pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(ts.astype(np.int64), ts_us),
        "user_id": pa.array(
            rng.integers(0, N_EVENT_USERS, N_EVENTS).astype(np.int64)),
        "event_type": pa.array(
            np.array(EVENT_TYPES)[rng.integers(0, 5, N_EVENTS)]),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [json.dumps({"k": int(k)})
                  for k in rng.integers(0, 101, N_EVENTS)],
    }))

    # documents: 10-100 words from the 31-word fixture vocab
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, N_DOCS)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in lens]
    write("documents", pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": pa.array(
            rng.choice(LANGS, N_DOCS, p=LANG_P)),
        "source": [f"src{rng.integers(0, 20)}" for _ in range(N_DOCS)],
        "n_chars": pa.array(
            np.array([len(t) for t in texts]), pa.int64()),
    }))

    # embeddings: unit-normalized float32 gaussians, 10 random labels
    m = rng.standard_normal((N_VECS, DIM)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    write("embeddings", pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": pa.array(
            rng.integers(0, 10, N_VECS).astype(np.int32)),
    }))


if __name__ == "__main__":
    main()
