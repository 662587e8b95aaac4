"""A slice of the operator catalog over a seeded star schema.

``write_star`` writes TPC-H-like ``region nation customer supplier part
orders lineitem events documents embeddings`` parquet files, shaped like
the sf0.01 star schema of TESTDATA.md, from the run's seed. Every query
of the slice runs through ``queries.QUERIES[name](spark, star_dir)``; its
collected rows must equal the query's DuckDB oracle on the same files
(``queries.ORACLES``), compared order-insensitively after the value
canonicalization of ``scripts/snapshot_hashes.py`` (``repr`` per row)
with floats rounded to 9 places.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SLICE = (
    "q5_region_revenue",
    "window_rank_per_group",
    "funnel_conversion",
    "asof_join_events",
    "text_profile",
    "dedup_ngram_jaccard",
    "bm25_topk_docs",
    "ann_lsh_topk",
)
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order vector line "
    "table data agg value key stream window a spark part group big sort query fast the"
).split()


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = (np.datetime64(base, "us") + (seconds * 1e6).astype("timedelta64[us]"))
    return pa.array(us, type=pa.timestamp("us"))


def write_star(out_dir: str, seed: int) -> None:
    rng = np.random.default_rng([seed, 7])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part, n_ord, n_ev, n_users, n_docs, n_vec = 1500, 100, 2000, 15000, 10000, 150, 500, 500

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"part {i}" for i in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, n_part)],
        "p_type": np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY"])[rng.integers(0, 5, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": _money(rng, 900, 2100, n_part),
    })
    order_day = rng.integers(0, 7 * 365, n_ord)
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(dt.datetime(1992, 1, 1), order_day * 86400.0),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(l_order)
    put("lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 100000, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(dt.datetime(1992, 1, 1), (np.repeat(order_day, lines) + rng.integers(1, 122, n_li)) * 86400.0),
    })
    ev_seconds = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(dt.datetime(2024, 1, 1), np.round(ev_seconds, 6)),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(["view", "click", "purchase", "signup", "error"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(8, 90))))
        texts.append(" ".join(words))
    put("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "zh", "es", "de", "fr"])[rng.choice(5, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + rng.normal(0, 0.7, (n_vec, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


def _canon(v):
    if isinstance(v, float):
        return round(v, 9) + 0.0
    if isinstance(v, (list, tuple)):  # pyspark Rows are tuples
        return tuple(_canon(x) for x in v)
    return v


def canonical_rows(columns: list[str], rows) -> list[str]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rows)


class Catalog:
    """The slice over the run's star schema, with DuckDB truth."""

    names = SLICE

    def __init__(self, spark, seed: int, star_dir: str):
        import duckdb

        from boatrace_database_spark.queries import ORACLES, QUERIES

        self.spark, self.dir = spark, star_dir
        self.queries = QUERIES
        write_star(star_dir, seed)
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{star_dir}/{t}.parquet'")
            self.expected = {}
            for name in SLICE:
                res = con.execute(ORACLES[name])
                cols = [d[0] for d in res.description]
                self.expected[name] = canonical_rows(cols, res.fetchall())
        finally:
            con.close()

    def run(self, name: str) -> bool:
        df = self.queries[name](self.spark, self.dir)
        rows = df.collect()
        return canonical_rows(df.columns, rows) == self.expected[name]
