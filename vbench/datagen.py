"""Seeded inputs. Every generator takes a numpy Generator, so one seed
fixes every byte a workload feeds the library."""

from __future__ import annotations

import datetime as dt
import itertools
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
N_CLUSTERS = 16
TAG_VOCAB = tuple(f"tag{i:02d}" for i in range(12))
# Zipf weights over the vocabulary: tag00 is the most popular, tag11 the rarest
TAG_WEIGHTS = 1.0 / np.arange(1, len(TAG_VOCAB) + 1) ** 1.1
TAG_WEIGHTS /= TAG_WEIGHTS.sum()
# every tag alone, plus every pair of the eight most popular tags: 40 sets
TAG_SETS = tuple([(t,) for t in TAG_VOCAB]
                 + list(itertools.combinations(TAG_VOCAB[:8], 2)))


def cluster_centers(rng: np.random.Generator, n: int = N_CLUSTERS) -> np.ndarray:
    return rng.normal(size=(n, DIM))


def clustered_vectors(rng: np.random.Generator, centers: np.ndarray, n: int) -> np.ndarray:
    """n float32 vectors, each a random center plus Gaussian noise."""
    pick = rng.integers(0, len(centers), n)
    noise = 0.35 * rng.normal(size=(n, centers.shape[1]))
    return (centers[pick] + noise).astype(np.float32)


def zipf_tags(rng: np.random.Generator, n: int) -> list[list[str]]:
    """One or two tags per row (half the rows each), drawn from TAG_SETS with
    Zipf weights: a set's weight is its tag's, or the product of its two
    tags' weights. The first len(TAG_SETS) rows take each set once, so every
    seed stores the same number of tag-set partitions."""
    weights = np.array([np.prod([TAG_WEIGHTS[TAG_VOCAB.index(t)] for t in ts])
                        for ts in TAG_SETS])
    single = np.array([len(ts) == 1 for ts in TAG_SETS])
    weights[single] *= 0.5 / weights[single].sum()
    weights[~single] *= 0.5 / weights[~single].sum()
    picks = np.concatenate([np.arange(len(TAG_SETS)),
                            rng.choice(len(TAG_SETS), n - len(TAG_SETS), p=weights)])
    return [list(TAG_SETS[i]) for i in picks]


def index_rows_table(contents: list[str], vecs: np.ndarray, tags: list[list[str]]) -> pa.Table:
    """(content, embedding, tags) rows in the library's insert schema."""
    return pa.table({
        "content": pa.array(contents, pa.string()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "tags": pa.array(tags, pa.list_(pa.string())),
    })


# -- catalog tables ---------------------------------------------------------
#
# The five catalog queries read nation, supplier, orders, lineitem,
# documents and embeddings. These match the schemas and value ranges of the
# catalog's sf0.01 test tables (TESTDATA.md), drawn from the seed.

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
N_NATION, N_SUPP, N_PART, N_CUST = 25, 100, 2000, 1500
N_ORDERS, N_LINES, N_DOCS = 15000, 60000, 500
LANGS = ("en", "zh", "es", "de", "fr")
LANG_WEIGHTS = (0.44, 0.14, 0.14, 0.14, 0.14)
_EPOCH = dt.datetime(1992, 1, 1)


def _dates(rng: np.random.Generator, n: int, start_day: int, span_days: int) -> pa.Array:
    days = rng.integers(start_day, start_day + span_days, n)
    us = (np.datetime64(_EPOCH, "us") + days.astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.array(us, pa.timestamp("us"))


def catalog_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(N_NATION), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(N_NATION)],
        "n_regionkey": pa.array(np.arange(N_NATION) % 5, pa.int32()),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPP), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPP)],
        "s_nationkey": pa.array(rng.integers(0, N_NATION, N_SUPP), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPP), 2),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUST, N_ORDERS), pa.int64()),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), N_ORDERS),
        "o_totalprice": np.round(rng.uniform(1000.0, 400000.0, N_ORDERS), 2),
        "o_orderdate": _dates(rng, N_ORDERS, 0, 2400),
        "o_orderpriority": rng.choice(
            np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), N_ORDERS
        ),
    })
    qty = rng.integers(1, 51, N_LINES).astype(np.float64)
    part_weights = 1.0 / np.arange(1, N_PART + 1)
    part_weights /= part_weights.sum()
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINES), pa.int64()),
        # Zipf part popularity: the top parts carry enough value for tpch_q11's
        # 0.1%-of-total filter to keep some (nation, part) groups
        "l_partkey": pa.array(rng.choice(N_PART, N_LINES, p=part_weights), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPP, N_LINES), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINES), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, N_LINES), 2),
        "l_discount": rng.integers(0, 11, N_LINES) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINES) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), N_LINES),
        "l_linestatus": rng.choice(np.array(["F", "O"]), N_LINES),
        "l_shipdate": _dates(rng, N_LINES, 1096, 2500),
    })
    n_words = rng.integers(10, 100, N_DOCS)
    texts = [" ".join(rng.choice(WORDS, k)) for k in n_words]
    documents = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": rng.choice(np.array(LANGS), N_DOCS, p=LANG_WEIGHTS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centers = cluster_centers(rng, 10)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "embedding": pa.array(list(clustered_vectors(rng, centers, N_DOCS)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_DOCS), pa.int32()),
    })
    return {"nation": nation, "supplier": supplier, "orders": orders,
            "lineitem": lineitem, "documents": documents, "embeddings": embeddings}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
