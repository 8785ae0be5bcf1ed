"""Seeded inputs: one seed gives the same bytes, another seed other inputs."""

import io

import numpy as np
import pyarrow.parquet as pq

from vbench import datagen
from vbench.serve import SERVE_ROWS


def _index_bytes(seed):
    rng = np.random.default_rng(seed)
    centers = datagen.cluster_centers(rng)
    vecs = datagen.clustered_vectors(rng, centers, SERVE_ROWS)
    tags = datagen.zipf_tags(rng, SERVE_ROWS)
    return _parquet_bytes(datagen.index_rows_table(
        [f"d{i}" for i in range(SERVE_ROWS)], vecs, tags))


def _parquet_bytes(table):
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()


def _catalog_bytes(seed):
    tables = datagen.catalog_tables(np.random.default_rng(seed))
    return {name: _parquet_bytes(t) for name, t in tables.items()}


def test_same_seed_same_bytes():
    assert _index_bytes(7) == _index_bytes(7)
    assert _catalog_bytes(7) == _catalog_bytes(7)


def test_other_seed_other_inputs():
    assert _index_bytes(7) != _index_bytes(8)
    a, b = _catalog_bytes(7), _catalog_bytes(8)
    # nation is fixed by construction; every drawn table differs
    assert [n for n in a if a[n] == b[n]] == ["nation"]


def test_zipf_tags_shape():
    for seed in (1, 2):
        tags = datagen.zipf_tags(np.random.default_rng(seed), SERVE_ROWS)
        assert all(1 <= len(t) <= 2 and t == sorted(set(t)) for t in tags)
        # the same 40 tag sets on every seed: above Spark's 32-path
        # parallel listing threshold
        assert {tuple(t) for t in tags} == set(datagen.TAG_SETS)
        assert len(datagen.TAG_SETS) == 40
        counts = {v: sum(v in t for t in tags) for v in datagen.TAG_VOCAB}
        assert counts["tag00"] > 20 * counts["tag11"] > 0
        assert abs(sum(len(t) == 2 for t in tags) / SERVE_ROWS - 0.5) < 0.05


def test_catalog_tables_match_the_query_schemas():
    tables = datagen.catalog_tables(np.random.default_rng(3))
    assert set(tables) == {"nation", "supplier", "orders", "lineitem", "documents", "embeddings"}
    li = tables["lineitem"]
    assert str(li.schema.field("l_shipdate").type) == "timestamp[us]"
    assert len(li) == datagen.N_LINES
    assert set(li.column("l_suppkey").to_pylist()) <= set(range(datagen.N_SUPP))
    assert set(tables["orders"].column("o_orderstatus").to_pylist()) <= {"F", "O", "P"}
    emb = tables["embeddings"].column("embedding").to_pylist()
    assert {len(v) for v in emb} == {datagen.DIM}
