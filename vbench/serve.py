"""The ``serve`` workload: the index's read path.

Set-up bulk-loads 5k clustered 64-d vectors with ``insert_df``; the
measured loop then runs tagged and untagged ``search`` and ``search_batch``.
The index spreads over 40 tag-set partitions, above Spark's 32-path
threshold for parallel partition discovery, as a tagged corpus would be.
Listing, partition pruning, the dequantize and cosine kernels and top-k do
all the work; nothing is written after set-up.
"""

from __future__ import annotations

import itertools
import os
import time

import numpy as np
import pyarrow.parquet as pq

from vbench import datagen
from vbench.ops import Ops, measuring
from vbench.stats import median, tail
from vbench.topk_check import Snapshot, check_topk

K = 10
SERVE_ROWS = 5000
SERVE_BATCH = 8
QUERY_POOL = 64
# measured cycles per run: the searches are small jobs whose latency moves
# with the host, so three samples per kind, and a median that drops one
# outlier cycle
MIN_CYCLES = 3
# search kinds: (name, tag scope)
SEARCH_KINDS = (
    ("untagged", None),
    ("popular", ["tag00"]),
    ("rare", ["tag11"]),
    ("two_tags", ["tag00", "tag01"]),
)


def _rows(result) -> list[tuple[str, float]]:
    return [(r["id"], r["score"]) for r in result]


def _layout(index) -> dict:
    """Files and tag-set partitions under the index's data directory."""
    files = parts = 0
    for _dirpath, dirnames, filenames in os.walk(index.data_path):
        parts += sum(d.startswith("tag_set_id=") for d in dirnames)
        files += sum(f.endswith(".parquet") for f in filenames)
    return {"index.data_files": files, "index.tag_partitions": parts}


def _mean(xs) -> float:
    return float(np.mean(xs)) if len(xs) else 0.0


def _child_ms(tracer, spans, name) -> float:
    return median([c.dur for s in spans for c in tracer.subtree(s) if c.name == name])


def _fs_calls(tracer, span) -> tuple[int, float]:
    """Count and total ms of the fs calls made under ``span`` (an fs call
    made inside another fs call is part of that call)."""
    calls = [s for s in tracer.subtree(span) if s.name.startswith("fs.")
             and not tracer.spans[s.parent].name.startswith("fs.")]
    return len(calls), sum(s.dur for s in calls)


def serve(run, tracer_factory, seed: int, seconds: float):
    rng = np.random.default_rng(seed)
    centers = datagen.cluster_centers(rng)
    vecs = datagen.clustered_vectors(rng, centers, SERVE_ROWS)
    tags = datagen.zipf_tags(rng, SERVE_ROWS)
    # query vectors come from the corpus distribution but are never inserted
    queries = datagen.clustered_vectors(rng, centers, QUERY_POOL).astype(np.float64)
    src = run.path("rows.parquet")
    pq.write_table(datagen.index_rows_table(
        [f"doc-{i}" for i in range(SERVE_ROWS)], vecs, tags), src)

    from victor_spark.index import VectorIndex

    ops = Ops()
    t0 = time.perf_counter()
    spark = run.start_spark()
    start_s = time.perf_counter() - t0
    tracer = tracer_factory(spark)
    index = VectorIndex(spark, run.path("index"))
    tracer.wrap_methods(index.fs, "fs")
    with tracer.span("index.insert_df"):
        index.insert_df(spark.read.parquet(src))
    snap = Snapshot.from_index(index)
    ops.check("insert_df", None if len(snap.ids) == SERVE_ROWS
              else f"{len(snap.ids)} rows stored, expected {SERVE_ROWS}")
    lat = {name: [] for name, _ in SEARCH_KINDS}
    batch_lat = []
    queue = itertools.cycle(queries)

    def cycle():
        for name, scope in SEARCH_KINDS:
            q = next(queue)

            def search():
                with tracer.span("index.search.build"):
                    df = index.search(q.tolist(), k=K, tags=scope)
                with tracer.span("index.search.collect"):
                    return df.collect()

            with tracer.span("index.search", kind=name) as sp:
                res, dt = ops.run(f"search[{name}]", search)
            if res is None:
                continue
            if sp is not None:
                sp.attrs["rows"] = len(res)
            lat[name].append(dt * 1e3)
            ops.check(f"search[{name}]", check_topk(snap, q, K, scope, _rows(res)))
        batch = {f"q{j:02d}": next(queue).tolist() for j in range(SERVE_BATCH)}

        def search_batch():
            with tracer.span("index.search_batch.build"):
                df = index.search_batch(batch, k=K)
            with tracer.span("index.search_batch.collect"):
                return df.collect()

        with tracer.span("index.search_batch"):
            res, dt = ops.run("search_batch", search_batch)
        if res is not None:
            batch_lat.append(dt * 1e3)
            ops.check("search_batch", _check_batch(snap, batch, res))

    # one checked cycle warms the JIT and Spark's code caches; interactive
    # users pay that once per session, not per query
    cycle()
    setup_s = time.perf_counter() - t0
    for v in (*lat.values(), batch_lat):
        v.clear()
    cycles = []
    since = time.time() * 1e3
    for _ in measuring(seconds, MIN_CYCLES):
        c0 = time.perf_counter()
        cycle()
        cycles.append(time.perf_counter() - c0)

    kind_p50 = {name: median(v) for name, v in lat.items() if v}
    end_to_end = {"setup_s": setup_s}
    if len(kind_p50) == len(SEARCH_KINDS) and batch_lat:
        end_to_end["read_ms"] = _mean(list(kind_p50.values()))
        end_to_end["cycle_s"] = median(cycles)
    layers = {
        "session.start_s": start_s,
        **{f"index.search.{k}_p50_ms": v for k, v in kind_p50.items()},
        "search_batch_p50_ms": median(batch_lat) if batch_lat else 0.0,
        "storage_bytes_per_row": index.storage_bytes() / SERVE_ROWS,
        **_layout(index),
    }
    samples = [x for v in lat.values() for x in v]
    if samples:
        p, tail_ms, n = tail(samples)
        layers.update({"search_tail_ms": tail_ms, "search_tail_pct": p,
                       "search_tail_samples": n})
    if tracer.enabled:
        tracer.attach_spark()
        layers.update(_traced_layers(tracer, since))
    return ops, end_to_end, layers, tracer


def _traced_layers(tracer, since) -> dict:
    out = {}
    (load,) = tracer.named("index.insert_df")
    load_tot = tracer.totals(load)
    calls, ms = _fs_calls(tracer, load)
    out.update({
        "index.insert_df.ms": load.dur,
        "index.insert_df.jobs": load_tot["jobs"],
        "index.insert_df.py4j_calls": load.py4j,
        "fs.calls_per_insert": calls,
        "fs.ms_per_insert": ms,
        "spark.insert.task_cpu_ms": load_tot["cpu_ms"],
    })
    searches = tracer.named("index.search", since)
    if searches:
        fs = [_fs_calls(tracer, s) for s in searches]
        tot = [tracer.totals(s) for s in searches]
        scans = [[m for x in t["sql"] for node, m in x["nodes"] if node.startswith("Scan")]
                 for t in tot]
        out.update({
            "index.search.build_ms": _child_ms(tracer, searches, "index.search.build"),
            "index.search.collect_ms": _child_ms(tracer, searches, "index.search.collect"),
            "index.search.jobs": _mean([t["jobs"] for t in tot]),
            "index.search.py4j_calls": _mean([s.py4j for s in searches]),
            "fs.calls_per_search": _mean([c for c, _ in fs]),
            "fs.ms_per_search": _mean([ms for _, ms in fs]),
            "spark.search.files_read": _mean(
                [sum(m.get("number of files read", 0.0) for m in sc) for sc in scans]),
            "spark.search.scan_metadata_ms": _mean(
                [sum(m.get("metadata time", 0.0) for m in sc) for sc in scans]),
            "spark.search.rows_scanned_per_result": _mean(
                [sum(m.get("number of output rows", 0.0) for m in sc) / max(s.attrs.get("rows", 0), 1)
                 for sc, s in zip(scans, searches)]),
            "spark.search.task_cpu_ms": _mean([t["cpu_ms"] for t in tot]),
        })
    batches = tracer.named("index.search_batch", since)
    if batches:
        out["index.search_batch.build_ms"] = _child_ms(tracer, batches, "index.search_batch.build")
        out["index.search_batch.collect_ms"] = _child_ms(
            tracer, batches, "index.search_batch.collect")
        out["spark.search_batch.task_cpu_ms"] = _mean(
            [tracer.totals(b)["cpu_ms"] for b in batches])
    return out


def _check_batch(snap, batch, rows) -> str | None:
    by_query: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        by_query.setdefault(r["query_id"], []).append(r)
    extra = set(by_query) - set(batch)
    if extra:
        return f"unknown query ids {sorted(extra)}"
    for qid, q in batch.items():
        got = by_query.get(qid, [])
        if [r["rank"] for r in got] != list(range(1, len(got) + 1)):
            return f"{qid}: ranks {[r['rank'] for r in got]}"
        problem = check_topk(snap, q, K, None, _rows(got))
        if problem:
            return f"{qid}: {problem}"
    return None
