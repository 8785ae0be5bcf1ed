"""The ``catalog`` workload: five batch pipeline queries, each ``build``
followed by a ``noop`` sink write. It never touches ``VectorIndex``.

The queries are the catalog's heavy tail: eager jobs inside ``build()``
(tpch_q11, unigram_tokenize), execution-bound self-joins and windows
(tpch_q21, winnow_fingerprints), Python workers (unigram_tokenize) and the
batch vector kernel (topk_batch).
"""

from __future__ import annotations

import math
import sys
import time

import numpy as np

from vbench import datagen
from vbench.metrics import CATALOG_QUERIES
from vbench.ops import Ops, measuring
from vbench.stats import median
from vbench.trace import sql_metric_sum

# measured passes per run: a pass is 6-8 s on 4 cores, and set-up already
# dominates the run
MIN_PASSES = 2
PYTHON_WORKER_METRICS = ("time to start Python workers",
                         "time to initialize Python workers",
                         "time to run Python workers")


def _canon(pdf):
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(by=list(pdf.columns), ignore_index=True)


def compare(got, want) -> str | None:
    """None when two result tables hold the same rows in any order (columns
    matched by name, floats to 1e-9 relative)."""
    got, want = _canon(got), _canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows, oracle {len(want)}"
    for c in got.columns:
        for i, (x, y) in enumerate(zip(got[c], want[c])):
            if isinstance(x, float) and isinstance(y, float):
                same = math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-12) or (
                    math.isnan(x) and math.isnan(y))
            else:
                same = x == y
            if not same:
                return f"column {c} row {i}: {x!r} != oracle {y!r}"
    return None


def catalog(run, tracer_factory, seed: int, seconds: float):
    import duckdb

    rng = np.random.default_rng(seed)
    sf_dir = run.path("tables")
    tables = datagen.catalog_tables(rng)
    datagen.write_tables(tables, sf_dir)
    from victor_spark.plans import QUERIES

    # the DuckDB oracle needs no Spark: its answers are ready before set-up
    # is timed, so setup_s holds only the library's work
    con = duckdb.connect()
    try:
        for name in tables:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{name}.parquet')")
        want = {q: con.execute(QUERIES[q].oracle_sql(sf_dir)).fetchdf()
                for q in CATALOG_QUERIES}
    finally:
        con.close()

    ops = Ops()
    t0 = time.perf_counter()
    spark = run.start_spark()
    start_s = time.perf_counter() - t0
    tracer = tracer_factory(spark)
    _trace_load_table(tracer)
    # set-up: every query once, checked against its oracle; doubles as warm-up
    got = {q: ops.run(q, lambda: QUERIES[q].build(spark, sf_dir).toPandas())[0]
           for q in CATALOG_QUERIES}
    setup_s = time.perf_counter() - t0
    for q, pdf in got.items():
        if pdf is not None:
            ops.check(q, compare(pdf, want[q]))

    lat = {q: [] for q in CATALOG_QUERIES}
    passes = []
    since = time.time() * 1e3
    for _ in measuring(seconds, MIN_PASSES):
        p0 = time.perf_counter()
        for q in CATALOG_QUERIES:
            spec = QUERIES[q]
            with tracer.span("catalog.query", query=q):
                def run_query():
                    with tracer.span("plans.build"):
                        df = spec.build(spark, sf_dir)
                    if tracer.enabled:
                        with tracer.span("plans.plan", overhead=True):
                            df._jdf.queryExecution().executedPlan()
                    with tracer.span("sink.exec"):
                        df.write.format("noop").mode("overwrite").save()
                _, dt = ops.run(q, run_query)
            if dt is not None:
                lat[q].append(dt * 1e3)
        passes.append(time.perf_counter() - p0)

    p50 = {q: median(v) for q, v in lat.items() if v}
    end_to_end = {"setup_s": setup_s}
    if len(p50) == len(CATALOG_QUERIES):
        end_to_end["read_ms"] = float(np.mean(list(p50.values())))
        end_to_end["cycle_s"] = median(passes)
    layers = {"session.start_s": start_s}
    if tracer.enabled:
        tracer.attach_spark()
        layers.update(_catalog_layers(tracer, since))
    return ops, end_to_end, layers, tracer


def _trace_load_table(tracer) -> None:
    """Span every ``load_table`` call the catalog makes: the plan modules
    bind the function by name, so each binding is wrapped."""
    from victor_spark.sources import tables

    original = tables.load_table
    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "").startswith("victor_spark")
                and getattr(mod, "load_table", None) is original):
            tracer.wrap_function(mod, "load_table", "sources.load_table")


def _catalog_layers(tracer, since) -> dict:
    out = {}
    passes = 0
    all_queries = tracer.named("catalog.query", since)
    for q in CATALOG_QUERIES:
        spans = [s for s in all_queries if s.attrs["query"] == q]
        passes = max(passes, len(spans))
        parts = {"plans.build": [], "plans.plan": [], "sink.exec": []}
        jobs, py4j = [], []
        for s in spans:
            for c in tracer.subtree(s):
                if c.name in parts:
                    parts[c.name].append(c.dur)
                if c.name == "plans.build":
                    jobs.append(tracer.totals(c)["jobs"])
                    py4j.append(c.py4j)
        out.update({
            f"plans.{q}.build_ms": median(parts["plans.build"]),
            f"plans.{q}.plan_ms": median(parts["plans.plan"]),
            f"plans.{q}.exec_ms": median(parts["sink.exec"]),
            f"plans.{q}.build_jobs": float(np.mean(jobs)),
            f"plans.{q}.build_py4j_calls": float(np.mean(py4j)),
        })
    tot = [tracer.totals(s) for s in all_queries]
    sql = [x for t in tot for x in t["sql"]]
    per_pass = 1.0 / max(passes, 1)
    loads = [c.dur for s in all_queries for c in tracer.subtree(s)
             if c.name == "sources.load_table"]
    out.update({
        "spark.catalog.shuffle_write_bytes": per_pass * sum(t["shuffle_write_bytes"] for t in tot),
        "spark.catalog.python_worker_ms": per_pass * sum(
            sql_metric_sum(sql, m) for m in PYTHON_WORKER_METRICS),
        "spark.catalog.task_cpu_s": per_pass * sum(t["cpu_ms"] for t in tot) / 1e3,
        "spark.catalog.gc_s": per_pass * sum(t["gc_ms"] for t in tot) / 1e3,
        "spark.catalog.stages": per_pass * sum(t["stages"] for t in tot),
        "spark.catalog.tasks": per_pass * sum(t["tasks"] for t in tot),
        "sources.load_table_ms": per_pass * sum(loads),
    })
    return out
