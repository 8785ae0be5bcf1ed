"""Every metric the benchmark reports: unit, better direction and, for
per-layer metrics, the end-to-end metrics they should move (the map later
changes claim against). BENCHMARK.json lists the same names; a test keeps
the two in step.

End-to-end metrics are defined on every workload, so each run reports all
of them:

- ``setup_s``: from session start until the measured loop may begin:
  ``get_spark`` plus the workload's load and warm-up. serve: the bulk
  ``insert_df`` and one checked cycle. catalog: one pass over the five
  queries (their DuckDB oracle answers are computed before the clock
  starts).
- ``read_ms``: mean over the workload's read kinds of each kind's median
  latency. serve: the four ``search`` kinds (untagged, popular tag, rare
  tag, two tags). catalog: the five queries, each ``build`` plus a
  ``noop`` sink write.
- ``cycle_s``: median wall time of one whole measured cycle. serve: the
  four searches and one ``search_batch`` of 8, with their output checks.
  catalog: one pass over the five queries, effects between queries
  included.

A per-layer metric a workload does not exercise reports 0.
"""

from __future__ import annotations

CATALOG_QUERIES = ("tpch_q11", "tpch_q21", "unigram_tokenize",
                   "winnow_fingerprints", "topk_batch")

# name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "read_ms": ("ms", "lower", 0.25),
    "cycle_s": ("s", "lower", 0.25),
}

_SEARCH = "read_ms and cycle_s on serve"
_BATCH = "cycle_s on serve"
_LOAD = "setup_s on serve"
_CATALOG = "read_ms and cycle_s on catalog"

# name -> (unit, better, end-to-end metrics it should move)
PER_LAYER = {
    "session.start_s": ("s", "lower", "setup_s on every workload"),
    "index.search.build_ms": ("ms", "lower", _SEARCH),
    "index.search.collect_ms": ("ms", "lower", _SEARCH),
    "index.search.jobs": ("count", "lower", _SEARCH),
    "index.search.py4j_calls": ("count", "lower", _SEARCH),
    "index.search.untagged_p50_ms": ("ms", "lower", _SEARCH),
    "index.search.popular_p50_ms": ("ms", "lower", _SEARCH),
    "index.search.rare_p50_ms": ("ms", "lower", _SEARCH),
    "index.search.two_tags_p50_ms": ("ms", "lower", _SEARCH),
    "index.search_batch.build_ms": ("ms", "lower", _BATCH),
    "index.search_batch.collect_ms": ("ms", "lower", _BATCH),
    "index.insert_df.ms": ("ms", "lower", _LOAD),
    "index.insert_df.jobs": ("count", "lower", _LOAD),
    "index.insert_df.py4j_calls": ("count", "lower", _LOAD),
    "index.data_files": ("count", "lower", _SEARCH),
    "index.tag_partitions": ("count", "lower", _SEARCH),
    "fs.calls_per_insert": ("count", "lower", _LOAD),
    "fs.ms_per_insert": ("ms", "lower", _LOAD),
    "fs.calls_per_search": ("count", "lower", _SEARCH),
    "fs.ms_per_search": ("ms", "lower", _SEARCH),
    "spark.search.files_read": ("count", "lower", _SEARCH),
    "spark.search.scan_metadata_ms": ("ms", "lower", _SEARCH),
    "spark.search.rows_scanned_per_result": ("rows", "lower", _SEARCH),
    "spark.search.task_cpu_ms": ("ms", "lower", _SEARCH),
    "spark.search_batch.task_cpu_ms": ("ms", "lower", _BATCH),
    "spark.insert.task_cpu_ms": ("ms", "lower", _LOAD),
    **{
        f"plans.{q}.{m}": (u, "lower", _CATALOG)
        for q in CATALOG_QUERIES
        for m, u in (("build_ms", "ms"), ("build_jobs", "count"),
                     ("build_py4j_calls", "count"), ("plan_ms", "ms"),
                     ("exec_ms", "ms"))
    },
    "spark.catalog.shuffle_write_bytes": ("B", "lower", _CATALOG),
    "spark.catalog.python_worker_ms": ("ms", "lower", _CATALOG),
    "spark.catalog.task_cpu_s": ("s", "lower", _CATALOG),
    "spark.catalog.gc_s": ("s", "lower", _CATALOG),
    "spark.catalog.stages": ("count", "lower", _CATALOG),
    "spark.catalog.tasks": ("count", "lower", _CATALOG),
    "sources.load_table_ms": ("ms", "lower", _CATALOG),
    # workload figures that carry no bound
    "search_batch_p50_ms": ("ms", "lower", _BATCH),
    "storage_bytes_per_row": ("B/row", "lower", "none: space, not time"),
    "search_tail_ms": ("ms", "lower", "none: read_ms is built from medians"),
    "search_tail_pct": ("%", "higher", "none: names search_tail_ms"),
    "search_tail_samples": ("count", "higher", "none: samples behind search_tail_ms"),
    "ops_failed_frac": ("ratio", "lower", "none: failed or wrong ops / attempted"),
    "host.noop_job_ms": ("ms", "lower", "none: host noise"),
    "trace.overhead_frac": ("ratio", "lower", "none: tracing cost"),
}


def report(values: dict, trace: bool) -> dict:
    """The metrics object of a run's result line. Untraced runs report every
    end-to-end metric; traced runs every per-layer metric (0 where the
    workload does not exercise the layer)."""
    if trace:
        unknown = set(values) - set(PER_LAYER)
        if unknown:
            raise KeyError(f"undeclared per-layer metrics {sorted(unknown)}")
        return {name: {"value": float(values.get(name, 0.0)), "unit": unit}
                for name, (unit, _better, _moves) in PER_LAYER.items()}
    missing = set(END_TO_END) - set(values)
    if missing:
        raise KeyError(f"end-to-end metrics not measured: {sorted(missing)}")
    return {name: {"value": float(values[name]), "unit": unit}
            for name, (unit, _better, _bound) in END_TO_END.items()}
