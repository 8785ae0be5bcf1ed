"""Spans around the benchmark's calls into the library, for traced runs.

A traced run records, at each call the workload makes into a layer:

- a span (name, parent, wall-clock start and end, attributes);
- the py4j round trips made while the span was open;
- afterwards, the Spark jobs, stages and SQL executions whose submission
  time falls inside the span, read from Spark's own status stores.

The benchmark drives the library with one client, so at most one span per
nesting level is open at a time and submission time names the call that
caused each job. Spans stay in memory until ``dump``.

An untraced run uses the same code with ``enabled=False``: ``span`` then
yields at once and nothing is patched.
"""

from __future__ import annotations

import contextlib
import json
import time

TIMING_UNITS_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
SIZE_UNITS_B = {"B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30, "TiB": 2.0 ** 40}


def parse_sql_metric(text: str) -> float:
    """Total of one SQL metric as Spark's status store formats it, in ms for
    timings, bytes for sizes, else a plain count.

    Forms: ``"10,000"``, ``"88 ms"``, ``"4.2 MiB"`` and, for per-task
    metrics, ``"total (min, med, max ...)\\n12.7 s (3.1 s, ...)"``."""
    head = text.strip().split("\n")[-1].split(" (")[0].strip()
    num, _, unit = head.partition(" ")
    value = float(num.replace(",", ""))
    if not unit:
        return value
    scale = TIMING_UNITS_MS.get(unit) or SIZE_UNITS_B.get(unit)
    if scale is None:
        raise ValueError(f"unknown SQL metric unit in {text!r}")
    return value * scale


class Span:
    __slots__ = ("sid", "parent", "name", "attrs", "start", "end", "dur",
                 "py4j", "jobs", "stages", "sql")

    def __init__(self, sid, parent, name, attrs):
        self.sid, self.parent, self.name, self.attrs = sid, parent, name, attrs
        self.start = self.end = self.dur = 0.0
        self.py4j = 0
        self.jobs: list[int] = []
        self.stages: list[dict] = []
        self.sql: list[dict] = []

    def to_json(self) -> dict:
        return {"id": self.sid, "parent": self.parent, "name": self.name,
                "attrs": self.attrs, "start_ms": self.start, "end_ms": self.end,
                "dur_ms": self.dur, "py4j": self.py4j, "jobs": self.jobs,
                "stages": [s["stage"] for s in self.stages],
                "sql": [x["execution"] for x in self.sql]}


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._counting = True
        self.py4j_calls = 0
        self.own_s = 0.0  # time spent in the tracer's own bookkeeping
        if enabled:
            client = spark.sparkContext._gateway._gateway_client
            send = client.send_command

            def counted(command, *args, **kwargs):
                if self._counting:
                    self.py4j_calls += 1
                return send(command, *args, **kwargs)

            client.send_command = counted

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """A span around the ``with`` body. Pass ``overhead=True`` for work
        that only traced runs do; its time counts as tracing overhead."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._open[-1].sid if self._open else None
        sp = Span(len(self.spans), parent, name, attrs)
        self.spans.append(sp)
        self._open.append(sp)
        py0 = self.py4j_calls
        sp.start = time.time() * 1e3
        t1 = time.perf_counter()
        self.own_s += t1 - t0
        try:
            yield sp
        finally:
            t2 = time.perf_counter()
            sp.end = time.time() * 1e3
            sp.dur = (t2 - t1) * 1e3
            sp.py4j = self.py4j_calls - py0
            self._open.pop()
            self.own_s += time.perf_counter() - t2
            if attrs.get("overhead"):
                self.own_s += t2 - t1

    def wrap_methods(self, obj, prefix: str) -> None:
        """Give every public method of ``obj`` a span named
        ``prefix.<method>``, by shadowing it on the instance."""
        if not self.enabled:
            return
        for name in [n for n in dir(obj) if not n.startswith("_")]:
            fn = getattr(obj, name)
            if callable(fn):
                setattr(obj, name, self._spanned(f"{prefix}.{name}", fn))

    def wrap_function(self, module, attr: str, span_name: str) -> None:
        """Replace ``module.attr`` with a spanned version."""
        if self.enabled:
            setattr(module, attr, self._spanned(span_name, getattr(module, attr)))

    def _spanned(self, span_name, fn):
        def call(*args, **kwargs):
            with self.span(span_name):
                return fn(*args, **kwargs)

        call.__wrapped__ = fn
        return call

    # -- Spark status stores ---------------------------------------------

    def attach_spark(self) -> None:
        """Read every retained job, stage and SQL execution and hand each to
        the innermost span open at its submission time."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        self._counting = False
        try:
            jvm_sc = self.spark.sparkContext._jsc.sc()
            store = jvm_sc.statusStore()
            for job in _seq(store.jobsList(None)):
                at = _opt_ms(job.submissionTime())
                sp = self._innermost(at)
                if sp is not None:
                    sp.jobs.append(job.jobId())
            gw = self.spark.sparkContext._gateway
            no_quantiles = gw.new_array(gw.jvm.double, 0)
            for st in _seq(store.stageList(None, False, False, no_quantiles, None)):
                sp = self._innermost(_opt_ms(st.submissionTime()))
                if sp is None:
                    continue
                sp.stages.append({
                    "stage": st.stageId(),
                    "tasks": st.numTasks(),
                    "cpu_ms": st.executorCpuTime() / 1e6,
                    "gc_ms": st.jvmGcTime(),
                    "shuffle_write_bytes": st.shuffleWriteBytes(),
                })
            sql = self.spark._jsparkSession.sharedState().statusStore()
            for ex in _seq(sql.executionsList()):
                sp = self._innermost(float(ex.submissionTime()))
                if sp is None:
                    continue
                sp.sql.append(self._sql_execution(sql, ex.executionId()))
        finally:
            self._counting = True
            self.own_s += time.perf_counter() - t0

    @staticmethod
    def _sql_execution(sql, execution_id) -> dict:
        """{"execution": id, "nodes": [(node name, {metric: total})]}."""
        values = sql.executionMetrics(execution_id)
        nodes = []
        for node in _seq(sql.planGraph(execution_id).allNodes()):
            metrics = {}
            for m in _seq(node.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = parse_sql_metric(v.get())
            nodes.append((node.name(), metrics))
        return {"execution": execution_id, "nodes": nodes}

    def _innermost(self, at_ms):
        """Deepest span open at ``at_ms``, a time Spark truncated to whole ms."""
        if at_ms is None:
            return None
        best = None
        for sp in self.spans:
            if sp.start - 1.0 < at_ms <= sp.end and (best is None or sp.start >= best.start):
                best = sp
        return best

    # -- queries over recorded spans --------------------------------------

    def named(self, name: str, since_ms: float = 0.0) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.start >= since_ms]

    def subtree(self, span: Span) -> list[Span]:
        """``span`` and every span opened inside it."""
        out, frontier = [span], {span.sid}
        for s in self.spans[span.sid + 1:]:
            if s.parent in frontier:
                out.append(s)
                frontier.add(s.sid)
        return out

    def totals(self, span: Span) -> dict:
        """Jobs, stages and stage metrics summed over ``span``'s subtree."""
        sub = self.subtree(span)
        stages = [st for s in sub for st in s.stages]
        return {
            "jobs": sum(len(s.jobs) for s in sub),
            "stages": len(stages),
            "tasks": sum(st["tasks"] for st in stages),
            "cpu_ms": sum(st["cpu_ms"] for st in stages),
            "gc_ms": sum(st["gc_ms"] for st in stages),
            "shuffle_write_bytes": sum(st["shuffle_write_bytes"] for st in stages),
            "sql": [x for s in sub for x in s.sql],
        }

    def overhead_frac(self) -> float:
        """Tracing cost (own bookkeeping, status-store reads and work only
        traced runs do) over the wall time of the top-level spans."""
        wall_s = sum(s.dur for s in self.spans if s.parent is None) / 1e3
        return self.own_s / wall_s if wall_s else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp.to_json()) + "\n")


def _seq(scala_seq):
    """Iterate a Scala Seq through py4j."""
    for i in range(scala_seq.size()):
        yield scala_seq.apply(i)


def _opt_ms(option_date):
    return float(option_date.get().getTime()) if option_date.isDefined() else None


def sql_metric_sum(executions, metric: str) -> float:
    """Sum of one SQL metric over every plan node of the given executions."""
    return sum(m.get(metric, 0.0) for x in executions for _node, m in x["nodes"])
