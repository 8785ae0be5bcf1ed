"""The percentile and sample-count rule, SQL metric parsing, and the metric
declarations in BENCHMARK.json."""

import json
import os

import pytest

from vbench import metrics
from vbench.stats import median, tail
from vbench.trace import parse_sql_metric

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_tail_needs_ten_samples_beyond():
    xs = list(range(1, 1001))
    assert tail(xs) == (99.0, 990.0, 1000)  # p99.9 would leave only 1 beyond
    assert tail(list(range(1, 201)))[:2] == (95.0, 190.0)
    assert tail(list(range(1, 101)))[:2] == (90.0, 90.0)
    assert tail(list(range(1, 21)))[:2] == (50.0, 10.0)


def test_tail_with_too_few_samples_is_the_max():
    assert tail([5.0, 1.0, 3.0]) == (100.0, 5.0, 3)
    with pytest.raises(ValueError):
        tail([])


def test_median():
    assert median([3, 1, 2]) == 2.0
    assert median([1, 2, 3, 4]) == 2.5


@pytest.mark.parametrize("text,value", [
    ("10,000", 10000.0),
    ("88 ms", 88.0),
    ("0.0 B", 0.0),
    ("4.2 MiB", 4.2 * 2 ** 20),
    ("total (min, med, max (stageId: taskId))\n12.7 s (3.1 s, 3.2 s, 3.3 s (stage 0.0: task 1))", 12700.0),
    ("total (min, med, max (stageId: taskId))\n927.0 B (229.0 B, 233.0 B, 233.0 B (stage 0.0: task 2))", 927.0),
])
def test_parse_sql_metric(text, value):
    assert parse_sql_metric(text) == pytest.approx(value)


def test_benchmark_json_matches_the_declarations():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]} \
        == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} \
        == {k: v[:2] for k, v in metrics.PER_LAYER.items()}
    assert [w["name"] for w in bench["workloads"]] == ["serve", "catalog"]


def test_report_fills_unexercised_layers_with_zero():
    out = metrics.report({"session.start_s": 1.5}, trace=True)
    assert set(out) == set(metrics.PER_LAYER)
    assert out["session.start_s"] == {"value": 1.5, "unit": "s"}
    assert out["index.insert_df.ms"]["value"] == 0.0
    with pytest.raises(KeyError):
        metrics.report({"setup_s": 1.0}, trace=False)


def test_measuring_runs_whole_cycles_and_at_least_the_minimum():
    import time

    from vbench.ops import measuring

    assert len(list(measuring(0.0, 3))) == 3
    n = 0
    for n in measuring(0.1, 2):
        time.sleep(0.02)
    assert n + 1 > 2


def test_ops_count_failures_and_wrong_answers():
    from vbench.ops import Ops

    ops = Ops()
    assert ops.run("ok", lambda: 3)[0] == 3
    assert ops.run("boom", lambda: 1 / 0) == (None, None)
    ops.check("ok", None)
    ops.check("bad", "wrong rows")
    assert (ops.attempted, ops.failed, ops.wrong) == (2, 2, 1)
    assert ops.result({})["correct"] is False
