"""The benchmark's own aggregation and output check. No Spark session is
started here."""

import math
import statistics

import pytest

import oracle
import stats
from probe import JobCounters
from run import Run, layer_metrics, mismatches, sum_of_medians


def test_median_and_spread_follow_statistics_quantiles():
    values = [3.0, 1.0, 2.0, 10.0, 4.0]
    assert stats.median(values) == 3.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    assert stats.spread(values) == pytest.approx((q3 - q1) / 3.0)
    with pytest.raises(ValueError):
        stats.median([])


def test_sum_of_medians_takes_each_querys_median():
    latencies = {"a": [1.0, 9.0, 2.0], "b": [0.5, 0.5, 7.0]}
    assert stats.sum_of_medians(latencies) == pytest.approx(2.5)


def test_sum_of_medians_skips_failed_executions():
    # a query that raised has no latency or CPU sample in that pass
    passes = [
        {"latencies": {"a": 1.0}, "cpu": {"a": 2.0}},
        {"latencies": {"a": 3.0, "b": 2.0}, "cpu": {"a": 6.0, "b": 1.0}},
        {"latencies": {"a": 2.0, "b": 4.0}, "cpu": {"a": 4.0, "b": 3.0}},
    ]
    assert sum_of_medians(passes, "latencies") == pytest.approx(2.0 + 3.0)
    assert sum_of_medians(passes, "cpu") == pytest.approx(4.0 + 2.0)


@pytest.mark.parametrize(
    "n, expected",
    [(1, None), (19, None), (20, 50), (30, 66), (100, 90), (1000, 99)],
)
def test_supported_percentile_leaves_ten_samples_beyond(n, expected):
    p = stats.supported_percentile(n)
    assert p == expected
    if p is not None:
        assert n - math.ceil(p / 100 * n) >= stats.SAMPLES_BEYOND


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert stats.percentile(values, 90) == 90
    assert stats.percentile(values, 50) == 50
    assert stats.percentile([5.0], 99) == 5.0


def test_failed_frac():
    assert stats.failed_frac(0, 35) == 0.0
    assert stats.failed_frac(2, 8) == 0.25
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0)


def test_uncovered_merges_overlaps_and_clips():
    assert stats.uncovered(0, 10, []) == 10
    assert stats.uncovered(0, 10, [(1, 3), (2, 4), (8, 12)]) == pytest.approx(10 - 3 - 2)
    assert stats.uncovered(0, 10, [(-5, 1), (11, 12)]) == pytest.approx(9)


def test_self_time_subtracts_child_spans():
    spans = [
        {"id": 1, "parent": None, "name": "pass", "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "name": "query", "start": 1.0, "end": 6.0},
        {"id": 3, "parent": 2, "name": "queries.build", "start": 1.5, "end": 3.0},
        {"id": 4, "parent": 2, "name": "operators.action", "start": 3.0, "end": 5.5},
        {"id": 5, "parent": 1, "name": "query", "start": 6.0, "end": 9.0},
    ]
    self_s = stats.self_times(spans)
    assert self_s["pass"] == pytest.approx(10 - 5 - 3)
    assert self_s["query"] == pytest.approx((5 - 1.5 - 2.5) + 3)
    assert self_s["queries.build"] == pytest.approx(1.5)
    assert sum(self_s.values()) == pytest.approx(10)


def test_layer_metrics_attribute_counters_to_layers():
    build = JobCounters(jobs=2, stages=3, tasks=6, executor_cpu_s=1.0, intervals=[(0.0, 0.5)])
    action = JobCounters(jobs=1, stages=2, tasks=8, executor_cpu_s=2.0, task_skew=3.0, intervals=[(1.0, 1.5)])
    schema = JobCounters(jobs=1, stages=1, tasks=1, intervals=[(2.0, 2.1)])
    batch = {"run_id": "r", "trigger_ms": 40, "commit_ms": 7, "state_rows": 5}
    later = {"run_id": "r", "trigger_ms": 10, "commit_ms": 3, "state_rows": 6}
    calls = {
        "io.load_table": [(2.0, 2.2, schema, [])],
        "queries.build": [(0.0, 0.9, build, [batch, later])],
        "operators.action": [(1.0, 1.6, action, [])],
        "plans.release": [(1.6, 1.7, JobCounters(), [])],
        "plans.cached_mb": [1.5, 0.0],
    }
    m = layer_metrics(calls)
    assert m["io.schema_jobs"] == 1
    assert m["queries.build_jobs"] == 2
    assert (m["operators.jobs"], m["operators.stages"], m["operators.tasks"]) == (3, 5, 14)
    assert m["operators.executor_cpu_s"] == pytest.approx(3.0)
    assert m["operators.task_skew"] == 3.0
    assert m["queries.build_s"] == pytest.approx(0.9)
    assert m["operators.action_s"] == pytest.approx(0.6)
    assert m["io.write_s"] == 0
    assert m["spark.gap_s"] == pytest.approx(0.4 + 0.1 + 0.1 + 0.1)
    assert m["plans.cached_mb"] == pytest.approx(1.5)
    assert m["streaming.batches"] == 2
    assert m["streaming.trigger_ms"] == 50
    assert m["streaming.commit_ms"] == 10
    assert m["streaming.state_rows"] == 6  # state after the last batch, not summed over batches


def test_value_hash_ignores_row_and_column_order():
    rows = [(1, "x", 0.1 + 0.2), (2, None, float("nan"))]
    h = oracle.value_hash(rows, ["A", "b", "c"])
    shuffled = [(None, float("nan"), 2), ("x", 0.30000000000000004, 1)]
    assert oracle.value_hash(shuffled, ["b", "c", "a"]) == h
    assert oracle.value_hash(rows[:1], ["a", "b", "c"]) != h
    assert oracle.value_hash([(1, "x", 0.3001), rows[1]], ["a", "b", "c"]) != h


def test_a_failed_execution_counts_once():
    """A query that raises fails its execution; it then has no output to
    hash, so the output check cannot count it a second time."""

    def boom(spark, sf_dir):
        raise RuntimeError("boom")

    class Query:
        fn = staticmethod(boom)

    class Tree:
        def cpu_s(self):
            return 0.0

    run = Run.__new__(Run)
    run.attempted, run.failed, run.errors, run.checked = 0, 0, [], []
    run.registry, run.tree, run.spark = {"q": Query()}, Tree(), None
    assert run.run_query("q", calls=None) is None
    assert (run.attempted, run.failed) == (1, 1)
    run.hash_outputs({"frames": {}})
    assert run.checked == [] and run.failed == 1
    assert mismatches(run.checked, {"q": "h"}) == []


def test_mismatches_fail_each_wrong_output():
    checked = [("a", "h1"), ("b", "x"), ("a", "h1"), ("b", "h2")]
    wrong = mismatches(checked, {"a": "h1", "b": "h2", "c": "h3"})
    assert len(wrong) == 1 and wrong[0].startswith("b: ")
