"""The percentile rule and the failure counting."""

import random

import stats
from run import Runner
from workloads import Op


def test_percentile_needs_ten_samples_beyond_it():
    values = list(range(1, 100))  # 99 samples: p90 has 9 beyond it
    assert stats.samples_beyond(99, 90) == 9
    assert stats.percentile(values, 90) is None
    values.append(100)  # 100 samples: p90 has exactly 10 beyond it
    assert stats.samples_beyond(100, 90) == 10
    assert stats.percentile(values, 90) == 90


def test_tail_is_the_highest_reportable_percentile():
    assert stats.tail(list(range(1000))) == (99, 989)
    assert stats.tail([float(i) for i in range(100)]) == (90, 89.0)
    assert stats.tail([1.0] * 39) is None  # even p75 has only 9 beyond it
    assert stats.tail([1.0] * 40) == (75, 1.0)


class _FakeWorkload:
    """Rounds of three operations: one succeeds, one raises, one
    returns a wrong answer."""

    tracer = None

    def round(self, spark, rng):
        def boom():
            raise RuntimeError("engine error")

        return [
            Op("ok", lambda: None, items=5),
            Op("raises", boom, items=5),
            Op("wrong", lambda: None, items=5, verify=lambda: ["wrong rows"]),
        ]


def test_failures_are_counted_against_attempts():
    runner = Runner(_FakeWorkload(), spark=None)
    for _ in range(4):
        runner.execute(_FakeWorkload().round(None, None)[0], traced=False)
    for op in _FakeWorkload().round(None, None)[1:]:
        runner.execute(op, traced=False)
    log = runner.plain
    assert (log.attempted, log.failed) == (6, 2)
    assert log.items == 20 and len(log.latencies_s) == 4
    assert runner.problems == ["wrong rows"]
    assert "RuntimeError" in log.errors[0]


def test_window_stops_when_every_operation_fails():
    class AllFail(_FakeWorkload):
        def round(self, spark, rng):
            return super().round(spark, rng)[1:]

    runner = Runner(AllFail(), spark=None)
    runner.window(random.Random(0), rounds=5)
    assert len(runner.round_s) == 1 and runner.plain.failed == 2


def test_benchmark_json_lists_every_metric_the_runs_print():
    """Both metric sets printed by run.py match BENCHMARK.json."""
    import json
    import os

    import run
    import workloads
    from spans import Tracer

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    class _Wl:
        tracer = None

        def docs(self, q):
            return 0

    runner = Runner(_Wl(), spark=None)
    runner.tracer = Tracer()
    runner.plain.ok("sync_pass", 1.0, 10)
    runner.round_s, runner.round_items = [1.0], [10]
    layer = run.per_layer(_Wl(), runner, {"python_s": 1.0, "build_ms": 1.0}, workloads.QueryMix.queries)
    e2e = run.end_to_end([1.0, 2.0, 3.0], runner, [os.getpid()])
    assert [m["name"] for m in bench["per_layer"]] == list(layer)
    assert [m["name"] for m in bench["end_to_end"]] == list(e2e)
    for spec, (name, (_, unit)) in zip(bench["per_layer"] + bench["end_to_end"], list(layer.items()) + list(e2e.items())):
        assert spec["unit"] == unit, name
    assert [w["name"] for w in bench["workloads"]] == sorted(workloads.WORKLOADS)
