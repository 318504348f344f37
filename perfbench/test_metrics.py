"""Spark-free tests of the benchmark's metric code.

    python3 -m pytest perfbench/test_metrics.py -q
"""

from __future__ import annotations

import os

import pytest

from perfbench import metrics


def test_tail_rank_is_nearest_rank_p90():
    assert metrics.tail_rank(1) == 0
    assert metrics.tail_rank(10) == 8
    assert metrics.tail_rank(12) == 10
    assert metrics.tail_rank(20) == 17
    assert metrics.tail_rank(100) == 89
    with pytest.raises(ValueError):
        metrics.tail_rank(0)


def test_tail_latency_ignores_input_order():
    lat = [float(v) for v in range(20, 0, -1)]  # 20 .. 1
    assert metrics.tail_latency(lat) == 18.0
    assert metrics.tail_latency(sorted(lat)) == 18.0


def test_ops_per_s_counts_completed_over_all_op_time():
    assert metrics.ops_per_s(3, [1.0, 2.0, 1.0]) == pytest.approx(0.75)
    assert metrics.ops_per_s(2, [1.0, 2.0, 1.0]) == pytest.approx(0.5)
    with pytest.raises(ValueError):
        metrics.ops_per_s(0, [])


def test_remeasure_order_takes_most_stolen_successful_ops_up_to_a_quarter():
    stolen = [0.0, 0.05, 0.02, 0.3, 0.011, 0.2, 0.0, 0.04]
    ok = [True, True, True, True, True, False, True, True]
    assert metrics.remeasure_order(stolen, ok, 0.01) == [3, 1]
    assert metrics.remeasure_order(stolen[:3], ok[:3], 0.01) == []
    assert metrics.remeasure_order([0.0] * 8, [True] * 8, 0.01) == []


def test_steal_share_is_steal_over_all_ticks():
    before = [100, 0, 50, 800, 0, 0, 0, 10, 0, 0]
    after = [160, 0, 70, 900, 0, 0, 0, 30, 0, 0]  # +60 +20 +100 idle +20 steal
    assert metrics.steal_share(before, after) == pytest.approx(20 / 200)
    assert metrics.steal_share(before, before) == 0.0


def test_failed_frac():
    assert metrics.failed_frac(0, 12) == 0.0
    assert metrics.failed_frac(3, 12) == pytest.approx(0.25)
    with pytest.raises(ValueError):
        metrics.failed_frac(0, 0)


def _span(sid, parent, start, end, layer):
    return {"id": sid, "parent": parent, "start": start, "end": end, "layer": layer}


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(0, None, 0.0, 10.0, "bench"),
        _span(1, 0, 1.0, 4.0, "plans"),
        _span(2, 1, 2.0, 3.0, "spark"),  # grandchild of 0
        _span(3, 0, 5.0, 9.0, "operators"),
    ]
    own = metrics.self_times(spans)
    assert own == {0: pytest.approx(3.0), 1: pytest.approx(2.0), 2: pytest.approx(1.0), 3: pytest.approx(4.0)}
    layers = metrics.layer_self_time(spans + [_span(4, None, 20.0, 22.0, "plans")])
    assert layers == {
        "bench": pytest.approx(3.0),
        "plans": pytest.approx(4.0),
        "spark": pytest.approx(1.0),
        "operators": pytest.approx(4.0),
    }


def _stage(**counters):
    row = dict.fromkeys(metrics.STAGE_COUNTERS, 0)
    row.update(counters)
    return row


def test_counter_delta_sums_only_new_stages():
    before = {"jobs": 4, "max_stage_id": 7, "stages": {}}
    after = {
        "jobs": 6,
        "max_stage_id": 10,
        "stages": {
            10: _stage(tasks=4, executor_run_ms=3000, executor_cpu_ns=2_000_000_000, spill_bytes=100, input_rows=600),
            9: _stage(tasks=2, executor_run_ms=1000, gc_ms=30, shuffle_fetch_wait_ms=20, input_rows=400),
            7: _stage(tasks=99, executor_run_ms=99_999),  # created before the span began
        },
    }
    d = metrics.counter_delta(before, after)
    assert d["jobs"] == 2
    assert d["stages"] == 2
    assert d["tasks"] == 6
    assert d["executor_run_ms"] == 4000
    assert d["executor_cpu_ns"] == 2_000_000_000
    assert d["gc_ms"] == 30
    assert d["shuffle_fetch_wait_ms"] == 20
    assert d["spill_bytes"] == 100
    assert d["input_rows"] == 1000


def test_counter_delta_of_an_empty_span_is_zero():
    snap = {"jobs": 3, "max_stage_id": 5, "stages": {5: _stage(tasks=8)}}
    d = metrics.counter_delta(snap, snap)
    assert d == {"jobs": 0, "stages": 0, **dict.fromkeys(metrics.STAGE_COUNTERS, 0)}


def test_spark_layer_units_and_core_busy_frac():
    delta = dict.fromkeys(metrics.STAGE_COUNTERS, 0)
    delta.update(jobs=3, stages=5, executor_run_ms=8000, executor_cpu_ns=6_000_000_000, gc_ms=500, shuffle_fetch_wait_ms=250)
    out = metrics.spark_layer(delta, wall_s=4.0, cores=4)
    assert out["spark.jobs"] == 3.0
    assert out["spark.executor_run_s"] == pytest.approx(8.0)
    assert out["spark.executor_cpu_s"] == pytest.approx(6.0)
    assert out["spark.gc_s"] == pytest.approx(0.5)
    assert out["spark.shuffle_fetch_wait_s"] == pytest.approx(0.25)
    assert out["spark.core_busy_frac"] == pytest.approx(0.5)  # 8 s of 4 s x 4 cores


def test_add_deltas():
    assert metrics.add_deltas([{"jobs": 1, "tasks": 4}, {"jobs": 2, "tasks": 6}]) == {"jobs": 3, "tasks": 10}


def _frames():
    import pandas as pd

    from perfbench import datagen

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return pd, datagen.load_tool(root, "check_oracle")


def test_compare_is_order_insensitive_and_exact_below_float_precision():
    from perfbench.workloads import _compare

    pd, co = _frames()
    a = pd.DataFrame({"k": ["x", "y"], "v": [1.5, 0.123456]})
    assert _compare(co, a, a.iloc[::-1]) is None
    assert _compare(co, a, pd.DataFrame({"k": ["x", "y"], "v": [1.5, 0.123457]})) is not None
    assert _compare(co, a, pd.DataFrame({"k": ["x", "z"], "v": [1.5, 0.123456]})) is not None
    assert _compare(co, a, a.iloc[:1]) is not None


def test_compare_allows_float64_summation_order_on_large_sums():
    from perfbench.workloads import _compare

    pd, co = _frames()
    # One q1_pricing_summary sum as Spark and DuckDB round it: 2 ulps apart.
    spark = pd.DataFrame({"s": [3784054205.830044]})
    assert _compare(co, spark, pd.DataFrame({"s": [3784054205.830045]})) is None
    assert _compare(co, spark, pd.DataFrame({"s": [3784054205.9]})) is not None
