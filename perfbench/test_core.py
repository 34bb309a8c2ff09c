"""Unit tests of the benchmark's pure logic: ``python3 -m pytest perfbench``."""

from __future__ import annotations

import json
import math
import os

import pytest

from perfbench import core
from perfbench.workloads import E2E_METRICS, LAYER_METRICS, METRIC_MOVES, PRINTED_METRICS, WORKLOADS
from tests.conftest import _canon


# -- tail percentile ---------------------------------------------------------

def test_tail_is_p90_when_the_sample_supports_it():
    samples = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, beyond = core.tail_percentile(samples)
    assert (value, pct, beyond) == (90.0, 90.0, 10)


def test_tail_leaves_ten_samples_beyond_on_small_samples():
    samples = [float(i) for i in range(1, 21)]  # 1..20
    value, pct, beyond = core.tail_percentile(samples)
    assert beyond == 10
    assert value == 10.0 and pct == 50.0
    assert sum(s > value for s in samples) == 10


def test_tail_does_not_depend_on_input_order():
    samples = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 0.5]
    assert core.tail_percentile(samples) == core.tail_percentile(sorted(samples))
    assert core.tail_percentile(samples)[2] == 10


def test_tail_without_enough_samples_is_the_maximum_with_none_beyond():
    assert core.tail_percentile([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)
    assert core.tail_percentile([float(i) for i in range(10)]) == (9.0, 100.0, 0)
    with pytest.raises(ValueError):
        core.tail_percentile([])


# -- self time ---------------------------------------------------------------

def test_self_time_subtracts_overlapping_children_once():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "start": 2.0, "end": 5.0},  # overlaps child 1
        {"id": 3, "parent": 0, "start": 7.0, "end": 8.0},
        {"id": 4, "parent": 2, "start": 2.5, "end": 4.0},  # grandchild
    ]
    selfs = core.self_times(spans)
    assert selfs[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert selfs[1] == pytest.approx(2.0)
    assert selfs[2] == pytest.approx(3.0 - 1.5)
    assert selfs[4] == pytest.approx(1.5)


def test_self_time_clips_children_to_the_parent():
    assert core.covered_length(0.0, 4.0, [(-1.0, 1.0), (3.0, 9.0)]) == pytest.approx(2.0)
    assert core.covered_length(0.0, 4.0, [(5.0, 6.0)]) == 0.0
    assert core.covered_length(0.0, 4.0, [(1.0, 2.0), (1.5, 3.0), (1.2, 1.4)]) == pytest.approx(2.0)


def test_self_times_sum_to_root_duration_for_sequential_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 6.0},
        {"id": 1, "parent": 0, "start": 0.5, "end": 2.0},
        {"id": 2, "parent": 0, "start": 2.0, "end": 5.0},
        {"id": 3, "parent": 2, "start": 3.0, "end": 4.0},
    ]
    assert sum(core.self_times(spans).values()) == pytest.approx(6.0)


# -- oracle compare ----------------------------------------------------------

def test_compare_accepts_a_one_ulp_float_and_counts_it():
    a = 27864155010.94159
    b = math.nextafter(a, math.inf)
    ok, tol, _ = core.compare_rows([("A", 1, a)], [("A", 1, b)])
    assert ok and tol == 1


def test_compare_exact_floats_need_no_tolerance():
    ok, tol, _ = core.compare_rows([(1.5, "x")], [(1.5, "x")])
    assert ok and tol == 0


def test_compare_rejects_floats_beyond_tolerance():
    ok, _, why = core.compare_rows([(1.0,)], [(1.0 + 1e-9,)])
    assert not ok and why


def test_compare_non_float_cells_are_exact():
    assert not core.compare_rows([(1, "a")], [(1, "b")])[0]
    assert not core.compare_rows([(1,)], [(2,)])[0]
    assert not core.compare_rows([(1,)], [(1,), (1,)])[0]


def test_compare_is_row_order_insensitive_even_with_last_digit_differences():
    x = 0.1 + 0.2
    y = math.nextafter(x, 0.0)
    got = [("k1", x), ("k0", 5.0)]
    want = [("k0", 5.0), ("k1", y)]
    ok, tol, _ = core.compare_rows(got, want)
    assert ok and tol == 1


def test_compare_pairs_rows_that_straddle_a_rounding_boundary():
    # a and b are one ulp apart but round apart at 9 digits; c sits between
    # them in rounded order, so a rounded sort key would mispair the rows
    b = 1.000000005
    a = math.nextafter(b, 2.0)
    c = 1.000000004
    assert f"{a:.9g}" != f"{b:.9g}" == f"{c:.9g}"
    ok, tol, _ = core.compare_rows([("k", a), ("k", c)], [("k", b), ("k", c)])
    assert ok and tol == 1


def test_compare_matches_within_tolerance_when_exact_order_pairs_wrongly():
    one = 1.0
    up = math.nextafter(one, 2.0)
    got = [("k", one, 5.0), ("k", up, 3.0)]
    want = [("k", up, 5.0), ("k", one, 3.0)]
    ok, tol, _ = core.compare_rows(got, want)
    assert ok and tol == 2
    assert not core.compare_rows(got, [("k", up, 5.0), ("k", one, 4.0)])[0]


def test_compare_frames_sorts_columns_and_canonicalizes_nan():
    import pandas as pd

    got = pd.DataFrame({"b": [float("nan"), 2.0], "a": [1, 2]})
    want = pd.DataFrame({"a": [2, 1], "b": [2.0, float("nan")]})
    ok, tol, _ = core.compare_frames(got, want, _canon)
    assert ok and tol == 0
    other = pd.DataFrame({"a": [1, 2], "c": [0.0, 2.0]})
    assert not core.compare_frames(got, other, _canon)[0]


# -- op order ----------------------------------------------------------------

def test_op_order_is_a_deterministic_permutation():
    ops = [f"op{i}" for i in range(10)]
    first = core.op_order(ops, seed=7, pass_index=1)
    assert first == core.op_order(ops, seed=7, pass_index=1)
    assert sorted(first) == sorted(ops)
    assert ops == [f"op{i}" for i in range(10)]  # input untouched
    orders = {tuple(core.op_order(ops, seed=s, pass_index=1)) for s in range(20)}
    assert len(orders) > 1


def test_cold_pass_runs_ops_as_listed():
    ops = [f"op{i}" for i in range(10)]
    assert all(core.op_order(ops, seed=s, pass_index=0) == ops for s in range(5))


def test_op_order_is_pinned_across_processes():
    # random.Random(int) seeding and shuffle are stable across processes
    ops = ["a", "b", "c", "d", "e"]
    assert core.op_order(ops, 1, 1) == ["c", "e", "a", "b", "d"]


# -- benchmark description ---------------------------------------------------

def test_benchmark_json_matches_the_runner():
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")
    with open(path) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == list(E2E_METRICS)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == LAYER_METRICS
    assert {w["name"]: w["why"] for w in bench["workloads"]} == {n: w["why"] for n, w in WORKLOADS.items()}
    assert set(METRIC_MOVES) == set(LAYER_METRICS)
    for moves in METRIC_MOVES.values():
        for metric, workload in moves:
            assert metric in E2E_METRICS + PRINTED_METRICS and workload in WORKLOADS



# -- pass time and host scale ------------------------------------------------

def test_pass_time_sums_each_ops_median():
    recs = [
        {"pass": 1, "op": "a", "wall_s": 1.0}, {"pass": 1, "op": "b", "wall_s": 2.0},
        {"pass": 2, "op": "b", "wall_s": 4.0}, {"pass": 2, "op": "a", "wall_s": 3.0},
        {"pass": 3, "op": "a", "wall_s": 2.0}, {"pass": 3, "op": "b", "wall_s": 3.0},
    ]
    assert core.pass_time(recs) == pytest.approx(2.0 + 3.0)


def test_pass_time_counts_repeated_ops_by_occurrence():
    # a merge that runs twice per pass is two ops of the pass, not one
    recs = [
        {"pass": 1, "op": "merge", "wall_s": 1.0}, {"pass": 1, "op": "merge", "wall_s": 5.0},
        {"pass": 2, "op": "merge", "wall_s": 1.0}, {"pass": 2, "op": "merge", "wall_s": 5.0},
    ]
    assert core.pass_time(recs) == pytest.approx(6.0)
    with pytest.raises(ValueError):
        core.pass_time([])


def test_host_scaled_divides_each_op_by_the_canaries_around_it():
    recs = [
        {"op": "a", "wall_s": 1.0, "canary_s": 0.1},
        {"op": "b", "wall_s": 3.0, "canary_s": 0.3},
    ]
    scaled = core.host_scaled(recs, last_canary_s=0.1, ref_s=0.2)
    assert [r["wall_s"] for r in scaled] == pytest.approx([1.0, 3.0])
    assert [r["op"] for r in scaled] == ["a", "b"]
    assert recs[0]["wall_s"] == 1.0  # input untouched
    # a host twice as slow for the whole run scales back to the same times
    slow = [{**r, "wall_s": 2 * r["wall_s"], "canary_s": 2 * r["canary_s"]} for r in recs]
    assert [r["wall_s"] for r in core.host_scaled(slow, 0.2, ref_s=0.2)] == pytest.approx([1.0, 3.0])
