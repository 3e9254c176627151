"""Tests for the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures")


@pytest.fixture(scope="module")
def trace():
    return eventlog.reduce_events(eventlog.read_events(FIXTURE))


def test_rolling_parts_are_read_in_order():
    files = [os.path.basename(f) for f in eventlog.log_files(FIXTURE)]
    assert files == ["events_1_local-1700000000000",
                     "events_2_local-1700000000000"]


def test_driver_gap_is_wall_minus_union_of_overlapping_stages(trace):
    # stages [1001, 1005] and [1003, 1007] overlap: union 6 s, sum 8 s
    w = eventlog.window(trace, 1000.0, 1010.0)
    assert w["stage_busy_s"] == pytest.approx(6.0)
    assert w["driver_gap_s"] == pytest.approx(4.0)
    assert (w["jobs"], w["stages"], w["tasks"]) == (1, 2, 3)
    assert w["executor_cpu_s"] == pytest.approx(1.25)
    assert w["shuffle_write_mb"] == pytest.approx(4.0)
    assert w["shuffle_read_mb"] == pytest.approx(4.0)
    assert w["spill_mb"] == pytest.approx(1.0)


def test_reused_shuffle_stage_is_not_counted_again(trace):
    # job 1 lists stage 0 (skipped, ran in job 0) and runs stage 2
    w = eventlog.window(trace, 1020.0, 1025.0)
    assert (w["jobs"], w["stages"], w["tasks"]) == (1, 1, 1)
    assert w["stage_busy_s"] == pytest.approx(1.0)
    assert w["driver_gap_s"] == pytest.approx(4.0)


def test_stage_interval_is_clipped_to_window(trace):
    w = eventlog.window(trace, 1000.0, 1004.0)
    assert w["stage_busy_s"] == pytest.approx(3.0)     # [1001, 1004]


def test_union_of_nested_and_disjoint_intervals():
    assert eventlog.union_s([(0, 10), (2, 3), (12, 13)]) == pytest.approx(11)
    assert eventlog.union_s([]) == 0.0


def test_tail_takes_the_ten_slowest_ops():
    mean, pct, k = run.tail([float(i) for i in range(1, 41)])
    assert (k, pct) == (10, 75.0)
    assert mean == pytest.approx(35.5)


def test_seed_permutes_order_deterministically():
    names = list("abcdef")
    assert workloads.pass_orders(names, 7, 3) == workloads.pass_orders(names, 7, 3)
    assert workloads.pass_orders(names, 7, 3) != workloads.pass_orders(names, 8, 3)


def test_benchmark_json_lists_every_metric():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"),
              encoding="utf-8") as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_nl_report_check_follows_dotted_paths():
    spec = {"expect": {"plan.tickers": ["AAPL"], "rows_written": 698}}
    good = {"plan": {"tickers": ["AAPL"]}, "rows_written": 698}
    assert workloads._check_report(spec, "completed", good) is None
    assert "rows_written" in workloads._check_report(
        spec, "completed", {"plan": {"tickers": ["AAPL"]}})
    assert "status" in workloads._check_report(spec, "failed", good)
