"""Tests of the benchmark's own arithmetic.

    python3 -m pytest perfbench/test_stats.py -q
"""

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import spans  # noqa: E402
import stats  # noqa: E402


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail_percentile(19) is None
    assert stats.tail_percentile(20) == 50.0
    assert stats.tail_percentile(39) == 50.0
    assert stats.tail_percentile(40) == 75.0
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(999) == 95.0
    assert stats.tail_percentile(1000) == 99.0
    assert stats.tail_percentile(10_000) == 99.9


def test_summarize_reports_tail_only_when_supported():
    assert "tail" not in stats.summarize([1.0] * 19)
    s = stats.summarize([float(i) for i in range(1, 41)])
    assert s["n"] == 40 and s["p50"] == 20.5 and s["tail_p"] == 75.0
    assert s["tail"] == pytest.approx(stats.percentile(range(1, 41), 75))


def test_percentile_interpolates_linearly():
    assert stats.percentile([1, 2, 3, 4], 50) == 2.5
    assert stats.percentile([5], 90) == 5
    assert stats.percentile([0, 10], 75) == 7.5


def test_union_length_merges_overlaps_and_keeps_gaps():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert stats.union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_covered_part_of_children():
    # children overlap each other and one sticks out of the parent
    assert stats.self_time((0, 10), [(1, 3), (2, 4), (9, 12)]) == 6.0
    assert stats.self_time((0, 10), []) == 10.0


def test_driver_only_time_is_wall_minus_union_of_jobs():
    jobs = [(1.0, 2.0), (1.5, 3.0), (6.0, 7.0)]
    assert stats.driver_only_time((0.0, 8.0), jobs) == 5.0
    # a job still running after the op ended only counts inside the op
    assert stats.driver_only_time((0.0, 2.0), [(1.0, 5.0)]) == 1.0


def test_net_of_steal_scales_by_the_unstolen_share():
    assert stats.net_of_steal(2.0, 0.0, 4) == 2.0
    # a tenth of 4 CPUs x 2 s stolen
    assert stats.net_of_steal(2.0, 0.8, 4) == pytest.approx(
        2.0 * 0.9 ** stats.STEAL_EXPONENT)
    # beyond the measured range the share is capped, so it stays positive
    assert stats.net_of_steal(1.0, 4.0, 4) == pytest.approx(
        (1 - stats.MAX_STEAL_SHARE) ** stats.STEAL_EXPONENT)


def _runs(base, spread=0.0):
    return [base * (1 + spread * ((i % 3) - 1)) for i in range(10)]


def test_verdict_improved_needs_nine_tenths_wins_and_gap_beyond_spread():
    parent = _runs(10.0, 0.01)
    change = _runs(9.0, 0.01)
    v = stats.verdict(parent, change, bound=0.1, higher_is_better=False)
    assert v["verdict"] == "improved" and v["win_fraction"] == 1.0
    # the same gap for a higher-is-better metric is a regression
    v = stats.verdict(parent, change, bound=0.05, higher_is_better=True)
    assert v["verdict"] == "worse"


def test_verdict_no_worse_within_bound():
    v = stats.verdict(_runs(10.0, 0.01), _runs(10.3, 0.01), bound=0.05,
                      higher_is_better=False)
    assert v["verdict"] == "no worse"


def test_verdict_unresolved_when_spread_exceeds_bound():
    parent = [10, 14, 8, 12, 9, 13, 11, 7, 15, 10]
    change = [11, 13, 9, 12, 10, 14, 10, 8, 14, 11]
    v = stats.verdict(parent, change, bound=0.1, higher_is_better=False)
    assert v["verdict"] == "unresolved"
    # unless every change run beats every parent run
    v = stats.verdict(parent, [x - 10 for x in change], bound=0.1,
                      higher_is_better=False)
    assert v["verdict"] == "improved"
    # and a clear regression is worse however wide the spread
    v = stats.verdict(parent, [x + 10 for x in change], bound=0.1,
                      higher_is_better=False)
    assert v["verdict"] == "worse"
    v = stats.verdict(parent, [x - 8 for x in change], bound=0.1,
                      higher_is_better=True)
    assert v["verdict"] == "worse"


def test_verdict_ties_count_for_neither_side():
    parent = [1.0] * 10
    change = [1.0] * 5 + [0.5] * 5
    v = stats.verdict(parent, change, bound=0.25, higher_is_better=False)
    assert v["win_fraction"] == 0.5 and v["verdict"] != "improved"


def test_layer_metrics_self_time_driver_only_and_unattributed():
    tr = spans.Tracer(enabled=True)
    tr.ops.append({"id": "op-0", "type": "merge", "start": 0.0, "end": 10.0})
    # table.dml [1, 9] holds writer.stage [2, 5] and txn.commit [6, 8],
    # which holds a store write [6.5, 7]
    tr.spans += [
        {"name": "table.dml", "op": "op-0", "start": 1.0, "end": 9.0,
         "parent": None},
        {"name": "writer.stage", "op": "op-0", "start": 2.0, "end": 5.0,
         "parent": 0},
        {"name": "txn.commit", "op": "op-0", "start": 6.0, "end": 8.0,
         "parent": 0},
        {"name": "log.store_write", "op": "op-0", "start": 6.5, "end": 7.0,
         "parent": 2},
    ]
    events = {"op-0": {"jobs": {1: [2.5, 4.5], 2: [9.2, 9.6]},
                       "m": {"spark.tasks": 8.0}}}
    m = spans.op_layer_metrics(tr, events, {"op-0": {"rows_changed": 4}})[
        "op-0"]
    assert m["table.dml_self_s"] == pytest.approx(3.0)
    assert m["txn.commit_self_s"] == pytest.approx(1.5)
    assert m["writer.stage_s"] == pytest.approx(3.0)
    assert m["log.store_writes"] == 1.0
    assert m["spark.jobs"] == 2.0 and m["spark.tasks"] == 8.0
    assert m["spark.driver_only_s"] == pytest.approx(10.0 - 2.4)
    # covered: spans [1, 9] and the job [9.2, 9.6]
    assert m["unattributed_s"] == pytest.approx(10.0 - 8.0 - 0.4)


def test_inventory_jobs_are_the_log_layers_not_the_scans():
    tr = spans.Tracer(enabled=True)
    tr.ops.append({"id": "op-0", "type": "cold_query", "start": 0.0,
                   "end": 5.0})
    # scan.plan [0.5, 4] holds the files_local_df inventory [1, 3], which
    # holds the driver-side rows [1.2, 1.4] and a Spark job [1.5, 2.5];
    # the job [3.5, 4.5] is the scan's own
    tr.spans += [
        {"name": "scan.plan", "op": "op-0", "start": 0.5, "end": 4.0,
         "parent": None},
        {"name": "log.inventory", "op": "op-0", "start": 1.0, "end": 3.0,
         "parent": 0},
        {"name": "log.inventory", "op": "op-0", "start": 1.2, "end": 1.4,
         "parent": 1},
    ]
    events = {"op-0": {"jobs": {1: [1.5, 2.5], 2: [3.5, 4.5]}, "m": {}}}
    m = spans.op_layer_metrics(tr, events, {})["op-0"]
    assert m["log.inventory_spark_jobs"] == 1.0
    assert m["log.inventory_s"] == pytest.approx(2.0)
    assert m["scan.plan_s"] == pytest.approx(1.5)
    assert m["spark.jobs"] == 2.0


class _JobGroups:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, description):
        self.groups.append(group)


def test_deferred_accounting_runs_after_the_op_window():
    tr = spans.Tracer(True, _JobGroups())
    with tr.op("op-0", "warm_query"):
        tr.defer(lambda: (time.sleep(0.05),
                          tr.count("scan.files_selected", 3)))
    tr.settle()
    assert tr.counts["op-0"]["scan.files_selected"] == 3
    assert tr.ops[0]["end"] - tr.ops[0]["start"] < 0.05
    assert tr.sc.groups == ["op-0", "perfbench-accounting"]
