"""Tests of the benchmark's own arithmetic (no Spark needed):

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402
import stats  # noqa: E402
from spans import Span, self_time  # noqa: E402


# ---------------------------------------------------------------- percentiles


def test_tail_percentile_needs_ten_beyond():
    assert stats.tail_percentile([1.0] * 10) is None
    pct, value = stats.tail_percentile([float(i) for i in range(1, 12)])
    assert value == 1.0  # 10 samples above the smallest
    assert pct == pytest.approx(100 / 11)


def test_tail_percentile_picks_highest_rank():
    values = [float(i) for i in range(100, 0, -1)]  # unsorted input
    pct, value = stats.tail_percentile(values)
    assert (pct, value) == (90.0, 90.0)
    assert sum(v > value for v in values) == 10
    pct, value = stats.tail_percentile([float(i) for i in range(1000)])
    assert pct == 99.0 and value == 989.0


# ---------------------------------------------------------------- drop growth


def test_drop_growth_last_over_first_quarter():
    assert stats.drop_growth([1, 1, 2, 2, 3, 3, 4, 4]) == 4.0
    assert stats.drop_growth([2.0, 5.0, 5.0, 3.0]) == 1.5
    assert stats.drop_growth([1, 3, 2, 1, 9, 1, 3]) == 3.0  # quarter = 1 drop


def test_drop_growth_needs_four_drops():
    with pytest.raises(ValueError):
        stats.drop_growth([1.0, 2.0, 3.0])


# ---------------------------------------------------------------- self time


def _span(i, start, end, parent=None):
    return Span(id=str(i), name=f"s{i}", parent=parent, run_id="r", start=start, end=end)


def test_self_time_subtracts_union_of_children():
    root = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, "0"), _span(2, 2.0, 4.0, "0"), _span(3, 6.0, 7.0, "0")]
    assert self_time(root, kids) == pytest.approx(10.0 - 3.0 - 1.0)


def test_union_length_counts_overlaps_once():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(3.0, 4.0), (0.0, 2.0), (1.0, 2.5), (5.0, 5.0)]) == 3.5
    assert stats.union_length([(2.0, 1.0)]) == 0.0  # reversed: empty


def test_self_time_clips_children_to_span():
    root = _span(0, 5.0, 10.0)
    kids = [_span(1, 4.0, 6.0, "0"), _span(2, 9.5, 12.0, "0")]
    assert self_time(root, kids) == pytest.approx(5.0 - 1.0 - 0.5)
    assert self_time(root, []) == 5.0


# ---------------------------------------------------------------- event log


def _task(stage, launch, finish, cpu_ns=0, gc_ms=0, shuffle=0, spill=0, accs=()):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {
            "Launch Time": launch,
            "Finish Time": finish,
            "Accumulables": [{"ID": i, "Update": u} for i, u in accs],
        },
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def _canned_log(tmp_path):
    plan = {
        "nodeName": "Project",
        "simpleString": "Project",
        "metrics": [],
        "children": [
            {
                "nodeName": "ArrowEvalPython",
                "simpleString": "ArrowEvalPython [gated_jw(key_a#1, key_b#2)#9]",
                "metrics": [{"name": "number of output rows", "accumulatorId": 7}],
                "children": [
                    {
                        "nodeName": "ArrowEvalPython",
                        "simpleString": "ArrowEvalPython [encode_udf(key#3)#8]",
                        "metrics": [
                            {"name": "number of output rows", "accumulatorId": 8},
                            {"name": "data sent to Python workers", "accumulatorId": 9},
                        ],
                        "children": [],
                    }
                ],
            }
        ],
    }
    events = [
        {"Event": eventlog.SQL_START, "executionId": 1, "time": 1000,
         "physicalPlanDescription": "Execute InsertIntoHadoopFsRelationCommand x/_metrics",
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "r/0"}},
        _task(0, 1100, 1600, cpu_ns=4e8, gc_ms=20, shuffle=300, accs=[(7, 40), (9, 999)]),
        _task(0, 1200, 1500, cpu_ns=1e8, shuffle=200, accs=[(7, 10), (8, 5)]),
        _task(1, 2000, 2500, cpu_ns=5e8, shuffle=50, spill=64, accs=[(8, "3")]),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2600},
        # job of another thread (no group): owned by the span open at submission
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3500,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "streaming-run"}},
        _task(2, 3600, 3800, shuffle=10),
        {"Event": eventlog.SQL_END, "executionId": 1, "time": 2700},
    ]
    log_dir = tmp_path / "eventlog_v2_local-1"
    log_dir.mkdir()
    with open(log_dir / "events_1_local-1", "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")
    return str(tmp_path)


def test_eventlog_aggregates_onto_spans(tmp_path):
    call = _span("r/0", 1.0, 3.0)
    later = _span("r/1", 3.0, 4.0)
    stats_by_span, executions = eventlog.aggregate(
        eventlog.read_events(_canned_log(tmp_path)), [call, later]
    )
    st = stats_by_span["r/0"]
    assert st.jobs == 1
    assert st.shuffle_bytes == 550
    assert st.max_exchange_bytes == 500  # stage 0's two tasks
    assert st.cpu_s == pytest.approx(1.0)
    assert st.gc_s == pytest.approx(0.02)
    assert st.spill_bytes == 64
    assert st.arrow_rows == {"jw": 50, "encode": 8}
    # tasks cover [1.1, 1.6] and [2.0, 2.5] of the call's [1.0, 3.0]
    assert st.gap_s == pytest.approx(2.0 - 0.5 - 0.5)
    other = stats_by_span["r/1"]
    assert (other.jobs, other.shuffle_bytes) == (1, 10)
    assert other.gap_s == pytest.approx(1.0 - 0.2)
    (ex,) = executions
    assert ex.wall == pytest.approx(1.7) and "_metrics" in ex.plan


def test_eventlog_rollup_sums_subtree(tmp_path):
    root = _span("r/9", 0.5, 4.0)
    call = _span("r/0", 1.0, 3.0, parent="r/9")
    later = _span("r/1", 3.0, 4.0, parent="r/9")
    spans = [root, call, later]
    by_span, _ = eventlog.aggregate(eventlog.read_events(_canned_log(tmp_path)), spans)
    total = eventlog.rollup(by_span, spans, root)
    assert total.jobs == 2
    assert total.shuffle_bytes == 560
    assert total.arrow_rows == {"jw": 50, "encode": 8}
    assert total.gap_s == pytest.approx(3.5 - 1.2)
