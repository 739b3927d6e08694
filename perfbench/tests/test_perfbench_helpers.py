"""Unit tests for the benchmark's pure helpers.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import digest  # noqa: E402
import procstat  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
from tracing import Span  # noqa: E402

# ------------------------------------------------------------------ stats


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs, 100) == 100
    assert stats.percentile([7.0], 99) == 7.0


def test_tail_needs_ten_samples_beyond_it():
    assert stats.tail_percentile(list(range(50))) is None  # p90 leaves only 5 above
    assert stats.tail_percentile(list(range(100))) == (90.0, 89)
    assert stats.tail_percentile(list(range(1000))) == (99.0, 989)
    s = stats.summary([3.0, 1.0, 2.0])
    assert s == {"median": 2.0, "n": 3}


def test_iqr_share_matches_statistics_quantiles():
    xs = [10.0, 11.0, 9.0, 10.5, 10.2, 9.8, 10.1, 9.9, 10.3, 10.0]
    q1, _, q3 = __import__("statistics").quantiles(xs, n=4)
    assert stats.iqr_share(xs) == pytest.approx((q3 - q1) / 10.05)


# ------------------------------------------------------------------ spans


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, None, 0, "pass", 0.0, 10.0),
        Span(1, 0, 0, "queries.build", 1.0, 4.0),
        Span(2, 1, 0, "operators.truncate_lineage", 2.0, 3.0),
        Span(3, 0, 0, "queries.exec", 4.0, 9.0),
    ]
    st = tracing.self_times(spans)
    assert st == {0: pytest.approx(2.0), 1: pytest.approx(2.0), 2: 1.0, 3: 5.0}
    by_name = tracing.self_time_by_name(spans)
    assert sum(by_name.values()) == pytest.approx(10.0)


def test_self_time_clips_overlapping_and_outlying_children():
    spans = [
        Span(0, None, None, "p", 0.0, 4.0),
        Span(1, 0, None, "a", -1.0, 2.0),  # starts before its parent
        Span(2, 0, None, "b", 1.5, 3.0),  # overlaps a
    ]
    assert tracing.self_times(spans)[0] == pytest.approx(1.0)


def test_tracer_records_parents_and_pass_ids():
    t = tracing.Tracer()
    t.pass_id = 3
    with t.span("outer"):
        with t.span("inner"):
            pass
    inner, outer = t.spans
    assert (inner.name, inner.parent, inner.pass_id) == ("inner", outer.id, 3)
    assert outer.parent is None and outer.start <= inner.start <= inner.end <= outer.end


def test_patches_wrap_every_reference_and_restore(monkeypatch):
    import types

    def f(x):
        return x + 1

    a = types.ModuleType(tracing.PACKAGE + ".fake_a")
    b = types.ModuleType(tracing.PACKAGE + ".fake_b")
    a.f, b.g = f, f
    monkeypatch.setitem(sys.modules, a.__name__, a)
    monkeypatch.setitem(sys.modules, b.__name__, b)
    t = tracing.Tracer()
    p = tracing.Patches(t)
    p.wrap(f, "layer.f")
    assert a.f(1) == 2 and b.g(2) == 3
    assert [s.name for s in t.spans] == ["layer.f"] * 2
    p.restore()
    assert a.f is f and b.g is f


# ------------------------------------------------------------------ event log

W0, W1 = 1000.0, 1010.0  # one pass window, epoch seconds


def _plan(name, *children):
    return {"nodeName": name, "children": list(children)}


CANNED = [
    {  # inside the window, during a build
        "Event": "SparkListenerJobStart",
        "Job ID": 1,
        "Submission Time": 1_001_000,
        "Stage Infos": [{"Stage ID": 5, "Number of Tasks": 1}],
    },
    {
        "Event": "SparkListenerJobStart",
        "Job ID": 2,
        "Submission Time": 1_005_000,
        "Stage Infos": [
            {"Stage ID": 6, "Number of Tasks": 4},
            {"Stage ID": 7, "Number of Tasks": 4},
        ],
    },
    {  # before the window: warm-up
        "Event": "SparkListenerJobStart",
        "Job ID": 0,
        "Submission Time": 990_000,
        "Stage Infos": [{"Stage ID": 1, "Number of Tasks": 9}],
    },
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 5, "Submission Time": 1}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 6, "Submission Time": 1}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 7}},  # skipped stage
    {
        "Event": "SparkListenerTaskEnd",
        "Task Info": {"Launch Time": 1_005_100},
        "Task Metrics": {
            "Executor Run Time": 1500,
            "Executor CPU Time": 1_200_000_000,
            "JVM GC Time": 100,
            "Shuffle Read Metrics": {"Remote Bytes Read": 10, "Local Bytes Read": 5},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
            "Memory Bytes Spilled": 3,
            "Disk Bytes Spilled": 2,
        },
    },
    {
        "Event": "SparkListenerTaskEnd",
        "Task Info": {"Launch Time": 995_000},
        "Task Metrics": {"Executor Run Time": 99_000},
    },
    {
        "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
        "executionId": 4,
        "time": 1_002_000,
        "sparkPlanInfo": _plan("AdaptiveSparkPlan", _plan("SortMergeJoin")),
    },
    {  # AQE re-planned the join into a broadcast: the final plan counts
        "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
        "executionId": 4,
        "sparkPlanInfo": _plan(
            "AdaptiveSparkPlan",
            _plan(
                "BroadcastHashJoin",
                _plan("BroadcastQueryStage", _plan("BroadcastExchange")),
                _plan("ShuffleQueryStage", _plan("Exchange", _plan("MapInPandas"))),
            ),
        ),
    },
    {
        "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
        "executionId": 5,
        "time": 1_003_000,
        "sparkPlanInfo": _plan("FlatMapGroupsInPandasWithState", _plan("ArrowEvalPython")),
    },
    {
        "Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
        "progress": {
            "timestamp": "1970-01-01T00:16:43.000Z",  # 1003 s
            "batchId": 0,
            "stateOperators": [
                {"allUpdatesTimeMs": 40, "commitTimeMs": 30, "numRowsTotal": 100},
                {"allUpdatesTimeMs": 2, "commitTimeMs": 1, "numRowsTotal": 5},
            ],
        },
    },
    {
        "Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
        "progress": {"timestamp": "1970-01-01T00:16:44.500Z", "batchId": 1, "stateOperators": []},
    },
    {
        "Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
        "progress": {"timestamp": "1970-01-01T00:20:00.000Z", "batchId": 2, "stateOperators": []},
    },
]


def test_event_log_metrics_on_canned_sample():
    m = tracing.event_log_metrics(CANNED, [(W0, W1)], build_windows=[(1000.5, 1001.5)])
    assert m["scheduler.jobs"] == 2
    assert m["scheduler.build_jobs"] == 1
    assert m["scheduler.stages"] == 2  # stage 7 never ran, stage 1 is outside
    assert m["scheduler.tasks"] == 1
    assert m["executor.run_s"] == pytest.approx(1.5)
    assert m["executor.cpu_s"] == pytest.approx(1.2)
    assert m["executor.gc_s"] == pytest.approx(0.1)
    assert m["executor.shuffle_read_bytes"] == 15
    assert m["executor.shuffle_write_bytes"] == 7
    assert m["executor.spill_bytes"] == 5
    assert m["plan.broadcast_exchanges"] == 1
    assert m["plan.sort_merge_joins"] == 0
    assert m["plan.shuffle_exchanges"] == 1
    assert m["plan.python_nodes"] == 3
    assert m["stream.batches"] == 2
    assert m["stream.updates_ms"] == 42
    assert m["stream.commit_ms"] == 31
    assert m["stream.state_rows"] == 105


def test_scan_tasks_is_first_stage_in_window():
    assert tracing.scan_tasks(CANNED, (1000.5, 1010.0)) == 1
    assert tracing.scan_tasks(CANNED, (1004.0, 1010.0)) == 4
    assert tracing.scan_tasks(CANNED, (2000.0, 2001.0)) == 0


# ------------------------------------------------------------------ digests


def test_digest_is_order_and_type_insensitive_like_the_oracle_compare():
    spark_like = pd.DataFrame({"b": [2.0, 1.5, float("nan")], "a": [3, 1, 2]})
    duck_like = pd.DataFrame({"a": [1, 2, 3], "b": [1.5, None, 2]})
    assert digest.digest_frame(spark_like) == digest.digest_frame(duck_like)


def test_check_fails_on_a_perturbed_result():
    df = pd.DataFrame({"k": ["x", "y"], "v": [1.25, 2.5]})
    want = digest.digest_frame(df)
    assert digest.check(digest.digest_frame(df.copy()), want) is None
    bumped = df.copy()
    bumped.loc[1, "v"] = 2.5000001
    assert digest.check(digest.digest_frame(bumped), want) == "value digest differs"
    assert digest.check(digest.digest_frame(df.iloc[:1]), want).startswith("rows")
    assert digest.check(digest.digest_frame(df.rename(columns={"v": "w"})), want).startswith(
        "columns"
    )
    assert digest.check(digest.digest_frame(df), None) is not None


def test_canon_value_handles_arrays_timestamps_and_decimals():
    import datetime
    import decimal

    import numpy as np

    assert digest.canon_value(np.array([1.0, 2.5])) == (1, 2.5)
    assert digest.canon_value(np.int64(4)) == 4
    assert digest.canon_value(decimal.Decimal("2.50")) == 2.5
    assert digest.canon_value(True) == 1
    ts = pd.Timestamp("2024-01-02 03:04:05")
    assert digest.canon_value(ts) == digest.canon_value(ts.to_pydatetime()) == "2024-01-02T03:04:05"
    assert digest.canon_value(datetime.date(2024, 1, 2)) == "2024-01-02"


def test_steal_is_the_eighth_field_of_the_cpu_line():
    tick = procstat.TICK_S
    line = "cpu  3792854 0 261808 8266310 5388 0 68943 337417 0 0\n"
    assert procstat.parse_steal(line) == pytest.approx(337417 * tick)
    with pytest.raises(ValueError):
        procstat.parse_steal("cpu0 1 2 3 4 5 6 7 8 9 10")


def test_stat_fields_survive_a_command_name_with_spaces_and_parens():
    fields = procstat._stat_fields("42 (a (b) c) S 7 42 42 0 -1 0 0 0 0 0 11 22 33 44 20 0")
    assert fields[0] == "S" and fields[1] == "7"
    assert [int(x) for x in fields[11:15]] == [11, 22, 33, 44]


def test_tree_cpu_counts_a_busy_child():
    import subprocess

    before = procstat.tree_cpu_s()
    subprocess.run([sys.executable, "-c", "sum(i * i for i in range(3_000_000))"], check=True)
    assert procstat.tree_cpu_s() - before > 0.05
