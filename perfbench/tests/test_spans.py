"""Self time, and attribution of Spark's event log to operation spans."""

import json

import pytest

from perfbench.spans import Span, Tracer, op_spark_metrics, read_event_logs, self_times, union_length


def _span(i, name, start, end, parent=None, op=None):
    return Span(i, name, start, end, parent, op)


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)
    assert union_length([], 0, 1) == 0


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(0, "op.tick", 0.0, 10.0),
        _span(1, "txlog.append", 1.0, 3.0, parent=0),
        _span(2, "replicate.tick", 4.0, 9.0, parent=0),
        _span(3, "inner", 5.0, 6.0, parent=2),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 2 - 5)
    assert st[1] == pytest.approx(2)
    assert st[2] == pytest.approx(5 - 1)
    assert st[3] == pytest.approx(1)


def test_tracer_nests_spans_and_inherits_the_op():
    t = Tracer(True)
    with t.span("op.lookup", op=7):
        with t.span("txlog.read_plan"):
            pass
    outer, inner = t.spans
    assert inner.parent == outer.id and inner.op == 7 and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("x", op=1) as s:
        assert s is None
    assert t.spans == []


def _task(stage, run_ms, shuffle_w=0, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
        "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 1_000_000 // 2,
        "JVM GC Time": 1, "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 1 << 20},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
        "Input Metrics": {"Bytes Read": 2 << 20}, "Output Metrics": {"Bytes Written": 0}}}


def _job(jid, t0_ms, t1_ms, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t0_ms,
         "Stage IDs": stages, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1_ms},
    ]


def test_event_log_jobs_are_attributed_by_group_then_by_time(tmp_path):
    ops = {1: _span(0, "op.write", 100.0, 102.0, op=1), 2: _span(1, "op.tick", 103.0, 110.0, op=2)}
    events = (
        _job(0, 100_500, 101_000, [0, 1], group="op1")
        # stage 1 is listed again but ran for job 0: its tasks stay there
        + _job(1, 101_200, 101_500, [1, 2], group="op1")
        # a streaming job: another thread's group, inside op 2's span
        + _job(2, 104_000, 108_000, [3], group="7f1c-run-id")
        # outside every operation: set-up work, attributed to none
        + _job(3, 111_000, 112_000, [4])
        + [_task(0, 100), _task(1, 200, shuffle_w=1 << 20), _task(2, 50),
           _task(3, 400, spill=1 << 21), _task(3, 400), _task(4, 999)]
    )
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    got = op_spark_metrics(read_event_logs(str(tmp_path)), ops)
    assert got[1]["jobs"] == 2 and got[1]["stages"] == 3 and got[1]["tasks"] == 3
    assert got[1]["task_run_s"] == pytest.approx(0.35)
    assert got[1]["task_cpu_s"] == pytest.approx(0.175)
    assert got[1]["shuffle_write_mb"] == pytest.approx(1.0)
    assert got[1]["shuffle_read_mb"] == pytest.approx(3.0)
    assert got[1]["input_mb"] == pytest.approx(6.0)
    # 2 s span, jobs cover [100.5, 101.0] and [101.2, 101.5]
    assert got[1]["driver_gap_s"] == pytest.approx(2.0 - 0.8)
    assert got[2]["jobs"] == 1 and got[2]["tasks"] == 2
    assert got[2]["spill_mb"] == pytest.approx(2.0)
    assert got[2]["driver_gap_s"] == pytest.approx(7.0 - 4.0)


def test_rolling_event_log_directories_are_read_in_order(tmp_path):
    d = tmp_path / "eventlog_v2_app-2"
    d.mkdir()
    (d / "events_1_app-2").write_text(json.dumps({"Event": "A"}) + "\n")
    (d / "events_2_app-2").write_text(json.dumps({"Event": "B"}) + "\n")
    (d / "appstatus_app-2").write_text("")
    assert read_event_logs(str(tmp_path)) == [[{"Event": "A"}, {"Event": "B"}]]
