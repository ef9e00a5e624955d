import json

import pytest

from perfbench.trace import Span, Tracer, exception_names, parse_event_log, self_times


def _span(name, start, end, parent=None):
    return Span(name, "op", start, end, parent)


def test_self_time_subtracts_covered_children():
    spans = [
        _span("op", 0.0, 10.0),
        _span("build", 1.0, 3.0, parent=0),
        _span("exec", 2.0, 5.0, parent=0),  # overlaps build: union is 1..5
        _span("load_table", 1.5, 2.5, parent=1),
    ]
    assert self_times(spans) == pytest.approx([6.0, 1.0, 3.0, 1.0])


def test_self_time_clips_children_to_parent():
    spans = [_span("op", 0.0, 4.0), _span("late", 3.0, 9.0, parent=0)]
    assert self_times(spans)[0] == pytest.approx(3.0)


def test_tracer_records_parents_and_counts():
    tr = Tracer(enabled=True)
    with tr.span("op", op="p0:q"):
        with tr.span("plans.build"):
            tr.count("py4j", 3)
    assert [s.name for s in tr.spans] == ["op", "plans.build"]
    assert tr.spans[1].parent == 0 and tr.spans[1].op == "p0:q"
    assert tr.spans[1].counts["py4j"] == 3


def test_tracer_does_not_count_its_own_job_group_calls():
    tr = Tracer(enabled=True)

    class Context:  # a Py4J call site: every call is counted
        groups = []

        def setJobGroup(self, group, desc):
            tr.count("py4j")
            self.groups.append(group)

    tr.sc = Context()
    with tr.span("op", op="p0:q"):
        with tr.span("plans.build"):
            tr.count("py4j")
    assert tr.spans[0].counts["py4j"] == 0
    assert tr.spans[1].counts["py4j"] == 1
    assert Context.groups == [
        "p0:q|op", "p0:q|plans.build", "p0:q|op", "-|untraced"
    ]


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("op") as s:
        tr.count("py4j")
    assert s is None and tr.spans == []


def _canned_log():
    events = [
        {"Event": "SparkListenerApplicationStart", "App Name": "t"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "p0:q|sources.load_table"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 40, "Executor Deserialize Time": 5,
            "JVM GC Time": 1, "Input Metrics": {"Bytes Read": 1000},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 0},
            "Disk Bytes Spilled": 0}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2, 3],
         "Properties": {"spark.jobGroup.id": "p0:q|spark.exec"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "time": 1700000000123},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 100, "Executor Deserialize Time": 10,
            "JVM GC Time": 7, "Input Metrics": {"Bytes Read": 500},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2000},
            "Disk Bytes Spilled": 64}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 50, "Executor Deserialize Time": 0,
            "JVM GC Time": 0, "Input Metrics": {"Bytes Read": 500},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 0},
            "Disk Bytes Spilled": 0}},
        # stage 3 was skipped (shuffle reuse): it never completes
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [4]},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 4}},
    ]
    return "\n".join(json.dumps(e) for e in events) + '\n{"Event": "SparkListe'


def test_event_log_parser_attributes_work_to_job_groups(tmp_path):
    (tmp_path / "local-1700000000000").write_text(_canned_log())
    (tmp_path / "appstatus_local").write_text("")
    out = parse_event_log(tmp_path)
    g = out["groups"]
    assert g["p0:q|sources.load_table"] == {
        "jobs": 1, "stages": 1, "tasks": 1, "executor_run_ms": 40,
        "deserialize_ms": 5, "gc_ms": 1, "input_bytes": 1000,
        "shuffle_write_bytes": 0, "spill_bytes": 0,
    }
    ex = g["p0:q|spark.exec"]
    assert (ex["jobs"], ex["stages"], ex["tasks"]) == (1, 1, 2)
    assert ex["executor_run_ms"] == 150 and ex["shuffle_write_bytes"] == 2000
    assert ex["spill_bytes"] == 64 and ex["input_bytes"] == 1000
    assert g["-|untraced"]["jobs"] == 1 and g["-|untraced"]["stages"] == 1
    assert out["sql_starts_ms"] == [1700000000123]


def test_event_log_parser_reads_rolling_directories(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    lines = _canned_log().splitlines()
    (d / "events_2_local-1").write_text("\n".join(lines[6:]) + "\n")
    (d / "events_1_local-1").write_text("\n".join(lines[:6]) + "\n")
    out = parse_event_log(tmp_path)
    assert out["groups"]["p0:q|spark.exec"]["tasks"] == 2


def test_exception_names_counts_qualified_classes():
    text = (
        "WARN DAGScheduler: Failed to update accumulator\n"
        "org.apache.spark.SparkException: boom\n"
        "Caused by: java.lang.IllegalStateException: nested\n"
        "\tat org.apache.spark.scheduler.DAGScheduler.updateAccumulators\n"
        "plain ValueError without a package\n"
    )
    assert exception_names(text) == {
        "org.apache.spark.SparkException": 1,
        "java.lang.IllegalStateException": 1,
    }
