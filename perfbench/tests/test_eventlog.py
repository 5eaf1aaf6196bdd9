"""The event-log parser against hand-built events and a recorded log.

The recorded fixture is a trimmed event log of one small traced KG build
and one delta batch (entity_dense shape, 6 base conversations) on Spark
4.1; spans_small.json holds the benchmark's span records of that run.
"""

import json
import shutil
from collections import Counter
from pathlib import Path

import pytest

import eventlog

FIXTURES = Path(__file__).parent / "fixtures"


def test_union_length_merges_overlaps_and_clips():
    intervals = [(9.0, 12.0), (1.0, 3.0), (2.0, 5.0), (7.0, 8.0), (-2.0, -1.0)]
    # [1,5] + [7,8] + [9,10] after clipping to [0, 10]
    assert eventlog._union_length(intervals, 0.0, 10.0) == 6.0
    assert eventlog._union_length([], 0.0, 10.0) == 0.0


def _job(jid, group, start_ms, end_ms, stage):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid,
         "Submission Time": start_ms, "Properties": {eventlog.GROUP: group}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": stage}, "Properties": {eventlog.GROUP: group}},
        {"Event": "SparkListenerJobEnd", "Job ID": jid,
         "Completion Time": end_ms},
    ]


def _task(stage, run_ms, gc_ms=0, shuffle=0, py_run=0, reason="Success"):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Info": {"Accumulables": [
            {"ID": 1, "Name": eventlog.PY_RUN, "Update": py_run}]},
        "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": gc_ms,
                         "Shuffle Write Metrics": {
                             "Shuffle Bytes Written": shuffle}},
    }


def test_span_metrics_from_hand_built_events():
    events = (
        _job(0, "0.build.detect", 1_000, 3_000, 10)
        + _job(1, "0.build.detect", 2_000, 5_000, 11)
        + _job(2, "1.build.triples", 6_000, 7_000, 12)
        + [_task(10, 400, gc_ms=50, py_run=300),
           _task(11, 600, shuffle=128, py_run=500),
           _task(11, 999, reason="TaskKilled"),
           _task(12, 100), _task(12, 100), _task(12, 500)]
    )
    spans = [
        {"name": "detect", "group": "0.build.detect", "start": 0.5, "end": 5.5},
        {"name": "triples", "group": "1.build.triples", "start": 5.5,
         "end": 8.0},
    ]
    m = eventlog.span_metrics(events, spans)
    assert m["detect.wall_s"] == 5.0
    assert m["detect.jobs"] == 2
    assert m["detect.run_s"] == 1.0          # the killed task is ignored
    assert m["detect.python_s"] == 0.8
    assert m["detect.gc_s"] == 0.05
    assert m["detect.shuffle_write_bytes"] == 128
    assert m["detect.driver_gap_s"] == pytest.approx(5.0 - 4.0)
    assert m["triples.driver_gap_s"] == pytest.approx(2.5 - 1.0)
    assert m["triples.task_skew"] == 5.0     # 500 ms over the 100 ms median
    assert m["run.jobs"] == 3
    assert m["run.driver_gap_s"] == pytest.approx(2.5)


def _recorded():
    events = eventlog.read_events(FIXTURES / "eventlog_small.jsonl")
    spans = json.loads((FIXTURES / "spans_small.json").read_text())
    return events, spans


def test_recorded_log_job_counts_and_gaps():
    events, spans = _recorded()
    m = eventlog.span_metrics(events, spans)
    starts = Counter(e["Properties"].get(eventlog.GROUP) for e in events
                     if e["Event"] == "SparkListenerJobStart")
    names = {s["name"] for s in spans}
    assert names == {"detect", "mentions", "anonymize", "triples", "link",
                     "canon", "ctriples", "inc_canon", "merge"}
    for name in names:
        groups = [s["group"] for s in spans if s["name"] == name]
        assert m[f"{name}.jobs"] == sum(starts[g] for g in groups) > 0
        assert 0.0 <= m[f"{name}.driver_gap_s"] < m[f"{name}.wall_s"]
    assert m["run.jobs"] == sum(m[f"{n}.jobs"] for n in names)
    assert m["run.driver_gap_s"] == pytest.approx(
        sum(m[f"{n}.driver_gap_s"] for n in names))


def test_recorded_log_python_and_link_metrics():
    events, spans = _recorded()
    m = eventlog.span_metrics(events, spans)
    # detect and triples are the Python kernels; mentions is pure JVM
    assert m["detect.python_s"] > 0 and m["triples.python_s"] > 0
    assert m["mentions.python_s"] == 0
    assert m["detect.arrow_to_py_bytes"] == 7600
    assert m["detect.arrow_from_py_bytes"] == 17872
    assert m["detect.input_bytes"] == 9973
    assert m["link.candidate_pairs"] == 188
    assert m["link.verify_yield"] == pytest.approx(176 / 188)


def test_rolling_log_directory_reads_in_file_order(tmp_path):
    lines = (FIXTURES / "eventlog_small.jsonl").read_text().splitlines(True)
    half = len(lines) // 2
    (tmp_path / "events_10_app").write_text("".join(lines[half:]))
    (tmp_path / "events_2_app").write_text("".join(lines[:half]))
    shutil.copy(FIXTURES / "spans_small.json", tmp_path / "ignored.json")
    assert eventlog.read_events(tmp_path) == eventlog.read_events(
        FIXTURES / "eventlog_small.jsonl")
