"""Tests for the benchmark's own parts (no Spark session needed).

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import keys  # noqa: E402
import run  # noqa: E402
import sparklog  # noqa: E402
import spans  # noqa: E402


# -- the query_mix panel ----------------------------------------------

def test_panel_keys_are_registered_under_their_modules():
    from twitter_hashtag_sentiment_analysis_spark.registry import load_all

    reg = load_all()
    for key, (module, why) in keys.PANEL.items():
        assert key in reg, key
        assert keys.module_of(reg[key].fn) == module, key
        assert why
    # the panel holds a streaming drain and keys whose fn does eager work
    assert any(k.startswith("stream_") and reg[k].eager for k in keys.PANEL)
    assert set(keys.MODULES) == {m for m, _ in keys.PANEL.values()}


# -- file sink metadata log ------------------------------------------

def _write_log(path: str, name: str, files: list[str], mtime: float) -> None:
    with open(os.path.join(path, name), "w") as f:
        f.write("v1\n")
        for p in files:
            f.write(json.dumps({"path": p, "size": 1, "isDir": False, "action": "add"}) + "\n")
    os.utime(os.path.join(path, name), (mtime, mtime))


def test_sink_log_skips_compacted_repeats_in_numeric_order(tmp_path):
    log = str(tmp_path)
    listed = []
    for b in range(12):
        new = [f"file:/out/part-{b}-{i}.json" for i in range(2)]
        listed += new
        if b == 9:  # the compaction lists every earlier file again
            _write_log(log, "9.compact", listed, 1000.0 + b)
        else:
            _write_log(log, str(b), new, 1000.0 + b)
    open(os.path.join(log, ".10.crc"), "w").close()
    batches = sparklog.read_sink_log(log)
    assert [b for b, _, _ in batches] == list(range(12))
    assert [t for _, t, _ in batches] == [1000.0 + b for b in range(12)]
    paths = [p for _, _, ps in batches for p in ps]
    assert paths == listed
    assert batches[9][2] == ["file:/out/part-9-0.json", "file:/out/part-9-1.json"]


# -- event log -------------------------------------------------------

def _task(launch_ms: int, run_ms: int, cpu_ns: int, gc_ms: int, shuffle_w: int, fetch_ms: int) -> dict:
    return {
        "Event": "SparkListenerTaskEnd",
        "Task Info": {"Launch Time": launch_ms},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 5, "Fetch Wait Time": fetch_ms},
        },
    }


def _progress(stamp: str, run_id: str, rows: int, add_ms: int, state_rows: int | None = None) -> dict:
    p = {
        "runId": run_id,
        "batchId": 0,
        "timestamp": stamp,
        "sources": [{"numInputRows": rows}],
        "durationMs": {"triggerExecution": add_ms + 10, "addBatch": add_ms, "walCommit": 4, "latestOffset": 2},
        "stateOperators": [],
    }
    if state_rows is not None:
        p["stateOperators"] = [
            {"numRowsTotal": state_rows, "memoryUsedBytes": 100 * state_rows, "commitTimeMs": 3,
             "allUpdatesTimeMs": 7, "numRowsDroppedByWatermark": 1}
        ]
    return {"Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent", "progress": p}


EVENTS = [
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "executionId": 3, "time": 10_000},
    {"Event": "SparkListenerJobStart", "Submission Time": 10_250, "Properties": {"spark.sql.execution.id": "3"}},
    {"Event": "SparkListenerJobStart", "Submission Time": 10_400, "Properties": {"spark.sql.execution.id": "3"}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Submission Time": 10_300, "Accumulables": [
        {"Name": "data sent to Python workers", "Value": "150"},
        {"Name": "data returned from Python workers", "Value": "20"},
        {"Name": "number of output rows", "Value": "9"},
    ]}},
    _task(10_300, 40, 30_000_000, 2, 64, 1),
    _task(10_310, 60, 50_000_000, 0, 0, 3),
    _progress("1970-01-01T00:00:10.500Z", "r1", 100, 50, state_rows=7),
    _progress("1970-01-01T00:00:11.500Z", "r1", 20, 30, state_rows=9),
    # a no-data progress report is not a batch
    {"Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
     "progress": {"runId": "r1", "timestamp": "1970-01-01T00:00:11.900Z", "sources": [],
                  "durationMs": {"triggerExecution": 1, "latestOffset": 1}}},
    # outside the window
    _task(30_000, 999, 1, 1, 1, 1),
]


def test_layer_totals_from_event_log():
    t = sparklog.layer_totals(EVENTS, 10.0, 20.0)
    assert t["spark.jobs"] == 2 and t["spark.stages"] == 1 and t["spark.tasks"] == 2
    assert t["spark.task_run_ms"] == 100 and t["spark.task_cpu_ms"] == pytest.approx(80.0)
    assert t["spark.gc_ms"] == 2 and t["spark.shuffle_write_bytes"] == 64
    assert t["spark.shuffle_read_bytes"] == 10 and t["spark.shuffle_fetch_wait_ms"] == 4
    assert t["spark.python_bytes_sent"] == 150 and t["spark.python_bytes_returned"] == 20
    assert t["spark.pre_job_ms"] == pytest.approx(250.0)  # SQL start to its FIRST job
    assert t["streaming.batches"] == 2 and t["streaming.input_rows"] == 120
    assert t["streaming.add_batch_ms"] == 80 and t["streaming.trigger_ms"] == 100
    assert t["streaming.wal_commit_ms"] == 8 and t["streaming.latest_offset_ms"] == 4
    assert t["streaming.state_commit_ms"] == 6 and t["streaming.state_updates_ms"] == 14
    assert t["streaming.state_rows"] == 9 and t["streaming.state_memory_bytes"] == 900
    assert t["streaming.watermark_dropped_rows"] == 2
    assert set(t) == set(sparklog.LAYER_KEYS)


def test_rolled_event_log_parts_are_read_in_index_order(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for n in (1, 2, 10):
        (d / f"events_{n}_local-1").write_text(json.dumps({"Event": "E", "n": n}) + "\n")
    (d / "appstatus_local-1").write_text("")
    assert [e["n"] for e in sparklog.read_events(str(tmp_path))] == [1, 2, 10]


# -- spans -----------------------------------------------------------

def _span(sid, parent, start, end, kind="phase", name=None):
    return {"id": sid, "parent": parent, "name": name or f"s{sid}", "kind": kind,
            "start": start, "end": end, "attrs": {}}


def test_self_time_subtracts_the_union_of_children():
    tree = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps its sibling: the union counts once
        _span(3, 1, 1.0, 2.0),
        _span(4, 0, 9.0, 12.0),  # runs past its parent: clipped
    ]
    st = spans.self_times(tree)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0) and st[3] == pytest.approx(1.0)


def test_phase_coverage_ignores_event_spans():
    tree = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 0.0, 6.0),
        _span(2, 1, 1.0, 5.0),
        _span(3, 0, 6.0, 9.0),
        _span(4, 1, 0.0, 100.0, kind="event"),
    ]
    assert spans.phase_coverage(tree) == pytest.approx(0.9)
    assert spans.self_by_name(tree)["s1"] == pytest.approx(2.0)


def test_recorder_nests_spans():
    rec = spans.Recorder()
    with rec.span("outer") as o:
        with rec.span("inner") as i:
            pass
    assert rec.spans[i]["parent"] == o and rec.spans[o]["parent"] is None
    assert rec.spans[o]["start"] <= rec.spans[i]["start"] <= rec.spans[i]["end"] <= rec.spans[o]["end"]


# -- tweet_stream checks ---------------------------------------------

def test_check_rows_flags_every_kind_of_wrong_sink_output():
    import pyarrow as pa

    import tweets
    from twitter_hashtag_sentiment_analysis_spark.functions.sentiment import score_text

    dropped = [(1, "en", "fast spark"), (2, "es", "slow"), (3, "en", "big dup"), (4, "en", "a")]
    expected = tweets.expected_table(dropped)

    def sink(rows):
        cols = {c: [r[i] for r in rows] for i, c in enumerate(tweets.SINK_SCHEMA)}
        return pa.table(cols).append_column("batch", pa.array([0] * len(rows), pa.int64()))

    def row(tid, lang, text, scores=None):
        return (tid, lang, text, *(scores or score_text(text)))

    good = [row(1, "en", "fast spark"), row(3, "en", "big dup"), row(4, "en", "a")]
    assert tweets.check_rows(sink(good), expected, score_text) == []
    bad = [
        row(1, "en", "fast spark"),
        row(1, "en", "fast spark"),  # landed twice
        row(2, "es", "slow"),  # es must not land
        row(3, "en", "big dup!"),  # text changed
        row(9, "en", "a"),  # never dropped
        row(4, "en", "a", ("POSITIVE", 1.0, 0.0, 0.0, 0.0)),  # wrong score
    ]
    problems = " | ".join(tweets.check_rows(sink(bad), expected, score_text))
    for needle in ("more than once", "non-en", "texts changed", "unknown ids", "sentiment"):
        assert needle in problems
    missing = tweets.check_rows(sink(good[:2]), expected, score_text)
    assert missing == ["1 en tweets missing, e.g. id 4"]


# -- the contract file -----------------------------------------------

def test_benchmark_json_names_what_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert m["unit"] == run.unit(m["name"])
