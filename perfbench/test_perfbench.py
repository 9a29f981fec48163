"""Unit tests for the benchmark's helpers (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

import pytest

from perfbench import eventlog, layers, measure, run, trace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _commit(root, k, mtime):
    d = os.path.join(root, f"round_{k:06d}")
    os.makedirs(d, exist_ok=True)
    marker = os.path.join(d, "_COMMIT")
    with open(marker, "w") as f:
        f.write("ok")
    os.utime(marker, (mtime, mtime))


def test_round_latencies_from_commit_markers(tmp_path):
    root = str(tmp_path)
    for k, t in enumerate([100.0, 103.0, 110.0, 111.5]):
        _commit(root, k, t)
    os.makedirs(os.path.join(root, "round_000004"))  # uncommitted: ignored
    os.makedirs(os.path.join(root, "run_log"))  # not a round dir
    assert measure.commit_times(root) == [100.0, 103.0, 110.0, 111.5]
    # rounds committed after t=101: the first is timed from t=101
    assert measure.round_latencies(root, since=101.0) == [2.0, 7.0, 1.5]
    assert measure.round_latencies(root, since=200.0) == []


def test_tree_bytes_counts_every_file(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "a" / "x.parquet").write_bytes(b"x" * 100)
    (tmp_path / "a" / ".x.parquet.crc").write_bytes(b"c" * 12)
    (tmp_path / "b.json").write_bytes(b"{}")
    assert measure.tree_bytes(str(tmp_path)) == (114, 3)


@pytest.mark.parametrize("n, want", [
    (0, None), (9, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_needs_ten_samples_beyond(n, want):
    p = measure.tail_percentile([1.0] * n)
    assert p == want
    if p is not None:
        assert round(n * (100 - p) / 100, 9) >= measure.TAIL_SAMPLES


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert measure.percentile(xs, 50) == 50
    assert measure.percentile(xs, 90) == 90
    assert measure.percentile(xs, 100) == 100
    assert measure.percentile([3.0], 99) == 3.0


def test_quartile_spread():
    assert measure.quartile_spread([10.0] * 5) == 0.0
    xs = [9.0, 10.0, 10.0, 10.0, 11.0, 12.0, 8.0, 10.0, 10.0, 10.0]
    q1, med, q3 = __import__("statistics").quantiles(xs, n=4)
    assert measure.quartile_spread(xs) == pytest.approx((q3 - q1) / med)


def test_start_time_names_one_process():
    child = subprocess.Popen([sys.executable, "-c", "pass"])
    t = measure.start_time(child.pid)
    assert t is not None and t >= measure.start_time(os.getpid())
    child.wait()
    assert measure.start_time(child.pid) is None


def test_tree_rss_bytes_of_this_process():
    assert measure.tree_rss_bytes(os.getpid()) > 1 << 20
    assert measure.descendants(os.getpid()) == []


def _events(desc_by_job):
    """Two jobs; job 1 skips stage 2 (reused shuffle output)."""
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": desc_by_job[0]}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2, 3],
         "Properties": {"spark.job.description": desc_by_job[1]}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [4],
         "Properties": {}},
    ]
    for sid in (0, 1, 3, 4):
        ev.append({"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": sid}})
        ev.append({"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Task Metrics": {
            "Executor Run Time": 1500, "JVM GC Time": 100,
            "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 7,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 1000}}})
    ev.append({"Event": "SparkListenerStageCompleted",
               "Stage Info": {"Stage ID": 9, "Failure Reason": "boom"}})
    return ev


def test_counters_by_description():
    c = eventlog.counters_by_description(_events(["main:a #0", "main:b #1"]))
    assert c["main:a #0"] == {"jobs": 1, "stages": 2, "tasks": 2,
                              "shuffle_write_bytes": 2000, "spill_bytes": 24,
                              "task_s": 3.0, "gc_s": 0.2}
    assert c["main:b #1"]["stages"] == 1  # stage 2 was skipped
    assert c[eventlog.UNLABELLED]["jobs"] == 1


@pytest.mark.parametrize("rolling", [False, True])
def test_event_log_files_single_and_rolling(tmp_path, rolling):
    lines = [json.dumps(e) for e in _events(["main:a #0", "replay:b #3"])]
    if rolling:
        app = tmp_path / "eventlog_v2_local-1"
        app.mkdir()
        (app / "appstatus_local-1").write_text("")
        # index order, not name order: events_10 comes after events_2
        (app / "events_2_local-1").write_text("\n".join(lines[:2]) + "\n")
        (app / "events_10_local-1").write_text("\n".join(lines[2:]) + "\n")
    else:
        (tmp_path / "local-1").write_text("\n".join(lines) + "\n")
    files = eventlog.event_log_files(str(tmp_path))
    c = eventlog.counters_by_description(eventlog.read_events(files))
    cmap = layers.span_counters(c)
    assert set(cmap) == {("main", 0), ("replay", 3)}
    assert cmap[("main", 0)]["jobs"] == 1


def test_tracer_self_time_and_subtree():
    t = trace.Tracer()
    with t.recording():
        with t.span("round"):
            with t.span("a"):
                time.sleep(0.02)
            time.sleep(0.02)
        with t.span("other"):
            pass
    assert [s["name"] for s in t.spans] == ["round", "a", "other"]
    assert t.subtree("round") == {0, 1}
    (self_s,) = t.self_times("round")
    (round_s,) = t.durations("round")
    assert 0.015 < self_s < round_s - 0.015


def test_tracer_overlapping_children_count_once():
    t = trace.Tracer()
    t.spans = [
        {"id": 0, "name": "round", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "w", "parent": 0, "start": 1.0, "end": 5.0},
        {"id": 2, "name": "w", "parent": 0, "start": 2.0, "end": 6.0},
        {"id": 3, "name": "w", "parent": 0, "start": 8.0, "end": 12.0},
    ]
    assert t.self_times("round") == [10.0 - 5.0 - 2.0]
    assert t.total("w") == 12.0


def test_tracer_records_only_while_recording():
    t = trace.Tracer()
    with t.span("early"):
        t.add("n", 1)
    off = trace.Tracer(enabled=False)
    with off.recording(), off.span("x"):
        off.add("n", 1)
    assert t.spans == [] and dict(t.counts) == {}
    assert off.spans == [] and dict(off.counts) == {}


def test_patched_restores_attributes():
    class Box:
        f = 1
    with trace.patched([(Box, "f", 2)]):
        assert Box.f == 2
    assert Box.f == 1
    with pytest.raises(RuntimeError), trace.patched([(Box, "f", 3)]):
        raise RuntimeError
    assert Box.f == 1


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_contract():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert b["paths"] == ["perfbench"]
    assert 1 <= b["run_seconds"] <= 60
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [w["name"] for w in b["workloads"]]
    assert names == list(run.WORKLOADS)
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    all_names = names + [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(all_names) == len(set(all_names))
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in b["end_to_end"] + b["per_layer"]:
        assert name.match(m["name"]) and unit.match(m["unit"])
        assert m["better"] in ("higher", "lower")
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_reported_metrics_match_benchmark_json():
    b = _bench()
    runs = [{"wall_s": 4.0, "urls": 10, "seen": 20, "round_s": [1.0, 3.0],
             "round_urls": [4, 6], "state_bytes": 400}]
    e2e = run.e2e_metrics({"runs": runs, "peak_rss": 2**21},
                          {"session.start_s": 1.0, "warmup_s": 2.5})
    # urls_per_s is the median of the rounds' rates, 4/1 and 6/3
    assert e2e == {"urls_per_s": 3.0, "round_s_p50": 2.0, "state_bytes_per_url": 20.0,
                   "setup_s": 3.5}
    assert set(e2e) == set(run.metric_units("end_to_end"))
    t = trace.Tracer()
    setup = {"session.start_s": 1.0, "synth.generate_s": 0.1, "warmup_s": 2.0}
    got = layers.layer_metrics(True, t, t, {}, setup, 1.0, 2.0)
    assert set(got) == {m["name"] for m in b["per_layer"]}
