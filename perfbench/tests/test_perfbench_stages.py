import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stages  # noqa: E402


def _stage(sid, sub, done, run_ms, **kw):
    base = {
        "stageId": sid, "status": "COMPLETE", "numTasks": 4,
        "submissionTime": f"2026-10-16T18:00:{sub}GMT", "completionTime": f"2026-10-16T18:00:{done}GMT",
        "executorRunTime": run_ms, "executorCpuTime": run_ms * 800_000,
        "inputBytes": 0, "inputRecords": 0, "outputBytes": 0,
        "shuffleReadBytes": 0, "shuffleReadRecords": 0, "shuffleWriteBytes": 0,
        "shuffleWriteTime": 0, "shuffleFetchWaitTime": 0,
        "memoryBytesSpilled": 0, "diskBytesSpilled": 0, "jvmGcTime": 0,
    }
    base.update(kw)
    return base


# A fused validation as the status store reports it: a scan stage that
# writes the conversation exchange, the window stage reading it, a small
# final aggregation, a write job under the sink group, and an unrelated
# job of another group.
JOBS = [
    {"jobId": 0, "jobGroup": "op000", "stageIds": [0], "status": "SUCCEEDED"},
    {"jobId": 1, "jobGroup": "op000", "stageIds": [0, 1, 2], "status": "SUCCEEDED"},
    {"jobId": 2, "jobGroup": "op000:sink", "stageIds": [0, 1, 3], "status": "SUCCEEDED"},
    {"jobId": 3, "jobGroup": "op001", "stageIds": [4], "status": "SUCCEEDED"},
]
STAGES = [
    _stage(0, "01.000", "03.000", 6000, inputBytes=2 * 2**20, inputRecords=1000,
           shuffleWriteBytes=2**20, shuffleWriteTime=50_000_000),
    _stage(1, "03.000", "04.000", 3000, shuffleReadBytes=2**20, shuffleReadRecords=1000,
           shuffleWriteBytes=1024, shuffleFetchWaitTime=20, jvmGcTime=100),
    _stage(2, "04.000", "04.500", 200, shuffleReadRecords=8),
    _stage(3, "05.000", "05.500", 400, shuffleReadRecords=200, diskBytesSpilled=2**20),
    _stage(4, "06.000", "07.000", 999, inputBytes=5),
    {"stageId": 5, "status": "SKIPPED"},
]


def test_op_stages_selects_group_and_sink():
    mine, st, sinks = stages.op_stages(JOBS, STAGES, "op000")
    assert [j["jobId"] for j in mine] == [0, 1, 2]
    assert [s["stageId"] for s in st] == [0, 1, 2, 3]
    assert sinks == {3}


def test_classify_layers():
    _, st, sinks = stages.op_stages(JOBS, STAGES, "op000")
    got = {s["stageId"]: stages.classify(s, sinks, 1000) for s in st}
    assert got == {0: "scan", 1: "window", 2: "agg", 3: "sink"}
    # a write fused into the window stage counts as window work
    assert stages.classify(STAGES[1], {1}, 1000) == "window"


def test_summarize_canned_payload():
    t0 = stages.parse_time("2026-10-16T18:00:00.000GMT")
    m = stages.summarize(JOBS, STAGES, "op000", t0, t0 + 6.0, cores=4)
    assert m["exec.scan.run_s"] == pytest.approx(6.0)
    assert m["exec.scan.cpu_s"] == pytest.approx(4.8)
    assert m["exec.scan.input_mb"] == pytest.approx(2.0)
    assert m["exec.window.run_s"] == pytest.approx(3.0)
    assert m["exec.agg.run_s"] == pytest.approx(0.2)
    assert m["exec.sink.run_s"] == pytest.approx(0.4)
    assert m["exec.exchange.write_mb"] == pytest.approx(1.0 + 1024 / 2**20)
    assert m["exec.exchange.write_s"] == pytest.approx(0.05)
    assert m["exec.exchange.fetch_wait_s"] == pytest.approx(0.02)
    assert m["exec.spill_mb"] == pytest.approx(1.0)
    assert m["exec.gc_s"] == pytest.approx(0.1)
    assert (m["exec.jobs"], m["exec.stages"], m["exec.tasks"]) == (3, 4, 16)
    # busy 1.0-4.5 and 5.0-5.5 of a 6 s window
    assert m["driver.idle_s"] == pytest.approx(2.0)
    assert m["exec.packing"] == pytest.approx(9.6 / (4 * 6.0))


def test_busy_seconds_merges_overlaps_and_clips():
    t0 = stages.parse_time("2026-10-16T18:00:00.000GMT")
    st = [_stage(0, "01.000", "03.000", 1), _stage(1, "02.000", "04.000", 1), _stage(2, "09.000", "12.000", 1)]
    assert stages.busy_seconds(st, t0, t0 + 10.0) == pytest.approx(4.0)
