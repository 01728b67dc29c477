"""Wave attribution on a canned event-log fragment."""

from __future__ import annotations

import json

import pytest

from perfbench import trace


def _job(job_id, t_ms, stages, desc=""):
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": t_ms,
            "Stage IDs": stages, "Properties": {"spark.job.description": desc}}


def _stage(sid, t0, t1, accum=()):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0, "Stage Name": f"s{sid}",
                           "Number of Tasks": 1, "Submission Time": t0,
                           "Completion Time": t1,
                           "Accumulables": [{"Name": n, "Value": v} for n, v in accum]}}


def _task(sid, run_ms, shuffle_write=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Stage Attempt ID": 0,
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 1e6,
                             "JVM GC Time": 1,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write}}}


EVENTS = [
    _job(0, 100_200, [0]), _task(0, 400), _stage(0, 100_200, 100_700),
    # wave 1: two overlapping stages; stage 3 was skipped (never completes)
    _job(1, 101_500, [1, 2, 3]),
    _task(1, 300), _task(1, 500, shuffle_write=2_000_000), _stage(1, 101_500, 102_000),
    _task(2, 700), _stage(2, 101_800, 102_500),
    {"Event": "SparkListenerStageExecutorMetrics", "Executor ID": "driver", "Stage ID": 2,
     "Stage Attempt ID": 0, "Executor Metrics": {"JVMHeapMemory": 900_000_000,
                                             "OnHeapUnifiedMemory": 300_000_000}},
    # straddles the wave-1 commit at 103 s: counts up to the commit only
    _job(2, 102_900, [4]), _task(4, 200), _stage(4, 102_900, 103_400),
    # after the last commit: belongs to no wave
    _job(3, 104_000, [5], desc="perfbench:p0:jaccard_pairs"), _task(5, 50),
    _stage(5, 104_000, 104_100, [(trace.PY_SENT, 3_000_000), (trace.PY_RETURNED, 1_000_000)]),
]


@pytest.fixture
def parsed(tmp_path):
    log = tmp_path / "eventlog"
    log.mkdir()
    (log / "app-1").write_text("\n".join(json.dumps(e) for e in EVENTS) + "\n")
    return trace.load(log)


def test_waves_tile_the_crawl(parsed):
    jobs, stages = parsed
    rows = trace.wave_table(jobs, stages, 100.0, [(0, 101.0), (1, 103.0)])
    w0, w1 = rows
    assert w0 == pytest.approx({"wave": 0, "wall_s": 1.0, "busy_s": 0.5, "idle_s": 0.5,
                                "jobs": 1, "stages": 1, "tasks": 1})
    assert w1["jobs"] == 2 and w1["stages"] == 3 and w1["tasks"] == 4
    # union of [101.5, 102.5] and [102.9, 103.0] inside the window
    assert w1["busy_s"] == pytest.approx(1.1)
    assert w1["busy_s"] + w1["idle_s"] == pytest.approx(w1["wall_s"]) == pytest.approx(2.0)
    assert sum(r["wall_s"] for r in rows) == pytest.approx(3.0)


def test_skipped_stage_is_not_counted(parsed):
    _, stages = parsed
    assert 3 not in stages


def test_totals_and_python_bytes_by_description(parsed):
    _, stages = parsed
    groups = trace.by_description(stages)
    q = trace.totals(groups["perfbench:p0:jaccard_pairs"])
    assert q["py_sent_mb"] == pytest.approx(3.0)
    assert q["py_returned_mb"] == pytest.approx(1.0)
    crawl = trace.totals(groups[""])
    assert crawl["stages"] == 4 and crawl["tasks"] == 5
    assert crawl["task_run_s"] == pytest.approx(2.1)
    assert crawl["shuffle_write_mb"] == pytest.approx(2.0)
    # heaviest stage is stage 1 (800 ms over two tasks): max/median
    assert crawl["heavy_stage_skew"] == pytest.approx(500 / 400)
    # the highest per-stage peak of Spark's on-heap memory in the group
    assert crawl["onheap_peak_mb"] == pytest.approx(300.0)
    assert q["onheap_peak_mb"] == 0.0


def test_busy_ms_merges_overlaps_and_clips():
    assert trace.busy_ms([(0, 10), (5, 20), (30, 40)], 0, 100) == 30
    assert trace.busy_ms([(0, 10), (5, 20), (30, 40)], 8, 35) == 17
    assert trace.busy_ms([], 0, 10) == 0
