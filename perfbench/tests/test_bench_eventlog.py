import json

import eventlog
import pyarrow as pa
import pytest


def _task(stage, run_ms, cpu_ns, read=0, written=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "Disk Bytes Spilled": spill,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
        },
    }


EVENTS = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "perfbench:q_a"}},
    _task(0, 200, 1e8, written=eventlog.MB),
    _task(0, 300, 2e8, written=eventlog.MB),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Accumulables": [
        {"Name": "time to start Python workers", "Value": 1500},
        {"Name": "data sent to Python workers", "Value": 2 * eventlog.MB},
        {"Name": "number of output rows", "Value": 7},
    ]}},
    _task(1, 100, 5e7, read=2 * eventlog.MB),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2500},
    # Job 1 reuses stage 0's shuffle: stage 0 is skipped, not re-run.
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000,
     "Stage IDs": [0, 2], "Properties": {"sql.streaming.queryId": "x"}},
    _task(2, 50, 1e7),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3200},
]


@pytest.fixture
def log_dir(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    lines = [json.dumps(e) for e in EVENTS]
    # Rolling log: two files, the second zstd-compressed as Spark 4 writes it.
    (d / "events_1_local-1").write_text("\n".join(lines[:5]) + "\n")
    with pa.CompressedOutputStream(str(d / "events_2_local-1.zstd"), "zstd") as out:
        out.write(("\n".join(lines[5:]) + "\n").encode())
    (d / "appstatus_local-1").write_text("")
    return str(tmp_path)


def test_read_events_decodes_rolling_zstd_log(log_dir):
    assert eventlog.read_events(log_dir) == EVENTS


def test_summarize_counts_each_stage_once(log_dir):
    jobs, stages = eventlog.parse(eventlog.read_events(log_dir))
    assert jobs[0].submit == 1.0 and jobs[0].end == 2.5
    assert jobs[1].props == {"sql.streaming.queryId": "x"}
    got = eventlog.summarize(list(jobs.values()), stages)
    assert got["spark.jobs"] == 2
    assert got["spark.stages"] == 3
    assert got["spark.tasks"] == 4
    assert got["spark.executor_run_s"] == pytest.approx(0.65)
    assert got["spark.executor_cpu_s"] == pytest.approx(0.36)
    assert got["spark.shuffle_write_mb"] == pytest.approx(2.0)
    assert got["spark.shuffle_read_mb"] == pytest.approx(2.0)
    assert got["py.boot_s"] == pytest.approx(1.5)
    assert got["py.to_worker_mb"] == pytest.approx(2.0)
    assert got["py.run_s"] == 0.0
    assert eventlog.job_intervals(list(jobs.values())) == [(1.0, 2.5), (3.0, 3.2)]
