"""Reader for Spark's event log and the per-layer numbers drawn from it.

Spark 4 writes a rolling, zstd-compressed log: a directory
`eventlog_v2_<app>` holding `events_<n>_<app>.zstd` files of one JSON
event per line. `pyarrow.CompressedInputStream` decodes them.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

import pyarrow as pa

MB = 1 << 20

# Stage accumulables of the Python operators (MapInPandas, Arrow UDFs,
# Python data sources). The timings are in milliseconds.
PY_ACCUMS = {
    "time to start Python workers": "py.boot_s",
    "time to initialize Python workers": "py.init_s",
    "time to run Python workers": "py.run_s",
    "data sent to Python workers": "py.to_worker_mb",
    "data returned from Python workers": "py.from_worker_mb",
}
PY_SCALE = {"py.boot_s": 1e-3, "py.init_s": 1e-3, "py.run_s": 1e-3,
            "py.to_worker_mb": 1 / MB, "py.from_worker_mb": 1 / MB}


@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    end: float = 0.0
    stage_ids: list[int] = field(default_factory=list)
    props: dict = field(default_factory=dict)


@dataclass
class Stage:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    completed: bool = False
    accums: dict = field(default_factory=dict)


def read_events(log_dir: str) -> list[dict]:
    """Every event of every log file under `log_dir`, in file order."""
    events = []
    paths = sorted(
        glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    for path in paths:
        with pa.OSFile(path) as raw:
            stream = pa.CompressedInputStream(raw, "zstd") if path.endswith(".zstd") else raw
            text = stream.read().decode("utf-8")
        events.extend(json.loads(line) for line in text.splitlines() if line)
    return events


def parse(events: list[dict]) -> tuple[dict[int, Job], dict[int, Stage]]:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jobs[e["Job ID"]] = Job(
                e["Job ID"], e["Submission Time"] / 1000, 0.0,
                list(e.get("Stage IDs", [])), e.get("Properties") or {},
            )
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]].end = e["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics")
            if not m:
                continue
            st = stages.setdefault(e["Stage ID"], Stage())
            st.tasks += 1
            st.run_s += m["Executor Run Time"] / 1000
            st.cpu_s += m["Executor CPU Time"] / 1e9
            rd = m["Shuffle Read Metrics"]
            st.shuffle_read_mb += (rd["Remote Bytes Read"] + rd["Local Bytes Read"]) / MB
            st.shuffle_write_mb += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB
            st.spill_mb += m["Disk Bytes Spilled"] / MB
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = stages.setdefault(info["Stage ID"], Stage())
            st.completed = True
            for a in info.get("Accumulables", []):
                if a.get("Name") in PY_ACCUMS:
                    key = PY_ACCUMS[a["Name"]]
                    st.accums[key] = st.accums.get(key, 0) + int(a.get("Value", 0))
    return jobs, stages


def summarize(jobs: list[Job], stages: dict[int, Stage]) -> dict[str, float]:
    """Scheduler, executor and Python-worker totals over `jobs`."""
    out = {k: 0.0 for k in (
        "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
        "spark.executor_cpu_s", "spark.shuffle_read_mb", "spark.shuffle_write_mb",
        "spark.spill_mb", *PY_SCALE)}
    seen: set[int] = set()
    for j in jobs:
        out["spark.jobs"] += 1
        for sid in j.stage_ids:
            st = stages.get(sid)
            if st is None or not st.completed or sid in seen:
                continue  # skipped stage (shuffle reuse) or counted already
            seen.add(sid)
            out["spark.stages"] += 1
            out["spark.tasks"] += st.tasks
            out["spark.executor_run_s"] += st.run_s
            out["spark.executor_cpu_s"] += st.cpu_s
            out["spark.shuffle_read_mb"] += st.shuffle_read_mb
            out["spark.shuffle_write_mb"] += st.shuffle_write_mb
            out["spark.spill_mb"] += st.spill_mb
            for k, v in st.accums.items():
                out[k] += v * PY_SCALE[k]
    return out


def job_intervals(jobs: list[Job]) -> list[tuple[float, float]]:
    return [(j.submit, j.end) for j in jobs if j.end]
