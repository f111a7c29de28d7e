"""Per-layer metrics of a traced run, from the span recorder and Spark's
event log."""

from __future__ import annotations

import json
import os

import eventlog
from spans import self_times, union_length

SPAN_TOTALS = {
    "io.load_table.s": "io.load_table",
    "plans.build_s": "plans.build",
    "plans.exec_s": "plans.exec",
    "journal.append.s": "journal.append",
    "journal.manifest.s": "journal.manifest",
    "journal.read.s": "journal.read",
    "gateway.append_ndjson.s": "gateway.append_ndjson",
    "gateway.read_ndjson.s": "gateway.read_ndjson",
    "sink.commit.s": "sink.commit",
}
SPAN_CALLS = {
    "io.load_table.calls": "io.load_table",
    "journal.append.calls": "journal.append",
    "journal.manifest.calls": "journal.manifest",
    "sink.commits": "sink.commit",
}
STREAM_PROP = "sql.streaming.queryId"

# Per-layer metrics that every workload reports, 0 where a layer does
# not take part; `query.<name>.s` for every batch query is added to these.
LAYER_METRICS = (
    "io.load_table.calls", "io.load_table.s", "io.load_table.jobs",
    "plans.build_s", "plans.exec_s",
    "spark.jobs", "spark.jobs.shard", "spark.jobs.gateway", "spark.stages",
    "spark.tasks", "spark.driver_gap_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.shuffle_read_mb",
    "spark.shuffle_write_mb", "spark.spill_mb",
    "py.boot_s", "py.init_s", "py.run_s", "py.to_worker_mb", "py.from_worker_mb",
    "journal.append.calls", "journal.append.s", "journal.manifest.calls",
    "journal.manifest.s", "journal.conflicts", "journal.read.s",
    "journal.read.fragments_ratio",
    "gateway.append_ndjson.s", "gateway.read_ndjson.s",
    "shard.batches", "shard.trigger_s.p50", "shard.latest_offset_s.p50",
    "shard.backlog_records", "sink.commit.s", "sink.commits",
    "loadgen.lag_s.max",
    "plans.tmp_left_mb", "plans.persisted_rdds_left", "latency_s.geomean",
    "jvm.jit_cpu_s",
    "self_s.io.load_table", "self_s.plans.build", "self_s.plans.exec",
    "self_s.journal.append", "self_s.journal.read", "self_s.journal.manifest",
    "self_s.journal.scan_audit", "self_s.journal.acquire_fence",
    "self_s.gateway.append_ndjson", "self_s.gateway.read_ndjson",
    "self_s.sink.commit",
)
# Each gets an `overhead.` metric: traced minus untraced.
OVERHEAD = ("cpu_s.per_op", "latency_s.geomean", "rss_peak_mb", "setup_s")


def defaults(cfg: dict) -> dict[str, float]:
    out = {k: 0.0 for k in LAYER_METRICS}
    for wl in cfg["workloads"].values():
        for q in wl.get("queries", ()):
            out[f"query.{q}.s"] = 0.0
    for k in OVERHEAD:
        out[f"overhead.{k}"] = 0.0
    return out


def from_trace(bench, w0: float, w1: float, per: int = 1) -> dict[str, float]:
    """Layer totals over the traced window [w0, w1] (epoch seconds),
    divided by `per` (the number of passes, for batch workloads)."""
    rec = bench.rec
    spans = rec.between(w0, w1)
    out: dict[str, float] = {}
    for metric, name in SPAN_TOTALS.items():
        out[metric] = sum(s.end - s.start for s in spans if s.name == name) / per
    for metric, name in SPAN_CALLS.items():
        out[metric] = sum(1 for s in spans if s.name == name) / per
    for name, v in self_times(spans).items():
        if f"self_s.{name}" in LAYER_METRICS:
            out[f"self_s.{name}"] = v / per
    out["journal.conflicts"] = rec.counts.get("journal.conflicts", 0) / per

    jobs_by_id, stages = eventlog.parse(eventlog.read_events(bench.event_log_dir))
    jobs = [j for j in jobs_by_id.values() if w0 <= j.submit <= w1]
    out.update({k: v / per for k, v in eventlog.summarize(jobs, stages).items()})
    out["spark.jobs.shard"] = sum(1 for j in jobs if STREAM_PROP in j.props) / per
    out["spark.jobs.gateway"] = sum(
        1 for j in jobs if STREAM_PROP not in j.props
        and not j.props.get("spark.jobGroup.id", "").startswith("perfbench:")
    ) / per
    loads = [(s.start, s.end) for s in spans if s.name == "io.load_table"]
    out["io.load_table.jobs"] = sum(
        1 for j in jobs if any(lo <= j.submit <= hi for lo, hi in loads)
    ) / per
    # Driver time: the part of each timed operation no job covers.
    ops = [(s.start, s.end) for s in spans if s.name == "query"] or [(w0, w1)]
    intervals = eventlog.job_intervals(jobs)
    gap = 0.0
    for lo, hi in ops:
        inside = [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]
        gap += (hi - lo) - union_length(inside)
    out["spark.driver_gap_s"] = gap / per
    _write_trace(bench, spans, jobs)
    return out


def overhead(plain: dict, traced: dict, setup: dict, traced_setup: dict) -> dict:
    """Traced minus untraced value of each metric in OVERHEAD. Set-up
    compares the scaled CPU of the traced cold start with the untraced
    one (`workload.cold_start`); the engine import, paid once per
    process, is in neither."""
    out = {f"overhead.{k}": traced[k] - plain[k] for k in OVERHEAD if k != "setup_s"}
    out["overhead.setup_s"] = traced_setup["start_cpu_s"] - setup["start_cpu_s"]
    return out


def _write_trace(bench, spans, jobs) -> None:
    """Keep the raw spans and job intervals of the traced window next
    to the checkout's run directories, for a closer look later."""
    path = os.environ.get("PERFBENCH_TRACE_OUT")
    if not path:
        return
    with open(path, "w") as fh:
        json.dump({
            "workload": bench.args.workload,
            "seed": bench.args.seed,
            "spans": [vars(s) for s in spans],
            "jobs": [{"id": j.job_id, "submit": j.submit, "end": j.end,
                      "group": j.props.get("spark.jobGroup.id"),
                      "stream": j.props.get(STREAM_PROP)} for j in jobs],
        }, fh)
