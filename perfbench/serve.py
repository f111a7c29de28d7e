"""The `serve` workload: writes beside reads on one journal, on a fixed
schedule (an open loop).

- One generator thread PUTs NDJSON batches to `JournalGateway` over
  HTTP; one reader thread GETs `?begin=&end=&where=k=...` on its own
  schedule. The journal's spec lists `k` as a bloom column, so appends
  build blooms and reads prune.
- A `run_shard` consumer tails the journal through the `journal` data
  source and commits a per-batch count per key through
  `FencedJournalSink`.
- A poller stamps when the sink's committed read-through covers each
  append's end offset.

Every latency counts from the request's due time, so a stall also
charges the requests queued behind it. The generator keeps a ledger of
every row it sent; the run checks reads and the committed counts
against it.
"""

from __future__ import annotations

import json
import math
import os
import random
import re
import threading
import time
import urllib.request
from collections import Counter
from datetime import datetime

import layers
from stats import geomean, median, percentile, tail_percentile
from workload import (cold_start, jit_cpu_s, probe_scale, reset_rss_peak, rss_peak_mb,
                      session_cpu_s)


class Serving:
    """The serving path under test: a journal root with its catalog,
    and, while started, the JVM and a session, the gateway and the
    shard."""

    def __init__(self, bench, name: str):
        wl = bench.wl
        self.bench = bench
        self.wl = wl
        base = os.path.join(bench.run_dir, "serve", name)
        self.root = os.path.join(base, "journals")
        self.checkpoint = os.path.join(base, "checkpoint")
        self.rng = random.Random(bench.args.seed)
        self.ledger: list[dict] = []  # one entry per acknowledged append
        self.lock = threading.Lock()
        self.rt_register = f"rt:s0:{wl['journal']}"
        self.spark = None

    def start(self) -> float:
        """Start the JVM and a session, then the gateway and the shard;
        return once the shard has finished its first trigger.
        Returns the wall and CPU seconds spent on the benchmark's own
        input: the consumer needs a first fragment to learn the schema,
        so the start appends one."""
        from core_spark.catalog import CatalogStore, JournalSpec
        from core_spark.gateway import JournalGateway
        from core_spark.streaming.shard import ShardConfig, run_shard

        wl = self.wl
        self.spark = self.bench.start_session()
        self.gateway = JournalGateway(self.spark, self.root)
        host, port = self.gateway.start()
        self.url = f"http://{host}:{port}/jnl/{wl['journal']}"
        t0, c0 = time.perf_counter(), session_cpu_s()
        CatalogStore(self.root).apply(
            (JournalSpec(name=wl["journal"], bloom_columns=tuple(wl["bloom_columns"])),)
        )
        self.append(t0)
        input_s, input_cpu_s = time.perf_counter() - t0, session_cpu_s() - c0
        cfg = ShardConfig(
            source_glob=None, source_schema=None, out_root=self.root,
            out_journal=wl["out_journal"], shard_id="s0",
            checkpoint_dir=self.checkpoint,
            source_root=self.root, source_journal=wl["journal"],
            trigger_seconds=wl["trigger_s"],
        )
        self.query = run_shard(self.spark, cfg, lambda df: df.groupBy("k").count())
        deadline = time.perf_counter() + wl["drain_timeout_s"]
        while self.query.lastProgress is None:
            if not self.query.isActive or time.perf_counter() > deadline:
                raise RuntimeError(f"the shard did not start: {self.query.exception()}")
            time.sleep(wl["poll_s"])
        return input_s, input_cpu_s

    def stop(self) -> None:
        """Stop the shard once it has committed everything acknowledged
        so far, then the gateway, the session and the JVM."""
        self.wait_visible(self.ledger[-1]["end"], self.wl["drain_timeout_s"])
        self.query.stop()
        self.gateway.stop()
        self.bench.stop_session(self.spark)
        self.spark = None

    # ------------------------------------------------------------ client
    def append(self, due: float) -> dict:
        rows = [{"k": f"k{self.rng.randrange(self.wl['keys']):04d}",
                 "v": self.rng.randrange(1 << 30)}
                for _ in range(self.wl["rows_per_append"])]
        body = "\n".join(json.dumps(r) for r in rows).encode()
        sent = time.perf_counter()
        req = urllib.request.Request(self.url, data=body, method="PUT")
        with urllib.request.urlopen(req, timeout=60) as resp:
            ack = json.loads(resp.read())
        entry = {"due": due, "sent": sent, "done": time.perf_counter(),
                 "begin": ack["begin"], "end": ack["end"], "rows": rows}
        if ack["end"] - ack["begin"] != len(rows):
            raise RuntimeError(f"append acknowledged {ack} for {len(rows)} rows")
        with self.lock:
            self.ledger.append(entry)
        return entry

    def read(self, due: float) -> dict:
        """GET one key over the offsets of the latest acknowledged
        appends and check every row against the ledger."""
        with self.lock:
            span = self.ledger[-self.wl["read_span_appends"]:]
        begin, end = span[0]["begin"], span[-1]["end"]
        key = f"k{self.rng.randrange(self.wl['keys']):04d}"
        sent = time.perf_counter()
        url = f"{self.url}?begin={begin}&end={end}&where=k={key}"
        with urllib.request.urlopen(url, timeout=60) as resp:
            body = resp.read().decode()
        done = time.perf_counter()
        want = sorted(
            (e["begin"] + i, r["v"]) for e in span for i, r in enumerate(e["rows"])
            if r["k"] == key
        )
        got = [json.loads(line) for line in body.splitlines() if line]
        ok = all(g["k"] == key for g in got) and sorted(
            (g["_offset"], g["v"]) for g in got) == want
        return {"due": due, "sent": sent, "done": done, "ok": ok,
                "begin": begin, "end": end, "key": key, "rows": len(got)}

    def read_through(self) -> int:
        """The sink's committed read-through, read from the manifest
        store directly so the probe stays outside the traced layers."""
        from core_spark.sources.journal import Manifest
        from core_spark.sources.stores import FSManifestStore

        store = FSManifestStore(
            os.path.join(self.root, self.wl["out_journal"], "_manifest"))
        versions = store.list_versions()
        if not versions:
            return 0
        m = Manifest.from_json(store.read(max(versions)))
        return int(m.registers.get(self.rt_register, "0"))

    def wait_visible(self, offset: int, timeout: float) -> bool:
        deadline = time.perf_counter() + timeout
        while time.perf_counter() < deadline:
            if self.read_through() >= offset:
                return True
            time.sleep(self.wl["poll_s"])
        return False


def _schedule(start: float, stop: float, rate: float, op, out: list, errors: list):
    """Call op(due) at start + i/rate until `stop`; a late call runs as
    soon as the previous one returns."""
    i = 0
    while True:
        due = start + i / rate
        if due >= stop:
            return
        delay = due - time.perf_counter()
        if delay > 0:
            time.sleep(delay)
        try:
            out.append(op(due))
        except Exception as e:  # counted as a failed operation
            errors.append(f"{op.__name__}: {type(e).__name__}: {e}"[:300])
        i += 1


def _window(bench, srv: Serving, warmup_s: float, seconds: float) -> dict:
    """Warm up for `warmup_s`, then drive the schedule for `seconds` and
    return the operations due inside the measured window."""
    wl = bench.wl
    # Spark fires processing-time triggers on multiples of the interval
    # since the epoch. Start the schedule at a fixed phase of that grid,
    # so every run sends its requests at the same point of the shard's
    # cycle.
    trig = wl["trigger_s"]
    now_wall, now = time.time(), time.perf_counter()
    epoch = now_wall - now  # perf_counter() + epoch is epoch seconds
    t0 = now + (math.ceil((now_wall + 0.2) / trig) * trig + wl["phase_s"] - now_wall)
    start = t0 + warmup_s
    stop = start + seconds
    appends, reads, errors = [], [], []
    visible: dict[int, float] = {}
    sent_all = threading.Event()

    def poll():
        """Stamp appends as the read-through covers them; after the last
        append, keep going until all are covered or the drain times out."""
        deadline = None
        while True:
            rt = srv.read_through()
            now = time.perf_counter()
            with srv.lock:
                ends = [e["end"] for e in srv.ledger]
            for end in ends:
                if end <= rt and end not in visible:
                    visible[end] = now
            if sent_all.is_set():
                deadline = deadline or now + wl["drain_timeout_s"]
                if len(visible) == len(ends) or now > deadline:
                    return
            time.sleep(wl["poll_s"])

    threads = [
        threading.Thread(target=_schedule, args=(
            t0, stop, wl["append_rate_per_s"], srv.append, appends, errors)),
        threading.Thread(target=_schedule, args=(
            t0, stop, wl["read_rate_per_s"], srv.read, reads, errors)),
        threading.Thread(target=poll),
    ]
    for t in threads:
        t.start()
    cpu, jit = [], []  # the session's CPU seconds at the window's start and stop
    for at in (start, stop):
        time.sleep(max(0.0, at - time.perf_counter()))
        cpu.append(session_cpu_s())
        jit.append(jit_cpu_s())
    threads[0].join()
    threads[1].join()
    sent_all.set()
    threads[2].join()
    w_appends = [e for e in appends if e["due"] >= start]
    w_reads = [r for r in reads if r["due"] >= start]
    return {"start": start, "stop": stop, "epoch": epoch,
            # scaled by the speed probe over the window
            "cpu_s": (cpu[1] - cpu[0]) * probe_scale(start + epoch, stop + epoch),
            "jit_cpu_s": jit[1] - jit[0],
            "appends": w_appends, "reads": w_reads,
            "all_appends": appends, "all_reads": reads, "visible": visible,
            "errors": errors}


def _measure(bench, srv: Serving, w: dict) -> dict:
    """Latency and CPU cost of one window, with its checks counted."""
    for r in w["all_reads"]:
        bench.attempted += 1
        if not r["ok"]:
            bench.fail(f"read {r['key']} [{r['begin']}, {r['end']}) disagrees with the ledger")
    for e in w["all_appends"]:
        bench.attempted += 1
        if e["end"] not in w["visible"]:
            bench.fail(f"append ending at {e['end']} never became visible")
    for msg in w["errors"]:
        bench.attempted += 1
        bench.fail(msg)
    append_s = [e["done"] - e["due"] for e in w["appends"]]
    read_s = [r["done"] - r["due"] for r in w["reads"]]
    visible_s = [w["visible"][e["end"]] - e["due"] for e in w["appends"]
                 if e["end"] in w["visible"]]
    rows = sum(len(e["rows"]) for e in w["appends"] if e["end"] in w["visible"])
    last_visible = max((w["visible"][e["end"]] for e in w["appends"]
                        if e["end"] in w["visible"]), default=w["stop"])
    busy = [p for p in _progress(srv, w["start"] + w["epoch"], last_visible + w["epoch"])
            if p["numInputRows"] > 0]
    busy_s = sum(p["durationMs"]["triggerExecution"] for p in busy) / 1000
    lags = [x["sent"] - x["due"] for x in w["appends"] + w["reads"]]
    kinds = {"append_s": append_s, "read_s": read_s, "visible_s": visible_s}
    ops = len(w["appends"]) + len(w["reads"])
    out = {
        "cpu_s.per_op": w["cpu_s"] / ops,
        "cpu_s.window": w["cpu_s"],
        "jit_cpu_s.window": w["jit_cpu_s"],
        "latency_s.geomean": geomean([median(v) for v in kinds.values()]),
        # Rows per second of wall time is the offered load, which the
        # schedule fixes; rows per second of trigger time spent on data
        # is the shard's capacity.
        "visible_rows_per_s": rows / (last_visible - w["start"]),
        "shard.rows_per_busy_s": sum(p["numInputRows"] for p in busy) / busy_s if busy_s else 0.0,
        "shard.busy_s": busy_s,
        "shard.batches.all": [[p["numInputRows"], p["durationMs"]["triggerExecution"]]
                              for p in busy],
        "loadgen.lag_s.max": max(lags, default=0.0),
    }
    for name, v in kinds.items():
        pct = tail_percentile(len(v))
        out[f"{name}.p50"] = median(v)
        out[f"{name}.tail"] = percentile(v, pct) if pct else max(v, default=0.0)
        out[f"{name}.tail_pct"] = pct
        out[f"{name}.n"] = len(v)
        out[f"{name}.all"] = [round(x, 4) for x in v]
    return out


def _check_counts(bench, srv: Serving) -> None:
    """Exactly once: the committed per-key counts sum to the keys the
    ledger appended, with nothing lost and nothing counted twice."""
    from core_spark.sources.journal import Journal
    from pyspark.sql import functions as F

    bench.attempted += 1
    want = Counter(r["k"] for e in srv.ledger for r in e["rows"])
    rows = (Journal(srv.root, srv.wl["out_journal"]).read(srv.spark)
            .groupBy("k").agg(F.sum("count").alias("n")).collect())
    got = Counter({r["k"]: r["n"] for r in rows})
    if got != want:
        diff = {k: (got.get(k, 0), want.get(k, 0)) for k in set(got) | set(want)
                if got.get(k, 0) != want.get(k, 0)}
        bench.fail(f"committed counts differ from the ledger for {len(diff)} keys, "
                   f"e.g. {sorted(diff.items())[:5]}")


def _progress(srv: Serving, w0: float, w1: float) -> list[dict]:
    """The shard's progress reports of triggers that started inside
    [w0, w1] (epoch seconds)."""
    out = []
    for p in srv.query.recentProgress:
        ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        if w0 <= ts <= w1:
            out.append(p)
    return out


def _shard_layers(srv: Serving, w0: float, w1: float) -> dict:
    progress = _progress(srv, w0, w1)

    def offset(o) -> int:
        # The journal source's offset {"next": n}, as the progress
        # report renders it.
        return int(re.search(r"next\D+(\d+)", str(o)).group(1))

    backlog = 0
    for p in progress:
        src = p["sources"][0]
        if src.get("latestOffset") and src.get("endOffset"):
            backlog = max(backlog, offset(src["latestOffset"]) - offset(src["endOffset"]))
    data = [p for p in progress if p["numInputRows"] > 0]
    return {
        "shard.batches": len(data),
        "shard.trigger_s.p50": median([p["durationMs"]["triggerExecution"] / 1000 for p in data]),
        "shard.latest_offset_s.p50": median(
            [p["durationMs"].get("latestOffset", 0) / 1000 for p in progress]),
        "shard.backlog_records": backlog,
    }


def _fragments_ratio(srv: Serving, reads: list[dict]) -> float:
    """Fragments the reads had to scan over the fragments covering
    their ranges, from the journal's own pruning audit."""
    from core_spark.sources.journal import Journal

    j = Journal(srv.root, srv.wl["journal"])
    read = covering = 0
    for r in reads:
        audit = j.scan_audit(begin=r["begin"], end=r["end"], where=[("k", "=", r["key"])])
        read += sum(a["read"] for a in audit)
        covering += sum(a["covering"] for a in audit)
    return read / covering if covering else 0.0


def run(bench) -> dict:
    def imports():
        import core_spark.catalog  # noqa: F401
        import core_spark.gateway  # noqa: F401
        import core_spark.streaming.shard  # noqa: F401

    # The start launches the JVM, the session, the gateway and the shard
    # up to its first trigger.
    srv = Serving(bench, "plain")
    setup, _ = cold_start(imports, lambda: (None, *srv.start()))
    bench.phase("setup")
    seconds = bench.args.seconds
    wl = bench.wl
    detail = {"start_s": setup["start_s"], "setup_wall_s": setup["setup_wall_s"]}
    if not bench.args.trace:
        w = _window(bench, srv, wl["warmup_s"], seconds)
        bench.phase("window")
        m = _measure(bench, srv, w)
        rss = rss_peak_mb(srv.spark)
        _check_counts(bench, srv)
        srv.stop()
        detail.update(m)
        e2e = {"cpu_s.per_op": m["cpu_s.per_op"], "rss_peak_mb": rss, "setup_s": setup["setup_s"]}
        return {"e2e": e2e, "layers": {}, "detail": detail}

    # Traced run: half the time untraced, then a traced cold start on a
    # new journal root for the other half; the difference is the tracing
    # overhead. A traced JVM needs longer to warm up.
    w = _window(bench, srv, wl["warmup_s"], seconds / 2)
    plain = _measure(bench, srv, w)
    plain["rss_peak_mb"] = rss_peak_mb(srv.spark)
    _check_counts(bench, srv)
    srv.stop()
    reset_rss_peak()
    bench.enable_tracing()
    srv = Serving(bench, "traced")
    traced_setup, _ = cold_start(lambda: None, lambda: (None, *srv.start()))
    w = _window(bench, srv, wl["traced_warmup_s"], seconds / 2)
    w0 = w["start"] + w["epoch"]
    w1 = w["stop"] + w["epoch"]
    traced = _measure(bench, srv, w)
    traced["rss_peak_mb"] = rss_peak_mb(srv.spark)
    shard = _shard_layers(srv, w0, w1)
    ratio = _fragments_ratio(srv, w["reads"])
    _check_counts(bench, srv)
    srv.stop()
    out = layers.defaults(bench.cfg)
    out.update(layers.from_trace(bench, w0, w1))
    out.update(shard)
    out["journal.read.fragments_ratio"] = ratio
    out["loadgen.lag_s.max"] = traced["loadgen.lag_s.max"]
    out["latency_s.geomean"] = plain["latency_s.geomean"]
    out["jvm.jit_cpu_s"] = traced["jit_cpu_s.window"]
    out.update(layers.overhead(plain, traced, setup, traced_setup))
    detail.update(traced)
    return {"e2e": {}, "layers": out, "detail": detail}
