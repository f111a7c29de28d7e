"""One benchmark run in its own process: set up, measure, check, report.

`run.py` starts this script with the run's private directories in the
environment and the checkout root on PYTHONPATH; see README.md for the
workloads and metrics. The last line of standard output is the result
object.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CONFIG = os.path.join(HERE, "workloads.json")
BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")

class Bench:
    """What one run shares between set-up, the workload and the report:
    its arguments and configuration, its private directories, the
    Spark session factory and the span recorder of a traced run."""

    def __init__(self, args, cfg: dict):
        self.args = args
        self.cfg = cfg
        self.wl = cfg["workloads"][args.workload]
        self.run_dir = os.environ["PERFBENCH_RUN_DIR"]
        self.rec = None  # SpanRecorder once tracing is on
        self.event_log_dir = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.phase_s: dict[str, float] = {}  # wall time per phase, for budgeting
        self._phase_t = time.perf_counter()

    def phase(self, name: str) -> None:
        """Close the current phase under `name`."""
        now = time.perf_counter()
        self.phase_s[name] = self.phase_s.get(name, 0.0) + now - self._phase_t
        self._phase_t = now

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    def start_session(self):
        """Start the JVM and a session at local[4]: run.py pins
        SPARK_GRAFT_CPUS, which sets both the master and the shuffle
        partitions."""
        from core_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            # - The batch loop runs a full GC before each query, as
            #   bench.py does. Left to resize, G1 then shrinks the heap and
            #   regrows it inside the timed query, which made whole runs
            #   25% slower at random; a heap that never shrinks removes it.
            # - C1 only: C2 kept about two cores compiling for the whole
            #   of a run, so the engine's cost kept falling from pass to
            #   pass; C1 settles within the warm-up (README.md).
            # - A fixed set of compiler threads: `session_cpu_s` leaves
            #   them out, which it can only do for threads still alive.
            "spark.driver.extraJavaOptions": "-XX:MaxHeapFreeRatio=100 -XX:TieredStopAtLevel=1"
                                             " -XX:-UseDynamicNumberOfCompilerThreads",
        }
        if self.event_log_dir is not None:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_log_dir
        return get_spark(app_name=f"perfbench-{self.args.workload}", extra_conf=conf)

    def stop_session(self, spark) -> None:
        """Stop the session and its JVM, so the next start is cold."""
        spark.stop()
        stop_jvm()

    def enable_tracing(self) -> None:
        """Spans around the engine's entry points, and Spark's event log
        for every session started from now on."""
        import spans

        self.rec = spans.SpanRecorder()
        spans.install(self.rec)
        self.event_log_dir = os.path.join(self.run_dir, "eventlog")
        os.makedirs(self.event_log_dir, exist_ok=True)


def rss_peak_mb(spark) -> float:
    """Peak resident set (VmHWM) of this driver process plus the JVM."""
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    total = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


_TICK_S = 1 / os.sysconf("SC_CLK_TCK")


def _session_pids() -> list[str]:
    """The processes of this run's session: the driver, the JVM and the
    Python worker daemon with its workers (the daemon makes a process
    group of its own, so the session is the unit)."""
    sid = os.getsid(0)
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                if int(fh.read().rsplit(")", 1)[1].split()[3]) == sid:
                    pids.append(entry)
        except OSError:
            continue
    return pids


def session_cpu_s() -> float:
    """CPU seconds used so far by this run's session, with the children
    its processes have reaped, but without the JVM's JIT compiler
    threads. Time the hypervisor gives to other guests is not charged,
    so unlike wall time this does not grow when the host is busy. What
    the compiler threads compile depends on timing more than on the
    work; `start_session` keeps their number fixed so that none exits
    with its time uncounted."""
    ticks = 0
    for pid in _session_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            # utime, stime, cutime, cstime
            ticks += sum(int(f) for f in fields[11:15]) - _jit_ticks(pid)
        except OSError:  # the process has exited
            continue
    return ticks * _TICK_S


def jit_cpu_s() -> float:
    """CPU seconds of the JIT compiler threads of this session's JVMs."""
    ticks = 0
    for pid in _session_pids():
        try:
            ticks += _jit_ticks(pid)
        except OSError:
            continue
    return ticks * _TICK_S


def _jit_ticks(pid: str) -> int:
    """utime + stime of the compiler threads ("C1 CompilerThre",
    "C2 CompilerThre") of a JVM; 0 for any other process."""
    with open(f"/proc/{pid}/comm") as fh:
        if fh.read().strip() != "java":
            return 0
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        name = stat[stat.index("(") + 1:stat.rindex(")")]
        if "CompilerThre" in name:
            fields = stat.rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks


# About the CPU seconds of one probe burst on the 4-core VM the benchmark
# was tuned on, while a run kept its cores busy and its neighbours were
# quiet. `probe_scale` scales to it, so that scaled CPU figures still
# read as seconds.
PROBE_REF_S = 0.004


def probe_scale(t0: float, t1: float) -> float:
    """PROBE_REF_S over the median CPU seconds of the speed probe's
    bursts that ended in [t0, t1] (epoch seconds): the factor that
    brings CPU seconds spent in that interval back to a quiet host.
    See probe.py."""
    bursts = []
    with open(os.environ["PERFBENCH_PROBE_OUT"]) as fh:
        for line in fh:
            parts = line.split()
            if len(parts) == 2 and t0 <= float(parts[0]) <= t1:
                bursts.append(float(parts[1]))
    if not bursts:
        raise RuntimeError(f"the speed probe wrote nothing in [{t0}, {t1}]")
    return PROBE_REF_S / statistics.median(bursts)


def reset_rss_peak() -> None:
    """Reset this process's VmHWM to its current resident set, so a
    later reading covers only what follows (each JVM is a new process
    and starts its own)."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def cold_start(imports, start) -> tuple[dict, object]:
    """Measure a cold start: import the engine (a no-op for a second start
    in one process), then `start()` from a stopped JVM. `start` returns
    its state and the wall and CPU seconds it spent on the benchmark's
    own inputs, which are not set-up. Returns the start's state and
    - `setup_s`: CPU seconds of the import and the start, scaled by the
      speed probe as `cpu_s.per_op` is, since wall time moved by more
      than a quarter between two sets of runs of unchanged code;
    - `start_cpu_s`: the same for the start alone;
    - `setup_wall_s` and `start_s`: wall seconds of both and of the start."""
    e0, c0, t0 = time.time(), session_cpu_s(), time.perf_counter()
    imports()
    c1, t1 = session_cpu_s(), time.perf_counter()
    state, excluded_wall, excluded_cpu = start()
    c2, t2 = session_cpu_s(), time.perf_counter()
    scale = probe_scale(e0, time.time())
    return {
        "setup_s": (c2 - c0 - excluded_cpu) * scale,
        "start_cpu_s": (c2 - c1 - excluded_cpu) * scale,
        "setup_wall_s": t2 - t0 - excluded_wall,
        "start_s": t2 - t1 - excluded_wall,
    }, state


def dir_mb(path: str) -> float:
    total = 0
    for dp, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dp, f))
            except OSError:
                pass
    return total / (1 << 20)


def stop_jvm() -> None:
    """Stop the Spark JVM this process launched and wait for it; the
    next session launches a new one."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(CONFIG) as fh:
        cfg = json.load(fh)
    with open(BENCHMARK) as fh:
        declared = json.load(fh)
    bench = Bench(args, cfg)

    if bench.wl["kind"] == "batch":
        import batch as impl
    else:
        import serve as impl
    try:
        res = impl.run(bench)
    finally:
        bench.phase("run")
        stop_jvm()
        bench.phase("stop_jvm")

    if args.trace:
        wanted = {m["name"]: m["unit"] for m in declared["per_layer"]}
        got = res["layers"]
    else:
        wanted = {m["name"]: m["unit"] for m in declared["end_to_end"]}
        got = res["e2e"]
    if set(wanted) != set(got):
        print(f"metric names differ from BENCHMARK.json: missing "
              f"{sorted(set(wanted) - set(got))}, extra {sorted(set(got) - set(wanted))}",
              file=sys.stderr)
        return 1
    correct = bench.failed == 0 and bench.attempted > 0
    detail = {"workload": args.workload, "seed": args.seed, **res["detail"],
              "failed_frac": bench.failed / max(1, bench.attempted),
              "errors": bench.errors, "phase_s": bench.phase_s}
    print("perfbench detail " + json.dumps(detail, sort_keys=True))
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": got[k], "unit": wanted[k]} for k in wanted},
    }))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
