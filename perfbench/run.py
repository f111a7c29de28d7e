"""Benchmark entry point.

    python3 perfbench/run.py --workload sql --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Each run gets a private directory under
`.perfbench_runs/` holding its inputs, TMPDIR, SPARK_LOCAL_DIRS, journal
roots and checkpoints; it is removed when the run ends. The workload
runs in a child process in its own session (`workload.py`), so the
Spark JVM and its Python workers are stopped with it. The child's
standard output is passed through; its last line is the result object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
# Every run must end within 180 s; leave room to stop and clean up.
CHILD_TIMEOUT_S = 165


def _session_members(sid: int) -> list[int]:
    """Live processes of session `sid`. The child starts the session;
    the JVM and the Python worker daemon stay in it, though the daemon
    makes a process group of its own."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def _stop_session(sid: int) -> None:
    """Kill whatever is left of the child's session and wait until every
    member has exited."""
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        pids = _session_members(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(HERE, "workloads.json")) as fh:
        workloads = json.load(fh)["workloads"]
    if args.workload not in workloads:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads)}",
              file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(root, "core_spark", "session.py")):
        print("no engine here: run from the root of a checkout that holds core_spark/",
              file=sys.stderr)
        return 2

    runs = os.path.join(root, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=runs)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.update({
        "PERFBENCH_RUN_DIR": run_dir,
        "PERFBENCH_TRACE_OUT": os.path.join(runs, f"trace-{args.workload}.json"),
        "TMPDIR": tmp,
        # local[4] with the engine's shuffle partitions for 4 cores,
        # whatever the host or the caller's environment.
        "SPARK_GRAFT_CPUS": "4",
        "SPARK_LOCAL_DIRS": local,
        # Python workers import core_spark from the checkout.
        "PYTHONPATH": os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        "PYTHONDONTWRITEBYTECODE": "1",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    probe_out = os.path.join(run_dir, "probe.txt")
    env["PERFBENCH_PROBE_OUT"] = probe_out
    cmd = [sys.executable, os.path.join(HERE, "workload.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace)]
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    out, rc = b"", 1
    probe = subprocess.Popen([sys.executable, os.path.join(HERE, "probe.py"), probe_out],
                             env=env, cwd=run_dir, start_new_session=True)
    try:
        proc = subprocess.Popen(cmd, env=env, cwd=run_dir, stdout=subprocess.PIPE,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
            rc = proc.returncode
        except subprocess.TimeoutExpired:
            print(f"run exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
        finally:
            _stop_session(proc.pid)
            proc.wait()
    finally:
        _stop_session(probe.pid)
        probe.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.stdout.write(out.decode())
    sys.stdout.flush()
    return rc


if __name__ == "__main__":
    sys.exit(main())
