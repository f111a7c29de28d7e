"""Host speed probe: a fixed piece of work, timed again and again in a
process of its own while a run measures.

    python3 probe.py <out-file>

Each burst appends one line, `<epoch end> <cpu s>`, to the file; the
process sleeps between bursts, so it takes under a tenth of a core.

On a shared host the CPU time of the same work grows when other guests
compete for the caches and memory bandwidth: in runs of the `kernels`
workload the CPU seconds of a pass rose by up to a third while the host
was busy. A burst is a random walk over about 50 MB of Python objects,
so that every step misses the caches as the engine's own work often
does; its CPU time grows with that contention, and the workloads divide
their CPU seconds by it (`workload.probe_scale`). `run.py` starts
the probe in a session of its own, so it is not counted in the
workload's CPU, and stops it when the run ends. It also exits once its
parent has.
"""

from __future__ import annotations

import os
import random
import sys
import time

SLEEP_S = 0.05
STEPS = 4000


def main(path: str) -> None:
    rng = random.Random(0)
    values = [rng.randrange(1 << 40) for _ in range(1 << 20)]
    order = list(range(len(values)))
    rng.shuffle(order)
    parent = os.getppid()
    pos = 0
    with open(path, "a", buffering=1) as fh:
        while os.getppid() == parent:
            c0 = time.thread_time()
            acc = 0
            for i in order[pos:pos + STEPS]:
                acc ^= values[i]
            c1 = time.thread_time()
            pos = (pos + STEPS) % (len(order) - STEPS)
            fh.write(f"{time.time():.4f} {c1 - c0:.7f}\n")
            time.sleep(SLEEP_S)


if __name__ == "__main__":
    main(sys.argv[1])
