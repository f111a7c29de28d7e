"""Time individual registry queries with bench.py's exact methodology
(warm run, then min of N fresh-cache noop-sink runs, clearCache + JVM
GC between) — each run's query scope is closed before the next run
starts, outside the timed window — the isolated before/after evidence for optimization
rounds.

Usage: python tools/qtime.py --names q_a,q_b [--runs 2] [--json OUT]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from core_spark.plans import registry  # noqa: E402
from core_spark.plans.registry import REGISTRY  # noqa: E402
from core_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--names", required=True)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--json", default=None)
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    spark = get_spark(app_name="qtime")
    out: dict[str, float] = {}
    for name in args.names.split(","):
        q = REGISTRY[name]
        spark.sparkContext.setJobDescription(f"qtime:{name}:warm")
        df = q.fn(spark, args.sf_dir)
        df.write.format("noop").mode("overwrite").save()
        runs = []
        for i in range(args.runs):
            registry.close()
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            spark.sparkContext.setJobDescription(f"qtime:{name}:{i}")
            t0 = time.perf_counter()
            df = q.fn(spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        registry.close()
        spark.catalog.clearCache()
        out[name] = round(min(runs), 4)
        print(f"TIMED {name} {out[name]} (runs: {[round(r, 3) for r in runs]})", flush=True)
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(out, fh, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
