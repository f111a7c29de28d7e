"""Dump `.explain("formatted")` for registry queries to files.

Usage: python tools/plan_dump.py --out /tmp/plans_before [--names q_a,q_b]

Planning only (no execution): builds each query's DataFrame against
$SPARK_GRAFT_SF_DIR (default sf0.1) and writes
<out>/<name>.txt with the formatted physical plan, plus a one-line
summary (Exchange count, python-eval nodes, join strategies) to stdout
so plan-shape regressions are greppable. Used by the r13 optimization
round to produce plans/r13/<query>_before.txt / _after.txt.

Expression ids (`#<n>`), `plan_id=<n>` and RDD ids (`RDD[<n>]`) are
session counters: a query whose build runs Spark jobs (connected
components' checkpoint rounds) draws a different number of them from
run to run. Each dump renumbers all three in order of first appearance
(`canonical_ids`), so two dumps of the same code in fresh processes are
byte-identical and a diff shows only structural change. Each query's
scope is closed once its plan is written, so no query's cached blocks
or temp dirs carry over to the next.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from core_spark.plans import registry  # noqa: E402
from core_spark.plans.registry import REGISTRY  # noqa: E402
from core_spark.session import get_spark  # noqa: E402


def canonical_ids(plan: str) -> str:
    """`plan` with expression, plan and RDD ids renumbered from 0 in
    order of first appearance, each kind on its own counter."""
    for pattern in (r"(#)(\d+)", r"(plan_id=)(\d+)", r"(RDD\[)(\d+)"):
        seen: dict[str, int] = {}
        plan = re.sub(
            pattern,
            lambda m: m[1] + str(seen.setdefault(m[2], len(seen))),
            plan,
        )
    return plan


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--names", default=None)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    out = Path(args.out)
    out.mkdir(parents=True, exist_ok=True)
    names = args.names.split(",") if args.names else sorted(REGISTRY)

    spark = get_spark(app_name="plan-dump")
    for name in names:
        q = REGISTRY.get(name)
        if q is None:
            print(f"{name}: NOT FOUND", flush=True)
            continue
        try:
            df = q.fn(spark, args.sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as exc:  # a query that cannot even plan is a red flag
            print(f"{name}: PLAN ERROR {type(exc).__name__}: {exc}", flush=True)
            continue
        finally:
            registry.close()
        plan = canonical_ids(plan)
        (out / f"{name}.txt").write_text(plan)
        nx = plan.count("Exchange")
        py = (
            plan.count("ArrowEvalPython")
            + plan.count("BatchEvalPython")
            + plan.count("MapInPandas")
            + plan.count("FlatMapGroupsInPandas")
            + plan.count("MapInArrow")
        )
        joins = []
        for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                  "BroadcastNestedLoopJoin", "CartesianProduct"):
            c = plan.count(j)
            if c:
                joins.append(f"{j}x{c}")
        print(f"{name}: exchanges={nx} pyeval={py} joins={','.join(joins) or '-'}",
              flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
