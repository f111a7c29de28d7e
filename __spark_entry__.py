"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` smoke-runs the flagship query; `queries()` /
`oracle_sql()` expose every declared operator from SURVEY.md §2.9 plus
the LLM-pipeline superset, registered in `core_spark.plans.REGISTRY`.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from core_spark.session import export_package_root  # noqa: E402

# Executor Python workers resolve kernel-side imports (`from
# core_spark.multimodal... import ...` inside mapInPandas fns) on THEIR
# sys.path, which only sees the repo when the driver's cwd happens to
# be the repo root. Exporting PYTHONPATH before the SparkSession is
# built makes the contract hold from any working directory.
export_package_root()

from core_spark.io import register_views  # noqa: E402
from core_spark.plans import REGISTRY  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (Q-TPCH1 pricing summary) on sf0.001."""
    return REGISTRY["q_tpch1"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2. A returned
    frame is valid until the next query runs (plans/registry.py)."""

    def wrap(name: str) -> Callable[[SparkSession, str], DataFrame]:
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            register_views(spark, sf_dir)
            return REGISTRY[name].fn(spark, sf_dir)

        run.__name__ = name
        run.__doc__ = REGISTRY[name].doc
        return run

    return {name: wrap(name) for name in sorted(REGISTRY)}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted → rows-only check)."""
    return {
        name: q.oracle for name, q in sorted(REGISTRY.items()) if q.oracle is not None
    }
