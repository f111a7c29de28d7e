"""SparkSession factory.

Defaults are tuned so the same code is correct on local[N] (tests,
bench) and on a large cluster (the 100 TB target):

- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  dynamic broadcast conversion replace hand-tuned partition counts at
  scale (a 1000-executor run re-plans per-stage from real sizes).
- UTC session timezone: parity with DuckDB oracle timestamps.
- Arrow enabled: every Pandas-UDF operator ships columnar batches.
- shuffle.partitions is only the *initial* number; AQE coalesces. On a
  real cluster this should be ~2-3x total cores; we default to the
  local CPU budget.
- Arrow batches are BYTES-bounded, not just row-bounded: media
  operators carry ~50 KB binary payloads per row (MP3/MP4/FLAC
  blobs), so the default 10k-rows-per-batch slicing produces ~500 MB
  ArrowRecordBatches — 32 concurrent tasks then exhaust the JVM's
  direct-memory pool (measured: the 100x scale probe died allocating
  a 537 MB netty buffer). maxBytesPerBatch=32m keeps per-task Arrow
  footprint constant no matter how wide the payload column is; for
  the common narrow-column kernels the rows cap still binds first,
  so their batching is unchanged.
- Python workers run under the engine's own daemon,
  `core_spark._daemon` (through `spark.python.daemon.module`, the hook
  PySpark's coverage run uses). It wraps `pyspark.daemon` unchanged,
  except that the importers of the archives on the worker's start-up
  `sys.path` (pyspark.zip, py4j, the spark-core jar) no longer re-read
  them at every `importlib.invalidate_caches()`. PySpark calls that
  before each task, and the re-reads cost about 0.2 s of worker CPU per
  task on Python 3.11, the per-task floor of every Python UDF. The
  daemon is imported from the package root, which `get_spark` exports
  on PYTHONPATH before the JVM starts (the JVM passes its environment
  to the workers), so a session works from any working directory.
  A SparkSession built without `get_spark` runs the stock daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export_package_root() -> None:
    """Put the directory holding `core_spark` first on PYTHONPATH, unless
    it is there already. Python workers get the PYTHONPATH of the JVM's
    environment, so this must run before the JVM starts; then workers
    import `core_spark` (the daemon, and kernels that import engine
    modules) from any working directory."""
    path = os.environ.get("PYTHONPATH", "")
    if PACKAGE_ROOT not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = PACKAGE_ROOT + (os.pathsep + path if path else "")


def get_spark(
    app_name: str = "core_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Python workers run under `core_spark._daemon`, which stops them
    re-reading the pyspark, py4j and spark-core archives before every
    task (see the module docstring); the package root is exported on
    PYTHONPATH first so the daemon imports from any working directory.
    Reusing a session whose JVM is already running keeps that session's
    daemon.

    Env knobs: SPARK_GRAFT_CPUS sets local parallelism (driver contract);
    SPARK_GRAFT_DRIVER_MEM sets `spark.driver.memory` (default 16g), which
    only takes effect when this call starts the JVM.
    """
    export_package_root()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "33554432")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "core_spark._daemon")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
