"""Testdata loaders.

The driver materializes the TPC-H-ish star schema plus `events`,
`documents`, `embeddings` as one Parquet file per table under
/root/testdata/sf*/ (TESTDATA.md). At 100 TB each "table" is a
directory tree of many fragments — `spark.read.parquet` handles both
shapes identically, and Catalyst pushes filters/projections into the
scan either way.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


class ParquetSchemaError(ValueError):
    """A parquet footer holds a column type `footer_schema` does not map."""


# Arrow's name for a footer's primitive type -> the type Spark infers for it.
_SCALAR_TYPES = {
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "bool": T.BooleanType(),
    "binary": T.BinaryType(),
}


def footer_schema(spark: SparkSession, path: str) -> T.StructType:
    """The StructType Spark's parquet inference would give `path`,
    derived on the driver from the file's footer with no Spark job.

    Matches inference under `spark.sql.legacy.parquet.nanosAsLong`:
    INT64 TIMESTAMP(NANOS) -> LongType; INT96 -> TimestampType; a
    micros timestamp with isAdjustedToUTC=false -> TimestampNTZType
    when `spark.sql.parquet.inferTimestampNTZ.enabled` is on, else
    TimestampType; `list<x>` -> ArrayType(x); every field nullable.
    Any other type raises ParquetSchemaError naming the file and type.
    A directory table is read from its first data file, as Spark's
    inference does without schema merging.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = _first_data_file(path)
    meta = pq.read_metadata(path)
    # INT96 reads back as timestamp[ns] too; only the physical type tells
    int96 = {c.path for c in meta.schema if c.physical_type == "INT96"}
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"

    def spark_type(col: str, t):
        if pa.types.is_list(t):
            item = f"{col}.list.{t.value_field.name}"
            return T.ArrayType(spark_type(item, t.value_type), True)
        if pa.types.is_timestamp(t):
            if col in int96:
                return T.TimestampType()
            if t.unit == "ns":
                return T.LongType()
            if t.unit == "us":
                return T.TimestampType() if t.tz or not ntz else T.TimestampNTZType()
        elif str(t) in _SCALAR_TYPES:
            return _SCALAR_TYPES[str(t)]
        raise ParquetSchemaError(f"{path}: column {col!r} has type {t}, which has no Spark mapping")

    return T.StructType(
        [T.StructField(f.name, spark_type(f.name, f.type), True) for f in meta.schema.to_arrow_schema()]
    )


def _first_data_file(path: str) -> str:
    """`path`, or for a directory the first file under it, in name order,
    that Spark would read: names starting with `_` or `.` are skipped."""
    if not os.path.isdir(path):
        return path
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if not f.startswith(("_", ".")):
                return os.path.join(root, f)
    raise ParquetSchemaError(f"{path}: directory holds no parquet data file")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table with the schema from its footer
    (`footer_schema`), so planning starts without an inference job.

    Every fixture table stores `ts`, `o_orderdate` and `l_shipdate` as
    TIMESTAMP(MICROS, isAdjustedToUTC=false); they arrive as
    TIMESTAMP_NTZ (or TIMESTAMP, with NTZ inference off) and are cast
    to TIMESTAMP below. An externally written `events.parquet` may
    store ts as TIMESTAMP(NANOS), which Spark's reader rejects as a
    timestamp; the footer schema reads it as raw nanosecond longs and
    the micros timestamp is rebuilt with integer arithmetic — the data
    carries no sub-microsecond components, and DuckDB's view of the
    same file is micros-precision too.
    """
    # Timestamp parity with the DuckDB oracle (naive-UTC) must hold even
    # under a caller-owned session (the driver's) — pin the session TZ.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = footer_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    from pyspark.sql import functions as F

    if name == "events" and isinstance(schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Depending on the writer's parquet metadata (isAdjustedToUTC) and the
    # reader's inferTimestampNTZ setting, ts may arrive as TIMESTAMP_NTZ.
    # Normalize to TIMESTAMP with a plain cast: with the session TZ pinned
    # to UTC above, the cast is value-preserving and matches DuckDB's
    # naive-UTC view. CONSTRAINT: the cast resolves the session TZ at
    # action time, so callers must not reset spark.sql.session.timeZone
    # between load_table and the action. (A TZ-independent
    # convert_timezone('UTC', current_timezone(), col) formulation was
    # measured to defeat parquet predicate pushdown on these columns —
    # filters like l_shipdate >= X stop reaching the scan — so the
    # pinned-conf contract is the right trade.)
    for field in schema.fields:
        if isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (idempotent)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def spread(df: DataFrame) -> DataFrame:
    """Round-robin the rows across the session's cores before a
    per-row-expensive Python (Arrow) kernel.

    The local fixture tables arrive as ONE parquet file, so Spark
    hands the whole table to one task and a codec kernel (FLAC
    encode, WARC walk, HTML parse) runs single-threaded — a local
    artifact, not the production shape: a 100 TB corpus arrives in
    thousands of fragments and parallelizes by input split. The
    round-robin exchange ships only the projected columns and is
    priced far below the kernel it feeds; on a real multi-fragment
    corpus it would be unnecessary (and a no-op cost-wise next to
    the kernel)."""
    return df.repartition(_spread_width(df))


def spread_ranged(df: DataFrame, *keys: str) -> DataFrame:
    """`spread` for a kernel whose presentation sort leads with
    `keys` (r13 opt, guide §2.4 "remove shuffles outright").

    A global `orderBy` compiles to Exchange(rangepartitioning) +
    per-partition Sort, and the range partitioner SAMPLES its child
    to pick bounds — executing the entire kernel subtree a second
    time (measured: the presentation sort alone more than doubled
    q_canon_sent). Range-partitioning the INPUT by the same leading
    key instead (a) samples only the cheap scan, (b) lets the final
    sort be `sortWithinPartitions` with no second exchange, and
    (c) runs the kernel exactly once. Equal keys land in one
    partition and partitions are collected in range order, so
    `sortWithinPartitions(keys…)` downstream yields the identical
    total order as `orderBy(keys…)` — the same physical mechanics
    (range exchange + local sort) with the exchange hoisted above
    the scan instead of above the kernel.

    CPU balance: per-row kernel cost varies by md5-derived form
    nibbles, which are independent of the key ranges, so range
    partitions carry the same expected cost as round-robin."""
    return df.repartitionByRange(_spread_width(df), *keys)


# ~256 MB of (projected) input per kernel task at scale — guide §2.2
# "fewer, larger partitions" / §6 split sizing; the kernels amplify
# input bytes, so this errs small rather than at the 1 GB scan bound.
_SPREAD_TARGET_BYTES = 256 << 20
# Catalyst reports Long.MaxValue-ish sizes for plans it cannot
# estimate (spark.sql.defaultSizeInBytes); treat anything absurd as
# unknown rather than exploding the partition count.
_SPREAD_UNKNOWN = 1 << 50


def _spread_width(df: DataFrame) -> int:
    """Partition count for spread/spread_ranged: the session's core
    budget locally, growing with ESTIMATED INPUT BYTES at scale (r14
    opt, VERDICT r13 task 9 — a cores-only width ties kernel
    partition sizes to the executor count, so a 100 TB corpus on a
    small cluster would produce arbitrarily fat kernel tasks; §2.2).

    width = max(defaultParallelism, est_bytes // 256 MB), from the
    optimizer's plan statistics (file-size-derived for parquet scans;
    zero Spark jobs). Local fixtures are single-digit MB, so the
    byte term is 0 and the width — and every committed local plan
    and bench number — is exactly the pre-r14 `defaultParallelism`.
    Unknown/absurd estimates (Catalyst's Long.MaxValue default above
    non-estimable operators) fall back to the core budget too."""
    sc = df.sparkSession.sparkContext
    cores = sc.defaultParallelism
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return cores
    if est <= 0 or est >= _SPREAD_UNKNOWN:
        return cores
    return max(cores, min(1_000_000, est // _SPREAD_TARGET_BYTES))
