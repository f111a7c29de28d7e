"""`io.load_table` reads each table with the schema from its parquet
footer: the derived schema equals Spark's own inference, the load
launches no Spark job, and it mutates no parquet reader conf."""

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from core_spark.io import TABLES, ParquetSchemaError, footer_schema, load_table, register_views
from tests.conftest import SF_CORRECT, SF_SMOKE, spark_jobs

NANOS = "spark.sql.legacy.parquet.nanosAsLong"
NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


def _inferred(spark, path):
    """spark.read.parquet(path).schema, read with nanosAsLong on so that
    TIMESTAMP(NANOS) infers as LongType instead of failing."""
    before = spark.conf.get(NANOS)
    spark.conf.set(NANOS, "true")
    try:
        return spark.read.parquet(path).schema
    finally:
        spark.conf.set(NANOS, before)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schema_matches_inference_on_fixtures(spark, sf):
    for name in TABLES:
        path = os.path.join(os.path.dirname(SF_SMOKE), sf, f"{name}.parquet")
        assert footer_schema(spark, path) == _inferred(spark, path), path


@pytest.mark.parametrize("infer_ntz", ["true", "false"])
def test_footer_schema_matches_inference_on_every_mapped_type(spark, tmp_path, infer_ntz):
    t0 = datetime.datetime(2021, 3, 4, 5, 6, 7, 890123)
    table = pa.table(
        {
            "i32": pa.array([1, None], pa.int32()),
            "i64": pa.array([2, 3], pa.int64()),
            "f32": pa.array([1.5, None], pa.float32()),
            "f64": pa.array([2.5, 3.5], pa.float64()),
            "s": pa.array(["a", None], pa.string()),
            "b": pa.array([True, False], pa.bool_()),
            "bin": pa.array([b"x", None], pa.binary()),
            "floats": pa.array([[1.0, None], None], pa.list_(pa.float32())),
            "nested": pa.array([[["a"]], []], pa.list_(pa.list_(pa.string()))),
            "ts_ns": pa.array([t0, None], pa.timestamp("ns")),
            "ts_us": pa.array([t0, t0], pa.timestamp("us")),
            "ts_utc": pa.array([t0, None], pa.timestamp("us", tz="UTC")),
            "ts_list": pa.array([[t0], None], pa.list_(pa.timestamp("us"))),
        }
    )
    path = str(tmp_path / "all.parquet")
    pq.write_table(table, path)
    int96 = str(tmp_path / "int96.parquet")
    pq.write_table(table.select(["ts_ns", "ts_list"]), int96, use_deprecated_int96_timestamps=True)
    before = spark.conf.get(NTZ)
    spark.conf.set(NTZ, infer_ntz)
    try:
        for p in (path, int96):
            assert footer_schema(spark, p) == _inferred(spark, p), p
    finally:
        spark.conf.set(NTZ, before)


def test_footer_schema_reads_a_spark_written_directory(spark, tmp_path):
    path = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        [(i, f"doc {i}", [0.5 * i]) for i in range(40)], "doc_id long, text string, v array<double>"
    ).withColumn("ts", F.current_timestamp()).repartition(3).write.parquet(path)
    assert footer_schema(spark, path) == _inferred(spark, path)
    assert load_table(spark, str(tmp_path), "documents").count() == 40


def test_unmapped_type_raises_named_error(spark, tmp_path):
    path = str(tmp_path / "small.parquet")
    pq.write_table(pa.table({"k": pa.array([1], pa.int16())}), path)
    with pytest.raises(ParquetSchemaError, match=r"small\.parquet.*'k'.*int16"):
        footer_schema(spark, path)


def test_load_table_launches_no_spark_job(spark):
    def jobs(fn):
        return spark_jobs(spark, fn)[1]

    sf = SF_CORRECT
    # the group does catch an inference job, so zero below is a real zero
    assert jobs(lambda: spark.read.parquet(f"{sf}/orders.parquet"))
    assert jobs(lambda: [load_table(spark, sf, n) for n in TABLES]) == 0
    assert jobs(lambda: register_views(spark, sf)) == 0


def test_nanos_events_load_as_micros_without_conf_change(spark, tmp_path):
    stamps = [
        datetime.datetime(1999, 12, 31, 23, 59, 59, 999999),
        datetime.datetime(2024, 2, 29, 12, 0, 0, 123456),
        None,
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "ts": pa.array(stamps, pa.timestamp("ns")),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    assert pq.read_schema(str(tmp_path / "events.parquet")).field("ts").type == pa.timestamp("ns")
    # at Spark's default (off), which rejects TIMESTAMP(NANOS) on inference
    before = spark.conf.get(NANOS)
    spark.conf.set(NANOS, "false")
    try:
        df = load_table(spark, str(tmp_path), "events")
        assert df.schema["ts"].dataType.typeName() == "timestamp"
        got = [r["ts"] for r in df.orderBy("event_id").collect()]
        assert spark.conf.get(NANOS) == "false"
    finally:
        spark.conf.set(NANOS, before)
    assert got == stamps
