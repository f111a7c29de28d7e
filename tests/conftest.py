import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from core_spark.plans import registry  # noqa: E402
from core_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="core_spark-tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(autouse=True)
def close_query_scope():
    """Release what the test's registry queries allocated (the lifetime
    contract in plans/registry.py)."""
    yield
    registry.close()


def spark_jobs(spark, fn):
    """(fn(), the number of Spark jobs fn launched), counted in a job
    group of its own after the listener bus has drained, so a job
    that has just finished is counted too."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def stream_journal(spark, root, name, checkpoint):
    """Every row of journal `name` served through
    `readStream.format("journal")` into a memory sink, as a DataFrame
    over the sink's table."""
    import uuid

    from core_spark.sources.datasource import journal_datasource

    spark.dataSource.register(journal_datasource())
    table = f"journal_{uuid.uuid4().hex}"
    q = (
        spark.readStream.format("journal")
        .option("root", root)
        .option("name", name)
        .load()
        .writeStream.format("memory")
        .queryName(table)
        .option("checkpointLocation", str(checkpoint))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(table)
