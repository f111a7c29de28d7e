"""The lifetime contract of plans/registry.py: a registry query runs in a
scope that owns its cached blocks, checkpoints and temp dirs, and the
session is left as it was found once the scope closes."""

import importlib.util
import os
import subprocess
import sys
import tempfile

from core_spark.plans import registry
from core_spark.plans.llmops import q_dup_clusters
from core_spark.plans.registry import REGISTRY
from tests.conftest import REPO, SF_SMOKE

_spec = importlib.util.spec_from_file_location(
    "window_sweep", REPO / "tools" / "window_sweep.py"
)
window_sweep = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(window_sweep)

# One query per kind of allocation, and one that allocates nothing.
ALLOCATING = {
    "q_minhash_lsh": "persist",
    "q_dup_clusters": "localCheckpoint",
    "q_journal_roundtrip": "temp dir",
    "q_dedup_stream": "conf pin and stream checkpoint",
    "q_bike_cycles": "scope dir with an eager drain",
    "q_tpch1": "nothing",
}


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_close_releases_what_each_query_allocated(spark):
    spark.range(100).createOrReplaceTempView("scope_kept")
    spark.catalog.cacheTable("scope_kept")
    spark.table("scope_kept").count()
    kept = _persisted(spark)
    try:
        for name, kind in ALLOCATING.items():
            before = window_sweep.session_state(spark)
            REGISTRY[name].fn(spark, SF_SMOKE).write.format("noop").mode(
                "overwrite"
            ).save()
            registry.close()
            after = window_sweep.session_state(spark)
            assert window_sweep.leaks(before, after) == [], (name, kind)
            assert spark.catalog.isCached("scope_kept"), name
            assert kept <= after[0], name
    finally:
        spark.catalog.uncacheTable("scope_kept")
        spark.catalog.dropTempView("scope_kept")


def test_frame_outlives_a_second_query_built_in_its_scope(spark):
    tmp = tempfile.gettempdir()
    listed = set(os.listdir(tmp))
    df = REGISTRY["q_journal_roundtrip"].fn(spark, SF_SMOKE)
    dirs = [os.path.join(tmp, d) for d in set(os.listdir(tmp)) - listed]
    assert [os.path.basename(d)[:10] for d in dirs] == ["q_journal_"]

    # The plain function runs in the open scope: its checkpointed label
    # rounds and cached shingles join the first query's journal dir.
    assert q_dup_clusters(spark, SF_SMOKE).count() > 0
    events = spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet"))
    assert df.count() == events.filter("event_id >= 500 AND event_id < 2500").count()
    assert all(os.path.isdir(d) for d in dirs)

    registry.close()
    assert not any(os.path.exists(d) for d in dirs)


EXIT_SCRIPT = """
import sys, tempfile
sys.path.insert(0, {repo!r})
tempfile.tempdir = {tmp!r}
from core_spark.plans.registry import REGISTRY
from core_spark.session import get_spark

spark = get_spark(app_name="scope-exit", master="local[1]")
print("ROWS", REGISTRY["q_journal_roundtrip"].fn(spark, {sf!r}).count() > 0)
spark.stop()
"""


def test_exit_close_tolerates_a_stopped_session(tmp_path):
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    script = EXIT_SCRIPT.format(repo=str(REPO), tmp=str(tmp_path), sf=SF_SMOKE)
    out = subprocess.run(
        [sys.executable, "-c", script],
        env=env, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ROWS True" in out.stdout
    assert "Traceback" not in out.stderr, out.stderr[-3000:]
    assert list(tmp_path.iterdir()) == []


def test_session_conf_unsets_a_key_the_caller_never_set(spark):
    key = "spark.sql.files.maxRecordsPerFile"
    assert key not in spark.conf.getAll
    with registry.session_conf(spark, key, "7"):
        assert spark.conf.get(key) == "7"
    assert key not in spark.conf.getAll
