"""`get_spark` sessions run their Python workers under `core_spark._daemon`:
the start-up archives keep their directory across
`importlib.invalidate_caches()`, archives added later still import, and
the daemon starts from any working directory."""

import os
import subprocess
import sys
import zipfile

from tests.conftest import REPO


def test_worker_start_up_archives_are_not_reread(spark):
    def importer(_):
        """The class of the task's pyspark.zip importer, and whether
        invalidate_caches() kept its directory (the same dict object)."""
        import importlib
        import os
        import sys

        (imp,) = (
            v for k, v in sys.path_importer_cache.items()
            if k.endswith(os.sep + "pyspark.zip")
        )
        files = imp._files
        importlib.invalidate_caches()
        return type(imp).__name__, imp._files is files

    rows = spark.sparkContext.parallelize([0, 1], 2).map(importer).collect()
    assert rows == [("FrozenArchiveImporter", True)] * 2


def test_archive_added_after_daemon_start_imports(spark, tmp_path):
    # a task first, so the daemon and a worker are already running
    spark.sparkContext.parallelize([0], 1).map(lambda x: x).collect()
    archive = tmp_path / "late_pyfile_7f3a.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("late_pyfile_7f3a.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(archive))

    def use(_):
        import sys
        import zipimport

        import late_pyfile_7f3a

        (imp,) = (
            v for k, v in sys.path_importer_cache.items()
            if k.endswith("late_pyfile_7f3a.zip")
        )
        return late_pyfile_7f3a.VALUE, type(imp) is zipimport.zipimporter

    assert spark.sparkContext.parallelize([0], 1).map(use).collect() == [(42, True)]


SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
import pyarrow as pa
from core_spark.session import get_spark

def probe(batches):
    import os, sys
    (imp,) = (v for k, v in sys.path_importer_cache.items()
              if k.endswith(os.sep + "pyspark.zip"))
    n = sum(b.num_rows for b in batches)
    yield pa.RecordBatch.from_pydict({{"n": [n], "importer": [type(imp).__name__]}})

spark = get_spark(app_name="session-cwd", master="local[1]")
rows = spark.range(10, numPartitions=1).mapInArrow(probe, "n long, importer string").collect()
print("RESULT", [tuple(r) for r in rows])
spark.stop()
"""


def test_daemon_starts_from_any_cwd(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(repo=str(REPO))],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "RESULT [(10, 'FrozenArchiveImporter')]" in out.stdout
