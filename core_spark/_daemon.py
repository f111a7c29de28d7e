"""Python worker daemon of `get_spark` sessions.

Spark forks every Python worker from one daemon process and, with
worker reuse on, runs many tasks in each worker. Before each task
`pyspark.worker_util.setup_spark_files` calls
`importlib.invalidate_caches()`, and on Python 3.11 every
`zipimport.zipimporter` answers that by re-reading its archive's whole
central directory. The worker's start-up `sys.path` holds three
archives: `pyspark.zip`, `py4j-*-src.zip` and the 15 MB spark-core jar,
and each package imported from them has an importer of its own (16 in
a worker that has run an Arrow UDF: 14 over the two zips, 2 over the
jar). Under the stock daemon every task re-reads them all, about 0.2 s
of CPU before the UDF runs.

Those archives do not change while the daemon lives, so this module
gives them importers whose `invalidate_caches()` does nothing, then
runs `pyspark.daemon.manager()` unchanged. Only the archives on the
daemon's start-up `sys.path` are frozen: one that a task adds later
(`SparkContext.addPyFile`, SparkFiles) has a path of its own and keeps
the stock invalidation. `get_spark` selects this module through
`spark.python.daemon.module`.
"""

from __future__ import annotations

import os
import sys
import zipimport


class FrozenArchiveImporter(zipimport.zipimporter):
    """A zipimporter over an archive that does not change while the
    process lives: `invalidate_caches()` keeps the directory read at
    construction instead of reading the archive again."""

    def invalidate_caches(self) -> None:
        pass


def freeze_archives(path: list[str]) -> None:
    """Give every archive (regular file) on `path` a FrozenArchiveImporter:
    replace the importers already cached for it and its subpackages, and
    add a path hook that builds one for those imported later. A path
    matches an archive when it equals it or starts with it plus
    `os.sep`."""
    archives = tuple(p for p in path if os.path.isfile(p))

    def frozen(entry: str) -> bool:
        return any(entry == a or entry.startswith(a + os.sep) for a in archives)

    def hook(entry: str) -> FrozenArchiveImporter:
        if not frozen(entry):
            raise ImportError("not a start-up archive", path=entry)
        return FrozenArchiveImporter(entry)

    sys.path_hooks.insert(0, hook)
    for entry, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and frozen(entry):
            sys.path_importer_cache[entry] = FrozenArchiveImporter(entry)


if __name__ == "__main__":
    freeze_archives(sys.path)
    from pyspark import daemon

    daemon.manager()
