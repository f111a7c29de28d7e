"""Registry of declared queries.

Each entry pairs a Spark-side callable `(spark, sf_dir) -> DataFrame`
with an equivalent ANSI-SQL oracle string DuckDB runs on the same
parquet tables. The driver compares row-count + schema + order-
insensitive value hash, sorting columns by name — so every computed
column is aliased identically on both sides.

Queries whose semantics are not SQL-expressible (streaming stateful
ops) register with oracle=None and get a weaker rows-only check.

Lifetime contract: a query's frame is valid until the next registry
query or `close()`. A frame is a lazy plan, so what it reads (cached
blocks, checkpointed rounds, journal dirs) outlives the function that
built it. The callable in `REGISTRY` closes the open `QueryScope` and
runs the query in a new one; the query allocates through
`scope().persist(df, level)` and `scope().tempdir(prefix)`. Closing
unpersists those frames and every RDD persisted since the scope
opened (`localCheckpoint` bypasses the CacheManager), and removes the
dirs. A conf the query needs only while it runs is pinned with
`session_conf`. The function `@query` returns runs in whatever scope
is open.
"""

from __future__ import annotations

import atexit
import functools
import shutil
import tempfile
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark import SparkContext, StorageLevel
from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str | None


REGISTRY: dict[str, Query] = {}


class QueryScope:
    """What one query allocates, released together by `close()`."""

    def __init__(self) -> None:
        self._sc = SparkContext._active_spark_context
        self._frames: list[DataFrame] = []
        self._dirs: list[str] = []
        self._rdds = set(self._persisted().keys()) if self._live() else set()

    def _live(self) -> bool:
        # A stopped context has dropped its JVM handle, and its blocks.
        return self._sc is not None and self._sc._jsc is not None

    def _persisted(self):
        return self._sc._jsc.getPersistentRDDs()

    def persist(
        self, df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
    ) -> DataFrame:
        self._frames.append(df)
        return df.persist(level)

    def tempdir(self, prefix: str) -> str:
        self._dirs.append(tempfile.mkdtemp(prefix=prefix))
        return self._dirs[-1]

    def close(self) -> None:
        if self._live():
            for df in self._frames:
                df.unpersist()
            persisted = self._persisted()
            for rdd_id in set(persisted.keys()) - self._rdds:
                persisted[rdd_id].unpersist()
        for path in self._dirs:
            shutil.rmtree(path, ignore_errors=True)


_open: QueryScope | None = None


def scope() -> QueryScope:
    """The open query scope, opened here if there is none."""
    global _open
    if _open is None:
        _open = QueryScope()
    return _open


def close() -> None:
    """Release everything the open scope holds."""
    global _open
    done, _open = _open, None
    if done is not None:
        done.close()


atexit.register(close)


@contextmanager
def session_conf(spark: SparkSession, key: str, value: str) -> Iterator[None]:
    """Set a session conf for the `with` block, then restore it: a key
    the caller never set (the driver's default session) is unset
    again, so the session keeps following the default."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator registering a declared query with its DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            close()
            scope()
            return fn(spark, sf_dir)

        REGISTRY[name] = Query(name=name, fn=run, oracle=oracle, doc=fn.__doc__)
        return fn

    return deco
