"""Label catalog: JournalSpec/ShardSpec model + LabelSelector resolution.

The reference's control plane stores JournalSpecs in Etcd and resolves
K8s-style LabelSelectors over them to form ad-hoc "topics"
(broker/protocol/protocol.proto:105-147 labels, :149-339 JournalSpec;
matching logic broker/protocol/label_extensions.go:246-254 Matches,
:318-352 matchSelector, parser :435-465). In this engine the catalog is
plain data — a small DataFrame of specs — and a selector is a predicate
over it; the resolved set of journals is the set of table partitions a
query unions over.

Matching semantics (label_extensions.go):
- include: every named label must match; a name with empty value set
  matches any value of that name; multiple values = OR within name.
- exclude: any match on a named label (same value rules) rejects.
- `prefix: true` values match by string prefix.
- Reserved meta-labels `name` / `prefix` match the spec's own name
  (exact / path-prefix).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from core_spark.sources.stores import FSManifestStore


@dataclass(frozen=True)
class Label:
    name: str
    value: str


@dataclass(frozen=True)
class JournalSpec:
    """Journal (≈ streamed-table partition) definition.

    Fields mirror broker/protocol/protocol.proto:149-339: fragment
    policy becomes the table's file-writing policy.
    """

    name: str
    labels: tuple[Label, ...] = ()
    replication: int = 1
    fragment_length: int = 1 << 29  # bytes; valid 2^10..2^34
    codec: str = "ZSTD"  # NONE|GZIP|ZSTD|SNAPPY (protocol.proto:72-102)
    stores: tuple[str, ...] = ()
    path_postfix: str = ""  # e.g. 'date={date}/hour={hour}' (Hive-style)
    # bytes/second appenders may sustain; 0 = unlimited
    # (protocol.proto MaxAppendRate, broker/append_flow_control.go:11-43)
    max_append_rate: int = 0
    # String columns to index with per-fragment bloom filters (the
    # Delta/Iceberg opt-in bloom-index pattern): appends build a
    # 2048-bit filter per listed column into the fragment manifest,
    # and `Journal.read(where=[(col, '=', value)])` prunes fragments
    # whose filter proves the value absent — equality data skipping
    # for the string columns zone maps can't soundly cover (parquet
    # writers truncate string min/max). Opt-in because it costs one
    # column-pruned scan of each appended fragment.
    bloom_columns: tuple[str, ...] = ()

    def to_dict(self) -> dict:
        return {
            "name": self.name,
            "labels": [[lb.name, lb.value] for lb in self.labels],
            "replication": self.replication,
            "fragment_length": self.fragment_length,
            "codec": self.codec,
            "stores": list(self.stores),
            "path_postfix": self.path_postfix,
            "max_append_rate": self.max_append_rate,
            "bloom_columns": list(self.bloom_columns),
        }

    @staticmethod
    def from_dict(d: dict) -> "JournalSpec":
        return JournalSpec(
            name=d["name"],
            labels=tuple(Label(*lb) for lb in d.get("labels", [])),
            replication=int(d.get("replication", 1)),
            fragment_length=int(d.get("fragment_length", 1 << 29)),
            codec=d.get("codec", "ZSTD"),
            stores=tuple(d.get("stores", ())),
            path_postfix=d.get("path_postfix", ""),
            # absent in pre-r4 catalogs: unlimited
            max_append_rate=int(d.get("max_append_rate", 0)),
            # absent in pre-r5 catalogs: no bloom indexing
            bloom_columns=tuple(d.get("bloom_columns", ())),
        )


@dataclass(frozen=True)
class LabelSelector:
    """include/exclude selector (label_extensions.go:318-352).

    `include` / `exclude`: mapping name -> tuple of values; empty tuple
    means "any value with this name". `prefix_includes`: values matched
    as prefixes. Meta-names 'name'/'prefix' match the journal name.
    """

    include: dict[str, tuple[str, ...]] = field(default_factory=dict)
    exclude: dict[str, tuple[str, ...]] = field(default_factory=dict)
    prefix_includes: dict[str, tuple[str, ...]] = field(default_factory=dict)

    def matches(self, spec: JournalSpec) -> bool:
        def has(name: str, values: tuple[str, ...], prefix: bool) -> bool:
            if name in ("name", "prefix"):
                cand = [spec.name]
                if name == "prefix":
                    prefix = True
            else:
                cand = [l.value for l in spec.labels if l.name == name]
            if not values:
                return bool(cand)
            if prefix:
                return any(c.startswith(v) for c in cand for v in values)
            return any(c in values for c in cand)

        for n, vs in self.include.items():
            if not has(n, vs, False):
                return False
        for n, vs in self.prefix_includes.items():
            if not has(n, vs, True):
                return False
        for n, vs in self.exclude.items():
            if has(n, vs, False):
                return False
        return True

    def to_column(self) -> Column:
        """The same predicate as a Spark expression over rows with
        columns (name: string, labels: array<struct<name,value>>)."""

        def any_of(preds: list[Column]) -> Column:
            out = preds[0]
            for p in preds[1:]:
                out = out | p
            return out

        def label_match(name: str, values: tuple[str, ...], prefix: bool) -> Column:
            if name in ("name", "prefix"):
                col = F.col("name")
                if not values:
                    return F.lit(True)
                if name == "prefix" or prefix:
                    return any_of([col.startswith(v) for v in values])
                return col.isin(list(values))
            if not values:
                return F.exists("labels", lambda l: l.getField("name") == name)
            if prefix:
                return F.exists(
                    "labels",
                    lambda l: (l.getField("name") == name)
                    & any_of([l.getField("value").startswith(v) for v in values]),
                )
            return F.exists(
                "labels",
                lambda l: (l.getField("name") == name)
                & l.getField("value").isin(list(values)),
            )

        pred = F.lit(True)
        for n, vs in self.include.items():
            pred = pred & label_match(n, vs, False)
        for n, vs in self.prefix_includes.items():
            pred = pred & label_match(n, vs, True)
        for n, vs in self.exclude.items():
            pred = pred & ~label_match(n, vs, False)
        return pred


JOURNAL_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField(
            "labels",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("name", T.StringType(), False),
                        T.StructField("value", T.StringType(), False),
                    ]
                )
            ),
            False,
        ),
        T.StructField("replication", T.IntegerType(), False),
        T.StructField("fragment_length", T.LongType(), False),
        T.StructField("codec", T.StringType(), False),
        T.StructField("stores", T.ArrayType(T.StringType()), False),
        T.StructField("path_postfix", T.StringType(), False),
    ]
)


def _l(name: str, value: str) -> Label:
    return Label(name, value)


# Fixture catalog mirroring the reference examples' journal topology
# (examples/word-count, examples/stream-sum, examples/bike-share) —
# used by Q-SEL and the catalog tests.
FIXTURE_JOURNALS: tuple[JournalSpec, ...] = (
    JournalSpec(
        "examples/bike-share/rides/part-000",
        (_l("content-type", "text/csv"), _l("message-type", "bike_share.Ride"),
         _l("region", "us-central1")),
        stores=("s3://example/bike/",),
        path_postfix="date={date}/hour={hour}",
    ),
    JournalSpec(
        "examples/bike-share/rides/part-001",
        (_l("content-type", "text/csv"), _l("message-type", "bike_share.Ride"),
         _l("region", "eu-west1")),
        stores=("s3://example/bike/",),
    ),
    JournalSpec(
        "examples/word-count/deltas/part-000",
        (_l("content-type", "application/x-protobuf"),
         _l("message-type", "word_count.NGramCount"), _l("region", "us-central1")),
        codec="SNAPPY",
    ),
    JournalSpec(
        "examples/word-count/deltas/part-001",
        (_l("content-type", "application/x-protobuf"),
         _l("message-type", "word_count.NGramCount"), _l("region", "eu-west1")),
        codec="SNAPPY",
    ),
    JournalSpec(
        "examples/stream-sum/chunks/part-000",
        (_l("content-type", "application/x-ndjson"),
         _l("message-type", "stream_sum.Chunk"), _l("region", "us-central1")),
    ),
    JournalSpec(
        "examples/stream-sum/sums",
        (_l("content-type", "application/x-ndjson"),
         _l("message-type", "stream_sum.Sum"), _l("region", "us-central1")),
    ),
    JournalSpec(
        "ops/broker-logs",
        (_l("content-type", "application/x-ndjson"), _l("tier", "ops")),
        codec="GZIP",
    ),
    JournalSpec(
        "ops/metrics",
        (_l("content-type", "application/x-ndjson"), _l("tier", "ops"),
         _l("region", "us-central1")),
    ),
)


def journals_df(
    spark: SparkSession, specs: tuple[JournalSpec, ...] = FIXTURE_JOURNALS
) -> DataFrame:
    rows = [
        (
            s.name,
            [(l.name, l.value) for l in s.labels],
            s.replication,
            s.fragment_length,
            s.codec,
            list(s.stores),
            s.path_postfix,
        )
        for s in specs
    ]
    return spark.createDataFrame(rows, JOURNAL_SCHEMA)


def resolve(
    spark: SparkSession,
    selector: LabelSelector,
    specs: tuple[JournalSpec, ...] = FIXTURE_JOURNALS,
) -> DataFrame:
    """Resolve a selector to its journal set (the 'topic')."""
    return journals_df(spark, specs).filter(selector.to_column()).select("name")


def duck_journals_values(specs: tuple[JournalSpec, ...] = FIXTURE_JOURNALS) -> str:
    """DuckDB VALUES literal of (name, labels) for oracle queries."""
    rows = []
    for s in specs:
        labels = ", ".join(
            "{'name': '%s', 'value': '%s'}" % (l.name, l.value) for l in s.labels
        )
        rows.append(f"('{s.name}', [{labels}])")
    return ",\n      ".join(rows)


# --------------------------------------------------------- catalog store
class ApplyConflict(Exception):
    """Catalog CAS failed (Etcd mod-revision mismatch analog)."""


class SpecValidation(Exception):
    """Spec failed validation (journal_spec_extensions.go rules)."""


_VALID_CODECS = ("NONE", "GZIP", "ZSTD", "SNAPPY")


def validate_spec(spec: JournalSpec) -> None:
    """JournalSpec validation (journal_spec_extensions.go:476 fragment
    bounds; label/name shape rules)."""
    if not spec.name or spec.name.startswith("/") or "//" in spec.name:
        raise SpecValidation(f"invalid journal name {spec.name!r}")
    if not (1 << 10) <= spec.fragment_length <= (1 << 34):
        raise SpecValidation(
            f"fragment_length {spec.fragment_length} outside [2^10, 2^34]"
        )
    if spec.codec not in _VALID_CODECS:
        raise SpecValidation(f"codec {spec.codec!r} not in {_VALID_CODECS}")
    if spec.replication < 1:
        raise SpecValidation("replication must be >= 1")
    if spec.max_append_rate < 0:
        raise SpecValidation("max_append_rate must be >= 0 (0 = unlimited)")
    for c in spec.bloom_columns:
        if not c or not isinstance(c, str):
            raise SpecValidation(f"invalid bloom column {c!r}")



class _SpecCatalog:
    """Specs keyed by `_key`, stored as the versions of one
    FSManifestStore (the journal manifest's store, conditional PUT on
    object stores). Each apply creates version cur + 1 from the specs
    at cur, or loses to a concurrent apply and raises ApplyConflict."""

    _subdir = _what = ""

    def __init__(self, root: str):
        self.dir = os.path.join(root, self._subdir)
        self._store = FSManifestStore(self.dir)

    def version(self) -> int:
        """Current catalog version (Etcd mod-revision analog)."""
        return max(self._store.list_versions(), default=0)

    def _specs_at(self, v: int) -> tuple:
        if v == 0:
            return ()
        return tuple(self._from_dict(d) for d in json.loads(self._store.read(v)))

    def specs(self) -> tuple:
        return self._specs_at(self.version())

    def apply(
        self,
        upserts: tuple = (),
        deletions: tuple[str, ...] = (),
        expect_version: int | None = None,
    ) -> int:
        """Upsert/delete specs atomically; CAS on catalog version."""
        for s in upserts:
            self._validate(s)
        cur = self.version()
        if expect_version is not None and expect_version != cur:
            raise ApplyConflict(f"version {expect_version} != current {cur}")
        by_key = {self._key(s): s for s in self._specs_at(cur)}
        for k in deletions:
            by_key.pop(k, None)
        for s in upserts:
            by_key[self._key(s)] = s
        payload = json.dumps([by_key[k].to_dict() for k in sorted(by_key)])
        if not self._store.put_if_absent(cur + 1, payload):
            raise ApplyConflict(f"{self._what} v{cur + 1} concurrently applied")
        return cur + 1


class CatalogStore(_SpecCatalog):
    """Persistent spec catalog with check-and-set Apply — the engine's
    metastore, replacing the reference's Etcd keyspace + Apply RPC
    (broker/protocol/protocol.proto:703-726: upserts/deletions CAS'd
    on mod revision), stored under `<root>/_catalog`."""

    _subdir, _what = "_catalog", "catalog"
    _from_dict = staticmethod(JournalSpec.from_dict)
    _validate = staticmethod(validate_spec)

    @staticmethod
    def _key(spec: JournalSpec) -> str:
        return spec.name

    def resolve(self, spark: SparkSession, selector: LabelSelector) -> DataFrame:
        return resolve(spark, selector, self.specs())


class WatchedList:
    """Live selector resolution over the CatalogStore — the
    broker/client/list.go:25-147 WatchedList.

    The reference holds a server-streamed watch of a ListRequest and
    keeps an atomically-swapped snapshot that mapping functions read
    per message. Our catalog is a monotone sequence of CAS'd version
    files, so the watch degenerates to a version probe: `refresh()`
    compares the stored version and re-resolves the selector only on
    change (one listdir + at most one small JSON read — O(topology),
    no Spark job). Publishers call refresh() once per trigger, making
    the watch cadence the trigger cadence, which is exactly when a
    topology change can first take effect in a micro-batch engine.

    `names()` is the List() analog: the most recent snapshot, sorted
    for stable modulo indexing (the reference's ListResponse is
    likewise name-ordered, so index-stable until membership changes).
    """

    def __init__(self, store: CatalogStore, selector: LabelSelector):
        self.store = store
        self.selector = selector
        self.version = -1
        self._names: tuple[str, ...] = ()
        self.refresh()

    def refresh(self) -> tuple[str, ...]:
        v = self.store.version()
        if v != self.version:
            self._names = tuple(
                sorted(
                    s.name
                    for s in self.store.specs()
                    if self.selector.matches(s)
                )
            )
            self.version = v
        return self._names

    def names(self) -> tuple[str, ...]:
        return self._names


# --------------------------------------------------------------- shards
@dataclass(frozen=True)
class ShardSpec:
    """Consumer shard definition (consumer/protocol/protocol.proto
    ShardSpec): the declarative half of a shard — sources, sinks,
    trigger policy, labels. The transform is CODE, resolved by the
    application at start (the reference's consumer module does the
    same: specs name sources/stores, the app supplies callbacks)."""

    id: str
    out_root: str
    out_journal: str
    checkpoint_dir: str
    source_glob: str | None = None
    source_schema: str | None = None
    source_root: str | None = None
    source_journal: str | None = None
    max_files_per_trigger: int = 8
    trigger_seconds: float | None = None
    labels: tuple[Label, ...] = ()

    def to_dict(self) -> dict:
        return {
            "id": self.id,
            "out_root": self.out_root,
            "out_journal": self.out_journal,
            "checkpoint_dir": self.checkpoint_dir,
            "source_glob": self.source_glob,
            "source_schema": self.source_schema,
            "source_root": self.source_root,
            "source_journal": self.source_journal,
            "max_files_per_trigger": self.max_files_per_trigger,
            "trigger_seconds": self.trigger_seconds,
            "labels": [[lb.name, lb.value] for lb in self.labels],
        }

    @staticmethod
    def from_dict(d: dict) -> "ShardSpec":
        return ShardSpec(
            id=d["id"],
            out_root=d["out_root"],
            out_journal=d["out_journal"],
            checkpoint_dir=d["checkpoint_dir"],
            source_glob=d.get("source_glob"),
            source_schema=d.get("source_schema"),
            source_root=d.get("source_root"),
            source_journal=d.get("source_journal"),
            max_files_per_trigger=int(d.get("max_files_per_trigger", 8)),
            trigger_seconds=d.get("trigger_seconds"),
            labels=tuple(Label(*lb) for lb in d.get("labels", [])),
        )

    def to_config(self):
        """The runtime ShardConfig for run_shard."""
        from core_spark.streaming.shard import ShardConfig

        return ShardConfig(
            source_glob=self.source_glob,
            source_schema=self.source_schema,
            out_root=self.out_root,
            out_journal=self.out_journal,
            shard_id=self.id,
            checkpoint_dir=self.checkpoint_dir,
            max_files_per_trigger=self.max_files_per_trigger,
            trigger_seconds=self.trigger_seconds,
            source_root=self.source_root,
            source_journal=self.source_journal,
        )


def validate_shard_spec(spec: ShardSpec) -> None:
    if not spec.id or "/" in spec.id:
        raise SpecValidation(f"invalid shard id {spec.id!r}")
    if not spec.out_journal or not spec.out_root:
        raise SpecValidation("out_root and out_journal are required")
    if not spec.checkpoint_dir:
        raise SpecValidation("checkpoint_dir is required")
    has_glob = spec.source_glob is not None
    has_journal = spec.source_journal is not None
    if has_glob == has_journal:
        raise SpecValidation(
            "exactly one of source_glob or source_journal is required"
        )
    if has_glob and not spec.source_schema:
        raise SpecValidation("source_glob requires source_schema")
    if has_journal and not spec.source_root:
        raise SpecValidation("source_journal requires source_root")
    if spec.max_files_per_trigger < 1:
        raise SpecValidation("max_files_per_trigger must be >= 1")


class ShardCatalog(_SpecCatalog):
    """ShardSpec catalog with the same version-CAS Apply protocol as
    CatalogStore (consumer Apply RPC, consumer/shard_api.go List/
    Apply), stored under `<root>/_shards`."""

    _subdir, _what = "_shards", "shard catalog"
    _from_dict = staticmethod(ShardSpec.from_dict)
    _validate = staticmethod(validate_shard_spec)

    @staticmethod
    def _key(spec: ShardSpec) -> str:
        return spec.id
