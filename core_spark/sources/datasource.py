"""Journal as a streaming Spark data source.

This is the MessageProducer override point made real
(consumer/interfaces.go:117-141: an application replacing the default
message production path; SURVEY §2.7): instead of tailing a file glob,
`spark.readStream.format("journal")` consumes a journal through its
OWN manifest — offsets are journal byte/record offsets, micro-batch
planning is fragment pruning, and progress is exactly the reference's
read-through offset. The source is streaming-only: `Journal.read` is
the batch path.

Built on the Spark 4 Python Data Source API:
- offsets are {"next": <journal offset>}; latestOffset() re-reads the
  manifest through `Journal.manifest` (the tail poll —
  broker/read_api.go's blocking read maps to Spark's trigger loop);
  partitions(start, end) prunes to fragments overlapping [start, end)
  and clamps rows by `_offset`, so a micro-batch reads only new data.
  Each task reads its fragment's files via pyarrow and yields Arrow
  RecordBatches (zero row-at-a-time Python).
- column types come from the manifest: the stream's schema is the
  schema `Journal.append` recorded for the first fragment. A fragment
  written with a Hive path-postfix (partitionBy) is served with its
  `key=value` path segments parsed back into columns after the data
  columns (values unescaped, `__HIVE_DEFAULT_PARTITION__` as null),
  each cast to its recorded type, so postfix keys read back as
  written and agree with `Journal.read`. A postfix fragment from a
  manifest that recorded no schema raises `UnrecordedSchema`; a flat
  one is served under its footer's schema.
- byte-stream codec fragments (jsonl.zst/.xz/.gz — gazette's
  codec-suffixed files, .gz the default codec): the DRIVER plans each
  fragment's chunk splits from tail/member metadata, executors
  ranged-read + decode chunks, and columns are typed by the reader's
  fixed arrow schema — older fragments serve typed NULLS for columns
  the journal gained later (e.g. a shard's `_batch`). The split
  planner and the chunk decoder are `codec_fragments.split_plan` /
  `decode_chunk`, the same ones the batch `Journal.read` path uses.
  The schema rides the manifest (byte-opaque journal), served
  all-nullable for exactly that reason. This closes the gazette
  default-codec loop both ways: a shard COMMITS gz fragments
  (ShardConfig.out_fmt) and a second consumer TAILS them
  read-committed.

Everything is defined inside the `journal_datasource()` factory so
cloudpickle ships the classes BY VALUE. They reference `core_spark`
modules by name, so executors must be able to import `core_spark` —
as the batch codec read already requires; `__spark_entry__.py`
exports PYTHONPATH for this. Register per session:

    spark.dataSource.register(journal_datasource())
    df = (spark.readStream.format("journal")
          .option("root", root).option("name", "apps/j1").load())
"""

from __future__ import annotations


def journal_datasource():
    """Return the DataSource class for spark.dataSource.register()."""
    import json
    import os

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    from core_spark.sources.codec_fragments import (
        CODEC_FMTS,
        decode_chunk,
        split_plan,
    )
    from core_spark.sources.journal import Journal, UnrecordedSchema

    _HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

    def _fragment_files(journal: Journal, frag) -> list[tuple]:
        """List a fragment's parquet files as (path, partition-values):
        `key=value` directory segments between the fragment base and
        the file are the Hive path postfix, parsed back here. A
        byte-stream codec fragment (jsonl.zst/.xz/.gz) IS its single
        file — no postfix, by construction. A postfix fragment must
        carry its recorded schema, which types the key columns."""
        from urllib.parse import unquote

        base = os.path.join(journal.root, frag.path)
        if frag.fmt in CODEC_FMTS:
            return [(base, {})]
        out = []
        for dirpath, _dirs, files in os.walk(base):
            pvals = {}
            rel = os.path.relpath(dirpath, base)
            if rel != ".":
                for seg in rel.split(os.sep):
                    if "=" in seg:
                        k, _, v = seg.partition("=")
                        pvals[k] = None if v == _HIVE_NULL else unquote(v)
            out.extend(
                (os.path.join(dirpath, f), pvals)
                for f in files
                if f.endswith((".parquet", ".orc"))
            )
        if "schema_json" not in frag.meta and any(pv for _p, pv in out):
            raise UnrecordedSchema(journal.name, frag.path)
        return sorted(out)

    class FragPartition(InputPartition):
        def __init__(self, files: list[tuple], begin: int, end: int,
                     fmt: str = "parquet",
                     schema_json: str | None = None,
                     chunks: list[tuple] | None = None):
            self.files = files  # [(path, {pcol: raw value}), ...]
            self.begin = begin  # clamp: serve _offset in [begin, end)
            self.end = end
            # byte-stream codec fragments: the container format, the
            # manifest-carried schema, and the DRIVER-planned chunk
            # list (c_off, c_size, d_size) — executors only ranged-
            # read and decode, they never re-plan
            self.fmt = fmt
            self.schema_json = schema_json
            self.chunks = chunks

    # Per-path split-plan memo: fragments are IMMUTABLE
    # (content-addressed names), so a codec fragment's chunk plan
    # never changes — without this a long-running tail would re-issue
    # the plan's ranged metadata reads (O(members) for gz) for every
    # still-overlapping fragment on every micro-batch.
    _plan_cache: dict[str, list[tuple]] = {}

    def _frag_partition(journal, frag, begin, end):
        """Build one FragPartition; codec fragments get their split
        plan here, on the DRIVER, so executors only ranged-read and
        decode."""
        files = _fragment_files(journal, frag)
        if frag.fmt not in CODEC_FMTS:
            return FragPartition(files, begin, end)
        (path, _pv), = files
        chunks = _plan_cache.get(path)
        if chunks is None:
            chunks = _plan_cache[path] = split_plan(path, frag.fmt)
        return FragPartition(
            files, begin, end, fmt=frag.fmt,
            schema_json=frag.meta.get("schema_json"),
            chunks=chunks,
        )

    # Spark scalar type names a codec fragment's JSON lines can carry
    # losslessly; anything else (timestamps, nested) raises the named
    # error — route those through parquet/orc fragments.
    _JSON_PA_TYPES = {
        "long": "int64", "integer": "int32", "short": "int16",
        "byte": "int8", "double": "float64", "float": "float32",
        "string": "string", "boolean": "bool_",
    }

    def _codec_partition_batches(part: FragPartition, field_names,
                                 arrow_schema):
        """Arrow batches out of one codec fragment's chunk plan:
        ranged read → native codec decode → JSON lines → typed
        columns, offset-clamped like the parquet path. Columns are
        typed by the READER's fixed arrow schema (a journal may gain
        columns mid-history — e.g. a shard's _batch — and an older
        fragment must serve typed NULLS for them, not strings); the
        fragment's manifest schema gates the scalar-only contract."""
        import pyarrow as pa

        if not part.schema_json:
            raise ValueError(
                "codec fragment lacks its manifest schema (byte-"
                "opaque journal: the schema rides the manifest)"
            )
        for f in json.loads(part.schema_json)["fields"]:
            t = f["type"]
            if not isinstance(t, str) or t not in _JSON_PA_TYPES:
                raise ValueError(
                    f"codec fragment column {f['name']!r} has type "
                    f"{t!r} — the streaming journal source decodes "
                    "JSON scalars only; use parquet/orc fragments "
                    "for this schema"
                )
        types = {
            n: arrow_schema.field(n).type
            for n in field_names
            if arrow_schema.get_field_index(n) >= 0
        }
        (path, _pv), = part.files
        with open(path, "rb") as fh:
            for c_off, c_size, d_size in part.chunks:
                fh.seek(c_off)
                data = decode_chunk(fh.read(c_size), part.fmt, d_size)
                rows = [
                    json.loads(line)
                    for line in data.decode("utf-8").splitlines()
                ]
                rows = [
                    r for r in rows
                    if part.begin <= r.get("_offset", -1) < part.end
                ]
                if not rows:
                    continue
                cols = [
                    pa.array(
                        [r.get(n) for r in rows],
                        type=types.get(n) or pa.string(),
                    )
                    for n in field_names
                ]
                yield pa.RecordBatch.from_arrays(cols, names=field_names)

    def _read_table(path: str):
        """Read one fragment file by extension (parquet or ORC — the
        per-fragment `fmt` the manifest records)."""
        if path.endswith(".orc"):
            from pyarrow import orc

            return orc.read_table(path)
        import pyarrow.parquet as pq

        return pq.read_table(path)

    def _read_partition(part: FragPartition, field_names: list[str],
                        arrow_schema):
        import pyarrow as pa
        import pyarrow.compute as pc

        if part.fmt in CODEC_FMTS:
            yield from _codec_partition_batches(
                part, field_names, arrow_schema
            )
            return
        for path, pvals in part.files:
            table = _read_table(path)
            mask = pc.and_(
                pc.greater_equal(table["_offset"], part.begin),
                pc.less(table["_offset"], part.end),
            )
            table = table.filter(mask)
            for k, v in pvals.items():
                if arrow_schema.get_field_index(k) < 0:
                    continue
                typ = arrow_schema.field(k).type
                arr = pa.array([v] * len(table), pa.string()).cast(typ)
                table = table.append_column(pa.field(k, typ), arr)
            table = table.select(field_names)
            yield from table.to_batches()

    class _StreamReader(DataSourceStreamReader):
        def __init__(self, journal: Journal, schema):
            from pyspark.sql.pandas.types import to_arrow_schema

            self.journal = journal
            self.field_names = [f.name for f in schema.fields]
            # fixed at start, like the stream's schema: every
            # micro-batch casts its partition values to these types
            self.arrow_schema = to_arrow_schema(schema)

        def initialOffset(self) -> dict:
            return {"next": 0}

        def latestOffset(self) -> dict:
            # the tail poll: re-list the manifest each trigger
            return {"next": self.journal.manifest().next_offset}

        def partitions(self, start: dict, end: dict):
            lo, hi = start["next"], end["next"]
            if lo >= hi:
                return []
            # list files only for fragments this micro-batch touches
            return [
                _frag_partition(
                    self.journal, f, max(f.begin, lo), min(f.end, hi)
                )
                for f in self.journal.manifest().fragments
                if f.end > lo and f.begin < hi
            ]

        def read(self, partition: FragPartition):
            yield from _read_partition(
                partition, self.field_names, self.arrow_schema
            )

        def commit(self, end: dict) -> None:
            pass  # progress is durable in the query checkpoint

    class JournalSource(DataSource):
        """readStream.format("journal"): options root=<journals root>,
        name=<journal name>."""

        @classmethod
        def name(cls) -> str:
            return "journal"

        def _journal(self) -> Journal:
            root = self.options.get("root")
            jname = self.options.get("name")
            if not root or not jname:
                raise ValueError(
                    "journal source requires options root=<dir> and "
                    "name=<journal name>"
                )
            return Journal(root, jname)

        def schema(self):
            from pyspark.sql.types import StructField, StructType

            j = self._journal()
            m = j.manifest()
            if not m.fragments:
                raise ValueError(f"journal {j.name!r} has no fragments")
            f0 = m.fragments[0]
            sj = f0.meta.get("schema_json")
            if f0.fmt in CODEC_FMTS:
                # byte-opaque fragment: the schema rides the manifest.
                # Every field serves NULLABLE — a journal gains
                # columns mid-history (a shard's _batch), and older
                # fragments serve typed nulls for them.
                if not sj:
                    raise ValueError(
                        "codec fragment lacks its manifest schema"
                    )
                st = StructType.fromJson(json.loads(sj))
                return StructType(
                    [StructField(f.name, f.dataType, True) for f in st]
                )
            if sj:
                return StructType.fromJson(json.loads(sj))
            # a flat fragment from before appends recorded schemas
            # (_fragment_files raises for a postfix one): its footer's
            from pyspark.sql.pandas.types import from_arrow_schema

            first = _fragment_files(j, f0)[0][0]
            if first.endswith(".orc"):
                from pyarrow import orc

                return from_arrow_schema(orc.ORCFile(first).schema)
            import pyarrow.parquet as pq

            return from_arrow_schema(pq.read_schema(first))

        def streamReader(self, schema):
            return _StreamReader(self._journal(), schema)

    return JournalSource
