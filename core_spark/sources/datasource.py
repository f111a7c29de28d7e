"""Journal as a first-class Spark data source (batch + streaming).

This is the MessageProducer override point made real
(consumer/interfaces.go:117-141: an application replacing the default
message production path; SURVEY §2.7): instead of tailing a file glob,
`spark.readStream.format("journal")` consumes a journal through its
OWN manifest — offsets are journal byte/record offsets, micro-batch
planning is fragment pruning, and progress is exactly the reference's
read-through offset.

Built on the Spark 4 Python Data Source API:
- batch: one InputPartition per fragment; each task reads its
  fragment's parquet via pyarrow and yields Arrow RecordBatches
  (zero row-at-a-time Python).
- streaming: offsets are {"next": <journal offset>}; latestOffset()
  re-reads the manifest (the tail poll — broker/read_api.go's blocking
  read maps to Spark's trigger loop); partitions(start, end) prunes to
  fragments overlapping [start, end) and clamps rows by `_offset`, so
  a micro-batch reads only new data.
- byte-stream codec fragments (jsonl.zst/.xz/.gz — gazette's
  codec-suffixed files, .gz the default codec) serve through BOTH
  paths (r11): the DRIVER plans each fragment's chunk splits from
  tail/member metadata, executors ranged-read + decode chunks, and
  columns are typed by the reader's fixed arrow schema — older
  fragments serve typed NULLS for columns the journal gained later
  (e.g. a shard's `_batch`). The split planner and the chunk decoder
  are `codec_fragments.split_plan` / `decode_chunk`, the same ones
  the batch `Journal.read` path uses. The schema rides the manifest
  (byte-opaque journal), served all-nullable for exactly that
  reason. This closes the gazette default-codec loop both ways: a
  shard COMMITS gz fragments (ShardConfig.out_fmt) and a second
  consumer TAILS them read-committed.

Everything is defined inside the `journal_datasource()` factory so
cloudpickle ships the classes BY VALUE. The codec path references
`core_spark.sources.codec_fragments` by name, so executors must be
able to import `core_spark` — as the batch codec read already
requires; `__spark_entry__.py` exports PYTHONPATH for this. Register
per session:

    spark.dataSource.register(journal_datasource())
    df = (spark.read.format("journal")
          .option("root", root).option("name", "apps/j1").load())

Fragments written with a Hive path-postfix (partitionBy) are served
with partition discovery: `key=value` path segments under a fragment
are parsed back into columns (appended after the data columns, exactly
like Spark's native discovery in Journal.read), values are unescaped,
`__HIVE_DEFAULT_PARTITION__` maps to null, and types are inferred
int32 → int64 → float64 → string across every fragment's observed
values (mirroring Spark's partitionColumnTypeInference ladder for the
types a postfix template produces). Partition pruning falls out of the
per-fragment file listing: a filter on a postfix column prunes
subdirectories at the pyarrow scan exactly as the Hive layout intends
(protocol.proto:248-266).
"""

from __future__ import annotations


def journal_datasource():
    """Return the DataSource class for spark.dataSource.register()."""
    import json
    import os
    import re

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceStreamReader,
        InputPartition,
    )

    from core_spark.sources.codec_fragments import (
        CODEC_FMTS,
        decode_chunk,
        split_plan,
    )

    def _latest_manifest(journal_root: str) -> dict:
        mdir = os.path.join(journal_root, "_manifest")
        versions = [
            int(f[1:-5])
            for f in os.listdir(mdir)
            if f.startswith("v") and f.endswith(".json")
        ]
        if not versions:
            return {"version": 0, "next_offset": 0, "fragments": []}
        with open(os.path.join(mdir, f"v{max(versions)}.json")) as fh:
            return json.load(fh)

    _HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


    def _fragment_files(journal_root: str, frag: dict) -> list[tuple]:
        """List a fragment's parquet files as (path, partition-values):
        `key=value` directory segments between the fragment base and
        the file are the Hive path postfix, parsed back here. A
        byte-stream codec fragment (jsonl.zst/.xz/.gz) IS its single
        file — no postfix, by construction."""
        from urllib.parse import unquote

        base = os.path.join(journal_root, frag["path"])
        if frag.get("fmt", "parquet") in CODEC_FMTS:
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
        return sorted(out)

    def _infer_ptypes(all_files: list[tuple]) -> dict[str, str]:
        """Partition-column type names in first-seen key order, over
        every observed value: int32 -> int64 -> float64 -> string (the
        inference ladder Spark's native discovery applies to the types
        a postfix template can produce)."""
        vals: dict[str, list] = {}
        for _path, pvals in all_files:
            for k, v in pvals.items():
                vals.setdefault(k, [])
                if v is not None:
                    vals[k].append(v)

        # Match Spark's partitionColumnTypeInference ladder, not
        # Python's laxer int()/float(): Python accepts '1_000', ' 7 ',
        # 'inf', 'nan' — native discovery (Integer/Long.parseLong then
        # Double.parseDouble, measured empirically) types those as
        # string, and the two read paths (format('journal') vs
        # Journal.read native discovery) must agree on one schema.
        # Java-isms kept: leading '+' on ints ('+5' IS int 5 natively)
        # and the case-sensitive NaN/±Infinity double literals.
        # Documented divergences, all unreachable from values our
        # writer renders: native types integral decimals ('5.', '1e3',
        # >int64 digits) as DecimalType, accepts hex-float ('0x1p3'),
        # trailing f/d suffixes, and whitespace-padded doubles — we
        # type those string rather than grow a decimal reader type.
        _INT_RE = re.compile(r"^[-+]?\d+$")
        _FLOAT_RE = re.compile(
            r"^[-+]?(NaN|Infinity|(\d+\.\d*|\.\d+|\d+)([eE][-+]?\d+)?)$"
        )

        def infer(vs: list) -> str:
            if not vs:
                return "string"  # all-null: native discovery says string
            if all(_INT_RE.match(v) for v in vs):
                ints = [int(v) for v in vs]
                if all(-(2**31) <= i < 2**31 for i in ints):
                    return "int32"
                if all(-(2**63) <= i < 2**63 for i in ints):
                    return "int64"
                return "string"  # native: decimal; see divergence note
            if all(_FLOAT_RE.match(v) for v in vs):
                return "float64"
            return "string"

        return {k: infer(vs) for k, vs in vals.items()}

    def _pa_type(name: str):
        import pyarrow as pa

        return {
            "int32": pa.int32(),
            "int64": pa.int64(),
            "float64": pa.float64(),
            "string": pa.string(),
        }[name]

    def _pconvert(type_name: str, v: str):
        if type_name in ("int32", "int64"):
            return int(v)
        if type_name == "float64":
            return float(v)
        return v

    class FragPartition(InputPartition):
        def __init__(self, files: list[tuple], begin: int, end: int,
                     ptypes: dict[str, str], fmt: str = "parquet",
                     schema_json: str | None = None,
                     chunks: list[tuple] | None = None):
            self.files = files  # [(path, {pcol: raw value}), ...]
            self.begin = begin  # clamp: serve _offset in [begin, end)
            self.end = end
            self.ptypes = ptypes
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

    def _frag_partition(journal_root, frag, begin, end, ptypes):
        """Build one FragPartition; codec fragments get their split
        plan here, on the DRIVER, so executors only ranged-read and
        decode."""
        files = _fragment_files(journal_root, frag)
        fmt = frag.get("fmt", "parquet")
        if fmt not in CODEC_FMTS:
            return FragPartition(files, begin, end, ptypes)
        (path, _pv), = files
        chunks = _plan_cache.get(path)
        if chunks is None:
            chunks = _plan_cache[path] = split_plan(path, fmt)
        return FragPartition(
            files, begin, end, ptypes, fmt=fmt,
            schema_json=(frag.get("meta") or {}).get("schema_json"),
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
        import json as _json

        import pyarrow as pa

        if not part.schema_json:
            raise ValueError(
                "codec fragment lacks its manifest schema (byte-"
                "opaque journal: the schema rides the manifest)"
            )
        for f in _json.loads(part.schema_json)["fields"]:
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
                    _json.loads(line)
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

    def _arrow_schema_of(schema):
        from pyspark.sql.pandas.types import to_arrow_schema

        return to_arrow_schema(schema)

    def _read_table(path: str):
        """Read one fragment file by extension (parquet or ORC — the
        per-fragment `fmt` the manifest records)."""
        if path.endswith(".orc"):
            from pyarrow import orc

            return orc.read_table(path)
        import pyarrow.parquet as pq

        return pq.read_table(path)

    def _read_partition(part: FragPartition, field_names: list[str],
                        arrow_schema=None):
        import pyarrow as pa
        import pyarrow.compute as pc

        if getattr(part, "fmt", "parquet") in CODEC_FMTS:
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
            for k, tname in part.ptypes.items():
                typ = _pa_type(tname)
                v = pvals.get(k)
                arr = (
                    pa.nulls(len(table), type=typ)
                    if v is None
                    else pa.array([_pconvert(tname, v)] * len(table), type=typ)
                )
                table = table.append_column(pa.field(k, typ), arr)
            table = table.select(field_names)
            yield from table.to_batches()

    def _all_files_and_ptypes(journal_root: str, m: dict):
        per_frag = {
            f["path"]: _fragment_files(journal_root, f) for f in m["fragments"]
        }
        ptypes = _infer_ptypes(
            [fp for files in per_frag.values() for fp in files]
        )
        return per_frag, ptypes

    class _Reader(DataSourceReader):
        def __init__(self, journal_root: str, schema):
            self.journal_root = journal_root
            self.field_names = [f.name for f in schema.fields]
            self.arrow_schema = _arrow_schema_of(schema)

        def partitions(self):
            m = _latest_manifest(self.journal_root)
            _, ptypes = _all_files_and_ptypes(self.journal_root, m)
            return [
                _frag_partition(
                    self.journal_root, f, f["begin"], f["end"], ptypes
                )
                for f in m["fragments"]
            ]

        def read(self, partition: FragPartition):
            yield from _read_partition(
                partition, self.field_names, self.arrow_schema
            )

    class _StreamReader(DataSourceStreamReader):
        def __init__(self, journal_root: str, schema):
            self.journal_root = journal_root
            self.field_names = [f.name for f in schema.fields]
            self.arrow_schema = _arrow_schema_of(schema)
            # Pin partition-column types ONCE, matching the stream
            # schema fixed at start — re-inferring per micro-batch
            # could flip the ladder (a later append writes
            # bucket=2147483648 or bucket=abc) and permanently break
            # the running stream's arrow conversion.
            _, self.ptypes = _all_files_and_ptypes(
                journal_root, _latest_manifest(journal_root)
            )

        def initialOffset(self) -> dict:
            return {"next": 0}

        def latestOffset(self) -> dict:
            # the tail poll: re-list the manifest each trigger
            return {"next": _latest_manifest(self.journal_root)["next_offset"]}

        def partitions(self, start: dict, end: dict):
            lo, hi = start["next"], end["next"]
            if lo >= hi:
                return []
            m = _latest_manifest(self.journal_root)
            # list files only for fragments this micro-batch touches
            return [
                _frag_partition(
                    self.journal_root, f,
                    max(f["begin"], lo), min(f["end"], hi), self.ptypes,
                )
                for f in m["fragments"]
                if f["end"] > lo and f["begin"] < hi
            ]

        def read(self, partition: FragPartition):
            yield from _read_partition(
                partition, self.field_names, self.arrow_schema
            )

        def commit(self, end: dict) -> None:
            pass  # progress is durable in the query checkpoint

    class JournalSource(DataSource):
        """format("journal"): options root=<journals root>,
        name=<journal name>."""

        @classmethod
        def name(cls) -> str:
            return "journal"

        def _journal_root(self) -> str:
            root = self.options.get("root")
            jname = self.options.get("name")
            if not root or not jname:
                raise ValueError(
                    "journal source requires options root=<dir> and "
                    "name=<journal name>"
                )
            return os.path.join(root, jname)

        def schema(self):
            import pyarrow as pa
            from pyspark.sql.pandas.types import from_arrow_schema

            jroot = self._journal_root()
            m = _latest_manifest(jroot)
            if not m["fragments"]:
                raise ValueError(f"journal {jroot} has no fragments")
            f0 = m["fragments"][0]
            if f0.get("fmt", "parquet") in CODEC_FMTS:
                # byte-opaque fragment: the schema rides the manifest.
                # Every field serves NULLABLE — a journal gains
                # columns mid-history (a shard's _batch), and older
                # fragments serve typed nulls for them.
                import json as _json

                from pyspark.sql.types import StructField, StructType

                sj = (f0.get("meta") or {}).get("schema_json")
                if not sj:
                    raise ValueError(
                        "codec fragment lacks its manifest schema"
                    )
                st = StructType.fromJson(_json.loads(sj))
                return StructType(
                    [StructField(f.name, f.dataType, True) for f in st]
                )
            per_frag, ptypes = _all_files_and_ptypes(jroot, m)
            first = next(iter(per_frag.values()))[0][0]
            if first.endswith(".orc"):
                from pyarrow import orc

                file_schema = orc.ORCFile(first).schema
            else:
                import pyarrow.parquet as pq

                file_schema = pq.read_schema(first)
            # partition columns append after data columns, as in
            # Spark's native discovery
            for k, tname in ptypes.items():
                file_schema = file_schema.append(pa.field(k, _pa_type(tname)))
            return from_arrow_schema(file_schema)

        def reader(self, schema):
            return _Reader(self._journal_root(), schema)

        def streamReader(self, schema):
            return _StreamReader(self._journal_root(), schema)

    return JournalSource
