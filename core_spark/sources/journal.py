"""Journal = append-only byte/record stream persisted as immutable
parquet fragments under a directory, indexed by a versioned manifest.

Reference mapping (SURVEY.md §1.1, §3.1):
- Fragment: immutable span [begin, end) of the journal with mod_time
  (broker/protocol/protocol.proto:383-405) → an immutable parquet file
  whose rows carry materialized `_offset`s; content-addressed naming.
- Serializable atomic append (docs/brokers-concepts.rst:15-21,
  broker/append_fsm.go): whole-batch-or-nothing. Achieved with a
  write-temp → fsync → manifest CAS protocol: manifest version N+1 is
  created with O_EXCL, so exactly one concurrent appender wins; the
  loser's fragment is never referenced (= rolled back). On an object
  store the same CAS is a conditional PUT (S3 If-None-Match / GCS
  x-goog-if-generation-match).
- Registers (protocol.proto:493-560): a small label-set carried in the
  manifest, check-and-set with each append — write fences and
  at-most-once appenders.
- Offset index / ListFragments (broker/fragment/index.go:41-131,
  protocol.proto:728-779): `fragments_df` + offset/mod-time pruning in
  `read` — only covering fragments are scanned, which at 100 TB is
  the file-pruning that keeps tail reads O(new data).
- Retention (protocol.proto:216-222): `prune` drops fragments wholly
  older than the horizon, via a new manifest version (readers pinned
  to older versions are unaffected — snapshot isolation for free).

Total order per journal (SURVEY.md §4.2): appends are per-journal
serialized (the reference funnels every append through one primary
broker, docs/brokers-concepts.rst:45-52), so the single-partition
coalesce inside `append` is the *same* scaling contract — parallelism
comes from many journals, not from parallel appends to one.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid as py_uuid
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from core_spark.sources.stores import FSManifestStore, ManifestStore


def _footer_info(path: str) -> tuple[int, dict[str, list]]:
    """Row count AND per-column [min, max] zone map of a written
    fragment, from ONE walk opening each file footer once — no data
    pages are read, unlike a count() re-scan (which doubled append
    I/O for large fragments), and no second footer pass (append is
    the hot path of a streaming sink committing one fragment per
    micro-batch).

    Zone maps cover NUMERIC AND BOOLEAN columns only: parquet
    writers may truncate binary/string min-max (Spark pads the upper
    bound), which would make string pruning unsound; numeric footer
    stats are exact. Columns with any stats-less row group (or absent
    from some file of a postfix tree) are dropped — a zone map must
    bound EVERY row of the fragment or pruning on it is wrong. ORC
    files contribute rows only (no zone map).

    This is the manifest-level data skipping of an Iceberg/Delta
    file-stats index, scoped to the fragment manifest: `Journal.read`
    consults it BEFORE handing paths to Spark, so non-covering
    fragments never even reach the scan's file listing — at 100 TB
    that is the difference between pruning inside a 10⁶-file listing
    and never listing it."""
    import pyarrow.parquet as pq

    n = 0
    merged: dict[str, list] = {}
    dropped: set[str] = set()
    n_files = 0
    seen_files: dict[str, int] = {}
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith(".orc"):
                from pyarrow import orc

                n += orc.ORCFile(os.path.join(dirpath, fn)).nrows
                continue
            if not fn.endswith(".parquet"):
                continue
            n_files += 1
            meta = pq.ParquetFile(os.path.join(dirpath, fn)).metadata
            n += meta.num_rows
            for rg in range(meta.num_row_groups):
                row_group = meta.row_group(rg)
                for ci in range(row_group.num_columns):
                    col = row_group.column(ci)
                    name = col.path_in_schema
                    if "." in name or name in dropped:
                        continue  # nested leaves: out of scope
                    st = col.statistics
                    lo = hi = None
                    if st is not None and st.has_min_max:
                        try:
                            lo, hi = st.min, st.max
                        except NotImplementedError:
                            pass  # pyarrow has no min/max for int decimals
                    if (
                        not isinstance(lo, (int, float, bool))
                        or isinstance(lo, float)
                        and (lo != lo or hi != hi)
                    ):
                        dropped.add(name)
                        merged.pop(name, None)
                        continue
                    if name in merged:
                        merged[name][0] = min(merged[name][0], lo)
                        merged[name][1] = max(merged[name][1], hi)
                    else:
                        merged[name] = [lo, hi]
                    if rg == 0:
                        seen_files[name] = seen_files.get(name, 0) + 1
    # a column absent from some file (postfix trees with varying
    # schemas) does not bound the whole fragment
    return n, {
        k: v
        for k, v in merged.items()
        if seen_files.get(k, 0) == n_files
    }


def _content_hash(path: str) -> str:
    """SHA-1 over the fragment's payload bytes — the content half of
    the reference's ``begin-end-sha1sum`` fragment names
    (broker/protocol/protocol.proto:383-411; broker/fragment/spool.go
    computes the sum while spooling). Each data file is hashed, then
    the SORTED (partition-dir, file-sha) pairs are hashed together, so
    the name is independent of Spark's random part-file basenames:
    within one JVM, the same rows written twice produce the same name.
    That makes a retried upload idempotent (the CAS loser's file IS
    the winner's file, not an orphan) and gives free integrity
    checking. Across JVMs the name is not stable: parquet-mr writes
    each column chunk's `encodings` list in hash-set order, so equal
    rows written by another JVM can get another name (a retry from a
    restarted writer leaves an orphan for vacuum, never a wrong read).
    Cost: one sequential read of the just-written local batch —
    bounded by the micro-batch, not the journal."""
    import hashlib

    if os.path.isfile(path):
        # codec fragments are single byte-stream files: hash the
        # stream itself, exactly the reference's spooled sha1sum
        h = hashlib.sha1()
        with open(path, "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                h.update(chunk)
        return h.hexdigest()[:16]
    entries: list[str] = []
    for dirpath, _dirs, files in os.walk(path):
        rel = os.path.relpath(dirpath, path)
        for fn in files:
            if fn.startswith(("_", ".")) or not fn.endswith(
                (".parquet", ".orc")
            ):
                continue
            h = hashlib.sha1()
            with open(os.path.join(dirpath, fn), "rb") as fh:
                for chunk in iter(lambda: fh.read(1 << 20), b""):
                    h.update(chunk)
            entries.append(
                ("" if rel == "." else rel) + ":" + h.hexdigest()
            )
    return hashlib.sha1("\n".join(sorted(entries)).encode()).hexdigest()[:16]


def _columnar_reader(spark: SparkSession, f: "Fragment"):
    """Spark's reader for parquet/orc fragment `f`, under the schema
    the manifest recorded for it: the schema Spark's inference would
    read back from a flat fragment's footer, and a path-postfix tree's
    key columns as written, so planning a read launches no inference
    job."""
    reader = spark.read.format(f.fmt)
    sj = f.meta.get("schema_json")
    if sj is None:
        # inferred: a flat fragment from a manifest written before
        # fragments recorded their schema
        return reader
    return reader.schema(T.StructType.fromJson(json.loads(sj)))


class UnrecordedSchema(ValueError):
    """A path-postfix fragment from a manifest that recorded no schema:
    its key columns' written types are unknown, and types guessed from
    the paths could change values (the string "+5" reads as 5)."""

    def __init__(self, journal: str, path: str):
        super().__init__(
            f"journal {journal!r} fragment {path!r} is a path-postfix "
            "tree with no recorded schema; re-append its rows to read them"
        )


def _dir_has_postfix(p: str) -> bool:
    """Does this fragment directory carry a Hive path-postfix
    (key=value subdirectory) tree? Shared by read()'s multi-path
    discovery decision and compact()'s skip rule — the layout IS the
    pruning index, so both must classify identically."""
    try:
        return any(
            "=" in d and os.path.isdir(os.path.join(p, d))
            for d in os.listdir(p)
        )
    except FileNotFoundError:
        return False


_ZONE_OPS = ("=", "<", "<=", ">", ">=")


def parse_where(exprs: list[str]) -> list[tuple]:
    """`col<op>value` strings → (col, op, literal) triples for
    `Journal.read(where=…)` — the shared predicate grammar of the CLI
    `--where` flag and the gateway `?where=` param. Numeric literals
    parse as int/float so zone maps can prune; everything else stays
    a string for the bloom probe. QUOTING forces a string: `code='0123'`
    (single or double quotes) keeps a numeric-looking literal textual —
    without it the int coercion would both skip the bloom probe and
    change equality semantics on a string column (Spark casts the
    column to int, matching '0123' AND '123'). Raises ValueError on
    malformed input (callers surface their own exit code / 400)."""
    out = []
    for e in exprs or []:
        for op in (">=", "<=", ">", "<", "="):  # two-char ops first
            if op in e:
                col, _, raw = e.partition(op)
                v: object = raw
                if (
                    len(raw) >= 2
                    and raw[0] == raw[-1]
                    and raw[0] in ("'", '"')
                ):
                    v = raw[1:-1]  # explicit string literal
                else:
                    try:
                        v = int(raw)
                    except ValueError:
                        try:
                            v = float(raw)
                        except ValueError:
                            pass
                out.append((col.strip(), op, v))
                break
        else:
            raise ValueError(f"bad where {e!r} (want col<op>value)")
    return out


# ----------------------------------------------------- bloom fragment index
# 2048-bit, 4-hash blooms over spec-listed STRING and INTEGER columns
# (ints since r11 — the journal's natural point-lookup key class):
# the equality-skipping sibling of the numeric zone maps (string
# min/max is unsound to prune on — parquet writers truncate it — but
# set membership is exact-or-conservative by construction; int zone
# maps prune RANGES, blooms prune sparse point lookups zone maps
# can't). Hash family: four 16-bit slices of md5(value) mod 2048 —
# ints hashed via their canonical decimal CAST(.. AS STRING) and
# stored with the `int:` type prefix — identical between the Spark
# builder expression (conv(substring(md5(col), …), 16, 10)) and
# the Python read-side probe, so a manifest written by any engine
# prunes the same. With ~hundreds of distinct values per fragment the
# fill stays low (k·n/m ≈ 0.2 at n=100) and the false-positive rate
# ~0.2⁴; a false positive only costs reading a fragment that zone-map
# pruning would also have read.
_BLOOM_BITS = 2048
_BLOOM_K = 4


def _bloom_positions(value: str) -> list[int]:
    import hashlib

    h = hashlib.md5(value.encode("utf-8")).hexdigest()
    return [int(h[i * 4 : (i + 1) * 4], 16) % _BLOOM_BITS for i in range(_BLOOM_K)]


def _bloom_may_contain(hexmap: str, value) -> bool:
    """False ONLY when the fragment provably holds no row equal to
    `value`; anything unprobeable — including a corrupt or
    wrong-width hex map in a hand-edited manifest — is a
    conservative True (pruning is an optimization; it must never
    turn a bad index entry into a wrong answer).

    Typed maps (r11): an integer column's map is stored with the
    ``int:`` prefix and probes str(value) — the canonical decimal
    rendering both Spark's CAST(.. AS STRING) builder and Python
    agree on. The prefix keeps typed probes from crossing: an
    UNQUOTED numeric literal on a string column (parse_where coerces
    it to int, and Spark's equality then casts the column — '0123'
    matches 123) must NOT probe the string bloom with '123' and
    wrongly prune the '0123' fragment; type-mismatched probes stay
    conservative True instead."""
    if not hexmap:
        return True
    if hexmap.startswith("int:"):
        if isinstance(value, bool) or not isinstance(value, int):
            return True
        probe, hexmap = str(value), hexmap[4:]
    elif isinstance(value, str):
        probe = value
    else:
        return True
    try:
        m = bytes.fromhex(hexmap)
        if len(m) != _BLOOM_BITS // 8:
            return True
        return all(m[p // 8] >> (p % 8) & 1 for p in _bloom_positions(probe))
    except ValueError:
        return True


def _bloom_may_match(blooms: dict, col: str, op: str, value) -> bool:
    if op != "=" or col not in blooms:
        return True
    return _bloom_may_contain(blooms[col], value)


def _build_blooms(path: str, fmt: str, cols, keys=None) -> dict:
    """Per-column bloom hex maps for a written fragment, computed on
    the DRIVER from one column-pruned pyarrow read. This replaced a
    per-append Spark job (scan + md5-explode + distinct + collect): the
    append path already reads every fragment byte on the driver to
    content-hash it (_content_hash), so a driver pass over just the
    listed columns adds no new scaling exposure — and it removes a full
    round of job scheduling from the append hot path. Bit identity with
    the old Spark builder expression is by construction: both hash md5
    over the value's UTF-8 bytes (ints via their canonical decimal
    rendering, stored with the ``int:`` type prefix the probe keys on)
    and take four 16-bit slices mod _BLOOM_BITS — exactly the
    read-side _bloom_positions, which the journal tests and the
    q_audit_scan DuckDB oracle pin bit-exactly.

    `keys`: a path-postfix tree's key fields (a StructType, as the
    fragment's recorded schema types them). A listed string or integer
    key column is read back under its type, as Spark reads it, so its
    map is keyed as written. Other keys stay out of the partitioning:
    pyarrow ignores them, and cannot parse some types (decimal)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    partitioning = None
    if keys:
        from pyspark.sql.pandas.types import to_arrow_schema

        listed = [
            f
            for f in to_arrow_schema(keys)
            if f.name in cols
            and (pa.types.is_string(f.type) or pa.types.is_integer(f.type))
        ]
        partitioning = ds.partitioning(pa.schema(listed), flavor="hive")
    dset = ds.dataset(path, format=fmt, partitioning=partitioning)
    picked: list[tuple[str, bool]] = []  # (col, is_int)
    for c in cols:
        if c not in dset.schema.names:
            continue
        t = dset.schema.field(c).type
        if pa.types.is_dictionary(t):
            t = t.value_type
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            picked.append((c, False))
        elif pa.types.is_integer(t):
            picked.append((c, True))
    if not picked:
        return {}
    tbl = dset.to_table(columns=[c for c, _ in picked])
    out = {}
    for c, is_int in picked:
        m = bytearray(_BLOOM_BITS // 8)
        # fold chunk by chunk: setting a bit is idempotent, so the map
        # equals one pass over the whole column without first copying
        # it into one contiguous array
        for chunk in tbl[c].chunks:
            for v in pc.unique(chunk.drop_null()).to_pylist():
                for p in _bloom_positions(str(v) if is_int else v):
                    m[p // 8] |= 1 << (p % 8)
        out[c] = ("int:" if is_int else "") + bytes(m).hex()
    return out


def _stats_may_match(
    stats: dict[str, list], col: str, op: str, value
) -> bool:
    """Can any row of a fragment with this zone map satisfy
    `col op value`? Missing stats → True (conservative)."""
    mm = stats.get(col)
    if mm is None or not isinstance(value, (int, float, bool)):
        return True
    if isinstance(value, float) and value != value:
        # NaN literal: parquet footer min/max exclude NaNs, so a zone
        # map cannot bound NaN rows — and Spark orders NaN above every
        # double, so range comparisons against the map are meaningless.
        # Never prune.
        return True
    lo, hi = mm
    if op == "=":
        return lo <= value <= hi
    if op == "<":
        return lo < value
    if op == "<=":
        return lo <= value
    if op == ">":
        return hi > value
    if op == ">=":
        return hi >= value
    raise ValueError(f"unsupported zone-map op {op!r} (use one of {_ZONE_OPS})")


class RegisterMismatch(Exception):
    """Append precondition failed (REGISTER_MISMATCH analog,
    broker/append_fsm.go:411-596)."""


class AppendConflict(Exception):
    """Lost the manifest CAS to a concurrent appender."""


@dataclass
class Fragment:
    seq: int
    begin: int  # first offset (inclusive)
    end: int  # last offset (exclusive)
    n_records: int
    path: str  # relative to journal root
    mod_time: float
    # Columnar file format of this fragment (the CompressionCodec /
    # content-encoding analog of protocol.proto:72-102 at file-format
    # granularity). Per-fragment so a journal can migrate formats
    # without rewriting history; default keeps old manifests parsing.
    fmt: str = "parquet"
    # Zone map: {column: [min, max]} over numeric/bool columns,
    # harvested from parquet footers at append time (_footer_stats).
    # Default keeps pre-stats manifests parsing; readers treat a
    # missing map as "may match anything".
    stats: dict = field(default_factory=dict)
    # Bloom index: {column: hex bitmap} over the JournalSpec's
    # bloom_columns (string equality skipping). Default keeps
    # pre-bloom manifests parsing; a missing filter never prunes.
    blooms: dict = field(default_factory=dict)
    # Reader-side metadata: {"schema_json": <StructType json>}, the
    # fragment's schema as written. Gazette journals carry "only raw
    # serializations" with framing and schema belonging to the reader
    # (message/interfaces.go:121-124) — here the manifest IS the
    # reader's schema carrier. Byte-opaque codec fragments
    # (jsonl.zst/.xz/.gz) cannot be read without it; parquet/orc
    # fragments, path-postfix trees included, are read under it
    # instead of a schema-inference job. Fragments from older
    # manifests carry none: a flat one is read under Spark's
    # inference, a postfix one raises UnrecordedSchema. Default keeps
    # those manifests parsing.
    meta: dict = field(default_factory=dict)


@dataclass
class Manifest:
    version: int = 0
    next_offset: int = 0
    fragments: list[Fragment] = field(default_factory=list)
    registers: dict[str, str] = field(default_factory=dict)

    @staticmethod
    def from_json(raw: str) -> "Manifest":
        # a corrupt manifest must name itself, not surface as an
        # executor-opaque JSONDecodeError/KeyError/TypeError — the
        # operator's next move (reset-head / restore the store) is
        # different from a code bug's
        try:
            d = json.loads(raw)
            return Manifest(
                version=d["version"],
                next_offset=d["next_offset"],
                fragments=[Fragment(**f) for f in d["fragments"]],
                registers=d.get("registers", {}),
            )
        except (json.JSONDecodeError, KeyError, TypeError) as e:
            raise ValueError(
                f"corrupt journal manifest: {e} (first bytes: "
                f"{raw[:80]!r})"
            ) from e

    def to_json(self) -> str:
        return json.dumps(
            {
                "version": self.version,
                "next_offset": self.next_offset,
                "fragments": [asdict(f) for f in self.fragments],
                "registers": self.registers,
            }
        )


class Journal:
    """One journal (≈ one partition of a streamed table).

    `store` carries the manifest CAS; it defaults to the filesystem
    driver (O_EXCL). Pass a shared MemoryCASStore to model contended
    appenders against an object store's conditional PUT
    (core_spark/sources/stores.py).
    """

    def __init__(self, root: str, name: str, store: ManifestStore | None = None):
        self.name = name
        self.journals_root = root
        self.root = os.path.join(root, name)
        self.manifest_dir = os.path.join(self.root, "_manifest")
        self.frag_dir = os.path.join(self.root, "fragments")
        os.makedirs(self.manifest_dir, exist_ok=True)
        os.makedirs(self.frag_dir, exist_ok=True)
        self.store = store if store is not None else FSManifestStore(self.manifest_dir)
        self._spec_cache: tuple = (-1, None)  # (catalog version, spec)

    # -------------------------------------------------------- flow control
    def _spec(self):
        """This journal's JournalSpec from the CatalogStore living
        under the same journals root, cached by catalog version — one
        listdir per append when unchanged. Journals without a catalog
        (or without a spec) return None."""
        cat_dir = os.path.join(self.journals_root, "_catalog")
        if not os.path.isdir(cat_dir):
            return None
        from core_spark.catalog import CatalogStore

        store = CatalogStore(self.journals_root)
        v = store.version()
        if v != self._spec_cache[0]:
            spec = None
            for s in store.specs():
                if s.name == self.name:
                    spec = s
                    break
            self._spec_cache = (v, spec)
        return self._spec_cache[1]

    def _max_append_rate(self) -> int:
        """The journal's max_append_rate (bytes/s; 0 = unlimited),
        honored by append (broker/append_flow_control.go:11-43)."""
        s = self._spec()
        return s.max_append_rate if s is not None else 0

    # ----------------------------------------------------------- manifest
    def manifest(self, at_version: int | None = None) -> Manifest:
        """Latest manifest, or — `at_version` — the newest manifest
        whose version is <= the bound: manifests are an immutable CAS
        history, so every past state remains addressable (time-travel,
        the Delta/Iceberg snapshot-read pattern for free). Fragments a
        later prune/compact deleted may no longer resolve; reads of a
        pruned snapshot fail loudly on the missing path."""
        versions = self.store.list_versions()
        if at_version is not None:
            versions = [v for v in versions if v <= at_version]
            if not versions:
                raise ValueError(
                    f"no manifest at or before version {at_version}"
                )
        if not versions:
            return Manifest()
        return Manifest.from_json(self.store.read(max(versions)))

    def _commit_manifest(self, m: Manifest) -> None:
        """CAS: exactly one writer creates version N (conditional
        create — O_EXCL on fs, conditional PUT on object stores)."""
        if not self.store.put_if_absent(m.version, m.to_json()):
            raise AppendConflict(
                f"manifest v{m.version} already committed by a concurrent appender"
            )

    # ---------------------------------------------------------- registers
    def update_registers(
        self,
        check_registers: dict[str, str] | None = None,
        set_registers: dict[str, str] | None = None,
        clear_registers: tuple[str, ...] = (),
    ) -> dict[str, str]:
        """Register-only append: the reference's zero-content Append
        RPC carrying register check/union/subtract ops
        (broker/append_fsm.go register handling) — a manifest CAS
        with NO fragment written, so offsets and the fragment index
        are untouched. Returns the registers after the commit.

        `check_registers` gates like Journal.append's; `set_registers`
        merges (union); `clear_registers` removes keys (subtract).
        Loses to a concurrent CAS with AppendConflict — retry like
        any append. A pure check (no set/clear) validates and returns
        WITHOUT committing: a no-op must not grow the version history
        or race concurrent appenders off their CAS."""
        m = self.manifest()
        for k, v in (check_registers or {}).items():
            if m.registers.get(k) != v:
                raise RegisterMismatch(
                    f"register {k!r}: want {v!r}, have {m.registers.get(k)!r}"
                )
        if not set_registers and not clear_registers:
            return dict(m.registers)
        regs = {**m.registers, **(set_registers or {})}
        for k in clear_registers:
            regs.pop(k, None)
        self._commit_manifest(
            Manifest(
                version=m.version + 1,
                next_offset=m.next_offset,
                fragments=m.fragments,
                registers=regs,
            )
        )
        return regs

    # -------------------------------------------------------------- fence
    def acquire_fence(self, shard: str, max_attempts: int = 64) -> int:
        """Store-assigned unique, monotonically-increasing fence for a
        shard incarnation: a register-only manifest commit carrying
        fence:{shard} = held+1. Uniqueness comes from the manifest CAS
        itself — two incarnations racing here serialize on the version
        create, so each observes the other's bump and retries (the
        atomic fence-increment of consumer/store_sql.go:96-146,
        re-expressed on the journal's own CAS)."""
        for _ in range(max_attempts):
            m = self.manifest()
            held = int(m.registers.get(f"fence:{shard}", "0"))
            new = Manifest(
                version=m.version + 1,
                next_offset=m.next_offset,
                fragments=m.fragments,
                registers={**m.registers, f"fence:{shard}": str(held + 1)},
            )
            try:
                self._commit_manifest(new)
                return held + 1
            except AppendConflict:
                continue  # lost the race; re-read and re-bump
        raise AppendConflict(f"fence CAS for {shard} contended {max_attempts} times")

    # ------------------------------------------------------------- append
    def _tmp_path(self) -> str:
        return os.path.join(self.frag_dir, "_tmp-" + py_uuid.uuid4().hex[:8])

    def _place(self, tmp: str, begin: int, n: int, suffix: str = "") -> str:
        """Move the written spool `tmp` holding `n` rows from offset
        `begin` to its fragment name, and return the name.

        The name is content-addressed, the reference's begin-end-sha1sum
        (protocol.proto:383-411): identical retried content maps to the
        identical name, so a re-upload after a lost CAS race is a no-op
        reuse, never an orphan. That holds within one JVM only: a
        writer restarted after a crash may encode the same rows to
        other bytes (see _content_hash), and its retry leaves the first
        file as a vacuum-reclaimable orphan."""
        name = f"frag-{begin:020d}-{begin + n:020d}-{_content_hash(tmp)}{suffix}"
        final = os.path.join(self.frag_dir, name)
        if os.path.exists(final):
            # idempotent reuse (file or directory fragment)
            if os.path.isdir(tmp):
                shutil.rmtree(tmp, ignore_errors=True)
            else:
                os.unlink(tmp)
        else:
            os.rename(tmp, final)
        return name

    def _write_columnar(
        self,
        out: DataFrame,
        fmt: str,
        begin: int,
        spec,
        path_postfix: tuple[str, ...] = (),
    ) -> tuple[str, int, dict, dict, dict]:
        """Write `out` as one parquet or ORC fragment from offset
        `begin`: (name, rows, zone maps, manifest blooms, meta)."""
        tmp = self._tmp_path()
        writer = out.write.mode("overwrite")
        if spec is not None and spec.bloom_columns:
            # Two-level point-lookup skipping (r11): besides the
            # MANIFEST-level fragment blooms below, have the file
            # writer plant its own per-row-group bloom filters for the
            # same listed columns — parquet split-block SBBF / ORC
            # BLOOM_FILTER_UTF8 — so the scan engine skips row groups
            # INSIDE the fragments a point lookup still has to read.
            # Absent columns are ignored by the writers; cost is
            # per-batch. Adaptive sizing fits each SBBF to the chunk's
            # distinct values; without it parquet-mr writes every
            # filter at its 1 MiB maximum, however few rows the
            # fragment holds.
            if fmt == "parquet":
                writer = writer.option(
                    "parquet.bloom.filter.adaptive.enabled", "true"
                )
                for c in spec.bloom_columns:
                    writer = writer.option(
                        f"parquet.bloom.filter.enabled#{c}", "true"
                    )
            else:
                writer = writer.option(
                    "orc.bloom.filter.columns", ",".join(spec.bloom_columns)
                )
        if path_postfix:
            writer = writer.partitionBy(*path_postfix)
        getattr(writer, fmt)(tmp)
        n, stats = _footer_info(tmp)
        # The schema as Spark reads the fragment back: a path-postfix
        # tree's key columns follow the data columns, in template
        # order, each with its written type (discovery would type them
        # from the path strings instead).
        written = out.schema
        keys = T.StructType([written[c] for c in path_postfix])
        schema = [f for f in written if f.name not in path_postfix] + keys.fields
        meta = {"schema_json": T.StructType(schema).json()}
        # Bloom index over spec-listed columns (opt-in; one
        # column-pruned driver read of the just-written fragment, so
        # the cost scales with the batch and the listed columns only).
        blooms = (
            _build_blooms(tmp, fmt, spec.bloom_columns, keys)
            if spec is not None and spec.bloom_columns
            else {}
        )
        return self._place(tmp, begin, n), n, stats, blooms, meta

    def append(
        self,
        df: DataFrame,
        check_registers: dict[str, str] | None = None,
        set_registers: dict[str, str] | None = None,
        path_postfix: tuple[str, ...] = (),
        fmt: str = "parquet",
        post_write_registers=None,
        codec_chunk_bytes: int | None = None,
    ) -> Fragment:
        """Serializable atomic append of a batch as one fragment.

        `check_registers`: every (k, v) must match the journal's
        current registers or the append fails before writing
        (register-check predicate). `set_registers`: merged on commit
        (the union/subtract register ops). `post_write_registers`: a
        zero-arg callable resolved AFTER the fragment write and merged
        over `set_registers` — the hook that lets `Observation`
        metrics collected by the write job (e.g. the batch's max
        source offset) commit in the same manifest CAS without a
        second scan of the batch.

        `fmt`: fragment file format — columnar `parquet`/`orc`, or a
        byte-stream codec container `jsonl.zst` (zstd seekable) /
        `jsonl.xz` (multi-stream xz) / `jsonl.gz` (multi-member gzip
        with SL split lengths — gazette's default codec) whose
        reader splits it from per-member/tail metadata alone
        (sources/codec_fragments.py).
        `codec_chunk_bytes`: line-aligned chunk (= split) size for
        codec fragments; default 1 MiB decompressed.

        `path_postfix`: column names laid out Hive-style inside the
        fragment (`date=…/hour=…`) — the JournalSpec path-postfix
        template (protocol.proto:248-266), which exists precisely so
        batch readers get partition pruning over fragment contents.
        The recorded schema types the key columns as written, and
        Spark's partition discovery restores their values on read and
        prunes subdirectories for free.
        """
        m = self.manifest()
        for k, v in (check_registers or {}).items():
            if m.registers.get(k) != v:
                raise RegisterMismatch(
                    f"register {k!r}: want {v!r}, have {m.registers.get(k)!r}"
                )

        begin = m.next_offset
        # Stamp durable per-row offsets: single partition => row order
        # is the append order (per-journal serialization contract).
        stamped = df.coalesce(1).withColumn(
            "_offset", F.monotonically_increasing_id() + F.lit(begin)
        )
        from core_spark.sources.codec_fragments import CODEC_FMTS

        if fmt in CODEC_FMTS:
            # Byte-stream fragment in a random-access codec container
            # (gazette's codec-suffixed fragment files,
            # broker/fragment/stores.go:124-139): rows serialize to
            # NDJSON via Spark's text writer, then the line stream is
            # cut into line-aligned chunks — seekable-zstd frames or
            # xz streams — so readers split it from tail metadata
            # alone. The schema rides the manifest (byte-opaque
            # journal, reader-side schema).
            if path_postfix:
                raise ValueError(
                    "codec fragments are single byte streams — no "
                    "Hive path postfix (use parquet/orc for that)"
                )
            from core_spark.sources.codec_fragments import (
                write_jsonl_gz,
                write_jsonl_xz,
                write_jsonl_zst,
            )

            tmp = self._tmp_path()
            txt = tmp + "-txt"
            stamped.selectExpr("to_json(struct(*)) AS value").coalesce(
                1
            ).write.mode("overwrite").text(txt)
            part = next(
                os.path.join(txt, fn)
                for fn in sorted(os.listdir(txt))
                if fn.startswith("part-")
            )
            build = {
                "jsonl.zst": write_jsonl_zst,
                "jsonl.xz": write_jsonl_xz,
                "jsonl.gz": write_jsonl_gz,
            }[fmt]
            n = build(part, tmp, codec_chunk_bytes)
            shutil.rmtree(txt, ignore_errors=True)
            # gazette's codec-suffix naming
            frag_name = self._place(tmp, begin, n, "." + fmt)
            stats, blooms = {}, {}
            meta = {"schema_json": stamped.schema.json()}
        else:
            if fmt not in ("parquet", "orc"):
                raise ValueError(f"unsupported fragment format {fmt!r}")
            frag_name, n, stats, blooms, meta = self._write_columnar(
                stamped, fmt, begin, self._spec(), path_postfix
            )
        final = os.path.join(self.frag_dir, frag_name)

        # Append-path flow control (token bucket over the fragment's
        # real bytes): a capped journal's writers sleep off their debt
        # BEFORE the commit becomes visible, shaping the sustained
        # append rate to the spec's max_append_rate. Unlimited (the
        # default) costs one isdir() check.
        rate = self._max_append_rate()
        if rate > 0:
            from core_spark.sources.flow_control import bucket_for

            n_bytes = (
                os.path.getsize(final)
                if os.path.isfile(final)
                else sum(
                    os.path.getsize(os.path.join(dp, f))
                    for dp, _dirs, files in os.walk(final)
                    for f in files
                )
            )
            bucket_for(self.root, rate).throttle(n_bytes)

        rel_path = os.path.join("fragments", frag_name)

        # Failure discipline from here on (resolver raise, CAS loss):
        # NEVER delete `final`. Content addressing means a CONCURRENT
        # appender with identical bytes at the same offset shares the
        # name and may be about to commit a manifest referencing it —
        # a manifest re-check here cannot see that not-yet-committed
        # reuser (the reuse path discards its own tmp on sight of
        # `final`), so an inline delete could leave a committed
        # manifest pointing at missing data. An uncommitted orphan is
        # harmless to readers (read() is manifest-driven, never a
        # directory glob) and is reclaimed by vacuum() after its grace
        # window — the standard content-addressed-store discipline:
        # immutable names + deferred GC, never inline deletes.
        if post_write_registers is not None:
            # the fragment write above is the action that resolves any
            # Observation riding the batch; merge its registers into
            # the same CAS commit — a raising resolver aborts before
            # the manifest ever references the fragment, so readers
            # never observe the rows
            set_registers = {
                **(set_registers or {}),
                **post_write_registers(),
            }

        frag = Fragment(
            seq=len(m.fragments),
            begin=begin,
            end=begin + n,
            n_records=n,
            path=rel_path,
            mod_time=time.time(),
            fmt=fmt,
            stats=stats,
            blooms=blooms,
            meta=meta,
        )
        new = Manifest(
            version=m.version + 1,
            next_offset=begin + n,
            fragments=[*m.fragments, frag],
            registers={**m.registers, **(set_registers or {})},
        )
        # AppendConflict propagates with `final` left in place (see
        # the failure-discipline comment above): the loser's fragment
        # is either the winner's identical-content data or a vacuum-
        # reclaimable orphan.
        self._commit_manifest(new)
        return frag

    def _load_fragment(self, spark: SparkSession, f: Fragment) -> DataFrame:
        """One fragment -> DataFrame under ITS format: columnar
        fragments through Spark's native reader (under their recorded
        schema when the manifest has one), byte-stream codec
        fragments through the tail-planned chunk reader with the
        manifest-carried schema. Shared by read() and compact() so
        the two paths can never diverge on codec handling."""
        from core_spark.sources.codec_fragments import (
            CODEC_FMTS,
            read_codec_fragment,
        )

        p = os.path.join(self.root, f.path)
        if f.fmt in CODEC_FMTS:
            return read_codec_fragment(
                spark, p, f.fmt, f.meta.get("schema_json")
            )
        if "schema_json" not in f.meta and _dir_has_postfix(p):
            raise UnrecordedSchema(self.name, f.path)
        return _columnar_reader(spark, f).load(p)

    # --------------------------------------------------------------- read
    def _scan_audit(
        self,
        m: "Manifest",
        begin: int | None,
        end: int | None,
        begin_mod_time: float | None,
        where: list[tuple] | None,
    ) -> list[dict]:
        """Per-fragment pruning decisions for a prospective read —
        one row per manifest fragment: ``covering`` (offset/mod-time
        overlap, the fragment-index query of
        broker/fragment/index.go:41-131), ``stats_ok`` (zone-map
        verdict per `where`), ``bloom_ok`` (bloom verdict for string
        or integer equality on spec-listed columns — typed maps,
        r11), and ``read`` = the
        conjunction — the fragments an actual read() scans. read()
        CONSUMES this audit for its pruning, so the explanation can
        never drift from the plan (the q_audit_skew discipline:
        scale-critical decisions are first-class, inspectable
        operators, not buried branches)."""
        for col, op, value in where or []:
            if op not in _ZONE_OPS:
                raise ValueError(
                    f"unsupported zone-map op {op!r} (use one of {_ZONE_OPS})"
                )
        out: list[dict] = []
        for f in m.fragments:
            covering = (
                (begin is None or f.end > begin)
                and (end is None or f.begin < end)
                and (begin_mod_time is None or f.mod_time >= begin_mod_time)
            )
            stats_ok = all(
                _stats_may_match(f.stats, col, op, value)
                for col, op, value in where or []
            )
            bloom_ok = all(
                _bloom_may_match(f.blooms, col, op, value)
                for col, op, value in where or []
            )
            out.append(
                {
                    "seq": f.seq,
                    "f_begin": f.begin,
                    "f_end": f.end,
                    "n_records": f.n_records,
                    "fmt": f.fmt,
                    "covering": covering,
                    "stats_ok": stats_ok,
                    "bloom_ok": bloom_ok,
                    "read": covering and stats_ok and bloom_ok,
                }
            )
        return out

    def scan_audit(
        self,
        begin: int | None = None,
        end: int | None = None,
        begin_mod_time: float | None = None,
        where: list[tuple] | None = None,
        at_version: int | None = None,
    ) -> list[dict]:
        """Public ANALYZE twin of read(): the pruning decision table
        for a prospective scan, without scanning anything."""
        return self._scan_audit(
            self.manifest(at_version=at_version),
            begin,
            end,
            begin_mod_time,
            where,
        )

    def read(
        self,
        spark: SparkSession,
        begin: int | None = None,
        end: int | None = None,
        begin_mod_time: float | None = None,
        at_version: int | None = None,
        where: list[tuple] | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Read the journal from `begin` (inclusive) to `end`
        (exclusive), pruning non-covering fragments before the scan
        (offset→fragment index query, broker/fragment/index.go:41-131);
        `begin_mod_time` skips old fragments (protocol.proto:441-446);
        `at_version` reads the journal AS OF a past manifest version
        (time travel over the immutable CAS history).

        `where`: a list of (column, op, literal) predicates with op in
        {=, <, <=, >, >=}. Each is BOTH applied to the result (exact
        semantics) and consulted against the fragments' manifest zone
        maps — and, for string equality on a spec-listed bloom column,
        the fragments' bloom filters — to drop fragments that
        provably contain no matching row —
        data skipping ABOVE Spark's file pruning: skipped fragments
        never reach the scan's file listing, so a selective predicate
        on a 10⁶-fragment journal lists only the covering few. Spark's
        own parquet row-group pruning still applies inside the
        survivors (the same predicate is pushed to the scan).

        `merge_schema`: read each fragment under its OWN schema and
        union by name (absent columns null) — schema-on-read for
        journals whose producers evolved their columns mid-history,
        exactly the freedom the reference's byte-opaque journals give
        producers (message/interfaces.go:121-124: journals carry "only
        raw serializations"; schema lives with the reader). Default
        off: a uniform journal reads through Spark's multi-path scan,
        which is cheaper than a per-fragment union.
        """
        m = self.manifest(at_version=at_version)
        audit = self._scan_audit(m, begin, end, begin_mod_time, where)
        covering = [
            f for f, r in zip(m.fragments, audit) if r["covering"]
        ]
        if not covering:
            raise ValueError(f"no fragments cover [{begin}, {end})")
        frags = [f for f, r in zip(m.fragments, audit) if r["read"]]
        # Zone maps proving every covering fragment predicate-free is
        # a legitimately EMPTY result, not a coverage error (a reader
        # polling above a high-water mark must get zero rows, exactly
        # as it would if the fragments lacked stats). Plan one
        # fragment's read (limit 0 scans no data) so the empty frame
        # matches a normal read's shape.
        pruned_empty = not frags
        if pruned_empty:
            frags = covering[:1]
        paths = [os.path.join(self.root, f.path) for f in frags]

        from core_spark.sources.codec_fragments import CODEC_FMTS

        any_codec = any(f.fmt in CODEC_FMTS for f in frags)
        mixed_fmt = len({f.fmt for f in frags}) > 1
        if len(paths) > 1 and (
            merge_schema
            or mixed_fmt
            or any_codec
            or any(
                _dir_has_postfix(os.path.join(self.root, f.path))
                for f in frags
            )
        ):
            # Per-fragment discovery + union, needed when (a) fragments
            # carry Hive path-postfix key=value trees — Spark's
            # multi-path discovery rejects the non-partition frag-…
            # segment between them (CONFLICTING_DIRECTORY_STRUCTURES) —
            # or (b) the journal migrated file formats mid-history.
            # Pushed filters on postfix columns still prune each
            # fragment's subdirectories independently.
            from functools import reduce

            # allowMissingColumns: appends are free to vary the postfix
            # template over a journal's life (or drop it); absent
            # partition columns read as null, as native discovery would
            df = reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True),
                (self._load_fragment(spark, f) for f in frags),
            )
        else:
            if len(frags) == 1:
                df = self._load_fragment(spark, frags[0])
            else:
                # Spark infers a multi-path schema from the first
                # file in path order: frags[0]'s, whose begin is least
                df = _columnar_reader(spark, frags[0]).load(paths)
        if pruned_empty:
            df = df.limit(0)
        if begin is not None:
            df = df.filter(F.col("_offset") >= begin)
        if end is not None:
            df = df.filter(F.col("_offset") < end)
        import operator as _op

        ops = {"=": _op.eq, "<": _op.lt, "<=": _op.le, ">": _op.gt, ">=": _op.ge}
        for col, op, value in where or []:
            # the same predicate the zone maps pruned on, applied
            # exactly — and pushed into the surviving fragments' scan
            df = df.filter(ops[op](F.col(col), F.lit(value)))
        return df.withColumn("_journal", F.lit(self.name))

    def fragments_df(self, spark: SparkSession) -> DataFrame:
        """The fragment index as a DataFrame (ListFragments); `stats`
        carries the zone map as JSON for catalog-level inspection."""
        m = self.manifest()
        return spark.createDataFrame(
            [
                (
                    self.name, f.seq, f.begin, f.end, f.n_records, f.path,
                    f.mod_time, f.fmt, json.dumps(f.stats, sort_keys=True),
                )
                for f in m.fragments
            ],
            "journal string, seq int, begin_off long, end_off long, "
            "n_records long, path string, mod_time double, fmt string, "
            "stats string",
        )

    # ------------------------------------------------------------ compact
    def compact(
        self,
        spark: SparkSession,
        target_records: int = 512_000,
        delete_source: bool = True,
        cluster_by: list[str] | None = None,
    ) -> int:
        """Merge runs of ADJACENT small fragments into single
        fragments of up to `target_records` rows. Returns the number
        of fragments eliminated.

        `cluster_by`: sort the merged fragment's rows by these columns
        before writing — the Delta `OPTIMIZE ZORDER` analog under the
        journal contract (pair with q_cluster_zorder's Morton keys for
        two-dimensional locality). Row ORDER inside a fragment is not
        semantically meaningful (every row keeps its stamped
        `_offset`, and ordered consumers sort on it), but parquet
        row-group statistics follow physical order, so clustering
        makes Spark's row-group pruning selective inside the merged
        fragment — the within-fragment complement of the manifest
        zone maps, which still describe the fragment as a whole.

        Why this exists: streaming sinks commit one fragment per
        micro-batch, so a long-lived materialization accumulates
        thousands of tiny files — the small-file problem that makes a
        100 TB journal scan seek-bound. The reference sizes fragments
        at WRITE time (brokers roll by length); a micro-batch engine
        can't, so compaction is the Spark-native answer (the Delta
        OPTIMIZE / Iceberg rewrite_data_files pattern) applied to the
        journal contract:

        - Offsets are PRESERVED exactly — rows keep their stamped
          `_offset`, and the merged Fragment spans [first.begin,
          last.end), so every offset-bounded read, register, and
          read-through barrier is unaffected.
        - Only contiguous runs merge (f.begin == prev.end); retention
          gaps break runs. Hive path-postfix fragments are skipped
          (their directory layout IS their pruning index); mixed
          parquet/ORC runs merge to parquet.
        - The swap is one manifest CAS, serialized against appenders
          like any commit; a lost race raises AppendConflict and the
          caller simply retries — no data was made visible.
        - `delete_source` removes merged dirs immediately (fine for a
          single-writer deployment); at cluster scale pass False and
          let a mod_time-based sweep reap them after the fragment
          refresh interval, so readers holding the PREVIOUS manifest
          finish their scans — the same grace the reference's
          fragment listing refresh gives deleted fragments.
        """
        m = self.manifest()
        frags = sorted(m.fragments, key=lambda f: f.begin)

        def _compactable(f: Fragment) -> bool:
            p = os.path.join(self.root, f.path)
            if os.path.isfile(p):
                # byte-stream codec fragments compact too — the
                # merged fragment is parquet, so compaction doubles
                # as the codec->columnar migration (a frontier's
                # tiny .zst appends fold into scannable parquet)
                return True
            return os.path.isdir(p) and not _dir_has_postfix(p)

        runs: list[list[Fragment]] = []
        cur: list[Fragment] = []
        for f in frags:
            contiguous = not cur or cur[-1].end == f.begin
            fits = sum(x.n_records for x in cur) + f.n_records <= target_records
            if _compactable(f) and contiguous and (not cur or fits):
                cur.append(f)
            else:
                runs.append(cur)
                cur = [f] if _compactable(f) else []
        runs.append(cur)
        todo = [r for r in runs if len(r) >= 2]
        if not todo:
            return 0

        replaced: dict[int, Fragment] = {}  # first seq -> merged frag
        dropped: set[int] = set()
        new_dirs: list[str] = []
        spec = self._spec()
        from functools import reduce

        for run in todo:
            df = reduce(
                lambda a, b: a.unionByName(b),
                (self._load_fragment(spark, f) for f in run),
            )
            out = df.coalesce(1)
            if cluster_by:
                out = out.sortWithinPartitions(*cluster_by)
            # Same writer as append: the merged file keeps the
            # file-level bloom contract, and its manifest blooms are
            # REBUILT from it (an OR of the run's filters would also be
            # sound, but a rebuild resets accumulated fill) under the
            # CURRENT spec — compaction is when an index catches up
            # with a bloom_columns change. A run's rows span exactly
            # [first.begin, last.end), so its name is content-addressed
            # like an append's: a retried compaction never orphans.
            name, n, stats, blooms, meta = self._write_columnar(
                out, "parquet", run[0].begin, spec
            )
            new_dirs.append(os.path.join(self.frag_dir, name))
            replaced[run[0].seq] = Fragment(
                seq=run[0].seq,
                begin=run[0].begin,
                end=run[-1].end,
                n_records=n,
                path=os.path.join("fragments", name),
                mod_time=max(f.mod_time for f in run),
                fmt="parquet",
                stats=stats,
                blooms=blooms,
                meta=meta,
            )
            dropped.update(f.seq for f in run)

        merged: list[Fragment] = []
        for f in frags:
            if f.seq in replaced:
                merged.append(replaced[f.seq])
            elif f.seq not in dropped:
                merged.append(f)
        merged = [
            Fragment(
                seq=i, begin=f.begin, end=f.end, n_records=f.n_records,
                path=f.path, mod_time=f.mod_time, fmt=f.fmt, stats=f.stats,
                blooms=f.blooms, meta=f.meta,
            )
            for i, f in enumerate(merged)
        ]
        try:
            self._commit_manifest(
                Manifest(
                    version=m.version + 1,
                    next_offset=m.next_offset,
                    fragments=merged,
                    registers=m.registers,
                )
            )
        except AppendConflict:
            cur = self.manifest()
            live = {os.path.join(self.root, f.path) for f in cur.fragments}
            for d in new_dirs:
                if d not in live:  # a same-content winner keeps it
                    shutil.rmtree(d, ignore_errors=True)  # rollback
            raise
        if delete_source:
            for run in todo:
                for f in run:
                    p = os.path.join(self.root, f.path)
                    if os.path.isfile(p):
                        try:
                            os.unlink(p)
                        except OSError:
                            pass
                    else:
                        shutil.rmtree(p, ignore_errors=True)
        return sum(len(r) for r in todo) - len(todo)

    # --------------------------------------------------------- reset-head
    def reset_head(self) -> dict:
        """Recover a journal whose store lost fragment data — the
        `gazctl journals reset-head` analog (cmd/gazctl/gazctlcmd/
        journals_reset_head.go: after broker/store failure, reset the
        append head to the maximum durable offset so writes can
        resume). Here the manifest is the commit record, so the
        failure mode is inverted — a fragment can vanish UNDER a
        committed manifest (bucket data loss, manual deletion, a
        partially-restored store): scan each manifest fragment for
        durable presence, trim to the longest contiguous durable
        PREFIX, reset next_offset to its end, and commit through the
        normal version CAS (a concurrent appender loses cleanly).
        Fragments after the first missing one are dropped even when
        their own files survive: offsets are contiguous by contract
        and a hole would break read-committed consumers; surviving
        post-hole files stay on disk for forensics — still referenced
        by pre-reset manifest versions, so a default `vacuum` keeps
        them forever (time travel); reclaim them deliberately with
        `vacuum(from_version=<post-reset version>)`.
        Idempotent — and STRICTLY a data-loss repair: when every
        manifest fragment is durable it is a no-op even if
        next_offset sits past the last fragment (retention `prune`
        legitimately leaves that gap — rewinding there would re-issue
        consumed offsets to new content and break offset-keyed
        consumers). On total loss the head resumes at the FIRST
        manifest fragment's begin, never 0: offsets below it were
        pruned by policy, not lost, and stay retired."""
        m = self.manifest()
        frags = sorted(m.fragments, key=lambda fr: (fr.begin, fr.seq))
        keep: list[Fragment] = []
        dropped = 0
        for f in frags:
            p = os.path.join(self.root, f.path)
            # dot-files excluded too: Hadoop's local ChecksumFileSystem
            # leaves `.part-*.crc` siblings, so a fragment whose
            # parquet was lost but whose .crc survived must still
            # classify as LOST or the repair no-ops in exactly the
            # manual-deletion scenario this tool exists for
            durable = os.path.isfile(p) or (
                os.path.isdir(p)
                and any(not e.startswith(("_", ".")) for e in os.listdir(p))
            )
            if dropped or not durable:
                dropped += 1
                continue
            keep.append(f)
        if dropped == 0:
            return {
                "reset": False, "next_offset": m.next_offset,
                "dropped": 0, "version": m.version,
            }
        new_end = keep[-1].end if keep else frags[0].begin
        new = Manifest(
            version=m.version + 1,
            next_offset=new_end,
            fragments=keep,
            registers=m.registers,
        )
        self._commit_manifest(new)
        return {
            "reset": True, "next_offset": new_end,
            "dropped": dropped, "version": new.version,
        }

    # -------------------------------------------------------------- prune
    def prune(self, keep_mod_time_after: float) -> int:
        """Retention: drop fragments wholly older than the horizon
        (gazctl journals prune). Returns number removed."""
        m = self.manifest()
        keep = [f for f in m.fragments if f.mod_time >= keep_mod_time_after]
        dropped = [f for f in m.fragments if f.mod_time < keep_mod_time_after]
        if not dropped:
            return 0
        self._commit_manifest(
            Manifest(
                version=m.version + 1,
                next_offset=m.next_offset,
                fragments=keep,
                registers=m.registers,
            )
        )
        for f in dropped:
            p = os.path.join(self.root, f.path)
            if os.path.isfile(p):
                try:
                    os.unlink(p)  # codec fragments are single files
                except OSError:
                    pass
            else:
                shutil.rmtree(p, ignore_errors=True)
        return len(dropped)

    # ------------------------------------------------------------- vacuum
    def vacuum(
        self,
        grace_seconds: float = 86400.0,
        from_version: int | None = None,
    ) -> int:
        """Remove fragment directories referenced by NO manifest
        version, plus stale write-temp dirs — the storage GC that
        complements `prune` (which retires *referenced* history).
        Returns the number of directories removed.

        `from_version`: when set, only manifest versions >= it
        contribute to the referenced set — fragments referenced
        SOLELY by older history (reset_head drops, pruned fragments
        whose rmtree was lost) become reclaimable, at the documented
        cost that time travel below `from_version` breaks. Default
        None keeps every version's fragments (time-travel-safe).

        Orphans arise from crashes in the append window: a fragment
        renamed into place whose CAS commit never ran (and whose
        rollback therefore never ran either), a `_tmp-` spool whose
        writer died mid-write, or compaction sources kept by
        `delete_source=False`. The reference's broker persists spools
        and retries until the fragment is durably indexed
        (broker/fragment/persister.go); here the manifest IS the
        index, so anything on disk outside the whole CAS history is
        garbage by definition. Time travel is safe: every fragment
        referenced by ANY version — current or past — is kept.

        `grace_seconds` protects the race with a live appender whose
        fragment is renamed but not yet committed: only dirs whose
        mod-time is older than the grace are eligible. Run with the
        default (1 day) from a scheduled job; tests use ~0."""
        versions = self.store.list_versions()
        if from_version is not None and versions and from_version > max(versions):
            # A from_version beyond the latest manifest would empty the
            # referenced set and delete LIVE fragments the current
            # manifest points at — refuse, like read()'s at_version does.
            raise ValueError(
                f"vacuum from_version={from_version} is beyond the latest "
                f"manifest version {max(versions)}; refusing to treat the "
                "entire committed history as unreferenced"
            )
        referenced = {
            os.path.basename(f.path)
            for v in versions
            if from_version is None or v >= from_version
            for f in Manifest.from_json(self.store.read(v)).fragments
        }
        removed = 0
        now = time.time()
        try:
            entries = os.listdir(self.frag_dir)
        except FileNotFoundError:
            return 0
        for name in entries:
            p = os.path.join(self.frag_dir, name)
            if name in referenced:
                continue
            if not (name.startswith("frag-") or name.startswith("_tmp-")):
                continue  # never touch anything this module didn't write
            if now - os.path.getmtime(p) < grace_seconds:
                continue
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                try:
                    os.unlink(p)  # codec fragment orphans are files
                except OSError:
                    continue
            removed += 1
        return removed
