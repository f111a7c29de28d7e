"""Journal storage: serializable appends, offset continuity, register
CAS, offset/mod-time pruned reads, retention."""

import time

import pytest

from core_spark.sources.journal import (
    AppendConflict,
    Journal,
    Manifest,
    RegisterMismatch,
)
from tests.conftest import spark_jobs, stream_journal


@pytest.fixture
def journal(tmp_path):
    return Journal(str(tmp_path), "test/journal-0")


def _df(spark, lo, hi):
    return spark.range(lo, hi).withColumnRenamed("id", "v")


def test_append_read_offsets(spark, journal):
    journal.append(_df(spark, 0, 10))
    journal.append(_df(spark, 10, 15))
    journal.append(_df(spark, 15, 30))

    df = journal.read(spark)
    rows = sorted((r._offset, r.v) for r in df.collect())
    assert [o for o, _ in rows] == list(range(30))  # contiguous total order
    assert [v for _, v in rows] == list(range(30))  # append order preserved
    assert journal.manifest().next_offset == 30

    # bounded offset-range read
    mid = journal.read(spark, begin=8, end=17)
    assert sorted(r._offset for r in mid.collect()) == list(range(8, 17))
    # the range [8,17) spans fragments 0,1,2 -> all kept; [10,15) -> only frag 1
    one = journal.read(spark, begin=10, end=15)
    assert one.select("_journal").distinct().count() == 1
    assert sorted(r.v for r in one.collect()) == list(range(10, 15))


def test_fragment_pruning_reads_fewer_files(spark, journal):
    journal.append(_df(spark, 0, 10))
    journal.append(_df(spark, 10, 20))
    m = journal.manifest()
    # read that only needs fragment 2 must not reference fragment 1's path
    df = journal.read(spark, begin=10)
    scanned = df.inputFiles()
    assert all(m.fragments[0].path not in p for p in scanned)


def test_register_check_and_cas(spark, journal):
    journal.append(_df(spark, 0, 5), set_registers={"author": "a1"})
    with pytest.raises(RegisterMismatch):
        journal.append(_df(spark, 5, 9), check_registers={"author": "a2"})
    journal.append(
        _df(spark, 5, 9),
        check_registers={"author": "a1"},
        set_registers={"author": "a2"},
    )
    assert journal.manifest().registers["author"] == "a2"

    # losing the manifest CAS rolls the fragment back
    m = journal.manifest()
    journal._commit_manifest(
        Manifest(version=m.version + 1, next_offset=m.next_offset,
                 fragments=m.fragments, registers=m.registers)
    )
    before = journal.manifest()
    with pytest.raises(AppendConflict):
        # race: stale appender targets the now-taken version
        stale = Journal(journal.root.rsplit("/", 2)[0], journal.name)
        stale_m = stale.manifest()
        stale._commit_manifest(
            Manifest(version=stale_m.version, next_offset=0, fragments=[])
        )
    after = journal.manifest()
    assert after.next_offset == before.next_offset  # nothing torn


def test_mod_time_and_retention(spark, journal):
    journal.append(_df(spark, 0, 5))
    cut = time.time()
    time.sleep(0.01)
    journal.append(_df(spark, 5, 9))

    recent = journal.read(spark, begin_mod_time=cut)
    assert sorted(r.v for r in recent.collect()) == list(range(5, 9))

    assert journal.prune(keep_mod_time_after=cut) == 1
    assert len(journal.manifest().fragments) == 1
    # offsets are NOT rewritten by retention (byte-offset semantics)
    assert journal.manifest().next_offset == 9
    left = journal.read(spark)
    assert sorted(r._offset for r in left.collect()) == list(range(5, 9))


def test_fragments_df(spark, journal):
    journal.append(_df(spark, 0, 7))
    journal.append(_df(spark, 7, 9))
    fr = journal.fragments_df(spark).orderBy("begin_off").collect()
    assert [(f.begin_off, f.end_off, f.n_records) for f in fr] == [
        (0, 7, 7),
        (7, 9, 2),
    ]


def test_hive_postfix_partition_pruning(spark, journal):
    """path_postfix fragments lay out date=... subdirs; a dated read
    prunes to the matching subdirectory's files only."""
    from pyspark.sql import functions as F

    df = spark.range(0, 100).select(
        F.col("id").alias("v"),
        F.when(F.col("id") < 50, "2024-01-01").otherwise("2024-01-02").alias("dt"),
    )
    journal.append(df, path_postfix=("dt",))

    full = journal.read(spark)
    assert full.count() == 100
    assert "dt" in full.columns  # partition column restored on read

    day2 = full.filter(F.col("dt") == "2024-01-02")
    assert day2.count() == 50
    plan = day2._jdf.queryExecution().executedPlan().toString()
    import re

    assert re.search(r"PartitionFilters: \[[^\]]*= 2024-01-02", plan), plan
    # offsets remain a contiguous total order across partitions
    assert sorted(r._offset for r in full.collect()) == list(range(100))


def test_orc_fragments_and_mixed_format_journal(spark, tmp_path):
    """Per-fragment file format: ORC appends read back through
    Journal.read AND the stream source, including a journal that
    migrated parquet -> orc mid-history (per-fragment fmt in the
    manifest, per-fragment reader on scan)."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "journals")
    j = Journal(root, "fmt/mixed")
    df = spark.range(0, 30).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    f1 = j.append(df.filter(F.col("k") < 10))  # parquet (default)
    f2 = j.append(df.filter((F.col("k") >= 10) & (F.col("k") < 20)), fmt="orc")
    f3 = j.append(df.filter(F.col("k") >= 20), fmt="orc")
    assert (f1.fmt, f2.fmt, f3.fmt) == ("parquet", "orc", "orc")

    got = j.read(spark)
    assert got.count() == 30
    rows = sorted((r.k, r.v, r._offset) for r in got.collect())
    assert rows == [(i, i * 3, i) for i in range(30)]
    # offset-pruned read crossing the format boundary
    mid = j.read(spark, begin=5, end=25)
    assert sorted(r._offset for r in mid.collect()) == list(range(5, 25))

    streamed = stream_journal(spark, root, "fmt/mixed", tmp_path / "ckpt")
    assert sorted((r.k, r.v, r._offset) for r in streamed.collect()) == rows

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unsupported fragment format"):
        j.append(df, fmt="avro")


def test_rangejoin_validates_column_names(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from core_spark.operators.rangejoin import range_lookback_join

    df = spark.range(3).select(
        F.col("id"), F.timestamp_micros(F.col("id") * 1000000).alias("ts")
    )
    with _pytest.raises(ValueError, match="overlap"):
        range_lookback_join(df, df, "ts", "ts", 10**6, ["id"], ["id"])
    with _pytest.raises(ValueError, match="reserved"):
        range_lookback_join(
            df.withColumn("_rt", F.lit(1)), df, "ts", "ts", 10**6,
            ["_rt"], ["id"],
        )


def test_post_write_registers_failure_aborts_before_commit(spark, journal):
    """A raising post-write register resolver must abort the append
    BEFORE any manifest references the fragment — readers (which are
    manifest-driven, never a directory glob) see nothing. The renamed
    fragment dir deliberately stays on disk: an inline delete races a
    concurrent identical-content appender sharing the name (see
    test_failed_append_leaves_fragment_for_vacuum); vacuum owns it."""
    journal.append(_df(spark, 0, 5))
    before = journal.manifest()

    def boom():
        raise RuntimeError("resolver failed")

    with pytest.raises(RuntimeError, match="resolver failed"):
        journal.append(_df(spark, 5, 10), post_write_registers=boom)

    after = journal.manifest()
    assert after.version == before.version
    assert len(after.fragments) == len(before.fragments)
    assert journal.read(spark).count() == 5  # readers unaffected

    # the successful post-write path still merges its registers
    journal.append(
        _df(spark, 5, 10), post_write_registers=lambda: {"rt:x": "10"}
    )
    assert journal.manifest().registers.get("rt:x") == "10"


def test_compact_merges_small_fragments_preserving_offsets(spark, journal):
    """Streaming sinks commit one fragment per batch; compaction must
    merge adjacent small fragments into one while every offset,
    bounded read, and register stays identical."""
    for lo in range(0, 30, 5):
        journal.append(_df(spark, lo, lo + 5), set_registers={"k": str(lo)})
    before = journal.read(spark).orderBy("_offset").collect()
    m0 = journal.manifest()
    assert len(m0.fragments) == 6

    n = journal.compact(spark, target_records=1000)
    assert n == 5  # 6 fragments -> 1
    m1 = journal.manifest()
    assert len(m1.fragments) == 1
    f = m1.fragments[0]
    assert (f.begin, f.end, f.n_records) == (0, 30, 30)
    assert m1.registers == m0.registers
    assert m1.next_offset == m0.next_offset

    after = journal.read(spark).orderBy("_offset").collect()
    assert after == before
    # offset-bounded reads unchanged across the rewrite
    assert journal.read(spark, begin=7, end=23).count() == 16
    # appends continue at the same offsets
    journal.append(_df(spark, 30, 33))
    assert journal.read(spark).count() == 33


def test_compact_respects_target_and_skips_postfix(spark, journal):
    from pyspark.sql import functions as F

    # two mergeable pairs under the target, then a postfix fragment
    for lo in range(0, 20, 5):
        journal.append(_df(spark, lo, lo + 5))
    journal.append(
        _df(spark, 20, 25).withColumn("part", F.lit("a")),
        path_postfix=("part",),
    )
    n = journal.compact(spark, target_records=10)
    m = journal.manifest()
    # 4 flat frags of 5 rows pack pairwise at target 10; postfix stays
    assert n == 2
    assert [f.n_records for f in m.fragments] == [10, 10, 5]
    assert journal.read(spark).count() == 25
    # a second compaction at the same target is a no-op
    assert journal.compact(spark, target_records=10) == 0


def test_compact_lost_cas_race_rolls_back(spark, journal, monkeypatch):
    """A concurrent appender winning the manifest CAS must leave the
    journal exactly as before: no merged fragment dirs, no manifest
    change — the caller retries."""
    import os

    from core_spark.sources.journal import AppendConflict, Journal

    for lo in range(0, 20, 5):
        journal.append(_df(spark, lo, lo + 5))
    m0 = journal.manifest()

    def lose(self, m):
        raise AppendConflict("concurrent appender won")

    monkeypatch.setattr(Journal, "_commit_manifest", lose)
    with pytest.raises(AppendConflict):
        journal.compact(spark, target_records=1000)
    monkeypatch.undo()

    m1 = journal.manifest()
    assert m1.version == m0.version
    assert [f.path for f in m1.fragments] == [f.path for f in m0.fragments]
    on_disk = sorted(os.listdir(journal.frag_dir))
    assert on_disk == sorted(os.path.basename(f.path) for f in m1.fragments)
    # and a retry succeeds
    assert journal.compact(spark, target_records=1000) == 3


def test_time_travel_read_at_version(spark, journal):
    """Manifests are an immutable CAS history, so any past state is
    addressable: read(at_version=v) sees exactly the rows committed
    through v — including registers as of that commit."""
    journal.append(_df(spark, 0, 5), set_registers={"k": "a"})
    v1 = journal.manifest().version
    journal.append(_df(spark, 5, 12), set_registers={"k": "b"})

    assert journal.read(spark).count() == 12
    old = journal.read(spark, at_version=v1)
    assert old.count() == 5
    assert old.agg({"_offset": "max"}).first()[0] == 4
    assert journal.manifest(at_version=v1).registers["k"] == "a"
    assert journal.manifest().registers["k"] == "b"

    import pytest as _pt

    with _pt.raises(ValueError, match="no manifest at or before"):
        journal.manifest(at_version=0)


# ------------------------------------------------------------- zone maps
def test_zone_map_stats_harvested_at_append(spark, journal):
    journal.append(_df(spark, 100, 200))
    journal.append(_df(spark, 500, 600))
    m = journal.manifest()
    assert m.fragments[0].stats["v"] == [100, 199]
    assert m.fragments[1].stats["v"] == [500, 599]
    # _offset is stamped into the fragment, so it gets a map too
    assert m.fragments[0].stats["_offset"] == [0, 99]


def test_zone_map_prunes_fragments_before_listing(spark, journal):
    journal.append(_df(spark, 100, 200))
    journal.append(_df(spark, 500, 600))
    journal.append(_df(spark, 900, 1000))
    m = journal.manifest()

    df = journal.read(spark, where=[("v", ">=", 500), ("v", "<", 600)])
    scanned = df.inputFiles()
    # only the covering fragment's files are even LISTED
    assert all(m.fragments[0].path not in p for p in scanned)
    assert all(m.fragments[2].path not in p for p in scanned)
    assert any(m.fragments[1].path in p for p in scanned)
    # and the predicate is applied exactly
    assert sorted(r.v for r in df.collect()) == list(range(500, 600))

    # equality prune
    df2 = journal.read(spark, where=[("v", "=", 950)])
    assert len(df2.inputFiles()) == 1
    assert [r.v for r in df2.collect()] == [950]

    # predicate matching nothing anywhere -> EMPTY result (same as the
    # stats-less path below), never a coverage error: a reader polling
    # above a high-water mark must get zero rows. limit(0) on one
    # fragment's schema keeps the frame's shape without scanning data.
    df_none = journal.read(spark, where=[("v", ">", 10_000)])
    assert df_none.count() == 0
    assert "_journal" in df_none.columns and "v" in df_none.columns

    # unknown column / non-numeric literal: conservative, no prune
    df3 = journal.read(spark, where=[("v", ">=", 100)])
    assert df3.count() == 300


def test_zone_map_missing_stats_is_conservative(spark, journal):
    """Fragments from a pre-stats manifest (or ORC) read as
    unbounded — pruning must keep them."""
    journal.append(_df(spark, 0, 50))
    m = journal.manifest()
    # simulate an old manifest: strip the stats and rewrite
    for f in m.fragments:
        f.stats = {}
    from core_spark.sources.journal import Manifest as M

    journal._commit_manifest(
        M(version=m.version + 1, next_offset=m.next_offset,
          fragments=m.fragments, registers=m.registers)
    )
    df = journal.read(spark, where=[("v", ">", 1_000_000)])
    assert df.count() == 0  # kept the fragment, filter still exact


def test_zone_map_bad_op_raises(spark, journal):
    journal.append(_df(spark, 0, 5))
    with pytest.raises(ValueError, match="unsupported zone-map op"):
        journal.read(spark, where=[("v", "!=", 3)])


def test_zone_map_survives_compaction(spark, journal):
    for lo in (0, 10, 20, 30):
        journal.append(_df(spark, lo, lo + 10))
    assert journal.compact(spark, target_records=40) >= 2
    m = journal.manifest()
    merged = [f for f in m.fragments if f.end - f.begin > 10]
    assert merged and merged[0].stats["v"] == [0, 39]
    # pruning still works through the merged fragment
    df = journal.read(spark, where=[("v", "<=", 5)])
    assert df.count() == 6


def test_zone_map_nan_literal_never_prunes(spark, journal):
    """Parquet footer min/max exclude NaNs, so a zone map cannot bound
    NaN rows — a NaN literal must disable pruning, not prune
    everything (every range comparison against NaN is false)."""
    spark.createDataFrame(
        [(0, 1.5), (1, float("nan"))], "k long, x double"
    ).createOrReplaceTempView("nan_rows")
    journal.append(spark.table("nan_rows"))
    df = journal.read(spark, where=[("x", "=", float("nan"))])
    # fragment kept; Spark's NaN = NaN semantics find the row
    assert df.count() == 1


@pytest.mark.slow
def test_zone_map_pruned_read_equals_filtered_read_fuzz(spark, tmp_path):
    """Property: for ANY fragment layout and ANY supported predicate,
    read(where=...) returns exactly the rows a full read + exact
    filter returns — pruning may only skip fragments it can PROVE
    empty. Deterministic fuzz over value layouts (sorted runs,
    overlapping ranges, constants, negatives) x all five ops."""
    import random

    rng = random.Random(20260814)
    j = Journal(str(tmp_path), "fuzz/zones")
    all_vals = []
    for _ in range(6):
        kind = rng.choice(["run", "overlap", "const", "neg"])
        if kind == "run":
            lo = rng.randrange(0, 500)
            vals = list(range(lo, lo + rng.randrange(5, 40)))
        elif kind == "overlap":
            vals = [rng.randrange(0, 100) for _ in range(rng.randrange(5, 30))]
        elif kind == "const":
            vals = [rng.randrange(0, 50)] * rng.randrange(3, 10)
        else:
            vals = [rng.randrange(-100, 10) for _ in range(rng.randrange(5, 20))]
        j.append(
            spark.createDataFrame([(v,) for v in vals], "v long")
        )
        all_vals.extend(vals)

    probes = sorted({min(all_vals), max(all_vals), 0, 17, -63, 9999}
                    | {rng.randrange(-120, 550) for _ in range(6)})
    for op_name, fn in (
        ("=", lambda v, x: v == x),
        ("<", lambda v, x: v < x),
        ("<=", lambda v, x: v <= x),
        (">", lambda v, x: v > x),
        (">=", lambda v, x: v >= x),
    ):
        for x in probes:
            got = sorted(
                r.v for r in j.read(spark, where=[("v", op_name, x)]).collect()
            )
            want = sorted(v for v in all_vals if fn(v, x))
            assert got == want, (op_name, x, got[:5], want[:5])


# ---------------------------------------------------------- bloom filters
def _bloom_setup(spark, tmp_path, langs_per_frag):
    """Catalog with bloom_columns=['lang'], one fragment per lang set."""
    from core_spark.catalog import CatalogStore, JournalSpec

    CatalogStore(str(tmp_path)).apply(
        upserts=(
            JournalSpec(name="blm/j-0", bloom_columns=("lang",)),
        )
    )
    j = Journal(str(tmp_path), "blm/j-0")
    for i, langs in enumerate(langs_per_frag):
        j.append(
            spark.createDataFrame(
                [(i * 100 + k, lang) for k, lang in enumerate(langs)],
                "v long, lang string",
            )
        )
    return j


def test_bloom_built_at_append_and_prunes_reads(spark, tmp_path):
    j = _bloom_setup(
        spark, tmp_path, [["en", "fr"], ["de", "es"], ["en", "pt"]]
    )
    m = j.manifest()
    assert all("lang" in f.blooms for f in m.fragments)

    # value present only in fragments 0 and 2: fragment 1 is pruned
    # from the scan's file listing (soundness of the probe is the
    # "present value never pruned" half)
    df = j.read(spark, where=[("lang", "=", "en")])
    files = df.inputFiles()
    assert any(m.fragments[0].path in p for p in files)
    assert all(m.fragments[1].path not in p for p in files)
    assert any(m.fragments[2].path in p for p in files)
    assert sorted(r.v for r in df.collect()) == [0, 200]

    # a value in no fragment: with 8 set bits of 2048 per filter, at
    # least one of these candidates must miss every filter -> fully
    # pruned empty read (and still a well-shaped frame)
    pruned_all = False
    for cand in (f"zz{i}" for i in range(64)):
        from core_spark.sources.journal import _bloom_may_contain

        if not any(
            _bloom_may_contain(f.blooms["lang"], cand) for f in m.fragments
        ):
            df0 = j.read(spark, where=[("lang", "=", cand)])
            assert df0.count() == 0 and "lang" in df0.columns
            pruned_all = True
            break
    assert pruned_all


def test_bloom_conservative_paths(spark, tmp_path):
    j = _bloom_setup(spark, tmp_path, [["en"], ["fr"]])
    # non-equality ops and non-bloom columns never consult the filter
    assert j.read(spark, where=[("v", ">=", 0)]).count() == 2
    # pre-bloom fragments (empty blooms dict) are never pruned
    m = j.manifest()
    for f in m.fragments:
        f.blooms.clear()
    j._commit_manifest(
        type(m)(
            version=m.version + 1,
            next_offset=m.next_offset,
            fragments=m.fragments,
            registers=m.registers,
        )
    )
    assert j.read(spark, where=[("lang", "=", "en")]).count() == 1


@pytest.mark.slow
def test_bloom_pruned_read_equals_filtered_read_fuzz(spark, tmp_path):
    """Soundness fuzz (the zone-map discipline): bloom-pruned reads
    must equal exact filtering for present AND absent values across
    random fragment layouts."""
    import random

    rng = random.Random(7)
    vocab = [f"l{i}" for i in range(12)]
    layout = [
        rng.sample(vocab, rng.randint(1, 4))
        for _ in range(rng.randint(2, 5))
    ]
    j = _bloom_setup(spark, tmp_path, layout)
    flat = [(i * 100 + k, lang) for i, langs in enumerate(layout)
            for k, lang in enumerate(langs)]
    for value in vocab + ["absent-x", "absent-y"]:
        got = sorted(
            r.v for r in j.read(spark, where=[("lang", "=", value)]).collect()
        )
        want = sorted(v for v, lang in flat if lang == value)
        assert got == want, (value, got, want)


def test_bloom_rebuilt_on_compaction(spark, tmp_path):
    j = _bloom_setup(spark, tmp_path, [["en"], ["fr"], ["de"]])
    assert j.compact(spark, target_records=1000) == 2
    m = j.manifest()
    assert len(m.fragments) == 1 and "lang" in m.fragments[0].blooms
    for value, want in (("en", [0]), ("fr", [100]), ("de", [200])):
        assert [
            r.v for r in j.read(spark, where=[("lang", "=", value)]).collect()
        ] == want


def test_clustered_compaction_sorts_and_preserves_offsets(spark, journal):
    """compact(cluster_by=...) rewrites the merged fragment sorted by
    the cluster key (parquet row-group stats follow physical order, so
    within-fragment pruning turns selective) while offsets, bounded
    reads, and zone maps stay exact."""
    import os

    import pyarrow.parquet as pq

    # interleaved values so append order != cluster order
    for lo in (300, 100, 200):
        journal.append(_df(spark, lo, lo + 50))
    assert journal.compact(spark, target_records=1000, cluster_by=["v"]) == 2
    m = journal.manifest()
    assert len(m.fragments) == 1
    # fragment-level zone map unchanged in coverage
    assert m.fragments[0].stats["v"] == [100, 349]
    assert (m.fragments[0].begin, m.fragments[0].end) == (0, 150)

    # physical row order is the cluster order...
    frag_dir = os.path.join(journal.root, m.fragments[0].path)
    pf = [
        os.path.join(dp, f)
        for dp, _d, fs in os.walk(frag_dir)
        for f in fs
        if f.endswith(".parquet")
    ]
    vals = pq.read_table(pf[0], columns=["v"])["v"].to_pylist()
    assert vals == sorted(vals)

    # ...and the offset contract is untouched: bounded reads still
    # address the original append order
    got = sorted(
        (r["_offset"], r.v) for r in journal.read(spark, begin=0, end=50).collect()
    )
    assert got == [(i, 300 + i) for i in range(50)]


def test_bloom_corrupt_hex_is_conservative(spark, tmp_path):
    """A corrupt/truncated bloom entry in a hand-edited manifest must
    degrade to 'may match' — never crash the read or prune wrongly."""
    from core_spark.sources.journal import _bloom_may_contain

    j = _bloom_setup(spark, tmp_path, [["en"], ["fr"]])
    m = j.manifest()
    m.fragments[0].blooms["lang"] = "zz-not-hex"
    m.fragments[1].blooms["lang"] = "abcd"  # wrong width
    j._commit_manifest(
        type(m)(
            version=m.version + 1,
            next_offset=m.next_offset,
            fragments=m.fragments,
            registers=m.registers,
        )
    )
    assert _bloom_may_contain("zz-not-hex", "en") is True
    assert _bloom_may_contain("abcd", "en") is True
    got = sorted(r.v for r in j.read(spark, where=[("lang", "=", "fr")]).collect())
    assert got == [100]


def test_register_check_only_does_not_commit(spark, journal):
    """A pure precondition probe must not grow the version history or
    race concurrent appenders off their CAS."""
    journal.append(_df(spark, 0, 3))
    journal.update_registers(set_registers={"owner": "w1"})
    v = journal.manifest().version
    got = journal.update_registers(check_registers={"owner": "w1"})
    assert got == {"owner": "w1"}
    assert journal.manifest().version == v  # no new version


def test_parse_where_quoting_forces_string(spark, tmp_path):
    """code='0123' keeps a numeric-looking literal textual: the bloom
    probe applies and equality stays string equality ('123' does not
    match)."""
    from core_spark.catalog import CatalogStore, JournalSpec
    from core_spark.sources.journal import Journal, parse_where

    assert parse_where(["code='0123'"]) == [("code", "=", "0123")]
    assert parse_where(['code="0123"']) == [("code", "=", "0123")]
    assert parse_where(["v>=3"]) == [("v", ">=", 3)]

    CatalogStore(str(tmp_path)).apply(
        upserts=(JournalSpec(name="q/j0", bloom_columns=("code",)),)
    )
    j = Journal(str(tmp_path), "q/j0")
    j.append(
        spark.createDataFrame([(1, "0123"), (2, "123")], "v long, code string")
    )
    got = j.read(spark, where=parse_where(["code='0123'"])).collect()
    assert [r.v for r in got] == [1]


def test_fragment_names_are_content_addressed(spark, journal):
    """Fragments are named frag-begin-end-sha1[:16]
    (protocol.proto:383-411): the suffix must be the SHA-1 of the
    payload actually on disk — free integrity checking."""
    import os
    import re

    from core_spark.sources.journal import _content_hash

    frag = journal.append(_df(spark, 0, 10))
    name = os.path.basename(frag.path)
    m = re.fullmatch(r"frag-(\d{20})-(\d{20})-([0-9a-f]{16})", name)
    assert m, name
    assert int(m.group(1)) == frag.begin and int(m.group(2)) == frag.end
    assert _content_hash(os.path.join(journal.root, frag.path)) == m.group(3)


def test_content_addressing_is_deterministic_across_writes(spark, tmp_path):
    """The same rows appended at the same offset hash to the same
    fragment name regardless of Spark's random part-file basenames —
    the property that makes retried uploads idempotent."""
    import os

    a = Journal(str(tmp_path / "a"), "t/j")
    b = Journal(str(tmp_path / "b"), "t/j")
    fa = a.append(_df(spark, 0, 25))
    fb = b.append(_df(spark, 0, 25))
    assert os.path.basename(fa.path) == os.path.basename(fb.path)


def test_identical_content_cas_loser_keeps_winners_file(
    spark, journal, monkeypatch
):
    """Two appenders race the same batch at the same offset: with
    content addressing the loser's fragment IS the winner's fragment
    (same name), so the loser's rollback must leave it on disk — the
    idempotent-retry contract (broker/fragment/spool.go's sha1sum
    names), not an orphan delete that corrupts the winner."""
    import os

    real = Journal._commit_manifest
    fired = []

    def race(self, new):
        if not fired:
            fired.append(1)
            real(self, new)  # identical winner commits first…
            raise AppendConflict("…then our CAS loses")
        return real(self, new)

    monkeypatch.setattr(Journal, "_commit_manifest", race)
    with pytest.raises(AppendConflict):
        journal.append(_df(spark, 0, 7))
    monkeypatch.undo()

    m = journal.manifest()
    assert len(m.fragments) == 1
    frag = m.fragments[0]
    assert os.path.isdir(os.path.join(journal.root, frag.path))
    got = sorted(r.v for r in journal.read(spark).collect())
    assert got == list(range(7))
    # and no temp or orphan dirs survive the race
    assert sorted(os.listdir(journal.frag_dir)) == [
        os.path.basename(frag.path)
    ]


def test_vacuum_removes_only_unreferenced_dirs(spark, journal):
    """Vacuum is the storage GC for crash leftovers: orphan fragment
    dirs (renamed but never committed) and stale write temps go;
    anything referenced by ANY manifest version — current or past
    (time travel) — stays."""
    import os
    import shutil

    journal.append(_df(spark, 0, 5))
    journal.append(_df(spark, 5, 9))
    live = {os.path.basename(f.path) for f in journal.manifest().fragments}

    # fabricate an orphan by copying a live fragment under an
    # unreferenced content-addressed name, plus a stale write temp
    src = os.path.join(journal.frag_dir, next(iter(live)))
    orphan = os.path.join(
        journal.frag_dir, "frag-" + "9" * 20 + "-" + "8" * 20 + "-" + "ab" * 8
    )
    shutil.copytree(src, orphan)
    tmp = os.path.join(journal.frag_dir, "_tmp-deadbeef")
    os.makedirs(tmp)
    # a foreign dir must never be touched
    foreign = os.path.join(journal.frag_dir, "not-ours")
    os.makedirs(foreign)

    # inside the grace window nothing is eligible
    assert journal.vacuum(grace_seconds=3600) == 0
    assert os.path.isdir(orphan) and os.path.isdir(tmp)

    assert journal.vacuum(grace_seconds=0.0) == 2
    assert not os.path.exists(orphan) and not os.path.exists(tmp)
    assert os.path.isdir(foreign)
    on_disk = {
        d for d in os.listdir(journal.frag_dir) if d.startswith("frag-")
    }
    assert on_disk == live
    # and the journal still reads
    assert journal.read(spark).count() == 9


def test_read_merge_schema_unions_evolved_columns(spark, journal):
    """merge_schema=True serves a journal whose producer evolved its
    columns mid-history: each fragment reads under its own schema,
    absent columns are null (schema-on-read, the byte-opaque journal
    contract)."""
    journal.append(_df(spark, 0, 3))  # columns: v
    journal.append(
        spark.createDataFrame(
            [(100, "x"), (101, "y")], "v long, tag string"
        )
    )
    df = journal.read(spark, merge_schema=True).orderBy("_offset")
    assert set(df.columns) >= {"v", "tag", "_offset"}
    rows = df.select("v", "tag").collect()
    assert [(r.v, r.tag) for r in rows] == [
        (0, None), (1, None), (2, None), (100, "x"), (101, "y"),
    ]


def test_reset_head_recovers_after_store_data_loss(spark, journal):
    """gazctl journals reset-head analog: a fragment vanishing UNDER
    a committed manifest (store data loss) breaks reads; reset-head
    trims to the durable contiguous prefix, resets next_offset, and
    appends resume from the new head. Durable post-hole fragments
    are dropped too (offsets are contiguous by contract)."""
    import os
    import shutil

    journal.append(_df(spark, 0, 10))
    journal.append(_df(spark, 10, 15))
    journal.append(_df(spark, 15, 30))
    m = journal.manifest()
    assert m.next_offset == 30 and len(m.fragments) == 3

    # all durable: no-op
    r = journal.reset_head()
    assert r == {
        "reset": False, "next_offset": 30, "dropped": 0,
        "version": m.version,
    }

    # lose the MIDDLE fragment's data out from under the manifest
    middle = sorted(m.fragments, key=lambda f: f.begin)[1]
    shutil.rmtree(os.path.join(journal.root, middle.path))
    with pytest.raises(Exception):
        journal.read(spark).count()  # loud failure, not silent holes

    r = journal.reset_head()
    assert r["reset"] and r["next_offset"] == 10
    # the durable third fragment is dropped too: contiguity wins
    assert r["dropped"] == 2
    m2 = journal.manifest()
    assert m2.next_offset == 10 and len(m2.fragments) == 1

    # reads serve the durable prefix; appends resume from offset 10
    assert journal.read(spark).count() == 10
    frag = journal.append(_df(spark, 100, 105))
    assert (frag.begin, frag.end) == (10, 15)
    assert journal.read(spark).count() == 15
    # idempotent after recovery
    assert journal.reset_head()["reset"] is False


def test_reset_head_cli_and_store_health_cli(spark, tmp_path, capsys):
    import json as _json

    from core_spark.cli import main

    root = str(tmp_path / "jr")
    assert main([
        "journals-append", "--root", root, "--journal", "demo/r",
        "--input", "/root/testdata/sf0.001/region.parquet",
    ]) == 0
    capsys.readouterr()
    assert main([
        "journals-reset-head", "--root", root, "--journal", "demo/r",
    ]) == 0
    out = _json.loads(capsys.readouterr().out.strip())
    assert out["reset"] is False and out["next_offset"] == 5

    assert main(["journals-store-health", "--root", root]) == 0
    health = _json.loads(capsys.readouterr().out.strip())
    assert health["ok"] is True and health["probe_ms"] >= 0


def test_corrupt_manifest_raises_named_error(spark, journal):
    """A corrupt manifest blob (truncated JSON, wrong shape, missing
    keys) must raise a named 'corrupt journal manifest' ValueError —
    the operator's next move (reset-head / restore the store) differs
    from a code bug's — never an opaque JSONDecodeError/KeyError."""
    import os

    journal.append(_df(spark, 0, 5))
    latest = max(journal.store.list_versions())
    path = os.path.join(journal.manifest_dir, f"v{latest}.json")
    for bad in ('{"version": 1', '{"wrong": "shape"}', "[]", ""):
        with open(path, "w") as fh:
            fh.write(bad)
        with pytest.raises(ValueError, match="corrupt journal manifest"):
            journal.manifest()


def test_reset_head_is_noop_after_prune(spark, journal):
    """reset-head is STRICTLY a data-loss repair: after retention
    prune() empties (or trims) the manifest, next_offset legitimately
    sits past the last fragment — rewinding there would re-issue
    consumed offsets to new content. No fragment missing -> no-op."""
    journal.append(_df(spark, 0, 10))
    journal.append(_df(spark, 10, 20))
    journal.prune(keep_mod_time_after=float("inf"))  # drop everything
    m = journal.manifest()
    assert m.fragments == [] and m.next_offset == 20
    r = journal.reset_head()
    assert r["reset"] is False and r["next_offset"] == 20
    frag = journal.append(_df(spark, 0, 5))
    assert (frag.begin, frag.end) == (20, 25)  # offsets never reused


def test_reset_head_total_loss_resumes_at_first_fragment(spark, journal):
    """All manifest fragments lost: the head resumes at the FIRST
    manifest fragment's begin (offsets below were pruned by policy,
    not lost, and stay retired) — never at 0."""
    import os
    import shutil

    journal.append(_df(spark, 0, 10))
    journal.append(_df(spark, 10, 20))
    journal.prune(keep_mod_time_after=0.0)  # keeps both (no-op)
    # retire the first fragment by retention, then lose the second
    m = journal.manifest()
    first = sorted(m.fragments, key=lambda f: f.begin)[0]
    journal.prune(keep_mod_time_after=first.mod_time + 1e-6)
    m2 = journal.manifest()
    assert [f.begin for f in m2.fragments] == [10]
    shutil.rmtree(os.path.join(journal.root, m2.fragments[0].path))
    r = journal.reset_head()
    assert r["reset"] and r["next_offset"] == 10  # not 0
    frag = journal.append(_df(spark, 0, 3))
    assert (frag.begin, frag.end) == (10, 13)


def test_vacuum_refuses_from_version_beyond_latest(spark, journal):
    """A from_version past the newest manifest would classify every
    committed fragment as unreferenced and delete LIVE data — the
    typo/stale-version case must raise, not destroy (r7 review
    regression)."""
    import os

    import pytest

    journal.append(_df(spark, 0, 5))
    journal.append(_df(spark, 5, 9))
    latest = max(journal.store.list_versions())
    with pytest.raises(ValueError, match="beyond the latest"):
        journal.vacuum(grace_seconds=0.0, from_version=latest + 1)
    # every committed fragment is still on disk and readable
    for f in journal.manifest().fragments:
        assert os.path.isdir(
            os.path.join(journal.frag_dir, os.path.basename(f.path))
        )
    assert journal.read(spark).count() == 9
    # the boundary value (exactly the latest version) remains legal
    journal.vacuum(grace_seconds=0.0, from_version=latest)
    assert journal.read(spark).count() == 9


def test_failed_append_leaves_fragment_for_vacuum(spark, journal):
    """An append that fails AFTER the fragment rename (raising
    register resolver, lost CAS) must NOT delete the fragment dir:
    with content addressing a concurrent identical-content appender
    may share the name and be about to commit a manifest referencing
    it — an inline delete could leave that committed manifest
    pointing at missing data. The orphan is invisible to readers
    (manifest-driven) and is vacuum's job."""
    import os

    journal.append(_df(spark, 0, 5))

    def boom():
        raise RuntimeError("resolver failed")

    with pytest.raises(RuntimeError, match="resolver failed"):
        journal.append(_df(spark, 5, 9), post_write_registers=boom)

    # the renamed fragment survives the failure...
    frags = [
        d for d in os.listdir(journal.frag_dir) if d.startswith("frag-")
    ]
    assert len(frags) == 2  # committed + orphan
    # ...readers never see it (manifest has one fragment)...
    assert journal.read(spark).count() == 5
    # ...an identical-content retry reuses the orphan idempotently...
    frag = journal.append(_df(spark, 5, 9), post_write_registers=None)
    assert journal.read(spark).count() == 9
    assert os.path.basename(frag.path) in frags
    # ...and nothing is left for vacuum (the retry committed it)
    assert journal.vacuum(grace_seconds=0.0) == 0


def test_failed_append_orphan_is_vacuumed(spark, journal):
    """When no retry ever commits the failed append's fragment, it is
    an orphan: default vacuum reclaims it after the grace window."""
    import os

    journal.append(_df(spark, 0, 5))

    def boom():
        raise RuntimeError("x")

    with pytest.raises(RuntimeError):
        journal.append(_df(spark, 5, 9), post_write_registers=boom)
    assert journal.vacuum(grace_seconds=0.0) == 1
    live = {os.path.basename(f.path) for f in journal.manifest().fragments}
    on_disk = {
        d for d in os.listdir(journal.frag_dir) if d.startswith("frag-")
    }
    assert on_disk == live
    assert journal.read(spark).count() == 5


def test_reset_head_crc_only_fragment_is_lost(spark, journal):
    """Hadoop's local ChecksumFileSystem leaves `.part-*.crc`
    dot-files beside the data. A fragment dir whose parquet was lost
    but whose .crc survived must classify as LOST — counting the .crc
    as data would no-op the repair in exactly the manual-deletion
    scenario reset-head exists for."""
    import os

    journal.append(_df(spark, 0, 10))
    journal.append(_df(spark, 10, 15))
    m = journal.manifest()
    second = sorted(m.fragments, key=lambda f: f.begin)[1]
    p = os.path.join(journal.root, second.path)
    for dp, _dirs, files in os.walk(p):
        for f in files:
            os.remove(os.path.join(dp, f))
    with open(os.path.join(p, ".part-0.crc"), "wb") as fh:
        fh.write(b"\x00" * 8)
    r = journal.reset_head()
    assert r["reset"] is True and r["next_offset"] == 10
    assert journal.read(spark).count() == 10


def test_vacuum_from_version_reclaims_reset_head_drops(spark, journal):
    """Fragments dropped by reset-head stay referenced by pre-reset
    manifest versions, so a default vacuum keeps them forever (time
    travel). `from_version` scopes the referenced set so the operator
    can deliberately reclaim them once forensics are done."""
    import os
    import shutil

    journal.append(_df(spark, 0, 10))
    journal.append(_df(spark, 10, 20))
    journal.append(_df(spark, 20, 30))
    m = journal.manifest()
    frags = sorted(m.fragments, key=lambda f: f.begin)
    # lose the middle fragment; the post-hole third survives on disk
    shutil.rmtree(os.path.join(journal.root, frags[1].path))
    r = journal.reset_head()
    assert r["reset"] and r["dropped"] == 2
    post_reset = journal.manifest().version
    third = os.path.join(journal.root, frags[2].path)
    assert os.path.isdir(third)

    # default vacuum: time-travel-safe, keeps the post-hole fragment
    assert journal.vacuum(grace_seconds=0.0) == 0
    assert os.path.isdir(third)

    # scoped vacuum: pre-reset references no longer pin it
    assert journal.vacuum(grace_seconds=0.0, from_version=post_reset) == 1
    assert not os.path.exists(third)
    assert journal.read(spark).count() == 10


def test_scan_audit_is_what_read_executes(spark, tmp_path):
    """The audit's `read` column IS the set of fragments the actual
    read() scans (read consumes _scan_audit, but pin the contract
    from the outside via the scanned file list)."""
    import os

    from pyspark.sql import functions as F

    j = Journal(str(tmp_path), "audit/consistency")
    # three fragments clustering v: [0,100), [100,200), [200,300)
    for lo in (0, 100, 200):
        j.append(
            spark.range(lo, lo + 100).select(F.col("id").alias("v"))
            .orderBy("v")
        )
    where = [("v", ">=", 150)]
    audit = j.scan_audit(where=where)
    assert [r["read"] for r in audit] == [False, True, True]
    assert [r["covering"] for r in audit] == [True, True, True]
    assert [r["stats_ok"] for r in audit] == [False, True, True]
    df = j.read(spark, where=where)
    scanned = {
        os.path.basename(os.path.dirname(p.replace("file:", "")))
        if "/part-" in p else p
        for p in df.inputFiles()
    }
    m = j.manifest()
    want = {
        os.path.basename(m.fragments[i].path) for i in (1, 2)
    }
    assert scanned == want
    assert df.count() == 150
    # offset bounds join the audit identically
    audit2 = j.scan_audit(begin=0, end=150, where=where)
    assert [r["read"] for r in audit2] == [False, True, False]
    assert [r["covering"] for r in audit2] == [True, True, False]


def test_scan_audit_reports_bloom_verdicts(spark, tmp_path):
    """The audit's bloom_ok column reflects the real bloom probes:
    a value present only in some fragments marks the others
    bloom-pruned, and the read column agrees with what read()
    scans (the same _scan_audit table)."""
    j = _bloom_setup(
        spark, tmp_path, [["en", "fr"], ["de", "es"], ["en", "pt"]]
    )
    audit = j.scan_audit(where=[("lang", "=", "en")])
    assert [r["covering"] for r in audit] == [True, True, True]
    assert [r["stats_ok"] for r in audit] == [True, True, True]
    # "en" lives in fragments 0 and 2; fragment 1's filter must miss
    # (soundness: the present fragments can never be pruned)
    assert audit[0]["bloom_ok"] is True
    assert audit[1]["bloom_ok"] is False
    assert audit[2]["bloom_ok"] is True
    assert [r["read"] for r in audit] == [True, False, True]
    df = j.read(spark, where=[("lang", "=", "en")])
    assert sorted(r.v for r in df.collect()) == [0, 200]


def test_int_key_blooms_prune_point_lookups(spark, tmp_path):
    """r11: integer columns (the journal's natural point-lookup key
    class) carry typed ``int:`` blooms — `where=[("k", "=", n)]`
    prunes fragments from the scan's file listing (inputFiles-
    pinned), the scan_audit row shows the bloom verdict, and typed
    probes never cross: an int literal stays conservative on a
    string column's map and vice versa."""
    from core_spark.catalog import CatalogStore, JournalSpec
    from core_spark.sources.journal import _bloom_may_contain

    CatalogStore(str(tmp_path)).apply(
        upserts=(
            JournalSpec(name="blm/ints", bloom_columns=("k", "lang")),
        )
    )
    j = Journal(str(tmp_path), "blm/ints")
    for i, ks in enumerate([[7, 1000], [42, 99], [7, 555]]):
        j.append(
            spark.createDataFrame(
                [(k, f"l{i}") for k in ks], "k long, lang string"
            )
        )
    m = j.manifest()
    assert all(f.blooms["k"].startswith("int:") for f in m.fragments)
    assert all(not f.blooms["lang"].startswith("int:") for f in m.fragments)

    # k=7 lives in fragments 0 and 2 only: fragment 1 leaves the
    # file listing before the scan
    df = j.read(spark, where=[("k", "=", 7)])
    files = df.inputFiles()
    assert any(m.fragments[0].path in p for p in files)
    assert all(m.fragments[1].path not in p for p in files)
    assert any(m.fragments[2].path in p for p in files)
    assert sorted((r.k, r.lang) for r in df.collect()) == [
        (7, "l0"), (7, "l2")
    ]

    # the audit row shows the int-bloom verdict read() consumed
    audit = j.scan_audit(where=[("k", "=", 42)])
    assert [r["bloom_ok"] for r in audit] == [False, True, False]
    assert [r["read"] for r in audit] == [False, True, False]

    # absent key: at least one candidate fully pruned, still a
    # well-shaped empty frame
    pruned_all = False
    for cand in range(2000, 2064):
        if not any(
            _bloom_may_contain(f.blooms["k"], cand) for f in m.fragments
        ):
            df0 = j.read(spark, where=[("k", "=", cand)])
            assert df0.count() == 0 and "k" in df0.columns
            pruned_all = True
            break
    assert pruned_all

    # typed probes never cross (conservative True both ways)
    f0 = m.fragments[0]
    assert _bloom_may_contain(f0.blooms["k"], "7") is True
    assert _bloom_may_contain(f0.blooms["lang"], 7) is True
    assert _bloom_may_contain(f0.blooms["k"], True) is True

    # soundness fuzz: pruned read == exact filter for present and
    # absent int keys
    for value in (7, 42, 99, 555, 1000, 12345):
        got = sorted(
            r.lang for r in j.read(spark, where=[("k", "=", value)]).collect()
        )
        want = sorted(
            lang
            for i, ks in enumerate([[7, 1000], [42, 99], [7, 555]])
            for k, lang in ((k, f"l{i}") for k in ks)
            if k == value
        )
        assert got == want, value


def test_spec_bloom_columns_plant_file_level_blooms(spark, tmp_path):
    """r11 two-level skipping: a journal whose spec lists bloom
    columns writes fragments whose FILES carry writer-native bloom
    filters too — parquet split-block SBBF (probed by the from-spec
    walker) and ORC BLOOM_FILTER_UTF8 — so scans skip row groups
    inside the fragments the manifest-level blooms can't prune."""
    import glob
    import os

    from core_spark.catalog import CatalogStore, JournalSpec
    from core_spark.functions.orcfile import orc_bloom_may_contain
    from core_spark.functions.parquetfile import parquet_bloom_may_contain

    CatalogStore(str(tmp_path)).apply(
        upserts=(
            JournalSpec(name="blm/files", bloom_columns=("k", "lang")),
            JournalSpec(name="blm/small", bloom_columns=("k",)),
        )
    )
    j = Journal(str(tmp_path), "blm/files")
    df = spark.range(0, 3000).selectExpr(
        "id AS k",
        "concat('w', CAST(id * 2654435761 % 1000000007 AS STRING)) AS lang",
    )
    j.append(df)
    j.append(df.selectExpr("k + 100000 AS k", "lang"), fmt="orc")
    m = j.manifest()

    (pq_file,) = glob.glob(
        os.path.join(str(j.root), m.fragments[0].path, "*.parquet")
    )
    raw = open(pq_file, "rb").read()
    assert parquet_bloom_may_contain(raw, "k", 7) == [True]
    absent = sum(
        1
        for v in range(900000, 900050)
        if parquet_bloom_may_contain(raw, "k", v) == [False]
    )
    assert absent >= 45
    assert parquet_bloom_may_contain(raw, "lang", "nope-x")[0] in (
        False,
        None,  # dictionary-covered chunk: no bloom written
    )

    (orc_file,) = glob.glob(
        os.path.join(str(j.root), m.fragments[1].path, "*.orc")
    )
    raw = open(orc_file, "rb").read()
    assert any(x for s in orc_bloom_may_contain(raw, "k", 100007) for x in s)
    absent = sum(
        1
        for v in range(900000, 900050)
        if not any(x for s in orc_bloom_may_contain(raw, "k", v) for x in s)
    )
    assert absent >= 45

    # The SBBF is sized to the fragment's distinct values: a 200-row
    # fragment with one bloom column stays small (at parquet-mr's fixed
    # 1 MiB per filter it was 1 MB) and still answers for present and
    # absent keys.
    j = Journal(str(tmp_path), "blm/small")
    j.append(df.where("k < 200"))
    (small,) = glob.glob(
        os.path.join(str(j.root), j.manifest().fragments[0].path, "*.parquet")
    )
    assert os.path.getsize(small) < 128 * 1024
    raw = open(small, "rb").read()
    assert all(parquet_bloom_may_contain(raw, "k", v) == [True] for v in (0, 7, 199))
    absent = sum(
        1
        for v in range(900000, 900050)
        if parquet_bloom_may_contain(raw, "k", v) == [False]
    )
    assert absent >= 45


def test_compaction_keeps_file_level_blooms(spark, tmp_path):
    """Compacted fragments keep the file-level SBBF contract: the
    merged parquet carries fresh bloom filters for the spec's
    columns, probed by the from-spec walker."""
    import glob
    import os

    from core_spark.catalog import CatalogStore, JournalSpec
    from core_spark.functions.parquetfile import parquet_bloom_may_contain

    CatalogStore(str(tmp_path)).apply(
        upserts=(JournalSpec(name="blm/compact", bloom_columns=("k",)),)
    )
    j = Journal(str(tmp_path), "blm/compact")
    for lo in (0, 1000, 2000):
        j.append(
            spark.range(lo, lo + 1000).selectExpr("id AS k")
        )
    assert j.compact(spark, target_records=10_000) == 2
    m = j.manifest()
    assert len(m.fragments) == 1
    (f,) = glob.glob(
        os.path.join(str(j.root), m.fragments[0].path, "*.parquet")
    )
    raw = open(f, "rb").read()
    assert all(
        all(v for v in parquet_bloom_may_contain(raw, "k", x))
        for x in (0, 1500, 2999)
    )
    n_false = sum(
        1
        for x in range(50000, 50050)
        if all(v is False for v in parquet_bloom_may_contain(raw, "k", x))
    )
    assert n_false >= 45


# ------------------------------------------- reads under the manifest schema
def _strip_schemas(j):
    """Rewrite the journal's latest manifest as one written before
    fragments recorded their schema."""
    m = j.manifest()
    for f in m.fragments:
        f.meta = {}
    m.version += 1
    j._commit_manifest(m)


def _typed_df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "id AS k",
        "CAST(id AS INT) AS i",
        "CAST(id % 7 AS SHORT) AS s",
        "id * 0.5 AS d",
        "CAST(id AS STRING) AS str",
        "id % 2 = 0 AS b",
        "CAST(id AS DECIMAL(12, 2)) AS dec",
        "DATE'2024-01-01' + CAST(id AS INT) AS dt",
        "TIMESTAMP'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts",
        "array(id, id + 1) AS arr",
        "named_struct('x', id, 'y', CAST(id AS STRING)) AS st",
        "map('m', id) AS mp",
        "CAST(CAST(id AS STRING) AS BINARY) AS bin",
    )


def test_read_planning_launches_no_job(spark, tmp_path):
    """Planning Journal.read reads each fragment under the schema its
    manifest entry records, so it launches no Spark job: one fragment,
    several fragments, a read pruned to empty, orc, and a compacted
    journal. A manifest without recorded schemas is planned through
    Spark's inference, one job, which shows the group counts jobs."""

    def plan_jobs(j, **kw):
        return spark_jobs(spark, lambda: j.read(spark, **kw))

    one = Journal(str(tmp_path), "plan/one")
    one.append(_typed_df(spark, 0, 10))
    df, jobs = plan_jobs(one)
    assert jobs == 0 and df.count() == 10

    several = Journal(str(tmp_path), "plan/several")
    for lo in (0, 10, 20):
        several.append(_df(spark, lo, lo + 10))
    df, jobs = plan_jobs(several, begin=5)
    assert jobs == 0 and df.count() == 25
    df, jobs = plan_jobs(several, where=[("v", ">", 1000)])  # pruned empty
    assert jobs == 0 and df.count() == 0

    orc = Journal(str(tmp_path), "plan/orc")
    orc.append(_typed_df(spark, 0, 10), fmt="orc")
    orc.append(_typed_df(spark, 10, 20), fmt="orc")
    df, jobs = plan_jobs(orc)
    assert jobs == 0 and df.count() == 20

    assert several.compact(spark) == 2
    assert "schema_json" in several.manifest().fragments[0].meta
    df, jobs = plan_jobs(several)
    assert jobs == 0 and sorted(r.v for r in df.collect()) == list(range(30))

    _strip_schemas(one)
    df, jobs = plan_jobs(one)
    assert jobs == 1 and df.count() == 10


def test_read_schema_equals_spark_inference(spark, tmp_path):
    """The recorded schema is the one Spark's inference reads back:
    for every column type, in parquet and orc, for single- and
    multi-fragment reads, and for an evolved journal whose first read
    fragment is narrower or wider than the rest (a multi-path read
    takes the first fragment's schema, as inference does)."""
    import os

    from pyspark.sql import functions as F

    def inferred(j, fmt, frags):
        paths = [os.path.join(j.root, f.path) for f in frags]
        return spark.read.format(fmt).load(paths).schema

    for fmt in ("parquet", "orc"):
        j = Journal(str(tmp_path), f"schema/{fmt}")
        j.append(_typed_df(spark, 0, 5), fmt=fmt)
        frags = j.manifest().fragments
        assert j.read(spark).drop("_journal").schema == inferred(j, fmt, frags)
        j.append(_typed_df(spark, 5, 9), fmt=fmt)
        frags = j.manifest().fragments
        got = j.read(spark).drop("_journal").schema
        assert got == inferred(j, fmt, frags)
        assert got == inferred(j, fmt, frags[1:])  # the files agree

    narrow, wide = _df(spark, 0, 5), _df(spark, 5, 10).withColumn("w", F.lit("x"))
    for name, first, second in (("narrow", narrow, wide), ("wide", wide, narrow)):
        j = Journal(str(tmp_path), f"schema/evolved-{name}")
        j.append(first)
        j.append(second)
        j.append(first)
        frags = j.manifest().fragments
        for begin in (None, 5):
            read = [f for f in frags if begin is None or f.end > begin]
            got = j.read(spark, begin=begin).drop("_journal")
            assert got.schema == inferred(j, "parquet", read), (name, begin)
        assert j.read(spark, begin=5).columns != j.read(spark).columns


def test_old_manifest_reads_through_inference(spark, journal):
    """Fragments without a recorded schema (manifests written before
    fragments carried one) read exactly as the recorded ones do."""
    journal.append(_typed_df(spark, 0, 6))
    journal.append(_typed_df(spark, 6, 9))
    want = journal.read(spark, begin=2)
    _strip_schemas(journal)
    got = journal.read(spark, begin=2)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


def test_postfix_journal_reads_under_recorded_schema(spark, journal):
    """A path-postfix tree records its schema too, key columns after
    the data columns with their written types: reading it plans with
    no Spark job, `day` reads as the bigint it was written as (not the
    int partition discovery would type), and a filter on it still
    prunes partitions. Without a recorded schema the read raises
    UnrecordedSchema, naming the journal and the fragment."""
    import re

    from core_spark.sources.journal import UnrecordedSchema

    df = spark.range(0, 20).selectExpr("id AS k", "id % 3 AS day")
    journal.append(df.filter("k < 10"), path_postfix=("day",))
    journal.append(df.filter("k >= 10"), path_postfix=("day",))
    for begin in (None, 10):
        got, jobs = spark_jobs(spark, lambda: journal.read(spark, begin=begin))
        assert jobs == 0
        assert got.dtypes[:3] == [
            ("k", "bigint"), ("_offset", "bigint"), ("day", "bigint")
        ]
    full = journal.read(spark)
    rows = full.collect()
    assert sorted((r.k, r.day) for r in rows) == [(k, k % 3) for k in range(20)]
    day2 = full.filter("day = 2")
    plan = day2._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*day#\d+L = 2", plan), plan
    assert sorted(r.k for r in day2.collect()) == [2, 5, 8, 11, 14, 17]

    _strip_schemas(journal)
    path = journal.manifest().fragments[0].path
    with pytest.raises(UnrecordedSchema, match=f"'test/journal-0' fragment '{path}'"):
        journal.read(spark)


def test_bloom_fold_over_chunks_equals_whole_column(tmp_path):
    """_build_blooms folds each column's chunks one by one; the hex
    maps equal those of one pass over all of the column's values."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from core_spark.sources.journal import _BLOOM_BITS, _bloom_positions, _build_blooms

    frag = tmp_path / "frag"
    frag.mkdir()
    ks = [f"k{i % 37}" for i in range(500)] + [None]
    ns = [i % 53 for i in range(501)]
    pq.write_table(pa.table({"k": ks, "n": ns}), frag / "part-0.parquet", row_group_size=64)
    assert ds.dataset(str(frag)).to_table()["k"].num_chunks > 1

    def whole(values, prefix):
        m = bytearray(_BLOOM_BITS // 8)
        for v in {v for v in values if v is not None}:
            for p in _bloom_positions(str(v)):
                m[p // 8] |= 1 << (p % 8)
        return prefix + bytes(m).hex()

    assert _build_blooms(str(frag), "parquet", ["k", "n"]) == {
        "k": whole(ks, ""),
        "n": whole(ns, "int:"),
    }
