"""Journal stream source: parity with Journal.read, and the streaming
tail picking up fragments appended AFTER the query starts — the
MessageProducer-override path (consumer/interfaces.go:117-141)."""

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from core_spark.sources.datasource import journal_datasource
from core_spark.sources.journal import Journal, UnrecordedSchema
from tests.conftest import stream_journal


def _setup(spark, tmp_path):
    root = str(tmp_path / "journals")
    j = Journal(root, "ds/events")
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    j.append(df.filter(F.col("k") < 60))
    j.append(df.filter(F.col("k") >= 60))
    spark.dataSource.register(journal_datasource())
    return root, j, df


def test_stream_matches_journal_read(spark, tmp_path):
    root, j, df = _setup(spark, tmp_path)
    got = stream_journal(spark, root, "ds/events", tmp_path / "ckpt")
    want = j.read(spark).drop("_journal")
    assert got.dtypes == want.dtypes
    assert sorted(got.collect()) == sorted(want.collect())
    assert got.count() == 100


def test_stream_tails_new_fragments(spark, tmp_path):
    root, j, df = _setup(spark, tmp_path)
    stream = (
        spark.readStream.format("journal")
        .option("root", root)
        .option("name", "ds/events")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("ds_tail")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT count(*) c FROM ds_tail").first().c == 100
        # append AFTER the query started: the tail must pick it up
        j.append(
            spark.range(100, 130).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            )
        )
        q.processAllAvailable()
        rows = spark.sql("SELECT k, _offset FROM ds_tail ORDER BY _offset").collect()
        assert len(rows) == 130
        # journal offsets are contiguous across the live append
        assert [r._offset for r in rows] == list(range(130))
    finally:
        q.stop()


def test_shard_tails_journal_source_end_to_end(spark, tmp_path):
    """journal in -> shard transform -> fenced journal out, with the
    source consumed through its own manifest (no file glob)."""
    from core_spark.streaming.shard import ShardConfig, run_shard

    root = str(tmp_path / "journals")
    src_j = Journal(root, "in/words")
    words = spark.createDataFrame(
        [("a",), ("b",), ("a",), ("c",), ("b",), ("a",)], "word string"
    )
    src_j.append(words)

    cfg = ShardConfig(
        source_glob=None,
        source_schema=None,
        out_root=root,
        out_journal="out/deltas",
        shard_id="s0",
        checkpoint_dir=str(tmp_path / "ckpt"),
        source_root=root,
        source_journal="in/words",
    )

    def deltas(df):
        return df.groupBy("word").agg(F.count("*").alias("cnt"))

    run_shard(spark, cfg, deltas).awaitTermination(120)
    out = Journal(root, "out/deltas").read(spark)
    totals = {
        r.word: r.total
        for r in out.groupBy("word").agg(F.sum("cnt").alias("total")).collect()
    }
    assert totals == {"a": 3, "b": 2, "c": 1}


def test_partitioned_fragments_stream_like_journal_read(spark, tmp_path):
    """Hive path-postfix fragments (partitionBy) stream through
    format("journal") with their partition columns restored from the
    key=value path segments: the same values and column types as
    Journal.read."""
    root = str(tmp_path / "journals")
    j = Journal(root, "ds/part")
    df = spark.range(0, 40).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("day"),
        F.concat(F.lit("s"), (F.col("id") % 2).cast("string")).alias("site"),
    )
    j.append(df.filter(F.col("k") < 25), path_postfix=("day", "site"))
    j.append(df.filter(F.col("k") >= 25), path_postfix=("day", "site"))

    got = stream_journal(spark, root, "ds/part", tmp_path / "ckpt")
    want = j.read(spark).drop("_journal")
    assert got.dtypes == want.dtypes
    key = lambda r: (r.k, r.day, r.site, r._offset)  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))
    assert got.count() == 40


def test_partitioned_tail_streams_through_manifest(spark, tmp_path):
    """Tailing a partitionBy journal via readStream.format("journal")
    — previously only Journal.read could serve these fragments."""
    root = str(tmp_path / "journals")
    j = Journal(root, "ds/ptail")
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("k"), (F.col("id") % 2).alias("bucket")
    )
    j.append(mk(0, 20), path_postfix=("bucket",))
    spark.dataSource.register(journal_datasource())
    stream = (
        spark.readStream.format("journal")
        .option("root", root)
        .option("name", "ds/ptail")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("ds_ptail")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        j.append(mk(20, 30), path_postfix=("bucket",))
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT k, bucket, _offset FROM ds_ptail ORDER BY _offset"
        ).collect()
        assert len(rows) == 30
        assert [r._offset for r in rows] == list(range(30))
        assert all(r.bucket == r.k % 2 for r in rows)
    finally:
        q.stop()


def test_postfix_keys_read_back_as_written(spark, tmp_path):
    """A path-postfix tree's key columns read back with the values and
    types they were written with, through each reader of the tree:
    Journal.read, the stream source, and the bloom maps append builds
    from the key columns. Typed from the path strings instead, "+5"
    would read as the int 5 and the bigint `day` as an int."""
    from core_spark.catalog import CatalogStore, JournalSpec
    from core_spark.sources.journal import _BLOOM_BITS, _bloom_positions

    root = str(tmp_path / "journals")
    CatalogStore(root).apply(
        upserts=(JournalSpec("ds/edge", bloom_columns=("a", "day")),)
    )
    j = Journal(root, "ds/edge")
    rows = [(0, "+5", 1), (1, "1_000", 2), (2, "NaN", 2), (3, "+5", 3)]
    df = spark.createDataFrame(rows, "k bigint, a string, day bigint")
    # a decimal key, not bloom-listed: pyarrow cannot parse its paths
    df = df.selectExpr("*", "CAST(k / 4 AS DECIMAL(6, 2)) AS q")
    frag = j.append(df, path_postfix=("a", "day", "q"))

    dtypes = [("k", "bigint"), ("_offset", "bigint"), ("a", "string"),
              ("day", "bigint"), ("q", "decimal(6,2)")]
    want = sorted(
        (k, a, day, Decimal(k) / 4, k) for k, a, day in rows
    )
    key = lambda r: (r.k, r.a, r.day, r.q, r._offset)  # noqa: E731
    read = j.read(spark).drop("_journal")
    streamed = stream_journal(spark, root, "ds/edge", tmp_path / "ckpt")
    for got in (read, streamed):
        assert got.dtypes == dtypes
        assert sorted(map(key, got.collect())) == want

    def bloom(values, prefix):
        m = bytearray(_BLOOM_BITS // 8)
        for v in values:
            for p in _bloom_positions(v):
                m[p // 8] |= 1 << (p % 8)
        return prefix + bytes(m).hex()

    assert frag.blooms == {
        "a": bloom({"+5", "1_000", "NaN"}, ""),
        "day": bloom({"1", "2", "3"}, "int:"),
    }
    pruned = j.read(spark, where=[("a", "=", "+5")])
    assert sorted(r.k for r in pruned.collect()) == [0, 3]


def test_unrecorded_schemas(spark, tmp_path):
    """A manifest from before appends recorded schemas: a flat
    fragment streams under its footer's schema, and a path-postfix one
    raises UnrecordedSchema naming the journal and the fragment."""
    root = str(tmp_path / "journals")
    df = spark.range(0, 6).selectExpr("id AS k", "id % 2 AS day")
    for name, postfix in (("old/flat", ()), ("old/postfix", ("day",))):
        j = Journal(root, name)
        j.append(df, path_postfix=postfix)
        want = j.read(spark).drop("_journal")
        m = j.manifest()
        for f in m.fragments:
            f.meta = {}
        m.version += 1
        j._commit_manifest(m)
        ckpt = tmp_path / name.replace("/", "-")
        if not postfix:
            got = stream_journal(spark, root, name, ckpt)
            assert got.dtypes == want.dtypes
            assert sorted(got.collect()) == sorted(want.collect())
            continue
        path = m.fragments[0].path
        with pytest.raises(UnrecordedSchema, match=f"'{name}' fragment '{path}'"):
            j.read(spark)
        with pytest.raises(Exception, match="UnrecordedSchema"):
            stream_journal(spark, root, name, ckpt)
