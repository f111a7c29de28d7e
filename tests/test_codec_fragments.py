"""Byte-stream codec fragments (jsonl.zst seekable / jsonl.xz
multi-stream / jsonl.gz multi-member): journal append/read
roundtrip, metadata-only split planning, corrupt-input discipline,
GC of file fragments."""

import os

import pytest
from pyspark.sql import functions as F

import core_spark.sources.codec_fragments as cf
from core_spark.sources.codec_fragments import (
    gz_split_plan,
    read_codec_fragment,
    xz_split_plan,
    zst_split_plan,
)
from core_spark.sources.journal import Journal


@pytest.fixture
def journal(tmp_path):
    return Journal(str(tmp_path), "codec/journal-0")


@pytest.fixture
def small_chunks(monkeypatch):
    # force multi-chunk containers from small test batches
    monkeypatch.setattr(cf, "DEFAULT_CHUNK_BYTES", 2048)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("v"),
        F.concat(F.lit("payload-"), F.col("id")).alias("s"),
    )


@pytest.mark.parametrize("fmt", ["jsonl.zst", "jsonl.xz", "jsonl.gz"])
def test_roundtrip_and_offset_bounds(spark, journal, small_chunks, fmt):
    journal.append(_df(spark, 0, 400), fmt=fmt)
    journal.append(_df(spark, 400, 500), fmt=fmt)

    frag = journal.manifest().fragments[0]
    assert frag.path.endswith("." + fmt)  # codec-suffix naming
    assert frag.meta.get("schema_json")  # reader-side schema rides manifest

    df = journal.read(spark)
    rows = sorted((r._offset, r.v, r.s) for r in df.collect())
    assert [o for o, _, _ in rows] == list(range(500))
    assert [v for _, v, _ in rows] == list(range(500))
    assert rows[7][2] == "payload-7"

    mid = journal.read(spark, begin=390, end=410)  # spans both fragments
    assert sorted(r._offset for r in mid.collect()) == list(range(390, 410))


@pytest.mark.parametrize("fmt", ["jsonl.zst", "jsonl.xz", "jsonl.gz"])
def test_split_plan_is_per_chunk_and_covers_file(
    spark, journal, small_chunks, fmt
):
    journal.append(_df(spark, 0, 400), fmt=fmt)
    frag = journal.manifest().fragments[0]
    p = os.path.join(str(journal.root), frag.path)
    plan = {
        "jsonl.zst": zst_split_plan,
        "jsonl.xz": xz_split_plan,
        "jsonl.gz": gz_split_plan,
    }[fmt](p)
    assert len(plan) > 1  # multiple independent splits
    # splits tile the body contiguously
    off = 0
    for s in plan:
        assert s["c_off"] == off
        off += s["c_size"]
    if fmt == "jsonl.zst":
        assert off < os.path.getsize(p)  # seek table after the body
    else:
        assert off == os.path.getsize(p)


@pytest.mark.parametrize("fmt", ["jsonl.zst", "jsonl.xz", "jsonl.gz"])
def test_split_plan_and_decode_chunk_roundtrip(tmp_path, fmt):
    """split_plan + decode_chunk are the one codec owner both read
    paths call: the decoded chunks concatenate back to the source
    lines, and a chunk whose decoded size disagrees with its plan
    raises instead of serving rows (pyarrow's zstd decoder already
    refuses a wrong decompressed size; gz and xz reach the size
    check)."""
    src = tmp_path / "src.jsonl"
    src.write_text("".join(f'{{"v": {i}}}\n' for i in range(500)))
    out = str(tmp_path / f"frag.{fmt}")
    writer = {
        "jsonl.zst": cf.write_jsonl_zst,
        "jsonl.xz": cf.write_jsonl_xz,
        "jsonl.gz": cf.write_jsonl_gz,
    }[fmt]
    assert writer(str(src), out, chunk_bytes=1024) == 500
    plan = cf.split_plan(out, fmt)
    assert len(plan) > 1
    chunks = [
        cf.decode_chunk(cf._ranged(out, c_off, c_size), fmt, d_size)
        for c_off, c_size, d_size in plan
    ]
    assert b"".join(chunks) == src.read_bytes()
    c_off, c_size, d_size = plan[0]
    err = OSError if fmt == "jsonl.zst" else ValueError
    with pytest.raises(err):
        cf.decode_chunk(cf._ranged(out, c_off, c_size), fmt, d_size + 1)
    with pytest.raises(ValueError, match="unknown codec fragment format"):
        cf.split_plan(out, "jsonl.bz2")


def test_mixed_parquet_and_codec_history_reads(spark, journal, small_chunks):
    journal.append(_df(spark, 0, 50), fmt="parquet")
    journal.append(_df(spark, 50, 90), fmt="jsonl.zst")
    journal.append(_df(spark, 90, 120), fmt="jsonl.xz")
    journal.append(_df(spark, 120, 140), fmt="jsonl.gz")
    df = journal.read(spark)
    rows = sorted((r._offset, r.v) for r in df.collect())
    assert [o for o, _ in rows] == list(range(140))
    assert [v for _, v in rows] == list(range(140))


def test_gz_fragment_reads_with_stock_gzip(spark, journal, small_chunks):
    """Interop both ways: the jsonl.gz fragment is a VALID stock
    multi-member gzip file (stdlib reads all members, FEXTRA is
    skip-over data to it), and the planner's per-member d_size/crc
    agree with the verification walker's inflating walk."""
    import gzip

    from core_spark.functions.gzipfile import gzip_members

    journal.append(_df(spark, 0, 400), fmt="jsonl.gz")
    frag = journal.manifest().fragments[0]
    p = os.path.join(str(journal.root), frag.path)
    raw = open(p, "rb").read()
    text = gzip.decompress(raw)  # stock reader: one pass, all members
    assert text.count(b"\n") == 400
    plan = gz_split_plan(p)
    walk = gzip_members(raw)
    assert [(s["c_off"], s["c_size"], s["d_size"], s["crc32"]) for s in plan] == [
        (m["h_off"], m["c_size"], m["d_size"], m["crc32"]) for m in walk
    ]
    assert all(m["split_len"] == m["c_size"] for m in walk)


def test_gz_plan_long_header_escalates_probe(tmp_path):
    """RFC 1952 puts FNAME after FEXTRA, so a ~44+ char name pushes
    the header past the 64-byte probe while SL stays in the first 20
    bytes — the planner must escalate its ranged read, not fail a
    valid plannable member (and must still raise on a genuinely
    corrupt long header)."""
    from core_spark.functions.gzipfile import (
        GzipError,
        gz_member_len,
        write_member,
    )

    long_name = "a-very/long/object/key/name-" + "x" * 200
    m1 = write_member(b'{"v": 1}\n' * 20, name=long_name, hcrc=True)
    m2 = write_member(b'{"v": 2}\n' * 30, name="short")
    # the defect scenario: header parsing escapes a 64-byte prefix
    with pytest.raises(GzipError):
        gz_member_len(m1[:64])
    p = str(tmp_path / "long.jsonl.gz")
    open(p, "wb").write(m1 + m2)
    plan = gz_split_plan(p)
    assert [(s["c_off"], s["c_size"]) for s in plan] == [
        (0, len(m1)),
        (len(m1), len(m2)),
    ]
    # corruption is still detected after escalation: break the name
    # terminator so the header never completes at ANY probe size
    raw = bytearray(m1 + m2)
    zero = raw.index(b"\x00", 22)  # FNAME terminator (after FEXTRA)
    raw[zero : len(m1) - 8] = b"\x01" * (len(m1) - 8 - zero)
    open(p, "wb").write(bytes(raw))
    with pytest.raises(GzipError):
        gz_split_plan(p)


def test_gz_plan_rejects_stock_writer_file(tmp_path):
    """A stock gzip member carries no SL subfield: the planner raises
    the named error (stream-decode-only file) instead of guessing
    member boundaries."""
    import gzip

    from core_spark.functions.gzipfile import GzipError

    p = str(tmp_path / "stock.jsonl.gz")
    open(p, "wb").write(gzip.compress(b'{"v": 1}\n' * 50))
    with pytest.raises(GzipError, match="SL"):
        gz_split_plan(p)


def test_gz_truncated_member_raises_never_missplits(spark, journal, small_chunks):
    from core_spark.functions.gzipfile import GzipError

    journal.append(_df(spark, 0, 300), fmt="jsonl.gz")
    frag = journal.manifest().fragments[0]
    p = os.path.join(str(journal.root), frag.path)
    raw = open(p, "rb").read()
    open(p, "wb").write(raw[:-10])  # cut into the last member
    with pytest.raises(GzipError):
        gz_split_plan(p)


def test_corrupt_tail_raises_never_missplits(spark, journal, small_chunks):
    from core_spark.functions.zstdfile import ZstdError

    journal.append(_df(spark, 0, 300), fmt="jsonl.zst")
    frag = journal.manifest().fragments[0]
    p = os.path.join(str(journal.root), frag.path)
    raw = open(p, "rb").read()
    open(p, "wb").write(raw[:-2] + b"\x00\x00")  # break seekable magic
    with pytest.raises(ZstdError):
        zst_split_plan(p)
    open(p, "wb").write(raw[:-9] + b"\xff" + raw[-8:])  # lie about nf
    with pytest.raises(ZstdError):
        zst_split_plan(p)


def test_missing_schema_raises_named_error(spark, tmp_path, small_chunks):
    src = tmp_path / "x.jsonl"
    src.write_bytes(b'{"a": 1}\n' * 10)
    out = str(tmp_path / "x.jsonl.zst")
    cf.write_jsonl_zst(str(src), out)
    with pytest.raises(ValueError, match="schema"):
        read_codec_fragment(spark, out, "jsonl.zst", None)


def test_vacuum_reclaims_orphan_codec_file(spark, journal, small_chunks):
    journal.append(_df(spark, 0, 40), fmt="jsonl.zst")
    # fabricate an orphan codec fragment file (a lost CAS loser)
    orphan = os.path.join(
        journal.frag_dir, "frag-" + "9" * 20 + "-" + "9" * 20 + "-dead.jsonl.zst"
    )
    open(orphan, "wb").write(b"junk")
    os.utime(orphan, (1, 1))
    assert journal.vacuum(grace_seconds=0) == 1
    assert not os.path.exists(orphan)
    # the referenced fragment survives
    assert journal.read(spark).count() == 40


def test_postfix_rejected_for_codec_fragments(spark, journal):
    with pytest.raises(ValueError, match="postfix"):
        journal.append(
            _df(spark, 0, 10), fmt="jsonl.zst", path_postfix=("v",)
        )


def test_codec_fragments_compact_to_parquet(spark, journal, small_chunks):
    """Compaction doubles as the codec->columnar migration: adjacent
    codec fragments merge into ONE parquet fragment with offsets
    preserved, and non-compacted codec fragments keep their manifest
    schema (meta) through the seq renumbering."""
    journal.append(_df(spark, 0, 60), fmt="jsonl.zst")
    journal.append(_df(spark, 60, 120), fmt="jsonl.gz")
    # a postfix fragment breaks the run so the later codec frag survives
    journal.append(
        _df(spark, 120, 150).withColumn("p", F.col("v") % 2),
        fmt="parquet",
        path_postfix=("p",),
    )
    journal.append(_df(spark, 150, 200), fmt="jsonl.zst")

    assert journal.compact(spark) == 1  # zst+xz run merged
    m = journal.manifest()
    assert [f.fmt for f in m.fragments] == ["parquet", "parquet", "jsonl.zst"]
    assert m.fragments[0].stats  # merged fragment regains zone maps
    # the surviving codec fragment kept its reader-side schema
    assert m.fragments[2].meta.get("schema_json")

    rows = sorted((r._offset, r.v) for r in journal.read(spark).collect())
    assert [o for o, _ in rows] == list(range(200))
    assert [v for _, v in rows] == list(range(200))



def test_shard_commits_codec_fragments(spark, tmp_path, small_chunks):
    """A streaming shard whose transactions commit jsonl.zst
    fragments: every micro-batch appends one codec-suffixed byte
    stream, the manifest carries each batch's schema, and the journal
    read reassembles the full stream exactly-once."""
    import os as _os

    from core_spark.streaming.shard import ShardConfig, run_shard

    src = str(tmp_path / "src")
    _df(spark, 0, 200).repartition(4).write.parquet(src)
    cfg = ShardConfig(
        source_glob=_os.path.join(src, "*.parquet"),
        source_schema="v long, s string",
        out_root=str(tmp_path / "out"),
        out_journal="codec/stream",
        shard_id="codec-0",
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=2,  # multiple transactions
        out_fmt="jsonl.zst",
    )
    run_shard(spark, cfg, lambda df: df.select("v", "s")).awaitTermination(
        300
    )
    j = Journal(str(tmp_path / "out"), "codec/stream")
    m = j.manifest()
    assert len(m.fragments) >= 2  # >1 transaction committed
    assert all(f.path.endswith(".jsonl.zst") for f in m.fragments)
    assert all(f.meta.get("schema_json") for f in m.fragments)
    rows = j.read(spark).select("v", "s").collect()
    assert sorted(r.v for r in rows) == list(range(200))


@pytest.mark.slow
def test_gz_fragments_tail_read_committed_end_to_end(
    spark, tmp_path, small_chunks
):
    """The gazette default-codec loop closed BOTH ways (r11): shard A
    COMMITS multi-member jsonl.gz fragments (ShardConfig.out_fmt);
    a second consumer TAILS the same journal through the streaming
    journal source (driver-planned SL chunk splits, executor-side
    stdlib gzip decode) and sequences it read-committed — the final
    emitted set equals the batch read ∘ read_committed composition,
    including a gz fragment appended AFTER the tail started."""
    import os as _os

    from core_spark.io import load_table
    from core_spark.operators.sequencer import read_committed
    from core_spark.plans.message import message_view
    from core_spark.sources.datasource import journal_datasource
    from core_spark.streaming.read_committed import stream_read_committed
    from core_spark.streaming.shard import ShardConfig, run_shard
    from tests.conftest import SF_SMOKE

    from core_spark.streaming.read_committed import MESSAGE_SCHEMA

    msg_cols = [
        "event_id", "user_id", "value", "off", "producer", "clock", "flags"
    ]
    # cast to the operator's declared message shape (flags long —
    # message_view's int32 is narrower than MESSAGE_SCHEMA)
    messages = (
        message_view(load_table(spark, SF_SMOKE, "events"))
        .select(*msg_cols)
        .selectExpr(*(f"CAST({c} AS {t}) AS {c}" for c, t in
                      (p.strip().rsplit(" ", 1)
                       for p in MESSAGE_SCHEMA.split(","))))
        .orderBy("off")
    )
    rows = messages.collect()
    cut = 2 * len(rows) // 3
    src = str(tmp_path / "src")
    _os.makedirs(src)
    spark.createDataFrame(rows[:cut], messages.schema).coalesce(1).write.parquet(
        _os.path.join(src, "chunk-0.parquet")
    )

    cfg = ShardConfig(
        source_glob=_os.path.join(src, "*.parquet"),
        source_schema=messages.schema.simpleString()[7:-1].replace(":", " "),
        out_root=str(tmp_path / "out"),
        out_journal="codec/messages",
        shard_id="gz-0",
        checkpoint_dir=str(tmp_path / "shard_ckpt"),
        out_fmt="jsonl.gz",
    )
    run_shard(spark, cfg, lambda df: df.select(*msg_cols)).awaitTermination(300)
    j = Journal(str(tmp_path / "out"), "codec/messages")
    assert all(f.path.endswith(".jsonl.gz") for f in j.manifest().fragments)

    spark.dataSource.register(journal_datasource())
    tail = (
        spark.readStream.format("journal")
        .option("root", str(tmp_path / "out"))
        .option("name", "codec/messages")
        .load()
        .select(*msg_cols)
    )
    q = (
        stream_read_committed(tail)
        .writeStream.format("memory")
        .queryName("gz_rc_tail")
        .option("checkpointLocation", str(tmp_path / "tail_ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        n_first = spark.sql("SELECT count(*) c FROM gz_rc_tail").first().c
        assert n_first > 0
        # live append lands as another gz fragment; the tail must
        # split-plan and decode it in the next micro-batch
        j.append(
            spark.createDataFrame(rows[cut:], messages.schema),
            fmt="jsonl.gz",
        )
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.off, r.event_id)
        for r in spark.sql("SELECT off, event_id FROM gz_rc_tail").collect()
    }
    want = {
        (r.off, r.event_id)
        for r in read_committed(
            j.read(spark).select(*msg_cols), offset="off"
        ).select("off", "event_id").collect()
    }
    assert got == want and len(got) > n_first - 1
