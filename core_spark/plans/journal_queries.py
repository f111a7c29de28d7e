"""Journal-storage declared queries: the append/read lifecycle
(rows-only — it exercises the engine's own storage layer), and the
framed-journal pipeline (oracle-checked: encode → fixed-header frame →
journal → read → header parse → protowire decode → aggregate)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from core_spark.functions.framing import (
    decode_journal,
    encode_fixed_frame,
    parse_proto_schema,
)
from core_spark.io import load_table
from core_spark.plans.registry import query, scope
from core_spark.sources.journal import Journal


@query(
    "q_journal_roundtrip",
    # Appends are explicitly event_id-sorted, so the stamped journal
    # offset of each row is exactly its event_id — which makes the
    # whole storage round-trip oracle-checkable in DuckDB.
    oracle="""
    SELECT event_id, user_id, value,
           event_id AS _offset,
           'declared/events' AS _journal
    FROM events WHERE event_id >= 500 AND event_id < 2500
    ORDER BY _offset
    """,
)
def q_journal_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serializable append → offset-stamped fragments → pruned read.

    Writes the first 3k events into a journal as three appends (three
    immutable fragments with contiguous offsets), then serves a
    bounded offset-range read [500, 2500) — returning rows only from
    the two covering fragments, with durable per-row `_offset`s
    (broker append/read lifecycle, SURVEY §3.1-3.2, re-expressed as
    fragment files + manifest)."""
    events = load_table(spark, sf_dir, "events")
    root = scope().tempdir("q_journal_")
    j = Journal(root, "declared/events")
    # Three appends as pure DataFrame filters over the event-id range
    # (ids are dense from 0, so id < 3000 IS the first 3k events) —
    # the rows never materialize on the driver. Each append is sorted
    # so journal offsets are deterministic (offset == event_id).
    # repartition(1) + sortWithinPartitions is total-order identical
    # to orderBy here (append coalesces to ONE partition anyway) and
    # skips the range-exchange bounds-sampling job a global orderBy
    # plans — one Spark job per append instead of two (guide §2.4:
    # the sort exists only for deterministic offsets).
    for lo in range(0, 3000, 1000):
        j.append(
            events.filter(
                (F.col("event_id") >= lo) & (F.col("event_id") < lo + 1000)
            )
            .repartition(1)
            .sortWithinPartitions("event_id")
        )
    return (
        j.read(spark, begin=500, end=2500)
        .select("event_id", "user_id", "value", "_offset", "_journal")
        .orderBy("_offset")
    )


# ------------------------------------------------------- framed journal
_NGRAM_SCHEMA = (
    "1:uuid:bytes, 2:ngram:str, 3:count:varint, "
    "4:meta:message(1:shard:varint, 2:slot:varint), "
    "5:samples:packed_varint"
)


@query(
    "q_framed_journal",
    oracle="""
    SELECT event_type AS ngram,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(event_id) AS BIGINT) AS sum_count,
           CAST(SUM(user_id % 8 + event_id % 4) AS BIGINT) AS sum_meta,
           CAST(SUM((event_id % 10) * 100 + (event_id % 7) * 10
                    + event_id % 3) AS BIGINT) AS sum_samples
    FROM events
    GROUP BY event_type ORDER BY ngram
    """,
)
def q_framed_journal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full framed-message lifecycle over a journal, oracle-checked:
    protobuf-encode one message per event (nested sub-message + packed
    repeated field included), wrap in fixed-header frames
    (message/fixed_framing.go:32-148 magic + LE u32), append the raw
    payloads to a journal, read them back, and decode via the
    content-type framing registry (message/interfaces.go:82-96) —
    header parse as binary expressions, body via the runtime-free
    protowire reader. The aggregate over decoded fields must equal the
    same aggregate computed directly from `events` in DuckDB, proving
    the encode→frame→store→read→decode loop is lossless.

    Message (word_count.pb.go:32-39 NGramCount, extended):
      1: uuid bytes, 2: ngram str, 3: count varint,
      4: meta message(1: shard varint, 2: slot varint),
      5: samples packed_varint
    """
    events = load_table(spark, sf_dir, "events")
    src = events.select(
        F.unhex(F.md5(F.col("event_id").cast("string"))).alias("uuid"),
        F.col("event_type").alias("ngram"),
        F.col("event_id").alias("count"),
        (F.col("user_id") % 8).alias("shard"),
        (F.col("event_id") % 4).alias("slot"),
        (F.col("event_id") % 10).alias("s0"),
        (F.col("event_id") % 7).alias("s1"),
        (F.col("event_id") % 3).alias("s2"),
    )

    spec = parse_proto_schema(_NGRAM_SCHEMA)

    def encode(batches):
        """One protobuf body per row, fields in field order."""
        import pandas as pd

        from core_spark.functions.protowire import encode_message

        for pdf in batches:
            bodies = [
                encode_message(
                    {
                        "uuid": bytes(r.uuid),
                        "ngram": r.ngram,
                        "count": int(r.count),
                        "meta": {"shard": int(r.shard), "slot": int(r.slot)},
                        "samples": [int(r.s0), int(r.s1), int(r.s2)],
                    },
                    spec,
                )
                for r in pdf.itertuples(index=False)
            ]
            yield pd.DataFrame({"body": bodies})

    bodies = src.mapInPandas(encode, schema="body binary")
    payloads = bodies.select(encode_fixed_frame(F.col("body")).alias("payload"))

    root = scope().tempdir("q_framed_")
    j = Journal(root, "framed/ngrams")
    j.append(payloads)

    raw = j.read(spark).select("payload")
    decoded = decode_journal(raw, "application/x-protobuf", _NGRAM_SCHEMA)
    return (
        decoded.groupBy("ngram")
        .agg(
            F.count("*").alias("n"),
            F.sum("count").alias("sum_count"),
            F.sum(F.col("meta.shard") + F.col("meta.slot")).alias("sum_meta"),
            F.sum(
                F.element_at("samples", 1) * 100
                + F.element_at("samples", 2) * 10
                + F.element_at("samples", 3)
            ).alias("sum_samples"),
        )
        .orderBy("ngram")
    )


# ------------------------------------------------------ codec fragments
@query(
    "q_append_codec",
    # Offsets are event_id (sorted appends over dense ids), so the
    # whole byte-stream round trip is oracle-checkable: DuckDB
    # recomputes the bounded read's per-type aggregate straight off
    # the parquet.
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           MIN(event_id) AS first_off,
           MAX(event_id) AS last_off,
           CAST(SUM(user_id) AS BIGINT) AS sum_user
    FROM events WHERE event_id >= 300 AND event_id < 1700
    GROUP BY event_type ORDER BY event_type
    """,
)
def q_append_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-stream codec fragments end to end: three sorted appends
    land events [0,2k) as a seekable-zstd fragment, a multi-stream
    xz fragment, and a multi-member gzip fragment — gazette's
    DEFAULT codec — (a journal whose codec migrated mid-history;
    gazette's codec-suffix fragment files,
    broker/fragment/stores.go:124-139); the bounded read [300, 1700)
    plans per-chunk splits from each container's metadata only
    (sources/codec_fragments.py zst_split_plan / xz_split_plan from
    tail reads, gz_split_plan from the writer-planted SL member
    lengths walked forward — the ranged-GET discipline either way),
    decodes chunks on executors with the native codecs, restores
    rows via from_json under the manifest-carried schema, and
    aggregates per event type. Small codec_chunk_bytes forces
    multiple splits per fragment so the parallel decode path is
    what actually runs.

    100 TB shape: planning is metadata KBs per fragment; decode
    parallelism = chunk count; the aggregate is a partial-agg
    shuffle on event_type. The from-spec walkers (functions/
    zstdfile.py, xzfile.py, gzipfile.py) stay the verification tier
    for the same bytes."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    root = scope().tempdir("q_append_codec_")
    j = Journal(root, "declared/codec-events")
    for lo, fmt in ((0, "jsonl.zst"), (700, "jsonl.xz"), (1400, "jsonl.gz")):
        hi = lo + 700
        j.append(
            events.filter(
                (F.col("event_id") >= lo) & (F.col("event_id") < hi)
            )
            # single-partition sort == orderBy under append's
            # coalesce(1), minus the range-sampling job (q_journal_
            # roundtrip's note)
            .repartition(1)
            .sortWithinPartitions("event_id"),
            fmt=fmt,
            codec_chunk_bytes=8192,
        )
    return (
        j.read(spark, begin=300, end=1700)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("_offset").alias("first_off"),
            F.max("_offset").alias("last_off"),
            F.sum("user_id").alias("sum_user"),
        )
        .orderBy("event_type")
    )


@query(
    "q_audit_scan",
    # Appends are rank-sliced over (user_id, event_id) order, so each
    # fragment's offset span AND its user_id zone map are pure
    # arithmetic over the events parquet — and the int-key bloom is
    # the documented md5-bit construction, so DuckDB recomputes every
    # pruning verdict (including bloom false positives, bit-exactly)
    # without seeing a fragment byte.
    oracle="""
    WITH e AS (
      SELECT user_id,
             ROW_NUMBER() OVER (ORDER BY user_id, event_id) - 1 AS rn
      FROM events WHERE event_id < 2800
    ),
    f AS (
      SELECT rn // 700 AS seq,
             CAST(min(rn) AS BIGINT) AS f_begin,
             CAST(max(rn) + 1 AS BIGINT) AS f_end,
             CAST(count(*) AS BIGINT) AS n_records,
             min(user_id) AS u_min, max(user_id) AS u_max
      FROM e GROUP BY rn // 700
    ),
    fb AS (
      SELECT DISTINCT rn // 700 AS seq,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                 1 + 4 * j, 4) AS BIGINT) % 2048 AS bit
      FROM e, (SELECT unnest(range(4)) AS j) js
    ),
    pv AS (
      SELECT DISTINCT
             CAST('0x' || substr(md5('3'), 1 + 4 * j, 4) AS BIGINT)
               % 2048 AS bit
      FROM (SELECT unnest(range(4)) AS j) js
    ),
    bok AS (
      SELECT s.seq,
             (SELECT count(*) FROM pv
               WHERE pv.bit IN (SELECT bit FROM fb WHERE fb.seq = s.seq))
             = (SELECT count(*) FROM pv) AS bloom_ok
      FROM (SELECT DISTINCT seq FROM fb) s
    )
    SELECT CAST(f.seq AS BIGINT) AS seq, f_begin, f_end, n_records,
           (f_end > 100 AND f_begin < 2100) AS covering,
           (u_min <= 4 AND u_max >= 1 AND u_min <= 3 AND u_max >= 3)
             AS stats_ok,
           bok.bloom_ok AS bloom_ok,
           (f_end > 100 AND f_begin < 2100
            AND u_min <= 4 AND u_max >= 1 AND u_min <= 3 AND u_max >= 3
            AND bok.bloom_ok) AS read
    FROM f JOIN bok ON bok.seq = f.seq ORDER BY seq
    """,
)
def q_audit_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-pruning audit — the fragment-index query plus zone-map
    skipping as a first-class ANALYZE (Journal.scan_audit, the
    decision table read() itself consumes, so plan and explanation
    cannot drift — the q_audit_skew discipline applied to data
    skipping). Events sorted by (user_id, event_id) land in 700-row
    fragments, clustering user_id so the parquet-footer zone maps
    carry tight disjoint ranges (the reason sorted appends prune and
    random appends don't); the journal's spec lists ``user_id`` as a
    bloom column (an INTEGER key — the r11 typed `int:` blooms), and
    the audited read [100, 2100) with ``user_id <= 4 AND user_id >=
    1 AND user_id = 3`` then reports, per fragment: offset-overlap
    ``covering`` (broker/fragment/index.go:41-131), zone-map
    ``stats_ok``, bloom ``bloom_ok`` (the point-lookup verdict the
    equality probe takes through the 2048-bit md5 map), and the
    conjunction ``read``. The oracle recomputes every verdict by
    rank arithmetic straight off the parquet — INCLUDING the bloom
    bits themselves (the md5-slice construction is engine-neutral by
    design, so DuckDB rebuilds each fragment's bit set and probes it
    exactly, false positives and all).

    100 TB shape: this is the explanation surface for the claim that
    a selective predicate on a 10^6-fragment journal lists only the
    covering few — the audit costs one manifest read, zero scans,
    and returns one row per fragment; the pruning it reports is
    exactly what read() executes. (The fixture's global row_number
    window runs over the FIXED event_id<2800 slice — bounded by
    construction, not a corpus-sized sort; production appends are
    already writer-ordered and need no ranking step.)"""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") < 2800
    )
    from pyspark.sql.window import Window

    ranked = scope().persist(
        events.withColumn(
            "rn",
            F.row_number().over(Window.orderBy("user_id", "event_id")) - 1,
        )
    )
    n = ranked.count()
    root = scope().tempdir("q_audit_scan_")
    from core_spark.catalog import CatalogStore, JournalSpec

    CatalogStore(root).apply(
        upserts=(
            JournalSpec(
                name="declared/audit-events", bloom_columns=("user_id",)
            ),
        )
    )
    j = Journal(root, "declared/audit-events")
    for lo in range(0, n, 700):
        j.append(
            ranked.filter(
                (F.col("rn") >= lo) & (F.col("rn") < lo + 700)
            )
            # single-partition sort == orderBy under append's
            # coalesce(1), minus the range-sampling job (q_journal_
            # roundtrip's note)
            .repartition(1)
            .sortWithinPartitions("rn")
            .drop("rn"),
        )
    audit = j.scan_audit(
        begin=100,
        end=2100,
        where=[
            ("user_id", "<=", 4),
            ("user_id", ">=", 1),
            ("user_id", "=", 3),
        ],
    )
    return spark.createDataFrame(
        [
            (
                r["seq"], r["f_begin"], r["f_end"], r["n_records"],
                r["covering"], r["stats_ok"], r["bloom_ok"], r["read"],
            )
            for r in audit
        ],
        "seq long, f_begin long, f_end long, n_records long,"
        " covering boolean, stats_ok boolean, bloom_ok boolean,"
        " read boolean",
    ).orderBy("seq")
