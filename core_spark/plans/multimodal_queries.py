"""Multimodal declared query: the binary-column decode pipeline,
oracle-checked because the (fake) decoder derives metadata from an md5
both engines can compute over the same bytes."""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession

from core_spark.io import load_table, spread, spread_ranged
from core_spark.multimodal import (
    attach_fmp4_payload,
    attach_mp3_payload,
    attach_mp4_payload,
    attach_mp4_stream_payload,
    attach_payload,
    decode_av_meta,
    decode_image_meta,
    plan_audio_fetch,
    plan_fragment_fetch,
    plan_video_fetch,
)
from core_spark.multimodal.columns import doc_kernel, payload_kernel
from core_spark.plans.registry import query


@query(
    "q_av_meta",
    oracle="""
    SELECT doc_id,
           'isom' AS brand,
           500 + CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) % 600000
             AS duration_ms,
           16 * (4 + CAST('0x' || substr(md5(text), 9, 4) AS BIGINT) % 117)
             AS width,
           16 * (3 + CAST('0x' || substr(md5(text), 13, 4) AS BIGINT) % 65)
             AS height,
           CAST(2 AS BIGINT) AS n_tracks,
           'avc1' AS video_codec,
           'mp4a' AS audio_codec
    FROM documents ORDER BY doc_id
    """,
)
def q_av_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-container metadata walk (multimodal/mp4.py): each
    document becomes a REAL ISO-BMFF payload (ftyp + moov with mvhd/
    tkhd/hdlr/stsd + mdat, parameters md5-derived so the oracle can
    recompute them), crosses an Arrow boundary as opaque binary, and
    a second kernel walks the actual boxes back to duration / track
    dimensions / codec fourcc — the gate fields a video curation
    pass filters on, no frame decode (the MP3-header-walk convention
    for the video modality; frame decode stays behind the pyav
    stub). Payload bytes never reach the JVM plan: both stages are
    executor-side mapInPandas."""
    docs = spread_ranged(load_table(spark, sf_dir, "documents"), "doc_id")
    return decode_av_meta(attach_mp4_payload(docs)).sortWithinPartitions("doc_id")


@query(
    "q_bitmap_exif",
    oracle="""
    WITH p AS (
      SELECT doc_id, md5(text) AS h FROM documents
    ),
    f AS (
      SELECT doc_id,
             CASE WHEN CAST('0x' || substr(h, 1, 1) AS BIGINT) % 2 = 0
                  THEN 'II' ELSE 'MM' END AS byte_order,
             640 + CAST('0x' || substr(h, 2, 2) AS BIGINT) AS width,
             480 + CAST('0x' || substr(h, 4, 2) AS BIGINT) AS height,
             1 + CAST('0x' || substr(h, 6, 1) AS BIGINT) % 8
               AS orientation,
             'Cam' || substr(h, 7, 2) AS make,
             'M-' || substr(h, 9, 2) AS model,
             2018 + CAST('0x' || substr(h, 11, 1) AS BIGINT) % 8 AS y,
             1 + CAST('0x' || substr(h, 12, 1) AS BIGINT) % 12 AS mo,
             1 + CAST('0x' || substr(h, 13, 1) AS BIGINT) % 28 AS d,
             CAST('0x' || substr(h, 14, 1) AS BIGINT) % 24 AS hh,
             CAST('0x' || substr(h, 15, 2) AS BIGINT) % 60 AS mi,
             CAST('0x' || substr(h, 17, 2) AS BIGINT) % 60 AS ss,
             30 + CAST('0x' || substr(h, 19, 2) AS BIGINT) AS exp_den,
             100 * (1 + CAST('0x' || substr(h, 21, 1) AS BIGINT) % 16)
               AS iso
      FROM p
    )
    SELECT doc_id, byte_order, width, height, orientation, make, model,
           CAST(y AS VARCHAR) || ':' || lpad(CAST(mo AS VARCHAR),2,'0')
             || ':' || lpad(CAST(d AS VARCHAR),2,'0') || ' '
             || lpad(CAST(hh AS VARCHAR),2,'0') || ':'
             || lpad(CAST(mi AS VARCHAR),2,'0') || ':'
             || lpad(CAST(ss AS VARCHAR),2,'0') AS dt,
           exp_den, iso,
           orientation >= 5 AS needs_transpose
    FROM f ORDER BY doc_id
    """,
)
def q_bitmap_exif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF capture-metadata walk (multimodal/exif.py; TIFF 6.0 +
    EXIF 2.3x) — the no-pixel-decode gate an image curation pass
    runs first: orientation (the needs_transpose flag is what a
    resize stage consumes), capture timestamp for temporal
    bucketing, camera make/model for source stats, exposure/ISO
    from the Exif SubIFD whose pointer the walk must really chase.
    Each document builds a REAL baseline JPEG (jpeg_encode, pixels
    hash-derived) with an APP1 ``Exif\\0\\0`` TIFF stream spliced
    where cameras write it; byte order alternates II/MM by hash so
    BOTH endiannesses run corpus-wide; all offsets are
    TIFF-relative, exactly the trap naive parsers fall into. A
    second kernel, fused with the builder into one MapInPandas stage
    so the JPEG bytes stay in the Python worker, walks JPEG segments
    → APP1 → IFD0 → SubIFD back to typed fields. The
    oracle recomputes every field by integer/string arithmetic from
    the same md5, never seeing the bytes.

    Scale shape: map-side Arrow kernels, zero shuffles before the
    presentation sort; payload bytes never move. At 100 TB this is
    the metadata extraction that runs at fetch time and writes the
    typed-metadata journal the gates then filter JVM-side."""
    import numpy as np

    from core_spark.multimodal.exif import (
        attach_exif_app1,
        build_tiff_exif,
        exif_from_jpeg,
    )
    from core_spark.multimodal.jpeg import jpeg_encode

    docs = spread_ranged(load_table(spark, sf_dir, "documents"), "doc_id")

    def attach(text):
        h = hashlib.md5(text.encode("utf-8")).hexdigest()
        px0 = int(h[21:23], 16)
        img = ((np.arange(64).reshape(8, 8) * 5 + px0) % 256)
        jp = jpeg_encode(img.astype(np.uint8))
        dt = (
            f"{2018 + int(h[10], 16) % 8:04d}:"
            f"{1 + int(h[11], 16) % 12:02d}:"
            f"{1 + int(h[12], 16) % 28:02d} "
            f"{int(h[13], 16) % 24:02d}:"
            f"{int(h[14:16], 16) % 60:02d}:"
            f"{int(h[16:18], 16) % 60:02d}"
        )
        tiff = build_tiff_exif(
            "II" if int(h[0], 16) % 2 == 0 else "MM",
            640 + int(h[1:3], 16),
            480 + int(h[3:5], 16),
            1 + int(h[5], 16) % 8,
            "Cam" + h[6:8],
            "M-" + h[8:10],
            dt,
            (1, 30 + int(h[18:20], 16)),
            100 * (1 + int(h[20], 16) % 16),
        )
        return attach_exif_app1(jp, tiff)

    def walk(doc_id, payload):
        m = exif_from_jpeg(bytes(payload))
        yield (
            m["byte_order"], m["width"], m["height"], m["orientation"],
            m["make"], m["model"], m["datetime"], m["exposure"][1],
            m["iso"], m["orientation"] >= 5,
        )

    return doc_kernel(
        payload_kernel(docs, attach),
        walk,
        "doc_id long, byte_order string, width long, height long,"
        " orientation long, make string, model string, dt string,"
        " exp_den long, iso long, needs_transpose boolean",
        col="payload",
    ).sortWithinPartitions("doc_id")


@query(
    "q_bitmap_audit",
    oracle="""
    WITH cnt AS (
      SELECT greatest(64, count(*) // 8) AS G FROM documents
    ),
    d AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(text), 1, 6) AS BIGINT)
               % (SELECT G FROM cnt) AS g,
             CAST('0x' || substr(md5(text), 7, 1) AS BIGINT) % 4 AS cls,
             CAST('0x' || substr(md5(text), 8, 1) AS BIGINT) % 16 AS r0,
             CAST('0x' || substr(md5(text), 9, 2) AS BIGINT) % 18 AS c0
      FROM documents
    ),
    pl AS (
      SELECT doc_id, r0 AS rp, c0 AS cp, 40 AS delta
      FROM d WHERE cls = 0
      UNION ALL
      SELECT doc_id, (r0 + 2*p) % 16 AS rp, (c0 + 5*p) % 18 AS cp,
             100 AS delta
      FROM (SELECT doc_id, r0, c0, unnest(range(8)) AS p
            FROM d WHERE cls = 1)
    ),
    rows_ AS (SELECT doc_id, g, unnest(range(16)) AS r FROM d),
    cols_ AS (SELECT *, unnest(range(18)) AS c FROM rows_),
    px AS (
      SELECT x.doc_id, x.r, x.c,
             ((((x.g+1) * (x.r*18 + x.c + 1)) % 65521)
               * (((x.g+1) * (x.r*18 + x.c + 1)) % 65521) % 251
              + SUM(coalesce(pl.delta, 0))) % 256 AS v
      FROM cols_ x LEFT JOIN pl
        ON pl.doc_id = x.doc_id AND pl.rp = x.r AND pl.cp = x.c
      GROUP BY x.doc_id, x.g, x.r, x.c
    ),
    pool AS (
      SELECT doc_id, r // 2 AS pr, c // 2 AS pc, SUM(v) // 4 AS pv
      FROM px GROUP BY doc_id, r // 2, c // 2
    ),
    bit AS (
      SELECT doc_id, pr, pc,
             CASE WHEN lead(pv) OVER (
                    PARTITION BY doc_id, pr ORDER BY pc) > pv
                  THEN 1 ELSE 0 END AS b
      FROM pool
    ),
    band AS (
      SELECT doc_id, (pr*8 + pc) // 16 AS bi,
             SUM(b * (1 << ((pr*8 + pc) % 16))) AS bv
      FROM bit WHERE pc < 8 GROUP BY doc_id, (pr*8 + pc) // 16
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM band x JOIN band y
        ON x.bi = y.bi AND x.bv = y.bv AND x.doc_id < y.doc_id
    ),
    ham AS (
      SELECT c.a, c.b,
             SUM(bit_count(xor(xa.bv, xb.bv))) AS hamming
      FROM cand c
      JOIN band xa ON xa.doc_id = c.a
      JOIN band xb ON xb.doc_id = c.b AND xb.bi = xa.bi
      GROUP BY c.a, c.b
    ),
    grp AS (
      SELECT g, count(*) AS n_docs FROM d
      GROUP BY g HAVING count(*) >= 2
    ),
    found AS (
      SELECT ta.g, count(*) AS n_found
      FROM ham h
      JOIN d ta ON ta.doc_id = h.a
      JOIN d tb ON tb.doc_id = h.b AND tb.g = ta.g
      WHERE h.hamming <= 6
      GROUP BY ta.g
    )
    SELECT g,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_docs * (n_docs - 1) // 2 AS BIGINT) AS n_true,
           CAST(coalesce(n_found, 0) AS BIGINT) AS n_found,
           CAST(10000 * coalesce(n_found, 0)
                // (n_docs * (n_docs - 1) // 2) AS BIGINT) AS recall_bp
    FROM grp LEFT JOIN found USING (g) ORDER BY g
    """,
)
def q_bitmap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit for the visual-dedup tier (the q_ann_recall /
    q_pq_recall discipline applied to q_bitmap_phash): per image
    group, how many of the planted duplicate pairs did LSH banding +
    Hamming verification actually find? The audit corpus adds an
    adversarial distortion class the production query's fixture
    doesn't carry — eight scattered +100 pixels at row stride 2,
    touching every pooled row and flipping up to 16 hash bits across
    all four bands — so BOTH miss modes are live: candidate misses (no shared band
    survives) and verify rejections (hamming > 6). Ground truth is
    the generator's own group key; output is per-group
    (n_docs, n_true, n_found, recall_bp) with recall in float-free
    basis points. The oracle recomputes the full hash pipeline AND
    the truth join by integer arithmetic.

    Scale shape: identical to q_bitmap_phash (constant band
    occupancy via corpus-derived G) plus one partial-agg exchange on
    the group key for the truth counts; the audit output is one row
    per group — the dashboard table a dedup operator actually
    watches. At 100 TB you run this on a sampled stratum, exactly
    like q_pq_recall's sampled brute-force side."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    hashes, G = _phash_hashes(spark, sf_dir, heavy=True)
    pairs = _phash_pairs(hashes)

    truth = docs.select(
        "doc_id",
        (F.conv(F.substring(F.md5("text"), 1, 6), 16, 10).cast("long")
         % F.lit(G)).alias("g"),
    )
    grp = (
        truth.groupBy("g")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
    )
    found = (
        pairs.join(
            truth.select(F.col("doc_id").alias("a"),
                         F.col("g").alias("ga")), "a")
        .join(truth.select(F.col("doc_id").alias("b"),
                           F.col("g").alias("gb")), "b")
        .where(F.col("ga") == F.col("gb"))
        .groupBy(F.col("ga").alias("g"))
        .agg(F.count("*").alias("n_found"))
    )
    return (
        grp.join(found, "g", "left")
        .na.fill({"n_found": 0})
        .select(
            "g",
            F.col("n_docs").cast("long").alias("n_docs"),
            # integer `div` throughout: the oracle floors with `//`,
            # and double division can round up across the boundary
            F.expr("(n_docs * (n_docs - 1)) div 2").alias("n_true"),
            F.col("n_found").cast("long").alias("n_found"),
            F.expr(
                "(10000 * n_found) div ((n_docs * (n_docs - 1)) div 2)"
            ).alias("recall_bp"),
        )
        .orderBy("g")
    )


@query(
    "q_bitmap_phash",
    oracle="""
    WITH cnt AS (
      SELECT greatest(64, count(*) // 8) AS G FROM documents
    ),
    d AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(text), 1, 6) AS BIGINT)
               % (SELECT G FROM cnt) AS g,
             CAST('0x' || substr(md5(text), 7, 1) AS BIGINT) % 4 = 0
               AS pert,
             CAST('0x' || substr(md5(text), 8, 1) AS BIGINT) % 16 AS r0,
             CAST('0x' || substr(md5(text), 9, 2) AS BIGINT) % 18 AS c0
      FROM documents
    ),
    rows_ AS (SELECT *, unnest(range(16)) AS r FROM d),
    cols_ AS (SELECT *, unnest(range(18)) AS c FROM rows_),
    px AS (
      SELECT doc_id, r, c,
             ((((g+1) * (r*18 + c + 1)) % 65521)
               * (((g+1) * (r*18 + c + 1)) % 65521) % 251
              + CASE WHEN pert AND r = r0 AND c = c0
                     THEN 40 ELSE 0 END) % 256 AS v
      FROM cols_
    ),
    pool AS (
      SELECT doc_id, r // 2 AS pr, c // 2 AS pc, SUM(v) // 4 AS pv
      FROM px GROUP BY doc_id, r // 2, c // 2
    ),
    bit AS (
      SELECT doc_id, pr, pc,
             CASE WHEN lead(pv) OVER (
                    PARTITION BY doc_id, pr ORDER BY pc) > pv
                  THEN 1 ELSE 0 END AS b
      FROM pool
    ),
    band AS (
      SELECT doc_id, (pr*8 + pc) // 16 AS bi,
             SUM(b * (1 << ((pr*8 + pc) % 16))) AS bv
      FROM bit WHERE pc < 8 GROUP BY doc_id, (pr*8 + pc) // 16
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM band x JOIN band y
        ON x.bi = y.bi AND x.bv = y.bv AND x.doc_id < y.doc_id
    ),
    ham AS (
      SELECT c.a, c.b,
             SUM(bit_count(xor(xa.bv, xb.bv))) AS hamming
      FROM cand c
      JOIN band xa ON xa.doc_id = c.a
      JOIN band xb ON xb.doc_id = c.b AND xb.bi = xa.bi
      GROUP BY c.a, c.b
    )
    SELECT a, b, CAST(hamming AS BIGINT) AS hamming
    FROM ham WHERE hamming <= 6 ORDER BY a, b
    """,
)
def q_bitmap_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup pairs — the LAION-style visual
    dedup tier: every image corpus carries resized re-encodes and
    watermark/crop variants that byte-level dedup (q_dedup_exact on
    payload md5) can never merge. Each document builds a REAL 16x18
    grayscale PNG (encode → Arrow boundary as opaque binary →
    png_decode — the full codec round-trip), the hash kernel
    average-pools 2x2 to 8x9 and emits the 64-bit difference hash
    (dHash: bit = right neighbor brighter) as four 16-bit bands; the
    JVM side then runs exactly the MinHash-LSH shape on Hamming
    space — band-equality join for candidates (any shared band),
    bit_count(XOR) verification, hamming <= 6 survivors only.

    SCALE: the fixture's image-group count G = max(64, n // 8) is
    corpus-derived (one narrow count), so bucket occupancy — and
    with it candidate volume — stays constant as the corpus grows;
    the oracle computes the same G by scalar subquery and recomputes
    every pooled pixel, hash bit and band by integer arithmetic,
    never seeing the PNG bytes. A perturbed minority (one pixel +40,
    hash-picked position) keeps near-but-not-equal pairs in play so
    the Hamming verify is load-bearing.

    Scale shape: codec + hash are per-doc Arrow CPU (payload bytes
    never shuffle — only 4 band ints per image move); the candidate
    join shuffles on (band_idx, band_value) with constant occupancy;
    verification is pairs-only. At 100 TB this is the standard
    image-dedup plan: hashes are ~10^-6 of payload bytes."""
    hashes, _g = _phash_hashes(spark, sf_dir, heavy=False)
    pairs = _phash_pairs(hashes)
    return pairs.orderBy("a", "b")


def _phash_hashes(spark, sf_dir: str, heavy: bool):
    """dHash tier shared by q_bitmap_phash and q_bitmap_audit —
    returns (hashes DF, G) so the corpus-derived group count has ONE
    owner and the audit's truth join can never drift from the
    fixture generator:
    deterministic 16x18 PNG per doc (group pattern g = md5[0:6] %
    G, G = max(64, n//8) corpus-derived), REAL png encode/decode
    (the two kernels fuse into one Python stage — r13 opt — so the
    PNG bytes no longer cross Arrow between them), 2x2 average pool,
    64-bit dHash as four 16-bit bands. Distortion classes by md5[6]%4: class 0 = one
    pixel +40 (2 adjacent gradient bits, always caught); with
    heavy=True class 1 = eight scattered pixels +100 at row stride
    2, touching EVERY pooled row — up to 16 flipped bits across all
    four bands, so banding AND the hamming<=6 verify can genuinely
    miss (the audit's subject)."""
    import numpy as np

    from core_spark.multimodal.png import png_decode, png_encode

    docs = load_table(spark, sf_dir, "documents")
    n_corpus = docs.count()  # one narrow agg, house auto-knob norm
    G = max(64, n_corpus // 8)

    def attach(text):
        h = hashlib.md5(text.encode("utf-8")).hexdigest()
        g = int(h[0:6], 16) % G
        r = np.arange(16, dtype=np.int64)[:, None]
        c = np.arange(18, dtype=np.int64)[None, :]
        a = ((g + 1) * (r * 18 + c + 1)) % 65521
        img = (a * a) % 251
        cls = int(h[6], 16) % 4
        r0 = int(h[7], 16) % 16
        c0 = int(h[8:10], 16) % 18
        if cls == 0:
            img[r0, c0] = (img[r0, c0] + 40) % 256
        elif cls == 1 and heavy:
            for p in range(8):
                rp, cp = (r0 + 2 * p) % 16, (c0 + 5 * p) % 18
                img[rp, cp] = (img[rp, cp] + 100) % 256
        return png_encode(img.astype(np.uint8))

    k = np.arange(64) % 16

    def dhash(doc_id, payload):
        img = png_decode(bytes(payload))[:, :, 0].astype(np.int64)
        pool = (
            img[0::2, 0::2] + img[0::2, 1::2]
            + img[1::2, 0::2] + img[1::2, 1::2]
        ) // 4  # (8, 9)
        bits = (pool[:, 1:] > pool[:, :-1]).astype(np.int64).reshape(64)
        yield tuple(
            int(np.sum(bits[16 * b : 16 * b + 16] << k[16 * b : 16 * b + 16]))
            for b in range(4)
        )

    hashes = doc_kernel(
        payload_kernel(spread(docs.select("doc_id", "text")), attach),
        dhash,
        "doc_id long, b0 long, b1 long, b2 long, b3 long",
        col="payload",
    )
    return hashes, G


def _phash_pairs(hashes):
    """LSH-banded near-dup pairs over dHash bands: band-equality
    candidates, bit_count(XOR) Hamming verify, <=6 survivors."""
    from pyspark.sql import functions as F

    bands = hashes.select(
        "doc_id",
        F.posexplode(F.array("b0", "b1", "b2", "b3")).alias("bi", "bv"),
    )
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.bi") == F.col("y.bi"))
            & (F.col("x.bv") == F.col("y.bv"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b")
        )
        .distinct()
    )
    ha = hashes.select(
        F.col("doc_id").alias("a"),
        *[F.col(f"b{i}").alias(f"xa{i}") for i in range(4)],
    )
    hb = hashes.select(
        F.col("doc_id").alias("b"),
        *[F.col(f"b{i}").alias(f"xb{i}") for i in range(4)],
    )
    hamming = sum(
        F.bit_count(F.col(f"xa{i}").bitwiseXOR(F.col(f"xb{i}")))
        for i in range(4)
    ).cast("long")
    return (
        cand.join(ha, "a")
        .join(hb, "b")
        .select("a", "b", hamming.alias("hamming"))
        .where(F.col("hamming") <= 6)
    )


@query(
    "q_audio_vad",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             2 + CAST('0x' || substr(md5(text), 1, 1) AS BIGINT) % 3
               AS runlen,
             20 + CAST('0x' || substr(md5(text), 2, 1) AS BIGINT) % 10
               AS nframes,
             2000 + CAST('0x' || substr(md5(text), 3, 1) AS BIGINT) * 100
               AS amp,
             3 + CAST('0x' || substr(md5(text), 4, 1) AS BIGINT) % 5
               AS k
      FROM documents
    ),
    f AS (SELECT *, unnest(range(nframes)) AS fr FROM p),
    s AS (SELECT *, unnest(range(160)) AS smp FROM f),
    e AS (
      SELECT doc_id, fr,
             SUM(x * x) AS energy
      FROM (
        SELECT doc_id, fr,
               CASE WHEN (fr // runlen) % 2 = 0
                    THEN ((fr * 160 + smp) * k) % (2 * amp) - amp
                    ELSE ((fr * 160 + smp) * 7) % 21 - 10
               END AS x
        FROM s
      ) GROUP BY doc_id, fr
    ),
    v AS (
      SELECT doc_id, fr, energy,
             energy > 1000000 OR coalesce(
               lag(energy > 1000000) OVER (
                 PARTITION BY doc_id ORDER BY fr), false) AS sp
      FROM e
    ),
    isl AS (
      SELECT doc_id, fr, energy,
             fr - row_number() OVER (
               PARTITION BY doc_id ORDER BY fr) AS grp
      FROM v WHERE sp
    ),
    seg AS (
      SELECT doc_id, grp,
             min(fr) AS seg_start, max(fr) AS seg_end,
             count(*) AS n_frames, SUM(energy) AS seg_energy
      FROM isl GROUP BY doc_id, grp
    )
    SELECT doc_id,
           row_number() OVER (
             PARTITION BY doc_id ORDER BY seg_start) AS seg_idx,
           CAST(seg_start AS BIGINT) AS seg_start,
           CAST(seg_end AS BIGINT) AS seg_end,
           CAST(n_frames AS BIGINT) AS n_frames,
           CAST(seg_energy AS BIGINT) AS seg_energy
    FROM seg ORDER BY doc_id, seg_start
    """,
)
def q_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-based voice-activity detection — the silence-trimming
    gate an audio-corpus curation pass runs before transcription
    (only speech segments are worth ASR compute). Each document
    builds a REAL RIFF/WAVE payload (PCM16 mono 8 kHz; an md5-picked
    alternation of sawtooth "speech" bursts and near-silence noise
    floor), and the decode kernel, fused with the builder into one
    MapInPandas stage, plays it back through wav_decode into per-20 ms-frame integer
    energies. Everything after the codec is JVM-side: threshold,
    one-frame hangover (speech extends one frame past the last hot
    frame — the standard VAD release), gaps-and-islands
    segmentation with window functions, per-segment aggregates. The
    oracle recomputes frame energies by pure integer arithmetic from
    the same md5 — it never sees the WAV bytes — and runs the same
    islands SQL, so the hash check pins codec round-trip, energy
    math and segment merge at once.

    Scale shape: codec work is per-doc Arrow-kernel CPU (scales out
    with executors); one hash exchange on doc_id serves BOTH the
    hangover window and the segment aggregate (plan-verified: the
    (doc_id, grp) clustering is satisfied by the doc_id
    partitioning), over frame rows that are tiny next to the payload
    bytes, which never move. At 100 TB the segments table IS the ASR
    work queue: byte ranges of speech, fetched directly."""
    import numpy as np
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from core_spark.multimodal.wav import WAVE_PCM, build_wav, wav_decode

    docs = spread(load_table(spark, sf_dir, "documents"))

    def attach(text):
        h = hashlib.md5(text.encode("utf-8")).hexdigest()
        runlen = 2 + int(h[0], 16) % 3
        nframes = 20 + int(h[1], 16) % 10
        amp = 2000 + int(h[2], 16) * 100
        k = 3 + int(h[3], 16) % 5
        i = np.arange(nframes * 160, dtype=np.int64)
        fr = i // 160
        voiced = (fr // runlen) % 2 == 0
        x = np.where(
            voiced,
            (i * k) % (2 * amp) - amp,
            (i * 7) % 21 - 10,
        )
        return build_wav(WAVE_PCM, 8000, 1, 16, x.astype("<i2").tobytes())

    def energies(doc_id, payload):
        pcm, rate, bits = wav_decode(bytes(payload))
        assert rate == 8000 and bits == 16
        frames = pcm[:, 0].reshape(-1, 160)
        for fr, en in enumerate((frames * frames).sum(axis=1)):
            yield fr, int(en)

    per_frame = doc_kernel(
        payload_kernel(docs, attach),
        energies,
        "doc_id long, fr long, energy long",
        col="payload",
    )

    w = Window.partitionBy("doc_id").orderBy("fr")
    hot = F.col("energy") > 1_000_000
    sp = hot | F.coalesce(F.lag(hot).over(w), F.lit(False))
    speech = (
        per_frame.withColumn("sp", sp)
        .where("sp")
        .withColumn("grp", F.col("fr") - F.row_number().over(w))
    )
    seg = speech.groupBy("doc_id", "grp").agg(
        F.min("fr").alias("seg_start"),
        F.max("fr").alias("seg_end"),
        F.count("*").alias("n_frames"),
        F.sum("energy").alias("seg_energy"),
    )
    wseg = Window.partitionBy("doc_id").orderBy("seg_start")
    return (
        seg.select(
            "doc_id",
            F.row_number().over(wseg).cast("long").alias("seg_idx"),
            "seg_start",
            "seg_end",
            "n_frames",
            "seg_energy",
        )
        .orderBy("doc_id", "seg_start")
    )


@query(
    "q_audio_segments",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             60 + CAST('0x' || substr(md5(text), 1, 4) AS BIGINT) % 120
               AS n,
             CAST('0x' || substr(md5(text), 5, 4) AS BIGINT) AS s0
      FROM documents
    ),
    f AS (
      SELECT doc_id, n, s0, unnest(range(n)) AS i FROM p
    ),
    z AS (
      SELECT doc_id, i,
             CASE (s0 + 7 * i) % 5
               WHEN 0 THEN 96 WHEN 1 THEN 112 WHEN 2 THEN 128
               WHEN 3 THEN 160 ELSE 192 END AS kbps,
             (i * 1152 * 1000) // 44100 AS t_ms
      FROM f
    ),
    w AS (
      SELECT doc_id, i, t_ms // 1000 AS seg,
             144 * kbps * 1000 // 44100 AS sz,
             SUM(144 * kbps * 1000 // 44100)
               OVER (PARTITION BY doc_id ORDER BY i
                     ROWS UNBOUNDED PRECEDING)
               - 144 * kbps * 1000 // 44100 AS rel_off
      FROM z
    )
    SELECT doc_id,
           CAST(seg AS BIGINT) AS seg_idx,
           CAST(seg * 1000 AS BIGINT) AS t_ms,
           CAST(MIN(rel_off) AS BIGINT) AS off,
           CAST(SUM(sz) AS BIGINT) AS n_bytes,
           COUNT(*) AS n_frames
    FROM w GROUP BY doc_id, seg
    ORDER BY doc_id, seg_idx
    """,
)
def q_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio segment fetch planning — the MP3 twin of
    q_av_keyframes: each document becomes a genuine VBR MPEG1
    Layer III stream (frame count and per-frame bitrate sequence
    md5-derived so the oracle recomputes the byte layout), and the
    walk kernel (multimodal/wav.py mp3_segments) groups real frame
    headers into per-second byte ranges — the ranged-GET list that
    serves \"the clip at t=Ns\" out of object storage without
    streaming whole files. Because the stream is VBR, a correct plan
    must walk every header rather than extrapolate the first frame's
    size; the oracle's prefix-sum over the varying sizes checks
    exactly that. Both stages are executor-side mapInPandas."""
    docs = spread_ranged(load_table(spark, sf_dir, "documents"), "doc_id")
    return plan_audio_fetch(attach_mp3_payload(docs)).sortWithinPartitions(
        "doc_id", "seg_idx"
    )


@query(
    "q_av_captions",
    oracle="""
    WITH p AS (
      SELECT doc_id, string_split(text, ' ') AS words,
             1800 + CAST('0x' || substr(md5(text), 1, 4) AS BIGINT)
               % 1700 AS dur
      FROM documents
    ),
    f AS (
      SELECT doc_id, words, dur,
             unnest(range((len(words) + 7) // 8)) AS i
      FROM p
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS cue_idx,
           CAST(i * dur AS BIGINT) AS t0_ms,
           CAST((i + 1) * dur AS BIGINT) AS t1_ms,
           array_to_string(list_slice(words, i * 8 + 1, i * 8 + 8), ' ')
             AS cue_text
    FROM f ORDER BY doc_id, cue_idx
    """,
)
def q_av_captions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebVTT caption extraction — the transcript-mining step that
    turns a video corpus into (clip time range, text) training
    pairs: each document becomes a genuine WebVTT file (words tiled
    8 per cue, md5-derived timing, plus the decorations a parser
    must handle: cue identifiers, settings, inline <b> markup, NOTE
    blocks), and the parse kernel (multimodal/vtt.py) walks the
    real format per the W3C spec — signature check, block
    segmentation, HH:MM:SS.mmm timing lines, markup stripping —
    into cue rows whose boundaries and timestamps the oracle
    recomputes. Both stages are executor-side mapInPandas fan-out;
    invalid blocks are skipped per spec, non-VTT payloads raise the
    named VttError."""
    docs = spread_ranged(load_table(spark, sf_dir, "documents"), "doc_id")
    from core_spark.multimodal import attach_vtt_payload, extract_captions

    return extract_captions(attach_vtt_payload(docs)).sortWithinPartitions(
        "doc_id", "cue_idx"
    )


# Fixed fragmented-container header size (ftyp + moov incl. mvex):
# the first moof starts here. Pinned against the builder's real
# bytes in tests/test_multimodal.py::test_fmp4_fragment_plan_roundtrip.
_FMP4_HEADER = 397


@query(
    "q_av_fmp4",
    oracle=f"""
    WITH p AS (
      SELECT doc_id,
             2 + CAST('0x' || substr(md5(text), 1, 2) AS BIGINT) % 4 AS nf,
             20 + CAST('0x' || substr(md5(text), 3, 2) AS BIGINT) % 60
               AS delta,
             CAST('0x' || substr(md5(text), 5, 4) AS BIGINT) AS s0,
             CAST('0x' || substr(md5(text), 9, 2) AS BIGINT) AS s1
      FROM documents
    ),
    f AS (
      SELECT doc_id, delta, s0, s1, unnest(range(nf)) AS j FROM p
    ),
    k AS (
      SELECT doc_id, delta, s0, j, 4 + (s1 + 11 * j) % 13 AS k FROM f
    ),
    w AS (
      SELECT doc_id, delta, s0, j, k,
             SUM(k) OVER (PARTITION BY doc_id ORDER BY j
                          ROWS UNBOUNDED PRECEDING) - k AS g0
      FROM k
    ),
    z AS (
      SELECT doc_id, j, s0, g0, unnest(range(k)) AS i FROM w
    ),
    b AS (
      SELECT doc_id, j,
             SUM(64 + (s0 + 37 * (g0 + i)) % 191) AS frag_bytes
      FROM z GROUP BY doc_id, j
    ),
    m AS (
      SELECT w.doc_id, w.j, w.k, w.g0, w.delta, w.s0,
             SUM(92 + 4 * w.k + 8 + b.frag_bytes)
               OVER (PARTITION BY w.doc_id ORDER BY w.j
                     ROWS UNBOUNDED PRECEDING)
               - (92 + 4 * w.k + 8 + b.frag_bytes) AS rel
      FROM w JOIN b ON w.doc_id = b.doc_id AND w.j = b.j
    )
    SELECT doc_id,
           CAST(j + 1 AS BIGINT) AS frag_seq,
           CAST(g0 AS BIGINT) AS sample_idx,
           CAST(g0 * delta AS BIGINT) AS t_ms,
           CAST({_FMP4_HEADER} + rel + 100 + 4 * k AS BIGINT) AS off,
           CAST(64 + (s0 + 37 * g0) % 191 AS BIGINT) AS size
    FROM m ORDER BY doc_id, frag_seq
    """,
)
def q_av_fmp4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe fetch planning for FRAGMENTED (CMAF/DASH) movies —
    the streaming-packaged shape that dominates a real video corpus
    and that the stbl walk (q_av_keyframes) honestly declines: each
    document becomes a genuine fragmented container (fragment count,
    per-fragment sample counts, per-sample sizes and timing all
    md5-derived so the oracle recomputes the byte layout), and the
    walk kernel (multimodal/mp4.py mp4_fragment_keyframes) parses the
    moof/traf boxes — tfhd defaults + default-base-is-moof, tfdt
    decode time, trun data offsets and per-sample sizes/flags — into
    the ranged-GET list of sync samples. Unlike the stbl plan,
    sample placement here is relative to each moof, so the plan must
    carry every fragment's file position through; the oracle's
    prefix-sum over moof+mdat extents checks exactly that. Both
    stages are executor-side mapInPandas; tests pin the offsets
    against the actual bytes by slicing each fragment's mdat.
    Reference parity: gazette moves opaque serializations only
    (message/interfaces.go:121-124); container parsing is
    executor-side kernel work."""
    docs = spread_ranged(load_table(spark, sf_dir, "documents"), "doc_id")
    return plan_fragment_fetch(attach_fmp4_payload(docs)).sortWithinPartitions(
        "doc_id", "frag_seq"
    )


# Fixed v0 video-only container header size up to the chunk base:
# chunk_off = _KF_HEADER + 4*n (stsz entries) + 4*ceil(n/ks) (stss
# entries). Pinned against the builder's real stco in
# tests/test_multimodal.py::test_mp4_keyframe_plan_roundtrip.
_KF_HEADER = 473


@query(
    "q_av_keyframes",
    oracle=f"""
    WITH p AS (
      SELECT doc_id,
             8 + CAST('0x' || substr(md5(text), 1, 4) AS BIGINT) % 25 AS n,
             1 + CAST('0x' || substr(md5(text), 5, 2) AS BIGINT) % 5 AS ks,
             20 + CAST('0x' || substr(md5(text), 7, 2) AS BIGINT) % 60
               AS delta,
             CAST('0x' || substr(md5(text), 9, 4) AS BIGINT) AS s0
      FROM documents
    ),
    s AS (
      SELECT doc_id, n, ks, delta, s0,
             unnest(range(n)) AS i
      FROM p
    ),
    z AS (
      SELECT doc_id, n, ks, delta, i,
             64 + (s0 + 37 * i) % 191 AS sz,
             SUM(64 + (s0 + 37 * i) % 191)
               OVER (PARTITION BY doc_id ORDER BY i
                     ROWS UNBOUNDED PRECEDING)
               - (64 + (s0 + 37 * i) % 191) AS rel_off
      FROM s
    )
    SELECT doc_id,
           CAST(i // ks AS BIGINT) AS kf_idx,
           CAST(i AS BIGINT) AS sample_idx,
           CAST(i * delta AS BIGINT) AS t_ms,
           CAST({_KF_HEADER} + 4 * n + 4 * ((n + ks - 1) // ks)
                + rel_off AS BIGINT) AS off,
           CAST(sz AS BIGINT) AS size
    FROM z WHERE i % ks = 0
    ORDER BY doc_id, kf_idx
    """,
)
def q_av_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe fetch planning from real sample tables — the
    100 TB-video move: each document becomes a genuine ISO-BMFF
    container whose stts/stss/stsc/stsz/stco boxes are populated
    (frame count / sync cadence / timing / sizes md5-derived so the
    oracle recomputes the whole plan), and the walk kernel
    (multimodal/mp4.py mp4_keyframes) turns the tables into the
    ranged-GET list — absolute byte offset + size per sync sample —
    that lets a curation pass decode ONLY keyframes out of object
    storage instead of streaming whole movies. Both stages are
    executor-side mapInPandas; the oracle reproduces every offset
    including the container header arithmetic, and tests pin the
    offsets against the actual bytes by slicing the mdat."""
    docs = spread_ranged(load_table(spark, sf_dir, "documents"), "doc_id")
    return plan_video_fetch(attach_mp4_stream_payload(docs)).sortWithinPartitions(
        "doc_id", "kf_idx"
    )


@query(
    "q_multimodal_meta",
    oracle="""
    SELECT doc_id,
           'image/png' AS mime,
           64 + CAST('0x' || substr(md5(text), 1, 4) AS BIGINT) % 512 AS width,
           64 + CAST('0x' || substr(md5(text), 9, 4) AS BIGINT) % 512 AS height,
           strlen(text) AS n_bytes
    FROM documents ORDER BY doc_id
    """,
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column → typed metadata via the Arrow-batched
    mapInPandas decode stage (core_spark/multimodal/columns.py). The
    payload is the document's UTF-8 bytes (no media libs in this
    container); the decode derivation is md5-based, so the oracle
    reproduces it byte-for-byte — proving the plumbing (schema, batch
    shape, worker self-containment) rather than a codec."""
    docs = spread_ranged(load_table(spark, sf_dir, "documents"), "doc_id")
    return decode_image_meta(attach_payload(docs)).sortWithinPartitions("doc_id")


@query(
    "q_multimodal_frames",
    oracle="""
    WITH d AS (SELECT doc_id, strlen(text) AS len FROM documents),
    f AS (
      SELECT doc_id,
             unnest(range(CAST(greatest(1, len // 100) AS BIGINT))) AS frame_idx,
             len
      FROM d
    )
    SELECT doc_id, frame_idx,
           frame_idx * 1000 AS offset_ms,
           least(100, len - frame_idx * 100) AS n_bytes
    FROM f ORDER BY doc_id, frame_idx
    """,
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: one media payload exploded into fixed-interval
    frames inside the Arrow stage (the fan-out shape of audio/video
    frame extraction — output rows >> input rows, produced
    executor-side with no driver involvement). Fake framing treats
    every 100 payload bytes as one second; the oracle reproduces the
    arithmetic from the text length."""
    from core_spark.multimodal import sample_audio_frames

    docs = spread_ranged(load_table(spark, sf_dir, "documents"), "doc_id")
    return sample_audio_frames(attach_payload(docs)).sortWithinPartitions(
        "doc_id", "frame_idx"
    )


@query(
    "q_multimodal_resize",
    oracle="""
    WITH t AS (SELECT doc_id, substr(text, 1, 1024) AS cut FROM documents)
    SELECT doc_id,
           'image/png' AS mime,
           64 + CAST('0x' || substr(md5(cut), 1, 4) AS BIGINT) % 512 AS width,
           64 + CAST('0x' || substr(md5(cut), 9, 4) AS BIGINT) % 512 AS height,
           strlen(cut) AS n_bytes
    FROM t ORDER BY doc_id
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transform composition: resize (payload → bounded payload) then
    metadata decode, two chained Arrow stages over the same binary
    column — the map-map pipeline a real thumbnail+index pass runs.
    Fake resize truncates to max_side*4 bytes deterministically, so
    the oracle recomputes the downstream md5 on the truncated text."""
    from core_spark.multimodal import resize_images

    docs = spread_ranged(load_table(spark, sf_dir, "documents"), "doc_id")
    resized = resize_images(attach_payload(docs), max_side=256)
    return decode_image_meta(resized).sortWithinPartitions("doc_id")


@query(
    "q_frame_sample",
    oracle="""
    WITH d AS (SELECT doc_id, text, strlen(text) AS len FROM documents),
    f AS (
      SELECT doc_id, text,
             unnest(range(CAST(greatest(1, len // 200) AS BIGINT)))
               AS frame_idx
      FROM d
    )
    SELECT doc_id, frame_idx,
           frame_idx * 1000 AS t_ms,
           64 + CAST('0x' || substr(md5(text), 1, 4) AS BIGINT) % 512
             AS width,
           64 + CAST('0x' || substr(md5(text), 9, 4) AS BIGINT) % 512
             AS height,
           (CAST('0x' || substr(md5(text || ':' ||
                 CAST(frame_idx AS VARCHAR)), 1, 8) AS BIGINT)
            % 256000) / 1000.0 AS mean_luma
    FROM f ORDER BY doc_id, frame_idx
    """,
)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling: each payload played back and sampled at
    fixed timestamps inside the Arrow stage (columns.
    sample_video_frames) — the temporal-subsample fan-out of a video
    curation pass, with per-frame dimensions and mean luma. Real
    mode composites animated GIF with full disposal semantics
    (multimodal/gif.py gif_frames, exercised in
    tests/test_multimodal.py); the fake mode run here derives every
    output from md5 arithmetic the oracle reproduces, proving the
    schema/batching/fan-out plumbing on text payloads."""
    from core_spark.multimodal import sample_video_frames

    docs = spread_ranged(load_table(spark, sf_dir, "documents"), "doc_id")
    return sample_video_frames(attach_payload(docs)).sortWithinPartitions(
        "doc_id", "frame_idx"
    )


@query(
    "q_cc_pdf",
    oracle="""
    WITH p AS (
      SELECT doc_id, string_split(text, ' ') AS w,
             5 + CAST('0x' || substr(md5(text), 1, 1) AS BIGINT) % 4
               AS wpp,
             2000 + CAST('0x' || substr(md5(text), 2, 2) AS BIGINT) % 26
               AS yy,
             1 + CAST('0x' || substr(md5(text), 4, 1) AS BIGINT) % 12
               AS mm,
             1 + CAST('0x' || substr(md5(text), 5, 1) AS BIGINT) % 28
               AS dd
      FROM documents
    ),
    f AS (
      SELECT doc_id, w, wpp, yy, mm, dd,
             greatest(1, (len(w) + wpp - 1) // wpp) AS np,
             unnest(range(greatest(1, (len(w) + wpp - 1) // wpp))) AS i
      FROM p
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS page_idx,
           CAST(np AS BIGINT) AS page_count,
           array_to_string(list_slice(w, i * wpp + 1, i * wpp + wpp), ' ')
             AS page_text,
           'D:' || printf('%04d%02d%02d', yy, mm, dd) || '120000Z'
             AS created
    FROM f ORDER BY doc_id, page_idx
    """,
)
def q_cc_pdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF text mining (multimodal/pdf.py): each document becomes a
    REAL PDF 1.4 file — FlateDecode-compressed content streams, an
    exact xref table, an /Info dict — and the extraction kernel
    performs the genuine file walk (startxref → xref → catalog →
    pages tree → inflate → Tj/TJ content-stream tokenizer) back to
    per-page text plus page_count and the md5-derived CreationDate,
    the fields a document-corpus curation gate filters on. Page
    word-tiling is md5-derived so the DuckDB oracle recomputes every
    page boundary; even pages exercise the single-string Tj path and
    odd pages the kerned TJ-array path (word breaks at kerning <=
    -100 thousandths of an em). Independent md5 nibbles additionally
    rotate each document across the real-world form space (see
    attach_pdf_payload): classic vs xref-STREAM cross-reference,
    simple vs CID-/ToUnicode vs /Differences-remapped fonts, and
    plaintext vs RC4-40/RC4-128/AES-128/AES-256 standard-handler
    encryption with empty passwords — extraction is form-independent by
    construction, so the oracle stays pure word-tiling math while
    the driver run exercises every decode path. Payload bytes never
    reach the JVM plan at all: build and extract fuse into ONE
    executor-side mapInPandas stage (r13 opt, columns.py:_kernel), so
    the PDF bytes stay inside the Python worker between them.

    Scale shape: map-side only, zero post-kernel shuffles — the
    spread exchange is range-keyed on doc_id (io.py:spread_ranged,
    r13 opt) so the presentation order comes from a within-partition
    sort: the kernel runs exactly once (a global orderBy's range
    sampling would execute it twice) and its output never crosses
    another exchange. Per-doc codec CPU scales out with executors
    exactly like q_av_meta/q_crawl_extract."""
    from core_spark.multimodal import attach_pdf_payload, extract_pdf_pages

    docs = spread_ranged(load_table(spark, sf_dir, "documents"), "doc_id")
    return extract_pdf_pages(attach_pdf_payload(docs)).sortWithinPartitions(
        "doc_id", "page_idx"
    )


@query(
    "q_cc_docx",
    oracle="""
    WITH p AS (
      SELECT doc_id, string_split(text, ' ') AS w, md5(text) AS h
      FROM documents
    ),
    c AS (
      SELECT doc_id, w,
             CAST('0x' || substr(h, 4, 1) AS BIGINT) % 4 AS form,
             (len(w) + 12) // 13 AS np
      FROM p
    ),
    f AS (SELECT *, unnest(range(np)) AS j FROM c),
    s AS (
      SELECT doc_id, form, j,
             list_slice(w, j * 13 + 1, j * 13 + 13) AS cw
      FROM f
    )
    SELECT doc_id, CAST(j AS BIGINT) AS block_idx,
           CAST(form AS BIGINT) AS form, 'p' AS kind,
           array_to_string(cw, ' ') AS block_text
    FROM s WHERE form IN (0, 1)
    UNION ALL
    SELECT doc_id, CAST(j AS BIGINT), CAST(form AS BIGINT), 'p',
           chr(9) || cw[1] || chr(10) ||
           COALESCE(array_to_string(list_slice(cw, 2, len(cw)), ' '), '')
    FROM s WHERE form = 2
    UNION ALL
    SELECT doc_id, CAST(2 * j + u.cc AS BIGINT),
           CAST(form AS BIGINT), 'tc',
           CASE WHEN u.cc = 0
                THEN array_to_string(list_slice(cw, 1, 6), ' ')
                ELSE COALESCE(
                  array_to_string(list_slice(cw, 7, len(cw)), ' '), '')
           END
    FROM s CROSS JOIN (SELECT unnest([0, 1]) AS cc) u
    WHERE form = 3
    ORDER BY doc_id, block_idx
    """,
)
def q_cc_docx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOCX text mining (multimodal/docx.py over the from-spec ZIP
    walker, functions/ziparchive.py): each document becomes a REAL
    OPC package — deflated ``[Content_Types].xml`` + ``_rels/.rels``
    + WordprocessingML main part — and the kernel performs the
    genuine extraction walk: central directory → rels-resolved main
    part → namespace-URI XML walk → per-block text with split runs
    reassembled, tracked deletions EXCLUDED, tabs/breaks mapped and
    tables expanded row-major. An md5 nibble rotates each document
    across the real-world form space (build_docx_fixture): simple
    runs / Word-style split-run noise (rsid, proofErr, bookmarks, a
    w:del that must vanish, a kept w:ins) / tab+break paragraphs in
    a DEFAULT-namespace document (URI matching, not prefix) / a
    two-cell table behind a NONSTANDARD part name (rels-following).
    Extraction is form-independent for forms 0/1 and
    layout-arithmetic for 2/3, so the oracle recomputes every block
    from 13-word chunk math alone while the driver run exercises
    every decode path. The zip layer is pinned against stdlib
    zipfile both directions (tests/test_ziparchive.py) — an
    independent writer the PDF tier lacks.

    Scale shape: one round-robin exchange (spread) into one Arrow
    map stage; zero shuffles before the presentation sort — per-doc
    parse CPU that scales out with executors, the q_cc_pdf class.

    Corpus purity note (fixture-coupled oracle convention):
    documents are ASCII, single-space separated, no XML
    metacharacters after _esc, so DuckDB string math and the
    builder's UTF-8 bytes agree."""
    from core_spark.multimodal.docx import build_docx_fixture, docx_blocks

    docs = spread_ranged(load_table(spark, sf_dir, "documents"), "doc_id")

    def walk(doc_id, text):
        digest = hashlib.md5(text.encode("utf-8")).hexdigest()
        form = int(digest[3], 16) % 4
        blob = build_docx_fixture(text, digest)
        for b in docx_blocks(blob):
            yield b["block_idx"], form, b["kind"], b["text"]

    return (
        doc_kernel(
            docs,
            walk,
            "doc_id long, block_idx long, form long,"
            " kind string, block_text string",
        )
        .sortWithinPartitions("doc_id", "block_idx")
    )


@query(
    "q_cc_sniff",
    oracle="""
    WITH p AS (
      SELECT doc_id, string_split(text, ' ') AS w, md5(text) AS h
      FROM documents
    ),
    c AS (
      SELECT doc_id, len(w) AS nw,
             CAST('0x' || substr(h, 16, 1) AS BIGINT) % 8 AS f,
             5 + CAST('0x' || substr(h, 1, 1) AS BIGINT) % 4 AS wpp,
             CAST('0x' || substr(h, 4, 1) AS BIGINT) % 4
               AS docx_form,
             CAST('0x' || substr(h, 15, 1) AS BIGINT) % 4
               AS eml_form
      FROM p
    )
    SELECT doc_id,
           (['pdf', 'docx', 'xlsx', 'odt', 'epub', 'rtf', 'eml',
             'html'])[f + 1] AS fmt,
           CAST(CASE f
             WHEN 0 THEN greatest(1, (nw + wpp - 1) // wpp)
             WHEN 1 THEN CASE WHEN docx_form = 3
                  THEN 2 * ((nw + 12) // 13)
                  ELSE (nw + 12) // 13 END
             WHEN 2 THEN nw
             WHEN 3 THEN (nw + 10) // 11
             WHEN 4 THEN (nw + 20) // 21
             WHEN 5 THEN (nw + 8) // 9
             WHEN 6 THEN CASE WHEN eml_form = 1 THEN 2 ELSE 1 END
             ELSE (nw + 19) // 20 END AS BIGINT) AS n_units
    FROM c ORDER BY doc_id
    """,
)
def q_cc_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content sniffing + dispatch (multimodal/sniff.py) — the
    Tika-style router a MIXED corpus needs before any per-format
    pass: an md5 nibble deals each document one of EIGHT real
    payload shapes (PDF / DOCX / XLSX / ODT / EPUB / RTF / EML /
    HTML, each via its own full fixture builder with its internal
    form rotation still active), and the kernel must detect the
    format from magic bytes alone — ZIP-family types disambiguated
    by looking INSIDE the container (OCF mimetype members, OOXML
    content-type parts), never by extension — then dispatch into
    the REAL extractor and report its unit count (pages / blocks /
    cells / paragraphs / chapters / MIME parts / kept text blocks).
    The oracle recomputes both the dealt format and each format's
    unit arithmetic, so a misrouted payload fails on fmt and a
    short-circuited extraction fails on n_units. Unknown payloads
    report 'unknown' and raise on dispatch — the router never
    fabricates a success (tests).

    Scale shape: one spread() exchange into one Arrow map stage;
    zero shuffles before the presentation sort. At 100 TB this IS
    the ingestion entry point: detection is a prefix read (plus a
    tail ranged GET for the zip family), and the per-format
    extractors fan out from here."""
    from core_spark.multimodal.sniff import (
        build_mixed_payload,
        detect_format,
        dispatch_extract,
    )

    docs = spread_ranged(load_table(spark, sf_dir, "documents"), "doc_id")

    def walk(doc_id, text):
        digest = hashlib.md5(text.encode("utf-8")).hexdigest()
        _true_fmt, raw = build_mixed_payload(text, digest)
        fmt = detect_format(raw)
        yield fmt, dispatch_extract(raw, fmt)

    return (
        doc_kernel(docs, walk, "doc_id long, fmt string, n_units long")
        .sortWithinPartitions("doc_id")
    )


@query(
    "q_cc_odt",
    oracle="""
    WITH p AS (
      SELECT doc_id, string_split(text, ' ') AS w, md5(text) AS h
      FROM documents
    ),
    c AS (
      SELECT doc_id, w,
             CAST('0x' || substr(h, 13, 1) AS BIGINT) % 4 AS form,
             (len(w) + 10) // 11 AS np
      FROM p
    ),
    f AS (SELECT *, unnest(range(np)) AS j FROM c),
    s AS (
      SELECT doc_id, form, j,
             list_slice(w, j * 11 + 1, j * 11 + 11) AS cw
      FROM f
    )
    SELECT doc_id, CAST(j AS BIGINT) AS para_idx,
           CAST(form AS BIGINT) AS form,
           CASE WHEN form = 3 AND j % 3 = 0 THEN 'h'
                ELSE 'p' END AS kind,
           CASE WHEN form = 2
                THEN cw[1] || chr(9) || COALESCE(
                  array_to_string(list_slice(cw, 2, len(cw)), '   '),
                  '')
                ELSE array_to_string(cw, ' ')
           END AS para_text
    FROM s ORDER BY doc_id, para_idx
    """,
)
def q_cc_odt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ODT text mining (multimodal/odt.py over the zip walker): each
    document becomes a REAL OpenDocument package — stored mimetype
    magic, manifest, content.xml — and the kernel walks office:body/
    office:text with the ODF §6.1 whitespace rules most extractors
    get wrong: ``text:s text:c="N"`` EXPANDS to N spaces (ODF
    compresses space runs — ignoring it silently shortens every
    multi-space gap; form 2's three-space joins prove the expansion
    under the driver oracle), tabs/line-breaks map, spans nest
    transparently, office:annotation margin comments and text:note
    footnote bodies are EXCLUDED (form 1 plants both — same
    extracted text as plain paragraphs), and text:h headings /
    text:list items keep document order with their kind reported
    (form 3). Wrong mimetype / missing content.xml / malformed XML
    raise the named OdtError.

    Scale shape: one spread() exchange into one Arrow map stage;
    zero shuffles before the presentation sort — the q_cc_docx
    class."""
    from core_spark.multimodal.odt import build_odt_fixture, odt_paragraphs

    docs = spread_ranged(load_table(spark, sf_dir, "documents"), "doc_id")

    def walk(doc_id, text):
        digest = hashlib.md5(text.encode("utf-8")).hexdigest()
        form = int(digest[12], 16) % 4
        for b in odt_paragraphs(build_odt_fixture(text, digest)):
            yield b["para_idx"], form, b["kind"], b["text"]

    return (
        doc_kernel(
            docs,
            walk,
            "doc_id long, para_idx long, form long,"
            " kind string, para_text string",
        )
        .sortWithinPartitions("doc_id", "para_idx")
    )


@query(
    "q_cc_xlsx",
    oracle="""
    WITH p AS (
      SELECT doc_id, string_split(text, ' ') AS w, md5(text) AS h
      FROM documents
    ),
    c AS (
      SELECT doc_id, w,
             CAST('0x' || substr(h, 7, 1) AS BIGINT) % 4 AS form,
             ((len(w) + 4) // 5 + 1) // 2 AS split
      FROM p
    ),
    f AS (SELECT *, unnest(range(len(w))) AS k FROM c),
    s AS (
      SELECT doc_id, form, split, k,
             w[k + 1] AS word, k // 5 AS gr, k % 5 AS col
      FROM f
    ),
    o AS (
      SELECT *,
             CASE WHEN form = 3 AND gr >= split THEN 1 ELSE 0 END
               AS sh
      FROM s
    )
    SELECT doc_id,
           CAST(sh AS BIGINT) AS sheet_idx,
           'S' || CAST(sh AS VARCHAR) AS sheet_name,
           CAST(gr - CASE WHEN sh = 1 THEN split ELSE 0 END
                AS BIGINT) AS row_idx,
           CAST(col AS BIGINT) AS col_idx,
           CASE WHEN k % 3 = 2 THEN 'n' ELSE 's' END AS kind,
           CASE WHEN k % 3 = 2 THEN CAST(strlen(word) + k AS VARCHAR)
                ELSE word END AS cell_value,
           CAST(form AS BIGINT) AS form
    FROM o ORDER BY doc_id, sheet_idx, row_idx, col_idx
    """,
)
def q_cc_xlsx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XLSX cell extraction (multimodal/xlsx.py over the zip
    walker): each document becomes a REAL SpreadsheetML package —
    package rels → workbook → workbook rels → worksheet parts +
    shared-string table — and the kernel performs the genuine
    extraction walk: A1 references decoded (multi-letter columns,
    the sequential-inference rule for cells omitting ``r``),
    shared-string indices resolved (deduplicated entries, rich-text
    runs concatenated), inline strings, formula cells read through
    their CACHED value, sheets in workbook order. An md5 nibble
    rotates the REPRESENTATION across shared-strings /
    inline-strings-with-prefixed-namespace / rich-text-runs-plus-
    formula-cells / two-sheets-with-nonstandard-part-names while
    the LOGICAL cells stay identical — so the oracle is pure
    word-tiling arithmetic (5-column rows; every third cell numeric
    with value strlen+k) and the driver run exercises every decode
    path. Shared-string-index-out-of-range, unknown cell types,
    missing relationships, malformed XML: the named XlsxError —
    never a silent empty sheet.

    Scale shape: one spread() exchange into one Arrow map stage;
    zero shuffles before the presentation sort — the q_cc_docx
    class. Corpus purity: ASCII single-space words, so DuckDB
    strlen and Python len agree.

    Independence disclosure: the zip container is stdlib-pinned
    both directions; the SpreadsheetML layer is self-paired
    (no openpyxl/xlsxwriter in this environment — the LZO-class
    reasoning, recorded in COVERAGE.md's fences table)."""
    from core_spark.multimodal.xlsx import build_xlsx_fixture, xlsx_cells

    docs = spread_ranged(load_table(spark, sf_dir, "documents"), "doc_id")

    def walk(doc_id, text):
        digest = hashlib.md5(text.encode("utf-8")).hexdigest()
        form = int(digest[6], 16) % 4
        blob = build_xlsx_fixture(text, digest)
        for cell in xlsx_cells(blob):
            yield (
                cell["sheet_idx"], cell["sheet_name"], cell["row"],
                cell["col"], cell["kind"], cell["value"], form,
            )

    return (
        doc_kernel(
            docs,
            walk,
            "doc_id long, sheet_idx long, sheet_name string,"
            " row_idx long, col_idx long, kind string,"
            " cell_value string, form long",
        )
        .sortWithinPartitions("doc_id", "sheet_idx", "row_idx", "col_idx")
    )
