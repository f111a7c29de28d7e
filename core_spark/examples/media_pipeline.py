"""media-pipeline: multimodal curation over real codecs — the
engine-superset sibling of curation-stream for binary media columns.

Shape (batch; curation-stream shows the same machinery streaming):
one Arrow `mapInPandas` pass classifies every payload by magic and
decodes the family-appropriate metadata — images (PNG/GIF/BMP/JPEG/
PPM) to dimensions, audio (WAV incl. G.711/ADPCM/float, AIFF, FLAC,
MP3 headers) to rate/duration plus a decoded-PCM mean energy,
documents (PDF) to page count and extracted-text size via the real
xref/FlateDecode/Tj walk (multimodal/pdf.py; a scan-only PDF with
zero extractable chars is rejected_no_text — the OCR-queue row, not
a text-corpus row) — then
DECLARATIVE gates drop what a training corpus drops (tiny images,
sub-second clips, digital silence), and the accepted metadata rows
append exactly-once to a `media/clean` journal bloom-indexed on
`mime` so per-format serving reads prune fragments via the manifest
index. Payload bytes themselves never move: the engine carries
opaque serializations only (message/interfaces.go:121-124), and the
curation index POINTS at them — the 100 TB shape, where media blobs
live in object storage and only doc_id-keyed metadata shuffles.

MP3 and MP4 are the deliberate edges: their header/box walks yield
exact duration (and, for MP4, track dimensions) without MDCT/frame
decode, so they pass the duration and dimension gates but report
NULL energy and the verdict `kept_no_energy` — an honest "decode on
the cluster with a real codec lib" marker rather than a fake number.
The downstream decode pass those rows queue for doesn't stream whole
movies either: `multimodal/mp4.py mp4_keyframes` (q_av_keyframes)
turns the sample tables into the keyframe ranged-GET plan, so even
the real-codec stage fetches only sync-frame bytes.
This is the PERMANENT disposition, not a TODO: a pure-python
layer-III/H.264 decoder would be three orders of magnitude slower
than the codec libraries every real cluster image carries (mpg123 /
pyav), so the right production move is installing the named library
— columns.py's stub discipline — and `kept_no_energy` is precisely
the row a downstream decode pass would re-queue. COVERAGE.md §mm
records the disposition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from core_spark.catalog import CatalogStore, JournalSpec
from core_spark.multimodal.columns import doc_kernel
from core_spark.sources.journal import Journal

MEDIA_JOURNAL = "media/clean"
MEDIA_META_SCHEMA = (
    "doc_id long, mime string, width long, height long, rate long,"
    " duration_ms long, mean_energy long, n_pages long,"
    " text_chars long, n_bytes long"
)
_MIN_SIDE = 64  # image gate: smallest usable training thumbnail
_MIN_MS = 500  # audio gate: sub-second clips are noise
_MIN_ENERGY = 10  # audio gate: mean-square floor (digital silence ~ 0)


def media_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """One Arrow pass: magic-route every payload to its family's
    pure-stdlib decoder and emit a unified metadata row (image
    fields NULL for audio and vice versa)."""

    import numpy as np

    from core_spark.multimodal.bmp import bmp_meta
    from core_spark.multimodal.flac import flac_decode
    from core_spark.multimodal.gif import gif_meta
    from core_spark.multimodal.jpeg import jpeg_meta
    from core_spark.multimodal.mp4 import fmp4_duration_ms, mp4_meta
    from core_spark.multimodal.pdf import pdf_meta, pdf_pages_text
    from core_spark.multimodal.png import png_meta
    from core_spark.multimodal.wav import aiff_decode, mp3_meta, wav_decode

    def meta(raw: bytes):
        img = None
        if raw[:8] == b"\x89PNG\r\n\x1a\n":
            w, h, _d, _c = png_meta(raw)
            img = ("image/png", w, h)
        elif raw[:6] in (b"GIF87a", b"GIF89a"):
            w, h, _f = gif_meta(raw)
            img = ("image/gif", w, h)
        elif raw[:2] == b"BM":
            w, h, _b = bmp_meta(raw)
            img = ("image/bmp", w, h)
        elif raw[:2] == b"\xff\xd8":
            w, h, _n = jpeg_meta(raw)
            img = ("image/jpeg", w, h)
        if img is not None:
            mime, w, h = img
            return mime, w, h, None, None, None, None, None, len(raw)

        if raw[:5] == b"%PDF-":
            pm = pdf_meta(raw)
            chars = sum(len(p) for p in pdf_pages_text(raw))
            return (
                "application/pdf", None, None, None, None, None,
                pm["page_count"], chars, len(raw),
            )

        if len(raw) >= 12 and raw[4:8] == b"ftyp":
            m = mp4_meta(raw)
            # full gate metadata from the box walk alone — the
            # video twin of the MP3 header scan below; frame
            # decode (energy/luma) stays behind the pyav stub.
            # mime follows the handler tracks, not the container:
            # an audio-only M4A is audio/mp4, never a NULL-dims
            # "video" that slips the dimension gate.
            if m["has_video"]:
                mime = "video/mp4"
            elif m["has_audio"]:
                mime = "audio/mp4"
            else:
                mime = "application/mp4"
            dur = m["duration_ms"]
            if dur is None and m["has_video"]:
                # fragmented (CMAF/DASH) movie: mvhd declares
                # unknown, but summing trun sample durations
                # across the moofs gives the exact figure — the
                # duration gate judges streaming-packaged video
                # instead of passing NULL
                dur = fmp4_duration_ms(raw)
            return (
                mime, m["width"], m["height"], None, dur, None, None,
                None, len(raw),
            )

        if raw[:3] == b"ID3" or (
            len(raw) >= 2
            and raw[0] == 0xFF
            and raw[1] & 0xE0 == 0xE0
            and raw[:4] != b"RIFF"
        ):
            m = mp3_meta(raw)
            # duration from the header walk; energy needs an MDCT
            # decoder the engine lacks — NULL, never a fake
            return (
                "audio/mpeg", None, None, m["rate"], m["duration_ms"],
                None, None, None, len(raw),
            )

        if raw[:4] == b"fLaC":
            pcm, rate = flac_decode(raw)
            mime = "audio/flac"
        elif raw[:4] == b"RIFF" and raw[8:12] == b"WAVE":
            pcm, rate, bits = wav_decode(raw)
            if bits > 16:
                pcm = pcm >> (bits - 16)
            mime = "audio/wav"
        elif raw[:4] == b"FORM" and raw[8:12] in (b"AIFF", b"AIFC"):
            pcm, rate, bits = aiff_decode(raw)
            if bits > 16:
                pcm = pcm >> (bits - 16)
            mime = "audio/aiff"
        else:
            raise NotImplementedError(
                f"STUB: media magic {raw[:4]!r} requires PIL/"
                "libsndfile/pyav; see multimodal/ for the real set"
            )
        nf = pcm.shape[0]
        dur = nf * 1000 // max(1, rate)
        energy = int((pcm.astype(np.int64) ** 2).sum() // max(1, nf * pcm.shape[1]))
        return mime, None, None, rate, dur, energy, None, None, len(raw)

    def decode(doc_id, b):
        yield meta(bytes(b))

    return doc_kernel(df, decode, MEDIA_META_SCHEMA, col=payload_col)


def curate_media(meta: DataFrame) -> DataFrame:
    """Declarative gates + verdicts. Rejects stay in the frame with
    their reason (the scrub ledger shape); `kept`/`kept_no_energy`
    rows are what reaches the journal."""
    is_img = F.col("mime").startswith("image/")
    is_vid = F.col("mime").startswith("video/")
    is_doc = F.col("mime") == "application/pdf"
    return meta.withColumn(
        "verdict",
        F.when(
            (is_img | is_vid) & (F.least("width", "height") < _MIN_SIDE),
            F.lit("rejected_small"),
        )
        .when(is_img, F.lit("kept"))
        # documents: a PDF whose pages yield no extractable text is
        # the scan-only/image-PDF case a text corpus drops (it needs
        # OCR, a different pipeline) — the page walk is real
        # (multimodal/pdf.py), so zero chars is a measured verdict
        .when(is_doc & (F.col("text_chars") == 0), F.lit("rejected_no_text"))
        .when(is_doc, F.lit("kept"))
        .when(F.col("duration_ms") < _MIN_MS, F.lit("rejected_short"))
        # Any timed asset (video OR audio) whose duration is unknown
        # — a tkhd that never appeared, a fragmented movie, an
        # audio-only fragmented M4A where the fmp4 fallback is
        # video-gated — cannot be judged by the duration gate: mark
        # it explicitly rather than letting the NULL comparison wave
        # it through as an ordinary keep.
        .when(
            F.col("duration_ms").isNull()
            | (is_vid & F.col("width").isNull()),
            F.lit("kept_unverified"),
        )
        .when(
            F.col("mean_energy").isNotNull()
            & (F.col("mean_energy") < _MIN_ENERGY),
            F.lit("rejected_silent"),
        )
        .when(F.col("mean_energy").isNull(), F.lit("kept_no_energy"))
        .otherwise(F.lit("kept")),
    )


def run_media_curation(
    spark: SparkSession, media: DataFrame, out_root: str
) -> DataFrame:
    """Decode -> gate -> append the accepted curation index to the
    bloom-indexed journal; returns the full verdict ledger."""
    CatalogStore(out_root).apply(
        upserts=(JournalSpec(name=MEDIA_JOURNAL, bloom_columns=("mime",)),)
    )
    ledger = curate_media(media_meta(media))
    kept = ledger.filter(F.col("verdict").startswith("kept"))
    Journal(out_root, MEDIA_JOURNAL).append(kept)
    return ledger


def media_stats(spark: SparkSession, out_root: str) -> DataFrame:
    """Serving: per-mime curated-index summary over the
    materialization (the bike-share SQL-over-state pattern)."""
    clean = Journal(out_root, MEDIA_JOURNAL).read(spark)
    return clean.groupBy("mime").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum("n_bytes").alias("n_bytes"),
    )


def media_read(spark: SparkSession, out_root: str, mime: str) -> DataFrame:
    """Per-format read of the curation index — rides the manifest
    bloom index on `mime` (fragments from batches holding no such
    format never reach the file listing)."""
    return Journal(out_root, MEDIA_JOURNAL).read(
        spark, where=[("mime", "=", mime)]
    )
