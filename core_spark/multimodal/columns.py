"""Multimodal column plumbing.

Convention: a media asset is an opaque `binary` column plus a typed
metadata struct — the engine treats payloads as bytes exactly the way
Gazette journals treat messages ("only raw serializations",
message/interfaces.go:121-124); schema lives beside the payload, not
inside the engine.

The decode/transform operators are Arrow-batched `mapInPandas` stages:
per-partition iterators of pandas batches, binary in → binary/meta
out, so a 100 TB media corpus streams through executors without
driver involvement and without row-at-a-time serde.

Two modes:

- fake mode (`fake=True`, default in this container) derives
  deterministic metadata from an md5 of the payload, so the full
  pipeline is runnable and oracle-checkable end-to-end with text
  payloads standing in for media bytes;
- real mode (`fake=False`) decodes the codec families expressible in
  pure stdlib+numpy — PPM/PGM (P6/P5) decode, full BMP decode/encode
  (multimodal/bmp.py: 8-bit palette / 24-bit / 32-bit BI_RGB, either
  row order), COMPLETE static-PNG decode (multimodal/png.py: all
  depths, palette, Adam7; 16-bit to uint16) with 8-bit encode and baseline JPEG decode/encode
  (multimodal/jpeg.py: Huffman + DCT, any JFIF sampling, restart
  intervals) and GIF87a/89a first-frame decode/encode
  (multimodal/gif.py: LZW, interlace, transparency), nearest-neighbor
  resize for PPM/PNG/JPEG/GIF, animated-GIF playback with disposal
  compositing (multimodal/gif.py gif_frames) behind the video
  frame sampler, RIFF/WAV decode across PCM 8/16/24/32, IEEE
  float, G.711 mu-law/A-law, IMA + MS ADPCM and
  WAVE_FORMAT_EXTENSIBLE plus AIFF/AIFF-C (multimodal/wav.py),
  MP3 stream metadata (frame-header walk: rate/channels/duration/
  bitrate, Xing VBR count — no audio decode), and FLAC
  decode/encode (multimodal/flac.py: fixed + LPC prediction, Rice
  residuals incl. escapes, stereo decorrelation, CRC-verified).
  JPEG covers baseline (interleaved and non-interleaved
  multi-scan) AND progressive (T.81 Annex G). The remaining codecs
  (WEBP/TIFF, MP3/AAC PCM decode, MP4/WEBM…) raise
  NotImplementedError
  naming the library a cluster image would add (PIL / libsndfile /
  pyav); the Spark-side contract is identical either way.

A per-document kernel is written once, through one of two helpers:

- `doc_kernel(docs, per_doc, schema, col="text")` for decoders:
  `per_doc(doc_id, value)` gets each document's `col` value (text or
  binary payload) and yields each output row without its leading
  `doc_id`;
- `payload_kernel(docs, build, col, out_type)` for payload builders:
  `build(value)` returns one document's payload, and the helper
  yields `(doc_id, payload)` frames under the byte cap
  (`_payload_frames`).

Both supply the batch loop, the frame columns and the `MapInPandas`
stage (through `_kernel`, so a builder and its decoder fuse into one
stage). Hand-rolled `for pdf in batches` loops over `doc_id` are
reserved for the kernels listed in tests/test_plan_sweep.py, which
build numpy columns, and for `resize_images`, which returns its
input's schema rather than `(doc_id, ...)` rows.

Codec imports happen once, in the operator function on the driver;
worker closures reference the pure-python codec modules of this
package by name, so a cluster deployment ships `core_spark` as a
zip/wheel exactly once.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

IMAGE_META_SCHEMA = (
    "doc_id long, mime string, width long, height long, n_bytes long"
)
AUDIO_FRAME_SCHEMA = "doc_id long, frame_idx long, offset_ms long, n_bytes long"

# Arrow record batches the payload builders hand back to the JVM are
# serialized one batch per yielded DataFrame — the bytes-per-batch
# session cap (session.py maxBytesPerBatch) bounds JVM→Python input
# slicing but canNOT re-slice Python→JVM output. A 10k-row input
# batch of ~50 KB media blobs therefore became one ~500 MB output
# batch, and 32 concurrent tasks exhausted the JVM's direct-memory
# pool at the 100x scale probe. Builders yield through
# _payload_frames (via payload_kernel) so output batches stay under
# the same cap.
_PAYLOAD_FRAME_BYTES = 32 << 20


def _payload_frames(doc_ids, payloads) -> Iterator[pd.DataFrame]:
    """Yield (doc_id, payload) frames in byte-bounded slices: a frame
    holds at most `_PAYLOAD_FRAME_BYTES` of payload, unless a single
    payload is larger, which then rides alone.

    `payloads` may be a generator: builds stream through a ≤cap
    buffer instead of materializing the whole input batch's blobs
    (10k x 50 KB would hold ~500 MB of Python heap per task)."""
    ids_buf: list = []
    pl_buf: list = []
    cur = 0
    for d, p in zip(doc_ids, payloads):
        n = len(p) if p is not None else 0
        if ids_buf and cur + n > _PAYLOAD_FRAME_BYTES:
            yield pd.DataFrame({"doc_id": ids_buf, "payload": pl_buf})
            ids_buf, pl_buf, cur = [], [], 0
        ids_buf.append(d)
        pl_buf.append(p)
        cur += n
    if ids_buf:
        yield pd.DataFrame({"doc_id": ids_buf, "payload": pl_buf})


def _kernel(
    df: DataFrame, gen, schema, cols: tuple | None = None
) -> DataFrame:
    """mapInPandas with automatic CHAIN FUSION (r13 opt, guide §4):
    when `df` is itself the output of a `_kernel` stage, compose the
    batch generators into ONE Python stage — the intermediate frames
    (typically the built media payloads, ~100 MB per corpus pass at
    sf0.1) never cross the Arrow boundary at all, and the query plans
    one MapInPandas node instead of two. Pure generator composition:
    the downstream generator consumes exactly the frames the upstream
    one yielded, so results are identical by construction.

    `cols` is the projection applied in the UNFUSED path only (the
    fused path's intermediate never reaches the JVM, so there is
    nothing to prune).

    Persist / fan-out interaction (ADVICE r13): fusion recomputes the
    upstream generator from `src`, so a PERSISTED intermediate kernel
    output must not be fused through (the cache would be silently
    bypassed) — `df.is_cached` disables fusion. A kernel output that
    fans out to several downstream kernels re-runs the upstream
    generator once per fused consumer; that is the deliberate trade
    (Arrow-boundary crossings cost more than the regenerate at every
    measured call site), and callers that want the intermediate
    shared should persist it, which now also opts out of fusion."""
    base = getattr(df, "_kernel_chain", None)
    if base is not None and df.is_cached:
        base = None
    if base is not None:
        src, gens = base
        chain = tuple(gens) + (gen,)

        def fused(batches, _chain=chain):
            it = batches
            for g in _chain:
                it = g(it)
            yield from it

        out = src.mapInPandas(fused, schema=schema)
        out._kernel_chain = (src, chain)
        return out
    if cols is not None:
        df = df.select(*cols)
    out = df.mapInPandas(gen, schema=schema)
    out._kernel_chain = (df, (gen,))
    return out


def doc_kernel(
    docs: DataFrame, per_doc, schema: str, col: str = "text"
) -> DataFrame:
    """Run `per_doc(doc_id, value)` over column `col` of every
    document of `docs`.

    `per_doc` yields each output row as a tuple WITHOUT its leading
    `doc_id`; the kernel prepends the document's id. `schema` is a DDL
    string whose first column is `doc_id long`; its column names are
    parsed once, here on the driver. The stage is named after
    `per_doc`, so the plan's MapInPandas node reads `walk(...)`,
    `chain(...)`, … exactly as a hand-written generator would."""
    names = StructType.fromDDL(schema).names

    def gen(batches):
        for pdf in batches:
            rows = [
                (int(doc_id), *row)
                for doc_id, value in zip(pdf["doc_id"], pdf[col])
                for row in per_doc(doc_id, value)
            ]
            yield pd.DataFrame(rows, columns=names)

    gen.__name__ = per_doc.__name__
    return _kernel(docs, gen, schema, cols=("doc_id", col))


def payload_kernel(
    docs: DataFrame, build, col: str = "text", out_type: str = "binary"
) -> DataFrame:
    """Build one `payload` per document: `build(value)` maps column
    `col` to the payload, and the output is `(doc_id, payload
    <out_type>)` in frames under `_PAYLOAD_FRAME_BYTES`. The stage is
    named after `build`, like `doc_kernel`'s."""

    def gen(batches):
        for pdf in batches:
            yield from _payload_frames(
                pdf["doc_id"], (build(v) for v in pdf[col])
            )

    gen.__name__ = build.__name__
    return _kernel(
        docs, gen, f"doc_id long, payload {out_type}", cols=("doc_id", col)
    )


def attach_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize an opaque binary payload column (UTF-8 bytes of the
    text stand in for real media bytes in this container)."""
    return docs.withColumn("payload", F.encode(F.col(text_col), "UTF-8"))


def decode_image_meta(
    df: DataFrame, payload_col: str = "payload", fake: bool = True
) -> DataFrame:
    """Decode image metadata from binary payloads.

    Output: IMAGE_META_SCHEMA. Real mode parses PNG (IHDR), PPM/PGM
    (P6/P5) and BMP headers in pure Python; other codecs raise,
    naming PIL. Fake mode hashes the payload into deterministic
    dimensions.
    """

    from core_spark.multimodal.bmp import bmp_meta
    from core_spark.multimodal.gif import gif_meta
    from core_spark.multimodal.jpeg import jpeg_meta
    from core_spark.multimodal.png import png_meta

    def ppm_header(raw):
        toks, i = [], 2
        while len(toks) < 3 and i < len(raw):
            while i < len(raw) and raw[i : i + 1].isspace():
                i += 1
            if raw[i : i + 1] == b"#":
                while i < len(raw) and raw[i : i + 1] != b"\n":
                    i += 1
                continue
            j = i
            while j < len(raw) and not raw[j : j + 1].isspace():
                j += 1
            if i == j or not raw[i:j].isdigit():
                break
            toks.append(int(raw[i:j]))
            i = j
        # A 'P6'/'P5' magic with fewer than width/height/maxval
        # tokens must be a clear per-payload parse error, not an
        # executor-opaque IndexError.
        if len(toks) < 2:
            raise ValueError(
                "malformed PPM/PGM payload: header has "
                f"{len(toks)} of 3 expected integer tokens"
            )
        return toks[0], toks[1]

    def real_meta(raw: bytes):
        if raw[:8] == b"\x89PNG\r\n\x1a\n":
            w, h, _depth, _ctype = png_meta(raw)
            return "image/png", w, h
        if raw[:2] == b"\xff\xd8":
            w, h, _nc = jpeg_meta(raw)
            return "image/jpeg", w, h
        if raw[:6] in (b"GIF87a", b"GIF89a"):
            w, h, _frames = gif_meta(raw)
            return "image/gif", w, h
        if raw[:2] == b"P6":
            w, h = ppm_header(raw)
            return "image/x-portable-pixmap", w, h
        if raw[:2] == b"P5":
            w, h = ppm_header(raw)
            return "image/x-portable-graymap", w, h
        if raw[:2] == b"BM" and len(raw) >= 26:
            w, h, _bits = bmp_meta(raw)
            return "image/bmp", w, h
        raise NotImplementedError(
            f"STUB: image codec with magic {raw[:4]!r} requires PIL "
            "(pillow); pure-python real mode covers PPM/PGM/BMP"
        )

    def decode(doc_id, b):
        raw = bytes(b)
        if fake:
            h = hashlib.md5(raw).hexdigest()
            yield (
                "image/png",
                64 + int(h[0:4], 16) % 512,
                64 + int(h[8:12], 16) % 512,
                len(raw),
            )
        else:
            yield (*real_meta(raw), len(raw))

    return doc_kernel(df, decode, IMAGE_META_SCHEMA, col=payload_col)


def resize_images(
    df: DataFrame, payload_col: str = "payload", max_side: int = 256,
    fake: bool = True,
) -> DataFrame:
    """Resize payloads to bounded dimensions (batch in → batch out;
    output payload replaces input). Real mode: nearest-neighbor
    downsample of P6 PPM payloads (numpy row/column index sampling,
    aspect preserved, re-encoded as P6; images already within bounds
    pass through untouched) and of 8-bit gray/RGB/RGBA PNG (full
    stdlib decode — zlib inflate + scanline unfilter — resample,
    re-encode; multimodal/png.py); other codecs raise, naming PIL.
    Fake mode truncates the payload deterministically."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def resize_png(raw: bytes) -> bytes:
            from core_spark.multimodal.png import (
                png_decode,
                png_encode,
                png_meta,
            )

            w, h, _depth, _ctype = png_meta(raw)
            if max(w, h) <= max_side:
                return raw
            data = png_decode(raw)
            if data.dtype == np.uint16:  # 16-bit: thumbnail at 8-bit
                data = (data >> 8).astype(np.uint8)
            scale = max(w, h) / max_side
            nw, nh = max(1, round(w / scale)), max(1, round(h / scale))
            ys = np.minimum((np.arange(nh) * (h / nh)).astype(int), h - 1)
            xs = np.minimum((np.arange(nw) * (w / nw)).astype(int), w - 1)
            return png_encode(data[ys][:, xs])

        def resize_jpeg(raw: bytes) -> bytes:
            from core_spark.multimodal.jpeg import (
                jpeg_decode,
                jpeg_encode,
                jpeg_meta,
            )

            w, h, _nc = jpeg_meta(raw)
            if max(w, h) <= max_side:
                return raw
            data = jpeg_decode(raw)  # baseline or progressive
            scale = max(w, h) / max_side
            nw, nh = max(1, round(w / scale)), max(1, round(h / scale))
            ys = np.minimum((np.arange(nh) * (h / nh)).astype(int), h - 1)
            xs = np.minimum((np.arange(nw) * (w / nw)).astype(int), w - 1)
            return jpeg_encode(data[ys][:, xs])

        def resize_gif(raw: bytes) -> bytes:
            from core_spark.multimodal.gif import (
                gif_decode,
                gif_encode,
                gif_meta,
            )

            w, h, _frames = gif_meta(raw)
            if max(w, h) <= max_side:
                return raw
            data = gif_decode(raw)  # RGB, or RGBA when transparent
            scale = max(w, h) / max_side
            nw, nh = max(1, round(w / scale)), max(1, round(h / scale))
            ys = np.minimum((np.arange(nh) * (h / nh)).astype(int), h - 1)
            xs = np.minimum((np.arange(nw) * (w / nw)).astype(int), w - 1)
            # nearest-neighbor samples existing pixels, so the palette
            # can only shrink — re-encode never needs quantization
            return gif_encode(data[ys][:, xs])

        def resize_bmp(raw: bytes) -> bytes:
            from core_spark.multimodal.bmp import (
                bmp_decode,
                bmp_encode,
                bmp_meta,
            )

            w, h, _bits = bmp_meta(raw)
            if max(w, h) <= max_side:
                return raw
            data = bmp_decode(raw)[..., :3]  # 32-bit thumbnails drop alpha
            scale = max(w, h) / max_side
            nw, nh = max(1, round(w / scale)), max(1, round(h / scale))
            ys = np.minimum((np.arange(nh) * (h / nh)).astype(int), h - 1)
            xs = np.minimum((np.arange(nw) * (w / nw)).astype(int), w - 1)
            return bmp_encode(data[ys][:, xs])

        def resize_p6(raw: bytes) -> bytes:
            if raw[:8] == b"\x89PNG\r\n\x1a\n":
                return resize_png(raw)
            if raw[:2] == b"\xff\xd8":
                return resize_jpeg(raw)
            if raw[:6] in (b"GIF87a", b"GIF89a"):
                return resize_gif(raw)
            if raw[:2] == b"BM":
                return resize_bmp(raw)
            if raw[:2] != b"P6":
                raise NotImplementedError(
                    f"STUB: resize for magic {raw[:4]!r} requires PIL "
                    "(pillow).Image.thumbnail; pure-python real mode "
                    "covers P6 PPM, 8-bit gray/RGB/RGBA PNG, and "
                    "baseline JPEG"
                )
            toks, i = [], 2
            while len(toks) < 3 and i < len(raw):
                while i < len(raw) and raw[i : i + 1].isspace():
                    i += 1
                if raw[i : i + 1] == b"#":
                    while i < len(raw) and raw[i : i + 1] != b"\n":
                        i += 1
                    continue
                j = i
                while j < len(raw) and not raw[j : j + 1].isspace():
                    j += 1
                toks.append(int(raw[i:j]))
                i = j
            w, h, maxval, off = toks[0], toks[1], toks[2], i + 1
            if maxval > 255:
                raise NotImplementedError(
                    "STUB: 16-bit-per-sample PPM (maxval > 255) resize "
                    "requires PIL (pillow); pure-python real mode covers "
                    "1-byte samples"
                )
            if max(w, h) <= max_side:
                return raw
            scale = max(w, h) / max_side
            nw, nh = max(1, round(w / scale)), max(1, round(h / scale))
            data = np.frombuffer(
                raw, dtype=np.uint8, count=w * h * 3, offset=off
            ).reshape(h, w, 3)
            ys = np.minimum((np.arange(nh) * (h / nh)).astype(int), h - 1)
            xs = np.minimum((np.arange(nw) * (w / nw)).astype(int), w - 1)
            out = data[ys][:, xs]
            return f"P6\n{nw} {nh}\n{maxval}\n".encode() + out.tobytes()

        for pdf in batches:
            out = pdf.copy()
            if fake:
                out[payload_col] = [
                    bytes(b)[: max_side * 4] for b in pdf[payload_col]
                ]
            else:
                out[payload_col] = [
                    resize_p6(bytes(b)) for b in pdf[payload_col]
                ]
            yield out

    return _kernel(df, resize, df.schema)


def sample_audio_frames(
    df: DataFrame, payload_col: str = "payload", frame_ms: int = 1000,
    fake: bool = True,
) -> DataFrame:
    """Explode audio payloads into fixed-interval frames (1 row per
    frame — the fan-out shape of frame sampling). Real mode frames
    RIFF/WAV (all multimodal/wav.py codecs: PCM widths, float,
    G.711, IMA/MS ADPCM, EXTENSIBLE), AIFF/AIFF-C, FLAC
    (multimodal/flac.py, CRC-checked) and MP3 (exact frame count ×
    samples-per-frame from the header walk — no audio decode
    needed to frame by time) — decoded-PCM bytes per slice ×
    channels × sample width = n_bytes; other containers raise,
    naming pyav. Fake mode treats every 100 bytes as one
    frame_ms."""

    from core_spark.multimodal.flac import flac_meta
    from core_spark.multimodal.wav import aiff_meta, mp3_meta, wav_meta

    def slices(nch: int, sw: int, fr: int, nf: int):
        per_slice = max(1, (fr * frame_ms) // 1000)
        n_slices = max(1, -(-nf // per_slice))  # ceil
        for i in range(n_slices):
            got = min(per_slice, nf - i * per_slice)
            yield (i, i * frame_ms, got * nch * sw)

    def wav_frames(raw: bytes):
        if raw[:4] == b"fLaC":
            rate, nch, bps, total = flac_meta(raw)
            return slices(nch, (bps + 7) // 8, rate, total)
        if raw[:4] == b"RIFF" and raw[8:12] == b"WAVE":
            rate, nch, bits, total, _codec = wav_meta(raw)
            # framing reports decoded-PCM bytes: compressed
            # codecs (G.711/ADPCM/float) land at 16-bit scale
            sw = (bits + 7) // 8 if _codec == "pcm" else 2
            return slices(nch, sw, rate, total)
        if raw[:4] == b"FORM" and raw[8:12] in (b"AIFF", b"AIFC"):
            rate, nch, bits, total, comp = aiff_meta(raw)
            sw = (bits + 7) // 8 if comp in ("NONE", "twos") else 2
            return slices(nch, sw, rate, total)
        if raw[:3] == b"ID3" or (
            len(raw) >= 2 and raw[0] == 0xFF and raw[1] & 0xE0 == 0xE0
        ):
            # MP3: the header walk yields exact frame counts and
            # rate without decoding audio (multimodal/wav.py)
            m = mp3_meta(raw)
            total = m["n_frames"] * m["samples_per_frame"]
            return slices(m["channels"], 2, m["rate"], total)
        raise NotImplementedError(
            f"STUB: audio container with magic {raw[:4]!r} "
            "requires libsndfile/pyav; pure-python real mode "
            "covers RIFF/WAV (PCM/float/G.711/ADPCM), AIFF/AIFF-C, "
            "FLAC, and MP3 stream metadata"
        )

    def sample(doc_id, b):
        raw = bytes(b)
        if not fake:
            yield from wav_frames(raw)
            return
        for i in range(max(1, len(raw) // 100)):
            yield i, i * frame_ms, min(100, len(raw) - i * 100)

    return doc_kernel(df, sample, AUDIO_FRAME_SCHEMA, col=payload_col)


AUDIO_FEATURE_SCHEMA = (
    "doc_id long, frame_idx long, offset_ms long, n_samples long,"
    " energy long"
)


def audio_frame_features(
    df: DataFrame, payload_col: str = "payload", frame_ms: int = 1000
) -> DataFrame:
    """Per-frame audio FEATURES (real mode only): integer energy
    (sum of squared PCM samples across channels) per fixed-interval
    slice — the audio analog of video frame sampling's mean_luma,
    and the feature-extraction step an audio-curation pipeline runs
    (silence/clipping detection, loudness filtering). Integer
    arithmetic end to end: 16-bit samples square to <= 2^30, a 1 s
    48 kHz stereo slice sums < 2^47 — engine-exact, no float audio
    path anywhere (wider-than-16-bit sources are shifted down to the
    16-bit scale first to keep that bound). Decodes RIFF/WAV (PCM
    widths, float, G.711 mu-law/A-law, IMA + MS ADPCM, EXTENSIBLE),
    AIFF/AIFF-C and FLAC (multimodal/wav.py, multimodal/flac.py);
    other containers raise, naming the library."""

    import numpy as np

    from core_spark.multimodal.flac import flac_decode, flac_meta
    from core_spark.multimodal.wav import aiff_decode, wav_decode

    def pcm_of(raw: bytes):
        if raw[:4] == b"fLaC":
            _rate, _nch, bits, _total = flac_meta(raw)
            pcm, fr = flac_decode(raw)
            pcm = pcm.astype(np.int64)
        elif raw[:4] == b"RIFF" and raw[8:12] == b"WAVE":
            pcm, fr, bits = wav_decode(raw)
        elif raw[:4] == b"FORM" and raw[8:12] in (b"AIFF", b"AIFC"):
            pcm, fr, bits = aiff_decode(raw)
        else:
            raise NotImplementedError(
                f"STUB: audio container with magic {raw[:4]!r} "
                "requires libsndfile/pyav (MP3 gets metadata only "
                "— PCM needs an MDCT decoder); pure-python real "
                "mode covers RIFF/WAV (PCM/float/G.711/ADPCM), "
                "AIFF/AIFF-C, and FLAC"
            )
        if bits > 16:
            # shift to 16-bit scale so a 1 s 48 kHz stereo slice's
            # energy stays exactly inside int64 (docstring bound)
            pcm = pcm >> (bits - 16)
        return pcm, fr

    def feats(doc_id, b):
        pcm, fr = pcm_of(bytes(b))
        nf = pcm.shape[0]
        per = max(1, (fr * frame_ms) // 1000)
        for i in range(max(1, -(-nf // per))):
            sl = pcm[i * per : (i + 1) * per]
            yield i, i * frame_ms, int(sl.shape[0]), int((sl * sl).sum())

    return doc_kernel(df, feats, AUDIO_FEATURE_SCHEMA, col=payload_col)


VIDEO_FRAME_SCHEMA = (
    "doc_id long, frame_idx long, t_ms long, width long, height long,"
    " mean_luma double"
)


AV_META_SCHEMA = (
    "doc_id long, brand string, duration_ms long, width long,"
    " height long, n_tracks long, video_codec string,"
    " audio_codec string"
)


def attach_mp4_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize a REAL ISO-BMFF payload per document: movie
    parameters (duration, track dimensions) derive from md5(text) so
    a SQL oracle can recompute them, but the bytes are a genuine
    ftyp+moov+mdat container built by multimodal/mp4.py — the decode
    stage downstream walks actual boxes, not a fake."""

    from core_spark.multimodal.mp4 import build_mp4

    def build(text: str) -> bytes:
        h = hashlib.md5(text.encode("utf-8")).hexdigest()
        dur = 500 + int(h[0:8], 16) % 600000
        w = 16 * (4 + int(h[8:12], 16) % 117)
        ht = 16 * (3 + int(h[12:16], 16) % 65)
        return build_mp4(
            dur, video=(w, ht, "avc1"), audio="mp4a",
            mdat=text.encode("utf-8")[:64],
        )

    return payload_kernel(docs, build, text_col)


AUDIO_SEGMENT_SCHEMA = (
    "doc_id long, seg_idx long, t_ms long, off long, n_bytes long,"
    " n_frames long"
)
_MP3_FIXTURE_KBPS = (96, 112, 128, 160, 192)


def attach_mp3_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize a REAL MP3 stream per document: frame count and
    the per-frame bitrate sequence derive from md5(text) so a SQL
    oracle can recompute the byte layout, but the bytes are genuine
    MPEG1 Layer III frames (wav.py build_mp3_frame) whose headers
    the downstream walk actually parses — a VBR stream, so the
    segment plan must track real frame sizes, not extrapolate from
    the first header."""

    from core_spark.multimodal.wav import build_mp3_frame

    def build(text: str) -> bytes:
        h = hashlib.md5(text.encode("utf-8")).hexdigest()
        n = 60 + int(h[0:4], 16) % 120
        s0 = int(h[4:8], 16)
        return b"".join(
            build_mp3_frame(
                kbps=_MP3_FIXTURE_KBPS[(s0 + 7 * i) % 5],
                fill=i % 256,
            )
            for i in range(n)
        )

    return payload_kernel(docs, build, text_col)


def plan_audio_fetch(
    df: DataFrame, payload_col: str = "payload", every_ms: int = 1000
) -> DataFrame:
    """Walk each MP3 stream's frame headers into a segment fetch
    plan (AUDIO_SEGMENT_SCHEMA): one row per `every_ms` of audio
    with the absolute byte offset and span holding those frames —
    the audio twin of the keyframe ranged-GET plan. Executor-side
    mapInPandas fan-out; payload bytes never reach the JVM plan."""

    from core_spark.multimodal.wav import mp3_segments

    def plan(doc_id, raw):
        for s in mp3_segments(bytes(raw), every_ms):
            yield (
                s["seg_idx"], s["t_ms"], s["off"], s["n_bytes"],
                s["n_frames"],
            )

    return doc_kernel(df, plan, AUDIO_SEGMENT_SCHEMA, col=payload_col)


AV_KEYFRAME_SCHEMA = (
    "doc_id long, kf_idx long, sample_idx long, t_ms long, off long,"
    " size long"
)


def attach_mp4_stream_payload(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Materialize a REAL ISO-BMFF payload WITH sample tables per
    document: frame count / sync cadence / frame timing / per-sample
    sizes derive from md5(text) so a SQL oracle can recompute the
    fetch plan, but the bytes are a genuine container whose
    stts/stss/stsc/stsz/stco boxes the downstream walk actually
    parses (and whose mdat really holds the samples at the planned
    offsets — pinned by slicing in tests)."""

    from core_spark.multimodal.mp4 import build_mp4

    def build(text: str) -> bytes:
        h = hashlib.md5(text.encode("utf-8")).hexdigest()
        n = 8 + int(h[0:4], 16) % 25
        ks = 1 + int(h[4:6], 16) % 5
        delta = 20 + int(h[6:8], 16) % 60
        s0 = int(h[8:12], 16)
        sizes = [64 + (s0 + 37 * i) % 191 for i in range(n)]
        return build_mp4(
            n * delta, video=(640, 360, "avc1"),
            samples=(sizes, delta, ks),
        )

    return payload_kernel(docs, build, text_col)


CAPTION_SCHEMA = (
    "doc_id long, cue_idx long, t0_ms long, t1_ms long,"
    " cue_text string"
)


def attach_vtt_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize a REAL WebVTT caption file per document: the
    document's words tiled 8 per cue with md5-derived timing, plus
    the decorations a parser must strip (identifiers, settings,
    inline <b> tags, a NOTE block) — built by multimodal/vtt.py so
    a SQL oracle recomputes cue boundaries and timestamps."""

    from core_spark.multimodal.vtt import build_vtt_fixture

    def build(text: str) -> str:
        return build_vtt_fixture(
            text, hashlib.md5(text.encode("utf-8")).hexdigest()
        )

    return payload_kernel(docs, build, text_col, "string")


def extract_captions(
    df: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Parse each WebVTT payload into cue rows (CAPTION_SCHEMA):
    the transcript-mining fan-out that turns a video corpus into
    (clip time range, text) training pairs. Executor-side
    mapInPandas; invalid blocks are skipped per the WebVTT spec,
    non-VTT payloads raise the named VttError."""

    from core_spark.multimodal.vtt import vtt_cues

    def parse(doc_id, raw):
        for c in vtt_cues(raw):
            yield c["cue_idx"], c["t0_ms"], c["t1_ms"], c["text"]

    return doc_kernel(df, parse, CAPTION_SCHEMA, col=payload_col)


AV_FRAGMENT_SCHEMA = (
    "doc_id long, frag_seq long, sample_idx long, t_ms long, off long,"
    " size long"
)


def attach_fmp4_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize a REAL fragmented ISO-BMFF payload (CMAF shape)
    per document: fragment count / per-fragment sample counts /
    per-sample sizes / frame timing derive from md5(text) so a SQL
    oracle can recompute the whole byte layout, but the bytes are a
    genuine ftyp+moov+mvex container followed by moof/mdat pairs
    whose tfhd/tfdt/trun boxes the downstream walk actually parses —
    and whose mdat really holds the samples at the planned offsets
    (pinned by slicing in tests)."""

    from core_spark.multimodal.mp4 import build_fmp4

    def build(text: str) -> bytes:
        h = hashlib.md5(text.encode("utf-8")).hexdigest()
        nf = 2 + int(h[0:2], 16) % 4
        delta = 20 + int(h[2:4], 16) % 60
        s0 = int(h[4:8], 16)
        s1 = int(h[8:10], 16)
        frags = []
        g = 0
        for j in range(nf):
            k = 4 + (s1 + 11 * j) % 13
            frags.append([64 + (s0 + 37 * (g + i)) % 191 for i in range(k)])
            g += k
        return build_fmp4(frags, delta=delta)

    return payload_kernel(docs, build, text_col)


def plan_fragment_fetch(
    df: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Walk each FRAGMENTED container's moof/traf/trun boxes into a
    keyframe fetch plan (AV_FRAGMENT_SCHEMA): one row per sync sample
    with its absolute byte offset and size — the ranged-GET list for
    streaming-packaged (DASH/CMAF) video, where sample placement is
    relative to each moof so the plan must carry fragment positions
    through. Executor-side mapInPandas; payload bytes never reach
    the JVM plan."""

    from core_spark.multimodal.mp4 import mp4_fragment_keyframes

    def plan(doc_id, raw):
        for kf in mp4_fragment_keyframes(bytes(raw)):
            yield (
                kf["frag_seq"], kf["sample_idx"], kf["t_ms"], kf["off"],
                kf["size"],
            )

    return doc_kernel(df, plan, AV_FRAGMENT_SCHEMA, col=payload_col)


def plan_video_fetch(
    df: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Walk each container's sample tables into a keyframe fetch
    plan (AV_KEYFRAME_SCHEMA): one row per sync sample with its
    absolute byte offset and size — the ranged-GET list a 100 TB
    video pipeline hands to object storage so decode touches ONLY
    keyframe bytes. The payload column never reaches the JVM plan;
    the fan-out happens executor-side, exactly like frame
    sampling."""

    from core_spark.multimodal.mp4 import mp4_keyframes

    def plan(doc_id, raw):
        for j, kf in enumerate(mp4_keyframes(bytes(raw))):
            yield j, kf["sample_idx"], kf["t_ms"], kf["off"], kf["size"]

    return doc_kernel(df, plan, AV_KEYFRAME_SCHEMA, col=payload_col)


def decode_av_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Walk ISO-BMFF payloads to curation metadata (AV_META_SCHEMA)
    via multimodal/mp4.py — brand, movie duration, first-video-track
    dimensions, per-modality codec fourcc. The video twin of the MP3
    header scan: every gate field without decoding a frame."""

    from core_spark.multimodal.mp4 import mp4_meta

    def decode(doc_id, raw):
        m = mp4_meta(bytes(raw))
        yield (
            m["brand"], m["duration_ms"], m["width"], m["height"],
            m["n_tracks"], m["video_codec"], m["audio_codec"],
        )

    return doc_kernel(df, decode, AV_META_SCHEMA, col=payload_col)


def sample_video_frames(
    df: DataFrame, payload_col: str = "payload", every_ms: int = 1000,
    fake: bool = True,
) -> DataFrame:
    """Sample video payloads at fixed timestamps (one row per sampled
    frame: source frame index, timestamp, dimensions, mean luma) —
    the decode + temporal-subsample stage of a video curation
    pipeline, as an Arrow `mapInPandas` fan-out like
    `sample_audio_frames`.

    Real mode plays back animated GIF (multimodal/gif.py composites
    frames with full disposal semantics) and samples the frame
    visible at each multiple of `every_ms`; mean_luma is the ITU-R
    BT.601 luma average of the composed canvas. MP4/WEBM/AVI raise
    NotImplementedError naming pyav (no media libs in this
    container); the Spark-side contract — schema, batching, fan-out
    shape — is identical. Fake mode derives every output from md5
    arithmetic a SQL oracle reproduces.
    """

    from core_spark.multimodal.gif import gif_frames

    def frame_stats(arr):
        luma = 0.299 * arr[..., 0] + 0.587 * arr[..., 1] + 0.114 * arr[..., 2]
        return (arr.shape[1], arr.shape[0], float(luma.mean()))

    def gif_samples(raw: bytes):
        t = 0
        next_t = 0
        fi = 0
        first = None
        got = False
        for delay, arr in gif_frames(raw):
            if first is None:
                first = arr
            while next_t < t + delay:
                got = True
                yield (fi, next_t) + frame_stats(arr)
                next_t += every_ms
            t += delay
            fi += 1
        if not got:  # zero-duration animation: sample frame 0
            yield (0, 0) + frame_stats(first)

    def sample(doc_id, b):
        raw = bytes(b)
        if fake:
            hex0 = hashlib.md5(raw).hexdigest()
            w = 64 + int(hex0[0:4], 16) % 512
            h = 64 + int(hex0[8:12], 16) % 512
            for fi in range(max(1, len(raw) // 200)):
                hx = hashlib.md5(raw + b":" + str(fi).encode()).hexdigest()
                yield (
                    fi, fi * every_ms, w, h,
                    (int(hx[0:8], 16) % 256000) / 1000.0,
                )
        elif raw[:6] in (b"GIF87a", b"GIF89a"):
            yield from gif_samples(raw)
        else:
            raise NotImplementedError(
                f"STUB: video container with magic {raw[:4]!r} "
                "requires pyav; pure-python real mode plays "
                "animated GIF"
            )

    return doc_kernel(df, sample, VIDEO_FRAME_SCHEMA, col=payload_col)


PDF_PAGE_SCHEMA = (
    "doc_id long, page_idx long, page_count long, page_text string,"
    " created string"
)


def attach_pdf_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize a REAL PDF 1.4 file per document: the document's
    words tiled `5 + md5[0]%4` per page, even pages as one `(…) Tj`
    run and odd pages as a kerned `[(w) -120 (w) …] TJ` array,
    content streams genuinely FlateDecode-compressed, an exact xref
    table, and an /Info dict with an md5-derived CreationDate — built
    by multimodal/pdf.py so a SQL oracle recomputes page boundaries
    and text. Independent md5 nibbles rotate the corpus across the
    real-world form space: nibble 5 odd → PDF 1.5 layout (xref
    STREAM + /ObjStm packing + PNG Up predictor, the majority
    layout); nibble 6 odd → CID /Type0 font with /Identity-H
    glyph-code hex strings and a /ToUnicode CMap; else nibble 7 odd
    → simple font remapped through /WinAnsiEncoding + /Differences
    with NO /ToUnicode (the older-toolchain shape); nibble 8 → a
    quarter each AES-128 (/V 4 /AESV2), RC4-40 and RC4-128
    standard-handler encryption with empty passwords (the
    restriction-flag crawl shape — r13); within the remaining
    quarter, nibble 9 odd → AES-256 (/V 5 /R 6 /AESV3, the PDF 2.0
    handler), else plaintext; nibble 10 → content-stream FILTERS
    beyond Flate for half the corpus — an [/ASCII85Decode
    /FlateDecode] chain, LZWDecode, RunLengthDecode or
    ASCIIHexDecode (r13).
    Extraction output is form-, font- and encryption-independent by
    construction (the cross-form test pins)."""

    from core_spark.multimodal.pdf import build_pdf_fixture

    def build(t: str) -> bytes:
        digest = hashlib.md5(t.encode("utf-8")).hexdigest()
        kind = "stream" if int(digest[5], 16) % 2 else "classic"
        if int(digest[6], 16) % 2:
            fnt = "cid"
        elif int(digest[7], 16) % 2:
            fnt = "diffs"
        else:
            fnt = "simple"
        enc = {1: "aes-128", 2: "rc4-40", 3: "rc4-128"}.get(
            int(digest[8], 16) % 4
        )
        if enc is None and int(digest[9], 16) % 2:
            enc = "aes-256"  # half the remaining quarter: PDF 2.0
        cf = {
            8: "a85-flate", 9: "a85-flate",
            10: "lzw", 11: "lzw",
            12: "rle", 13: "rle",
            14: "hex", 15: "hex",
        }.get(int(digest[10], 16), "flate")
        return build_pdf_fixture(
            t, digest, xref_kind=kind, font=fnt, encrypt=enc,
            content_filter=cf,
        )

    return payload_kernel(docs, build, text_col)


def extract_pdf_pages(
    df: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Walk each PDF payload — xref → catalog → pages tree →
    FlateDecode → Tj/TJ tokenizer — into per-page text rows
    (PDF_PAGE_SCHEMA), carrying page_count and the /Info
    CreationDate so a curation gate can filter on both. Executor-side
    mapInPandas; non-PDF payloads raise the named PdfError."""

    from core_spark.multimodal.pdf import pdf_extract

    def parse(doc_id, b):
        # one reader walk serves meta + pages (r13 opt: xref/encryption
        # setup ran twice before)
        meta, pages = pdf_extract(bytes(b))
        for i, pg in enumerate(pages):
            yield i, len(pages), pg, meta["created"]

    return doc_kernel(df, parse, PDF_PAGE_SCHEMA, col=payload_col)
