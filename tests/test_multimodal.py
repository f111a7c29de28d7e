"""Multimodal plumbing: schemas, batch shapes, stub behavior."""

import pytest
from pyspark.sql import functions as F

from core_spark.io import load_table
from core_spark.multimodal import (
    attach_payload,
    decode_image_meta,
    resize_images,
    sample_audio_frames,
)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def payloads(spark):
    return attach_payload(load_table(spark, SF_SMOKE, "documents"))


def test_decode_meta_deterministic(spark, payloads):
    a = decode_image_meta(payloads).orderBy("doc_id").collect()
    b = decode_image_meta(payloads).orderBy("doc_id").collect()
    assert a == b
    assert all(64 <= r.width < 576 and 64 <= r.height < 576 for r in a)
    n = payloads.count()
    assert len(a) == n


def test_resize_preserves_schema_and_bounds(spark, payloads):
    out = resize_images(payloads, max_side=16)
    assert out.schema == payloads.schema
    assert out.select(F.max(F.length("payload"))).first()[0] <= 64


def test_audio_frames_fan_out(spark, payloads):
    frames = sample_audio_frames(payloads)
    per = frames.groupBy("doc_id").count()
    docs = payloads.withColumn("n", F.length("payload"))
    joined = per.join(docs, "doc_id").collect()
    for r in joined:
        assert r["count"] == max(1, r.n // 100)


def test_real_mode_is_clearly_stubbed(spark, payloads):
    with pytest.raises(Exception, match="STUB.*PIL"):
        decode_image_meta(payloads, fake=False).collect()


# ----------------------------------------------------- real-mode codecs
def _p6(w, h, seed=7):
    body = bytes((i * seed + 13) % 256 for i in range(w * h * 3))
    return f"P6\n# comment\n{w} {h}\n255\n".encode() + body


def _bmp(w, h):
    import struct

    row = (w * 3 + 3) // 4 * 4
    return struct.pack(
        "<2sIHHIIii", b"BM", 54 + row * h, 0, 0, 54, 40, w, h
    ) + b"\x00" * (28 + row * h)


def _wav(n_frames, rate=8000):
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(b"\x01\x02" * n_frames)
    return buf.getvalue()


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, _p6(20, 10)),
        (2, _p6(300, 150)),
        (3, _bmp(33, 21)),
    ]
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def test_real_decode_ppm_and_bmp_headers(spark, media):
    got = {
        r.doc_id: (r.mime, r.width, r.height)
        for r in decode_image_meta(media, fake=False).collect()
    }
    assert got[1] == ("image/x-portable-pixmap", 20, 10)
    assert got[2] == ("image/x-portable-pixmap", 300, 150)
    assert got[3] == ("image/bmp", 33, 21)


def test_real_resize_p6_nearest_neighbor(spark, media):
    out = resize_images(
        media.filter(F.col("doc_id") < 3), max_side=64, fake=False
    )
    metas = {
        r.doc_id: (r.width, r.height)
        for r in decode_image_meta(out, fake=False).collect()
    }
    assert metas[1] == (20, 10)  # within bounds: untouched
    assert metas[2] == (64, 32)  # 300x150 -> 64x32, aspect preserved
    # the resized payload is itself a well-formed P6 of exactly w*h*3
    raw = {
        r.doc_id: bytes(r.payload) for r in out.collect()
    }[2]
    header_end = raw.index(b"255\n") + 4
    assert len(raw) - header_end == 64 * 32 * 3


def test_real_wav_framing(spark):
    # 8000 Hz, 2.5 s => 20000 frames; 1000 ms slices => 3 slices
    df = spark.createDataFrame(
        [(9, _wav(20000))], "doc_id long, payload binary"
    )
    rows = sorted(
        sample_audio_frames(df, fake=False).collect(),
        key=lambda r: r.frame_idx,
    )
    assert [(r.frame_idx, r.offset_ms, r.n_bytes) for r in rows] == [
        (0, 0, 16000),  # 8000 frames x 1 ch x 2 B
        (1, 1000, 16000),
        (2, 2000, 8000),  # 4000 remaining frames
    ]


def test_real_mode_unknown_codecs_raise(spark):
    # WEBP has no pure-python path — stays a loud stub
    df = spark.createDataFrame(
        [(1, b"RIFF\x00\x00\x00\x00WEBPgarbage")],
        "doc_id long, payload binary",
    )
    with pytest.raises(Exception, match="STUB.*PIL"):
        decode_image_meta(df, fake=False).collect()
    with pytest.raises(Exception, match="STUB.*pyav|STUB.*libsndfile"):
        sample_audio_frames(df, fake=False).collect()
    # PNG/JPEG magics with garbage bodies are MALFORMED payloads (the
    # codecs are real as of r4 — multimodal/png.py, jpeg.py), not stubs
    bad = spark.createDataFrame(
        [(1, b"\x89PNG\r\n\x1a\nxxxx")], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="malformed PNG"):
        decode_image_meta(bad, fake=False).collect()
    badj = spark.createDataFrame(
        [(1, b"\xff\xd8\xff\xe0jfif")], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="malformed JPEG"):
        decode_image_meta(badj, fake=False).collect()


def test_real_mode_malformed_ppm_header_is_named(spark):
    """A 'P6' magic whose header lacks the width/height tokens must
    fail with a ValueError naming the malformed payload, not an
    executor-opaque IndexError (ADVICE r3)."""
    bad = spark.createDataFrame(
        [(1, bytearray(b"P6  "))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="malformed PPM"):
        decode_image_meta(bad, fake=False).collect()


# ----------------------------------------------------------- PNG real mode
def _png_chunk(typ, data):
    import struct
    import zlib as _z

    return (
        struct.pack(">I", len(data)) + typ + data
        + struct.pack(">I", _z.crc32(typ + data) & 0xFFFFFFFF)
    )


def _forward_filter(arr, ftypes):
    """Reference FORWARD filter (PNG spec §9), written independently
    in the test so png_decode's inverse is checked against it."""
    h, w, ch = arr.shape
    stride = w * ch
    flat = arr.reshape(h, stride).astype(int)
    out = bytearray()
    prev = [0] * stride
    for y in range(h):
        ft = ftypes[y % len(ftypes)]
        row = list(flat[y])
        f = []
        for x in range(stride):
            a = row[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            f.append((row[x] - pred) & 255)
        out.append(ft)
        out += bytes(f)
        prev = row
    return bytes(out)


def _test_image(w=37, h=23, ch=3):
    import numpy as np

    y, x, c = np.meshgrid(
        np.arange(h), np.arange(w), np.arange(ch), indexing="ij"
    )
    return ((x * 7 + y * 13 + c * 29) % 256).astype(np.uint8)


def test_png_roundtrip_and_meta():
    from core_spark.multimodal.png import png_decode, png_encode, png_meta

    import numpy as np

    for chn in (1, 2, 3, 4):
        img = _test_image(ch=chn)
        raw = png_encode(img)
        assert png_meta(raw)[:2] == (37, 23)
        assert np.array_equal(png_decode(raw), img)


def test_png_decode_all_five_filters():
    """Hand-filtered scanlines (forward filter written in the test)
    cycling None/Sub/Up/Average/Paeth must reconstruct exactly."""
    import struct
    import zlib as _z

    import numpy as np

    from core_spark.multimodal.png import SIGNATURE, png_decode

    img = _test_image(w=16, h=10, ch=3)
    idat = _z.compress(_forward_filter(img, [0, 1, 2, 3, 4]))
    ihdr = struct.pack(">IIBBBBB", 16, 10, 8, 2, 0, 0, 0)
    raw = (
        SIGNATURE + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )
    assert np.array_equal(png_decode(raw), img)


def test_png_real_meta_and_resize(spark):
    import numpy as np

    from core_spark.multimodal.columns import decode_image_meta, resize_images
    from core_spark.multimodal.png import png_decode, png_encode

    img = _test_image(w=300, h=150, ch=3)
    df = spark.createDataFrame(
        [(1, bytearray(png_encode(img)))], "doc_id long, payload binary"
    )
    meta = decode_image_meta(df, fake=False).first()
    assert (meta.mime, meta.width, meta.height) == ("image/png", 300, 150)

    out = resize_images(df, max_side=64, fake=False).first()
    small = png_decode(bytes(out.payload))
    assert small.shape == (32, 64, 3)
    # nearest-neighbor: resized (0, 0) is source (0, 0); the step is
    # source-index sampling, so spot-check an interior pixel
    assert np.array_equal(small[0, 0], img[0, 0])
    ys = min(int(10 * (150 / 32)), 149)
    xs = min(int(20 * (300 / 64)), 299)
    assert np.array_equal(small[10, 20], img[ys, xs])
    # already-in-bounds payloads pass through untouched
    ok = spark.createDataFrame(
        [(2, bytearray(png_encode(_test_image(w=40, h=30))))],
        "doc_id long, payload binary",
    )
    assert bytes(resize_images(ok, max_side=64, fake=False).first().payload) \
        == bytes(ok.first().payload)


def test_png_unsupported_variants_stay_loudly_stubbed():
    import struct

    import pytest as _pt

    from core_spark.multimodal.png import SIGNATURE, png_decode

    def mk(depth, ctype, interlace):
        ihdr = struct.pack(">IIBBBBB", 4, 4, depth, ctype, 0, 0, interlace)
        return (
            SIGNATURE + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", b"x") + _png_chunk(b"IEND", b"")
        )

    # the full static-PNG matrix decodes as of late r4 — what remains
    # are MALFORMED payloads failing by name, never silent garbage
    with _pt.raises(ValueError, match="without PLTE"):
        png_decode(mk(8, 3, 0))
    with _pt.raises(ValueError, match="16-bit palette|palette depth"):
        png_decode(mk(16, 3, 0))
    with _pt.raises(ValueError, match="inflate failed"):
        png_decode(mk(16, 2, 0))  # garbage IDAT bytes
    with _pt.raises(ValueError, match="truncated"):
        png_decode(SIGNATURE + b"\x00\x00\x00\x0dIHDRshort")


def test_jpeg_roundtrip_meta_and_samplings():
    import numpy as np

    from core_spark.multimodal.jpeg import jpeg_decode, jpeg_encode, jpeg_meta

    h, w = 41, 53
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(xx * 255 / w), (yy * 255 / h), ((xx + yy) * 255 / (w + h))],
        axis=-1,
    ).astype(np.uint8)
    for sub in (False, True):
        raw = jpeg_encode(img, subsample=sub)
        assert jpeg_meta(raw) == (w, h, 3)
        dec = jpeg_decode(raw)
        assert dec.shape == (h, w, 3)
        mae = float(np.abs(dec.astype(int) - img.astype(int)).mean())
        assert mae < 5.0, (sub, mae)
    gray = (yy * 255 / h).astype(np.uint8)
    raw = jpeg_encode(gray)
    assert jpeg_meta(raw) == (w, h, 1)
    assert float(
        np.abs(jpeg_decode(raw).astype(int) - gray.astype(int)).mean()
    ) < 2.0


def test_jpeg_restart_intervals_decode_identically():
    import numpy as np

    from core_spark.multimodal.jpeg import jpeg_decode, jpeg_encode

    h, w = 37, 61
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(xx * 255 / w), (yy * 255 / h), ((xx + yy) * 255 / (w + h))],
        axis=-1,
    ).astype(np.uint8)
    ref = jpeg_decode(jpeg_encode(img, subsample=True))
    withr = jpeg_decode(jpeg_encode(img, subsample=True, restart_interval=2))
    assert np.array_equal(ref, withr)


def test_jpeg_real_meta_and_resize(spark):
    import numpy as np

    from core_spark.multimodal.columns import decode_image_meta, resize_images
    from core_spark.multimodal.jpeg import jpeg_decode, jpeg_encode

    h, w = 150, 300
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(xx * 255 / w), (yy * 255 / h), ((xx + yy) * 255 / (w + h))],
        axis=-1,
    ).astype(np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(jpeg_encode(img)))], "doc_id long, payload binary"
    )
    meta = decode_image_meta(df, fake=False).first()
    assert (meta.mime, meta.width, meta.height) == ("image/jpeg", 300, 150)

    out = resize_images(df, max_side=64, fake=False).first()
    small = jpeg_decode(bytes(out.payload))
    assert small.shape == (32, 64, 3)
    # lossy codec: assert proximity, not equality, against the ideal
    # nearest-neighbor downsample of the (already once-coded) source
    src = jpeg_decode(bytes(df.first().payload))
    ys = np.minimum((np.arange(32) * (150 / 32)).astype(int), 149)
    xs = np.minimum((np.arange(64) * (300 / 64)).astype(int), 299)
    ideal = src[ys][:, xs]
    mae = float(np.abs(small.astype(int) - ideal.astype(int)).mean())
    assert mae < 6.0, mae


def test_jpeg_unsupported_variants_stay_loudly_stubbed():
    import struct

    import pytest as _pt

    from core_spark.multimodal.jpeg import SOI, jpeg_decode, jpeg_meta

    def frame(marker):
        sof = struct.pack(">BHHB", 8, 10, 10, 3) + bytes(
            [1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]
        )
        return (
            SOI + bytes([0xFF, marker])
            + struct.pack(">H", 2 + len(sof)) + sof
        )

    # progressive (SOF2) is now DECODED, not stubbed; a frame with no
    # scan data is malformed, not unsupported
    prog = frame(0xC2)
    assert jpeg_meta(prog) == (10, 10, 3)
    with _pt.raises(ValueError, match="missing SOF or SOS"):
        jpeg_decode(prog + b"\xff\xd9")
    with _pt.raises(NotImplementedError, match="arithmetic.*PIL"):
        jpeg_decode(frame(0xC9) + b"\xff\xd9")
    with _pt.raises(ValueError, match="missing SOI"):
        jpeg_meta(b"nope")
    with _pt.raises(ValueError, match="truncated"):
        jpeg_meta(SOI + b"\xff\xc0\xff\xff")


def test_png_palette_decode_with_and_without_trns():
    import struct
    import zlib as _z

    import numpy as np

    from core_spark.multimodal.png import SIGNATURE, png_decode

    w, h = 5, 4
    idx = (np.arange(w * h, dtype=np.uint8).reshape(h, w)) % 3
    scan = b"".join(b"\x00" + idx[y].tobytes() for y in range(h))
    plte = bytes([250, 0, 0, 0, 250, 0, 0, 0, 250])
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)

    raw = (
        SIGNATURE + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"PLTE", plte)
        + _png_chunk(b"IDAT", _z.compress(scan)) + _png_chunk(b"IEND", b"")
    )
    rgb = png_decode(raw)
    assert rgb.shape == (h, w, 3)
    assert tuple(rgb[0, 0]) == (250, 0, 0) and tuple(rgb[0, 1]) == (0, 250, 0)

    rawt = (
        SIGNATURE + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"PLTE", plte)
        + _png_chunk(b"tRNS", bytes([10, 200]))
        + _png_chunk(b"IDAT", _z.compress(scan)) + _png_chunk(b"IEND", b"")
    )
    rgba = png_decode(rawt)
    assert rgba.shape == (h, w, 4)
    # entry 0 -> alpha 10, entry 1 -> 200, entry 2 -> default 255
    assert rgba[0, 0, 3] == 10 and rgba[0, 1, 3] == 200 and rgba[0, 2, 3] == 255

    import pytest as _pt
    # index beyond the palette is a malformed payload, named as such
    bad = (
        SIGNATURE + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", bytes([1, 2, 3]))
        + _png_chunk(b"IDAT", _z.compress(scan)) + _png_chunk(b"IEND", b"")
    )
    with _pt.raises(ValueError, match="palette index"):
        png_decode(bad)
    # palette image without PLTE
    nop = (
        SIGNATURE + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _z.compress(scan)) + _png_chunk(b"IEND", b"")
    )
    with _pt.raises(ValueError, match="without PLTE"):
        png_decode(nop)


def test_jpeg_malformed_and_multiscan_are_named():
    import struct

    import numpy as np
    import pytest as _pt

    from core_spark.multimodal.jpeg import SOI, jpeg_decode, jpeg_encode

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
    raw = jpeg_encode(img)
    # truncated entropy data: named ValueError, never a bare IndexError
    with _pt.raises(ValueError, match="truncated entropy"):
        jpeg_decode(raw[:-10])
    del struct  # truncation is the only malformed case left here


def test_noninterleaved_baseline_multi_scan_decodes():
    """A baseline file may legally carry one SOS per component
    (non-interleaved scans). Build one from the SAME quantized
    coefficients as the interleaved encoding and require identical
    pixels — the r5 'multi-scan baseline' loud stub is now a real
    decode path."""
    import struct

    import numpy as np

    from core_spark.multimodal.jpeg import (
        _BitWriter,
        _mag,
        _P_AC_BITS,
        _P_AC_MAP,
        _P_AC_VALS,
        _P_DC_BITS,
        _P_DC_MAP,
        _P_DC_VALS,
        _QC,
        _QL,
        _quantized_coeffs,
        SOI,
        jpeg_decode,
        jpeg_encode,
    )

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (24, 21, 3), dtype=np.uint8)
    gray, h, w, samp, qids, coeffs, mcux, mcuy = _quantized_coeffs(
        img, False
    )

    out = bytearray(SOI)
    for tq, zzvals in ((0, _QL), (1, _QC)):
        out += b"\xff\xdb" + struct.pack(">HB", 67, tq) + bytes(
            int(v) for v in zzvals
        )
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for i in range(3):
        sof += struct.pack(
            ">BBB", i + 1, (samp[i][0] << 4) | samp[i][1], qids[i]
        )
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    out += b"\xff\xc4" + struct.pack(
        ">HB", 2 + 17 + len(_P_DC_VALS), 0x00
    ) + bytes(_P_DC_BITS) + bytes(_P_DC_VALS)
    out += b"\xff\xc4" + struct.pack(
        ">HB", 2 + 17 + len(_P_AC_VALS), 0x10
    ) + bytes(_P_AC_BITS) + bytes(_P_AC_VALS)

    # one scan per component over the component's own block grid
    for ci in range(3):
        bw = _BitWriter()
        pred = 0
        by, bx = coeffs[ci].shape[:2]
        for yy in range(by):
            for xx in range(bx):
                z = coeffs[ci][yy, xx]
                t, mv = _mag(int(z[0]) - pred)
                pred = int(z[0])
                c, ln = _P_DC_MAP[t]
                bw.write(c, ln)
                if t:
                    bw.write(mv, t)
                run = 0
                last = 63
                while last > 0 and z[last] == 0:
                    last -= 1
                for k in range(1, last + 1):
                    if z[k] == 0:
                        run += 1
                        continue
                    while run > 15:
                        c, ln = _P_AC_MAP[0xF0]
                        bw.write(c, ln)
                        run -= 16
                    t, mv = _mag(int(z[k]))
                    c, ln = _P_AC_MAP[(run << 4) | t]
                    bw.write(c, ln)
                    bw.write(mv, t)
                    run = 0
                if last < 63:
                    c, ln = _P_AC_MAP[0x00]
                    bw.write(c, ln)
        bw.flush()
        sos = bytes([1, ci + 1, 0x00, 0, 63, 0])
        out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
        out += bw.out
    out += b"\xff\xd9"

    want = jpeg_decode(jpeg_encode(img))
    got = jpeg_decode(bytes(out))
    assert np.array_equal(want, got)


def test_jpeg_entropy_cost_is_linear():
    """The bit accumulators must not retain consumed bytes — an
    unmasked bigint makes codec cost quadratic in entropy size
    (review finding; 13x per 4x pixels before the fix). Noise images
    maximize entropy; allow generous scheduling slack but fail the
    quadratic regime, which is >10x per 4x pixels."""
    import time

    import numpy as np

    from core_spark.multimodal.jpeg import jpeg_decode, jpeg_encode

    rng = np.random.default_rng(3)
    times = []
    for side in (64, 256):
        img = rng.integers(0, 256, (side, side, 3), dtype=np.uint8)
        raw = jpeg_encode(img)
        t0 = time.perf_counter()
        jpeg_decode(raw)
        times.append(time.perf_counter() - t0)
    # 16x pixels: linear => ~16x time; quadratic was >100x. Split the
    # difference with a 60x ceiling to stay robust under noisy CI.
    assert times[1] < max(times[0], 0.005) * 60, times


# ----------------------------------------------------------- GIF real mode
def test_gif_roundtrip_meta_and_grayscale():
    import numpy as np

    from core_spark.multimodal.gif import gif_decode, gif_encode, gif_meta

    h, w = 23, 37
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(xx * 16) % 256, (xx * 16) % 256, ((xx // 4) * 32) % 256], axis=-1
    ).astype(np.uint8)
    raw = gif_encode(img)
    assert gif_meta(raw) == (w, h, 1)
    assert np.array_equal(gif_decode(raw), img)
    g = ((yy * 9) % 200).astype(np.uint8)
    assert np.array_equal(
        gif_decode(gif_encode(g)), np.stack([g] * 3, axis=-1)
    )


def test_gif_interlace_and_transparency_decode():
    import struct

    import numpy as np

    from core_spark.multimodal.gif import gif_decode, gif_encode

    # build an interlaced variant by patching the encoder's frame
    # flags and reordering rows with the 4-pass schedule ourselves
    h, w = 13, 9
    img = (np.arange(h * w * 3).reshape(h, w, 3) % 7 * 36).astype(np.uint8)
    raw = bytearray(gif_encode(img))
    desc = raw.index(0x2C, 13)
    assert raw[desc + 9] == 0  # frame flags byte
    # the encoder wrote rows sequentially; an interlaced READER maps
    # file rows through the pass schedule, so feed it a file whose
    # rows are pre-permuted to decode back to `img`
    order = []
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        order += list(range(start, h, step))
    permuted = img[order]
    raw2 = bytearray(gif_encode(permuted))
    desc2 = raw2.index(0x2C, 13)
    raw2[desc2 + 9] |= 0x40  # set interlace flag
    assert np.array_equal(gif_decode(bytes(raw2)), img)

    # GIF89a graphic control: transparent index -> RGBA with alpha 0
    base = gif_encode(img)
    gce = bytes([0x21, 0xF9, 0x04, 0x01, 0x00, 0x00, 0x00, 0x00])
    desc3 = base.index(b"\x2c", 13)
    withgce = base[:desc3] + gce + base[desc3:]
    rgba = gif_decode(withgce)
    assert rgba.shape == (h, w, 4)
    assert (rgba[..., 3] == 0).any() and (rgba[..., 3] == 255).any()


def test_gif_real_meta_resize_and_malformed(spark):
    import numpy as np
    import pytest as _pt

    from core_spark.multimodal.columns import decode_image_meta, resize_images
    from core_spark.multimodal.gif import gif_decode, gif_encode

    h, w = 150, 300
    yy, xx = np.mgrid[0:h, 0:w]
    img = ((xx // 32 * 32 + yy // 32) % 8 * 30).astype(np.uint8)
    rgb = np.stack([img] * 3, axis=-1)
    df = spark.createDataFrame(
        [(1, bytearray(gif_encode(rgb)))], "doc_id long, payload binary"
    )
    meta = decode_image_meta(df, fake=False).first()
    assert (meta.mime, meta.width, meta.height) == ("image/gif", 300, 150)
    out = resize_images(df, max_side=64, fake=False).first()
    small = gif_decode(bytes(out.payload))
    assert small.shape == (32, 64, 3)
    ys = min(int(10 * (150 / 32)), 149)
    xs = min(int(20 * (300 / 64)), 299)
    assert np.array_equal(small[10, 20], rgb[ys, xs])  # nearest-neighbor

    with _pt.raises(ValueError, match="malformed GIF"):
        gif_decode(b"GIF89a\x00")
    with _pt.raises(ValueError, match="256-entry"):
        i = np.arange(400).reshape(20, 20)
        many = np.stack(
            [i % 256, i // 256, np.zeros_like(i)], axis=-1
        ).astype(np.uint8)  # 400 distinct colors
        gif_encode(many)


def test_gif_transparent_resize_preserves_alpha(spark):
    """RGBA GIF resize (late r6 — formerly a stub): the transparent
    index survives the decode -> nearest-neighbor -> re-encode trip,
    and the resampled alpha equals resampling the original alpha."""
    import numpy as np

    from core_spark.multimodal.columns import resize_images
    from core_spark.multimodal.gif import gif_decode, gif_encode

    h, w = 150, 300
    yy, xx = np.mgrid[0:h, 0:w]
    rgb = np.stack([((xx // 40) % 5 * 50).astype(np.uint8)] * 3, axis=-1)
    alpha = np.where((xx + yy) % 5 == 0, 0, 255).astype(np.uint8)
    rgba = np.dstack([rgb, alpha])
    raw = gif_encode(rgba)
    assert gif_decode(raw).shape == (h, w, 4)

    df = spark.createDataFrame(
        [(1, bytearray(raw))], "doc_id long, payload binary"
    )
    out = resize_images(df, max_side=64, fake=False).first()
    small = gif_decode(bytes(out.payload))
    assert small.shape == (32, 64, 4)
    ys = np.minimum((np.arange(32) * (h / 32)).astype(int), h - 1)
    xs = np.minimum((np.arange(64) * (w / 64)).astype(int), w - 1)
    assert np.array_equal(small[..., 3], alpha[ys][:, xs])
    keep = small[..., 3] == 255
    assert np.array_equal(small[..., :3][keep], rgb[ys][:, xs][keep])


def test_png_sub_byte_depths_and_adam7():
    """1/2/4-bit grayscale + palette, and Adam7 interlace for 8-bit
    RGB — fixtures built with an independent test-side packer."""
    import struct
    import zlib as _z

    import numpy as np

    from core_spark.multimodal.png import SIGNATURE, png_decode

    def pack_rows(vals2d, depth):
        # MSB-first bit packing of one sample per entry, filter 0 rows
        out = bytearray()
        for row in vals2d:
            bits = []
            for v in row:
                bits += [(v >> (depth - 1 - i)) & 1 for i in range(depth)]
            while len(bits) % 8:
                bits.append(0)
            packed = np.packbits(np.array(bits, dtype=np.uint8))
            out.append(0)
            out += packed.tobytes()
        return bytes(out)

    w, h = 11, 5
    for depth in (1, 2, 4):
        maxv = (1 << depth) - 1
        idx = (np.arange(h * w).reshape(h, w) % (maxv + 1)).astype(np.uint8)
        # grayscale: samples scale to 0..255
        ihdr = struct.pack(">IIBBBBB", w, h, depth, 0, 0, 0, 0)
        raw = (
            SIGNATURE + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", _z.compress(pack_rows(idx, depth)))
            + _png_chunk(b"IEND", b"")
        )
        want = (idx.astype(int) * 255 // maxv).astype(np.uint8)
        assert np.array_equal(png_decode(raw)[..., 0], want), depth
        # palette: samples are indices into PLTE
        plte = bytes(
            b for c in range(maxv + 1) for b in (c * 16 % 256, 0, 255 - c * 16 % 256)
        )
        ihdr = struct.pack(">IIBBBBB", w, h, depth, 3, 0, 0, 0)
        rawp = (
            SIGNATURE + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"PLTE", plte)
            + _png_chunk(b"IDAT", _z.compress(pack_rows(idx, depth)))
            + _png_chunk(b"IEND", b"")
        )
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        assert np.array_equal(png_decode(rawp), pal[idx]), depth

    # Adam7 8-bit RGB: extract the seven passes test-side, filter 0
    img = _test_image(w=13, h=9, ch=3)
    passes = bytearray()
    for x0, dx, y0, dy in (
        (0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
        (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2),
    ):
        sub = img[y0::dy, x0::dx]
        for row in sub:
            passes.append(0)
            passes += row.tobytes()
    ihdr = struct.pack(">IIBBBBB", 13, 9, 8, 2, 0, 0, 1)
    rawi = (
        SIGNATURE + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _z.compress(bytes(passes)))
        + _png_chunk(b"IEND", b"")
    )
    assert np.array_equal(png_decode(rawi), img)


def test_png_16bit_decode():
    import struct
    import zlib as _z

    import numpy as np

    from core_spark.multimodal.png import SIGNATURE, png_decode

    h, w = 5, 7
    img = (np.arange(h * w * 3).reshape(h, w, 3) * 997 % 65536).astype(
        np.uint16
    )
    scan = b"".join(
        b"\x00" + img[y].astype(">u2").tobytes() for y in range(h)
    )
    ihdr = struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0)
    raw = (
        SIGNATURE + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _z.compress(scan)) + _png_chunk(b"IEND", b"")
    )
    dec = png_decode(raw)
    assert dec.dtype == np.uint16
    assert np.array_equal(dec, img)

    # 16-bit grayscale with a Sub-filtered row: the filter's left
    # distance is 2 bytes (bpp), exercised against a test-side filter
    g = (np.arange(w, dtype=np.uint16) * 4099 % 65536)[None, :].repeat(
        h, axis=0
    )
    rows = bytearray()
    for y in range(h):
        raw_b = g[y].astype(">u2").tobytes()
        if y == 2:  # forward Sub filter with bpp=2
            fb = bytearray(raw_b)
            for x in range(len(fb) - 1, 1, -1):
                fb[x] = (fb[x] - raw_b[x - 2]) & 0xFF
            rows += b"\x01" + bytes(fb)
        else:
            rows += b"\x00" + raw_b
    ihdr = struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0)
    raw = (
        SIGNATURE + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _z.compress(bytes(rows)))
        + _png_chunk(b"IEND", b"")
    )
    assert np.array_equal(png_decode(raw)[..., 0], g)


def test_bmp_decode_roundtrip_palette_and_orientation(spark):
    import struct

    import numpy as np
    import pytest as _pt

    from core_spark.multimodal.bmp import bmp_decode, bmp_encode, bmp_meta
    from core_spark.multimodal.columns import decode_image_meta, resize_images

    img = _test_image(w=13, h=9, ch=3)
    raw = bmp_encode(img)
    assert bmp_meta(raw) == (13, 9, 24)
    assert np.array_equal(bmp_decode(raw), img)

    # top-down variant: negate height, reverse rows in the body
    flipped = bmp_encode(img[::-1])
    td = bytearray(flipped)
    struct.pack_into("<i", td, 22, -9)
    assert np.array_equal(bmp_decode(bytes(td)), img)

    # 8-bit palette: header + 4-byte BGRX entries + padded index rows
    w, h = 7, 3
    idx = (np.arange(h * w).reshape(h, w) % 4).astype(np.uint8)
    pal = bytes(b for c in range(4) for b in (255 - c * 60, c * 60, c * 10, 0))
    row_bytes = (w + 3) // 4 * 4
    body = np.zeros((h, row_bytes), dtype=np.uint8)
    body[:, :w] = idx[::-1]
    raw8 = (
        struct.pack("<2sIHHI", b"BM", 0, 0, 0, 54 + len(pal))
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, 0, 0, 0, 4, 0)
        + pal + body.tobytes()
    )
    dec = bmp_decode(raw8)
    want = np.frombuffer(pal, dtype=np.uint8).reshape(-1, 4)[:, [2, 1, 0]][idx]
    assert np.array_equal(dec, want)

    # 32-bit BGRA keeps alpha
    rgba = np.dstack([img, np.full(img.shape[:2], 7, np.uint8)])
    bgra = rgba[::-1][:, :, [2, 1, 0, 3]]
    raw32 = (
        struct.pack("<2sIHHI", b"BM", 0, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 13, 9, 1, 32, 0, 0, 0, 0, 0, 0)
        + bgra.tobytes()
    )
    assert np.array_equal(bmp_decode(raw32), rgba)

    with _pt.raises(NotImplementedError, match="RLE|compression"):
        bad = bytearray(raw)
        struct.pack_into("<I", bad, 30, 1)
        bmp_decode(bytes(bad))
    with _pt.raises(ValueError, match="truncated"):
        bmp_decode(raw[:70])

    # kernel integration: meta + resize over Spark
    big = bmp_encode(_test_image(w=300, h=150, ch=3))
    df = spark.createDataFrame(
        [(1, bytearray(big))], "doc_id long, payload binary"
    )
    meta = decode_image_meta(df, fake=False).first()
    assert (meta.mime, meta.width, meta.height) == ("image/bmp", 300, 150)
    out = resize_images(df, max_side=64, fake=False).first()
    assert bmp_decode(bytes(out.payload)).shape == (32, 64, 3)


def test_gif_animation_roundtrip_and_disposal():
    """gif_encode_anim → gif_frames round-trips full frames; hand-built
    partial-update frames exercise disposal 2 (background) and 3
    (previous) plus transparency-preserves-canvas compositing."""
    import struct

    import numpy as np
    import pytest as _pt

    from core_spark.multimodal.gif import gif_encode_anim, gif_frames, gif_meta

    f0 = np.zeros((6, 9, 3), np.uint8)
    f0[:, :4] = [250, 10, 10]
    f1 = f0.copy()
    f1[:, 4:] = [10, 250, 10]
    f2 = np.full((6, 9, 3), 77, np.uint8)
    raw = gif_encode_anim([f0, f1, f2], [100, 200, 0])
    assert gif_meta(raw) == (9, 6, 3)
    got = list(gif_frames(raw))
    assert [d for d, _ in got] == [100, 200, 0]
    for (_, a), e in zip(got, [f0, f1, f2]):
        assert np.array_equal(a, e)
    assert len(list(gif_frames(raw, max_frames=2))) == 2

    with _pt.raises(ValueError, match="equal-length"):
        gif_encode_anim([f0], [1, 2])
    with _pt.raises(ValueError, match="share dimensions"):
        gif_encode_anim([f0, np.zeros((3, 3, 3), np.uint8)], [1, 2])

    # Hand-build a partial-update animation: 4x4 screen, 2-entry GCT
    # (black, white); frame 0 full black w/ disposal 3; frame 1 a 2x2
    # white patch at (1,1) with disposal 2 -> frame 2 must see the
    # patch restored to background (index 0 = black) after frame 1,
    # and 'restore previous' semantics for frame 0 are covered by the
    # patch landing on a saved canvas.
    def frame(left, top, fw, fh, pixels, disposal, transparent=None):
        tflag = 0x01 if transparent is not None else 0
        gce = bytes([0x21, 0xF9, 0x04, (disposal << 2) | tflag, 0x0A, 0x00,
                     transparent or 0, 0x00])
        desc = b"\x2c" + struct.pack("<HHHHB", left, top, fw, fh, 0)
        # 2-color palette -> min_code 2; literal codes with a CLEAR
        # before the decoder's table would force a width bump
        codes = [4]
        next_code = 6
        for p in pixels:
            if next_code >= 7:
                codes.append(4)
                next_code = 6
            codes.append(p)
            next_code += 1
        codes.append(5)  # EOI
        acc = nbits = 0
        body = bytearray()
        for c in codes:
            acc |= c << nbits
            nbits += 3
            while nbits >= 8:
                body.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
        if nbits:
            body.append(acc & 0xFF)
        return gce + desc + bytes([2, len(body)]) + bytes(body) + b"\x00"

    hdr = b"GIF89a" + struct.pack("<HHBBB", 4, 4, 0x80, 0, 0)
    hdr += bytes([0, 0, 0, 255, 255, 255])  # GCT: black, white
    anim = (
        hdr
        + frame(0, 0, 4, 4, [0] * 16, disposal=3)
        + frame(1, 1, 2, 2, [1] * 4, disposal=2)
        + frame(0, 0, 1, 1, [1], disposal=0)
        + b"\x3b"
    )
    frames = [a for _, a in gif_frames(anim)]
    assert (frames[0] == 0).all()
    assert (frames[1][1:3, 1:3] == 255).all() and frames[1][0, 0, 0] == 0
    # after disposal 2 the patch went back to background (black);
    # frame 2 only paints (0,0) white
    assert frames[2][0, 0, 0] == 255 and (frames[2][1:3, 1:3] == 0).all()


def test_sample_video_frames_real_and_fake(spark):
    import hashlib

    import numpy as np
    import pytest as _pt

    from core_spark.multimodal.columns import sample_video_frames
    from core_spark.multimodal.gif import gif_encode_anim

    f0 = np.zeros((4, 4, 3), np.uint8)
    f1 = np.full((4, 4, 3), 200, np.uint8)
    # frame 0 shows for 1500ms, frame 1 for 1000ms -> samples at
    # t=0 (f0), t=1000 (f0), t=2000 (f1)
    raw = gif_encode_anim([f0, f1], [1500, 1000])
    df = spark.createDataFrame(
        [(7, bytearray(raw))], "doc_id long, payload binary"
    )
    rows = (
        sample_video_frames(df, fake=False)
        .orderBy("t_ms")
        .collect()
    )
    assert [(r.frame_idx, r.t_ms) for r in rows] == [(0, 0), (0, 1000), (1, 2000)]
    assert rows[0].mean_luma == 0.0 and abs(rows[2].mean_luma - 200.0) < 1e-6
    assert (rows[0].width, rows[0].height) == (4, 4)

    # zero-duration animation still yields frame 0
    raw0 = gif_encode_anim([f1], [0])
    df0 = spark.createDataFrame(
        [(1, bytearray(raw0))], "doc_id long, payload binary"
    )
    r0 = sample_video_frames(df0, fake=False).collect()
    assert len(r0) == 1 and r0[0].frame_idx == 0

    # non-GIF raises naming pyav
    dfx = spark.createDataFrame(
        [(1, bytearray(b"\x00\x00\x00 ftypmp42"))],
        "doc_id long, payload binary",
    )
    with _pt.raises(Exception, match="pyav"):
        sample_video_frames(dfx, fake=False).collect()

    # fake mode reproduces the md5 arithmetic of the oracle
    payload = b"x" * 450
    dff = spark.createDataFrame(
        [(3, bytearray(payload))], "doc_id long, payload binary"
    )
    got = sample_video_frames(dff).orderBy("frame_idx").collect()
    assert len(got) == 2  # 450 // 200
    h0 = hashlib.md5(payload).hexdigest()
    assert got[0].width == 64 + int(h0[0:4], 16) % 512
    exp = (int(hashlib.md5(payload + b":1").hexdigest()[:8], 16) % 256000) / 1000.0
    assert got[1].mean_luma == exp and got[1].t_ms == 1000


class _FlacPacker:
    """Independent test-side bit packer (MSB-first like FLAC)."""

    def __init__(self):
        self.bits = []

    def w(self, v, n):
        for i in range(n - 1, -1, -1):
            self.bits.append((v >> i) & 1)

    def align(self):
        while len(self.bits) % 8:
            self.bits.append(0)

    def bytes(self):
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            b = 0
            for bit in self.bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


def test_flac_roundtrip_families():
    import numpy as np

    from core_spark.multimodal.flac import flac_decode, flac_encode, flac_meta

    rng = np.random.default_rng(11)
    t = np.arange(5000)
    pcm = np.stack(
        [
            (2500 * np.sin(t / 40) + rng.integers(-9, 9, t.size)),
            (1800 * np.cos(t / 70) + rng.integers(-9, 9, t.size)),
        ],
        axis=1,
    ).astype(np.int32)
    raw = flac_encode(pcm, sample_rate=16000, bps=16, block_size=512)
    assert flac_meta(raw) == (16000, 2, 16, 5000)
    dec, rate = flac_decode(raw)
    assert rate == 16000 and np.array_equal(dec, pcm)
    assert len(raw) < pcm.size * 2  # prediction actually compresses

    noisy = rng.integers(-(1 << 15), (1 << 15) - 1, 777).astype(np.int32)
    d2, _ = flac_decode(flac_encode(noisy, bps=16, block_size=192))
    assert np.array_equal(d2[:, 0], noisy)

    import pytest as _pt

    bad = bytearray(raw)
    bad[-1] ^= 0xFF
    with _pt.raises(ValueError, match="CRC-16"):
        flac_decode(bytes(bad))
    with _pt.raises(ValueError, match="signature"):
        flac_meta(b"flaC....")


def test_flac_decoder_lpc_midside_escape_wasted():
    """Hand-built frame exercising the decode-only paths the encoder
    never emits: LPC prediction, mid/side stereo, a Rice escape
    partition (5-bit method), and wasted bits."""
    import numpy as np

    from core_spark.multimodal.flac import _crc8, _crc16, flac_decode

    n = 16
    # STREAMINFO: rate 8000, 2ch, 16bps, 16 samples
    info = bytearray()
    info += (16).to_bytes(2, "big") + (16).to_bytes(2, "big")
    info += (0).to_bytes(3, "big") * 2
    info += ((8000 << 44) | (1 << 41) | (15 << 36) | n).to_bytes(8, "big")
    info += b"\x00" * 16
    raw = bytearray(b"fLaC")
    raw += bytes([0x80]) + len(info).to_bytes(3, "big") + info

    p = _FlacPacker()
    p.w(0x3FFE, 14); p.w(0, 1); p.w(0, 1)
    p.w(6, 4)       # 8-bit block size follows
    p.w(0, 4)       # rate from STREAMINFO
    p.w(10, 4)      # mid/side
    p.w(0, 3); p.w(0, 1)
    p.w(0, 8)       # frame number 0 (utf8 1-byte)
    p.w(n - 1, 8)
    p.align()
    hdr = p.bytes()
    p.w(_crc8(hdr), 8)

    # mid subframe: LPC order 1, coeff 1, shift 0 -> s[i] = e[i] + s[i-1]
    mids = [10]
    resid = [3, -2, 5, 0, -7, 1, 2, -1, 4, -3, 6, 0, -5, 2, 1]
    p.w(0, 1); p.w(32, 6); p.w(0, 1)     # LPC order 1, no wasted bits
    p.w(mids[0] & 0xFFFF, 16)            # warmup
    p.w(3, 4)                            # precision-1 -> 4 bits
    p.w(0, 5)                            # shift 0
    p.w(1, 4)                            # coeff = 1
    p.w(1, 2)                            # residual method 1 (5-bit)
    p.w(0, 4)                            # partition order 0
    p.w(31, 5)                           # escape
    p.w(6, 5)                            # raw 6-bit residuals
    for e in resid:
        p.w(e & 0x3F, 6)
        mids.append(mids[-1] + e)

    # side subframe: wasted bits = 1, CONSTANT 3 -> samples all 6
    p.w(0, 1); p.w(0, 6)                 # CONSTANT
    p.w(1, 1)                            # wasted-bits flag
    p.w(1, 1)                            # unary 0 -> wasted = 1
    p.w(3, 17 - 1, )                     # bps 16+1 side, minus wasted
    p.align()
    frame = p.bytes()
    raw += frame + _crc16(frame).to_bytes(2, "big")

    dec, rate = flac_decode(bytes(raw))
    assert rate == 8000 and dec.shape == (n, 2)
    m = np.array(mids)
    s = np.full(n, 6)
    left = ((np.left_shift(m, 1) | (s & 1)) + s) >> 1
    right = left - s
    assert np.array_equal(dec[:, 0], left)
    assert np.array_equal(dec[:, 1], right)


def test_sample_audio_frames_flac(spark):
    import numpy as np

    from core_spark.multimodal.columns import sample_audio_frames
    from core_spark.multimodal.flac import flac_encode

    t = np.arange(3000)
    pcm = np.stack(
        [(900 * np.sin(t / 30)), (700 * np.cos(t / 55))], axis=1
    ).astype(np.int32)
    raw = flac_encode(pcm, sample_rate=1000, bps=16, block_size=1024)
    df = spark.createDataFrame(
        [(5, bytearray(raw))], "doc_id long, payload binary"
    )
    rows = (
        sample_audio_frames(df, fake=False).orderBy("frame_idx").collect()
    )
    # 3000 samples @1kHz = 3 one-second slices of 1000 samples
    assert [(r.frame_idx, r.offset_ms, r.n_bytes) for r in rows] == [
        (0, 0, 4000),
        (1, 1000, 4000),
        (2, 2000, 4000),
    ]


def test_flac_utf8_frame_number_roundtrip_all_widths():
    """The encoder's general n-byte UTF-8 frame number must roundtrip
    through the decoder at every width boundary — the fixed 3-byte
    form corrupted the lead byte past frame 0x10000 (~101 min of
    mono 44.1 kHz audio at block 4096)."""
    import pytest as _pytest

    from core_spark.multimodal.flac import (
        _BitReader,
        _BitWriter,
        _read_utf8_number,
        _write_utf8_number,
    )

    cases = [0, 1, 0x7F, 0x80, 0x7FF, 0x800, 0xFFFF, 0x10000,
             0x1FFFFF, 0x200000, (1 << 26) - 1, 1 << 26, (1 << 31) - 1,
             1 << 31, (1 << 36) - 1]
    for fi in cases:
        w = _BitWriter()
        _write_utf8_number(w, fi)
        assert _read_utf8_number(_BitReader(w.bytes())) == fi, hex(fi)
    with _pytest.raises(ValueError, match="36-bit"):
        w = _BitWriter()
        _write_utf8_number(w, 1 << 36)


def test_flac_fast_paths_match_reference_forms():
    """The r13-optimized internals (table CRCs, span bit reader,
    byte-scan unary, vectorized order search, one-call unary write)
    against their definitional spellings, bit for bit."""
    import numpy as np

    from core_spark.multimodal.flac import (
        _BitReader,
        _BitWriter,
        _crc8,
        _crc16,
        _encode_subframe,
        flac_decode,
        flac_encode,
    )

    rng = np.random.default_rng(13)
    # CRCs vs the bitwise polynomial definition
    for data in (b"", b"\x00", rng.integers(0, 256, 257).astype(np.uint8).tobytes()):
        c8 = 0
        for b in data:
            c8 ^= b
            for _ in range(8):
                c8 = ((c8 << 1) ^ 0x07) & 0xFF if c8 & 0x80 else (c8 << 1) & 0xFF
        c16 = 0
        for b in data:
            c16 ^= b << 8
            for _ in range(8):
                c16 = (
                    ((c16 << 1) ^ 0x8005) & 0xFFFF
                    if c16 & 0x8000
                    else (c16 << 1) & 0xFFFF
                )
        assert _crc8(data) == c8 and _crc16(data) == c16

    # bit reader vs a one-bit-at-a-time reference over random widths
    blob = rng.integers(0, 256, 64).astype(np.uint8).tobytes()
    widths = [int(w) for w in rng.integers(0, 20, 40)]
    r = _BitReader(blob)
    pos = 0

    def ref_read(n):
        nonlocal pos
        out = 0
        for _ in range(n):
            out = (out << 1) | ((blob[pos >> 3] >> (7 - (pos & 7))) & 1)
            pos += 1
        return out

    for w_n in widths:
        assert r.read(w_n) == ref_read(w_n)
    # unary scan vs bit loop, including multi-byte zero runs
    uw = _BitWriter()
    qs = [0, 1, 7, 8, 9, 30, 3]
    for q in qs:
        uw.write(1, q + 1)
    uw.align()
    ur = _BitReader(uw.bytes())
    assert [ur.read_unary() for _ in qs] == qs
    import pytest as _pt

    with _pt.raises(ValueError, match="truncated"):
        _BitReader(b"\x00").read_unary()
    with _pt.raises(ValueError, match="truncated"):
        _BitReader(b"\x01").read(9)

    # vectorized subframe encoder vs the scalar spelling
    def scalar_subframe(samples, bps):
        w = _BitWriter()
        coeffs_tab = {0: [], 1: [1], 2: [2, -1]}
        best_order, best_resid, best_cost = None, None, None
        for order in (0, 1, 2):
            if len(samples) <= order:
                continue
            coeffs = coeffs_tab[order]
            resid = [
                samples[i]
                - sum(c * samples[i - j - 1] for j, c in enumerate(coeffs))
                for i in range(order, len(samples))
            ]
            mean = sum(abs(e) for e in resid) / max(1, len(resid))
            k = 0
            while (1 << (k + 1)) < mean + 1 and k < 14:
                k += 1
            cost = sum(((abs(e) << 1) >> k) + 1 + k for e in resid)
            if best_cost is None or cost < best_cost:
                best_order, best_resid, best_cost = order, (resid, k), cost
        if best_cost is None or best_cost > len(samples) * bps:
            w.write(0, 1)
            w.write(1, 6)
            w.write(0, 1)
            for s in samples:
                w.write(s, bps)
            return w.bytes(), w.nbits
        resid, k = best_resid
        w.write(0, 1)
        w.write(8 + best_order, 6)
        w.write(0, 1)
        for s in samples[:best_order]:
            w.write(s, bps)
        w.write(0, 2)
        w.write(0, 4)
        w.write(k, 4)
        for e in resid:
            z = ((-e << 1) - 1) if e < 0 else (e << 1)
            for _ in range(z >> k):
                w.write(0, 1)
            w.write(1, 1)
            if k:
                w.write(z, k)
        return w.bytes(), w.nbits

    cases = [
        [0],
        [5, 5, 5, 5],
        list(rng.integers(-2048, 2048, 200)),
        [int((-1) ** i * 32000) for i in range(100)],  # VERBATIM path
        list(np.cumsum(rng.integers(-3, 4, 300))),  # order-2 wins
    ]
    for samples in cases:
        w = _BitWriter()
        _encode_subframe(w, samples, 16)
        ref_bytes, ref_nbits = scalar_subframe([int(s) for s in samples], 16)
        assert (w.bytes(), w.nbits) == (ref_bytes, ref_nbits), samples[:8]

    # whole-file: encode still decodes to the input exactly
    pcm = rng.integers(-2048, 2048, (700, 2)).astype(np.int32)
    dec, rate = flac_decode(flac_encode(pcm, sample_rate=22050, block_size=128))
    assert rate == 22050 and np.array_equal(dec, pcm)


def test_audio_frame_features_wav_and_flac(spark):
    """Integer per-frame energy over real decoded PCM: a WAV whose
    samples are known constants and a FLAC round-trip of a ramp both
    produce exactly-computable energies; slicing covers every sample
    exactly once."""
    import numpy as np

    from core_spark.multimodal.columns import audio_frame_features
    from core_spark.multimodal.flac import flac_encode

    # 1.5 s of mono 8 kHz: sample value 0x0201 = 513 everywhere
    wav = _wav(12000, rate=8000)
    # FLAC: 1 ch ramp 0..9999 at 8 kHz -> 1.25 s
    ramp = np.arange(10000, dtype=np.int64).reshape(-1, 1) % 1000
    flac = flac_encode(ramp.astype(np.int32), sample_rate=8000, bps=16)

    df = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(flac))],
        "doc_id long, payload binary",
    )
    out = {
        (r.doc_id, r.frame_idx): (r.offset_ms, r.n_samples, r.energy)
        for r in audio_frame_features(df).collect()
    }
    # WAV doc: frames of 8000 + 4000 samples, energy = n * 513^2
    assert out[(1, 0)] == (0, 8000, 8000 * 513 * 513)
    assert out[(1, 1)] == (1000, 4000, 4000 * 513 * 513)
    # FLAC doc: ramp energies computed straight from the array
    e0 = int((ramp[:8000] ** 2).sum())
    e1 = int((ramp[8000:] ** 2).sum())
    assert out[(2, 0)] == (0, 8000, e0)
    assert out[(2, 1)] == (1000, 2000, e1)
    assert set(out) == {(1, 0), (1, 1), (2, 0), (2, 1)}


def test_audio_frame_features_unknown_codec_named(spark):
    import pytest as _pytest

    from core_spark.multimodal.columns import audio_frame_features

    df = spark.createDataFrame(
        [(1, bytearray(b"ID3\x04 not a wav"))], "doc_id long, payload binary"
    )
    with _pytest.raises(Exception, match="libsndfile|pyav"):
        audio_frame_features(df).collect()


def test_progressive_jpeg_decodes_exactly_as_baseline():
    """Progressive decode (T.81 Annex G: DC first/refine, spectral
    selection, successive approximation, EOB runs) must reproduce the
    EXACT pixels of the baseline decode of the same quantized
    coefficients — the progressive encoder re-emits the baseline
    encoder's coefficient grids as an 8-scan script, so any
    first/refinement bookkeeping error shows as a pixel diff."""
    import numpy as np

    from core_spark.multimodal.jpeg import (
        jpeg_decode,
        jpeg_encode,
        jpeg_encode_progressive,
        jpeg_meta,
    )

    rng = np.random.default_rng(7)
    xx, yy = np.meshgrid(np.arange(50), np.arange(42))
    cases = [
        # odd sizes force cropped padding blocks; noise forces dense
        # AC bands (ZRL + refinement correction bits); flat forces
        # long EOB runs (EOBn with rr > 0)
        ((np.linspace(0, 255, 37 * 29).reshape(37, 29)
          + rng.integers(0, 30, (37, 29))).clip(0, 255).astype(np.uint8),
         False),
        (np.full((64, 48), 130, np.uint8), False),
        (rng.integers(0, 256, (33, 47, 3)).astype(np.uint8), False),
        (np.stack([(xx * 3) % 256, (yy * 5) % 256, ((xx + yy) * 2) % 256],
                  -1).astype(np.uint8), True),
        (rng.integers(0, 256, (24, 40, 3)).astype(np.uint8), True),
    ]
    for arr, sub in cases:
        prog = jpeg_encode_progressive(arr, subsample=sub)
        # it really is a progressive file
        assert b"\xff\xc2" in prog[:200]
        w, h = arr.shape[1], arr.shape[0]
        assert jpeg_meta(prog)[:2] == (w, h)
        base = jpeg_decode(jpeg_encode(arr, subsample=sub))
        got = jpeg_decode(prog)
        assert np.array_equal(base, got), (arr.shape, sub)


def test_progressive_jpeg_inside_multimodal_kernels():
    """The decode-bearing column kernels accept progressive payloads
    transparently (same bytes-in contract)."""
    import numpy as np

    from core_spark.multimodal.jpeg import (
        jpeg_decode,
        jpeg_encode_progressive,
    )

    rng = np.random.default_rng(11)
    arr = rng.integers(0, 256, (16, 16, 3)).astype(np.uint8)
    raw = jpeg_encode_progressive(arr)
    out = jpeg_decode(raw)
    assert out.shape == (16, 16, 3)


def test_progressive_jpeg_fuzz_property():
    """Property fuzz over shapes/content/subsampling: progressive
    decode == baseline decode of the same coefficients, for ANY
    uint8 image. Complements the fixed cases with generated ones."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from core_spark.multimodal.jpeg import (
        jpeg_decode,
        jpeg_encode,
        jpeg_encode_progressive,
    )

    @settings(max_examples=12, deadline=None)
    @given(
        h=st.integers(8, 56),
        w=st.integers(8, 56),
        color=st.booleans(),
        sub=st.booleans(),
        seed=st.integers(0, 2**31 - 1),
        mode=st.sampled_from(["noise", "smooth", "flat", "blocky"]),
    )
    def check(h, w, color, sub, seed, mode):
        rng = np.random.default_rng(seed)
        shape = (h, w, 3) if color else (h, w)
        if mode == "noise":
            arr = rng.integers(0, 256, shape, dtype=np.uint8)
        elif mode == "flat":
            arr = np.full(shape, int(rng.integers(0, 256)), np.uint8)
        elif mode == "smooth":
            yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
            g = (yy * 3 + xx * 5) % 256
            arr = (
                np.stack([g, (g * 2) % 256, (g * 3) % 256], -1)
                if color else g
            ).astype(np.uint8)
        else:  # blocky: flat 8x8 tiles — sparse AC, dense DC diffs
            th, tw = (h + 7) // 8, (w + 7) // 8
            tiles = rng.integers(0, 256, (th, tw), dtype=np.uint8)
            g = np.repeat(np.repeat(tiles, 8, 0), 8, 1)[:h, :w]
            arr = (np.stack([g, g, g], -1) if color else g).astype(np.uint8)
        if sub and not color:
            sub = False
        base = jpeg_decode(jpeg_encode(arr, subsample=sub))
        prog = jpeg_decode(jpeg_encode_progressive(arr, subsample=sub))
        assert np.array_equal(base, prog)

    check()


def test_mp4_box_walk_roundtrip():
    """build_mp4 -> mp4_meta recovers every gate field exactly, in
    both the v0 and the v1 (64-bit duration) box layouts, for
    video+audio / video-only / audio-only movies."""
    from core_spark.multimodal.mp4 import build_mp4, mp4_meta

    m = mp4_meta(
        build_mp4(12345, video=(640, 360, "avc1"), audio="mp4a",
                  mdat=b"payload")
    )
    assert m == {
        "brand": "isom", "timescale": 1000, "duration_ms": 12345,
        "n_tracks": 2, "width": 640, "height": 360,
        "video_codec": "avc1", "audio_codec": "mp4a",
        "has_video": True, "has_audio": True,
    }
    big = mp4_meta(build_mp4(5_000_000_000, video=(1920, 1080, "hvc1")))
    assert big["duration_ms"] == 5_000_000_000  # v1 64-bit path
    assert (big["width"], big["video_codec"]) == (1920, "hvc1")
    assert big["audio_codec"] is None and big["n_tracks"] == 1
    aud = mp4_meta(build_mp4(700, audio="mp4a", brand="M4A "))
    assert aud["brand"] == "M4A " and aud["video_codec"] is None
    assert aud["width"] is None and aud["audio_codec"] == "mp4a"


def test_mp4_corrupt_input_raises_named_never_hangs():
    """The codec-suite discipline: random bytes and truncations of a
    valid file either parse or raise the named Mp4Error — never an
    opaque struct/index error, a hang, or a giant allocation (a
    corrupt size field claiming 2^60 bytes must be caught by bounds
    checks, not attempted)."""
    import random

    from core_spark.multimodal.mp4 import Mp4Error, build_mp4, mp4_meta

    rnd = random.Random(3)
    for _ in range(4000):
        junk = bytes(
            rnd.randrange(256) for _ in range(rnd.randrange(0, 80))
        )
        try:
            mp4_meta(junk)
        except Mp4Error:
            pass
    raw = build_mp4(9000, video=(320, 240, "avc1"), audio="mp4a")
    for cut in range(0, len(raw)):
        try:
            mp4_meta(raw[:cut])
        except Mp4Error:
            pass
    # absurd declared size: bounded error, not an allocation attempt
    evil = b"\xff\xff\xff\xf0ftyp" + b"\x00" * 8
    try:
        mp4_meta(evil)
    except Mp4Error:
        pass
    # empty FullBox body landing exactly at end-of-buffer: must be the
    # named error, not a bare IndexError (r7 review regression)
    import struct as st

    stub = st.pack(">I", 16) + b"moov" + st.pack(">I", 8) + b"mvhd"
    with pytest.raises(Mp4Error):
        mp4_meta(stub)


def test_mp3_segment_plan_vbr_roundtrip():
    """mp3_segments over a genuinely VBR stream: per-window byte
    ranges must track the real (varying) frame sizes — hand-computed
    from the same header arithmetic — and each planned offset must
    land exactly on a frame sync. ID3v2 prefixes shift every offset
    by the tag size; a fetch plan that ignored them would slice
    garbage."""
    import itertools

    from core_spark.multimodal.wav import build_mp3_frame, mp3_segments

    kbps_seq = [96, 192, 128, 160, 112]
    n = 50
    frames = [
        build_mp3_frame(kbps=kbps_seq[(3 + 7 * i) % 5], fill=i % 256)
        for i in range(n)
    ]
    raw = b"".join(frames)
    sizes = [144 * kbps_seq[(3 + 7 * i) % 5] * 1000 // 44100
             for i in range(n)]
    pref = [0] + list(itertools.accumulate(sizes))
    expected: dict[int, dict] = {}
    for i in range(n):
        seg = (i * 1152 * 1000 // 44100) // 1000
        e = expected.setdefault(
            seg,
            {"seg_idx": seg, "t_ms": seg * 1000, "off": pref[i],
             "n_bytes": 0, "n_frames": 0},
        )
        e["n_bytes"] += sizes[i]
        e["n_frames"] += 1
    plan = mp3_segments(raw, 1000)
    assert plan == list(expected.values())
    for s in plan:
        assert raw[s["off"]] == 0xFF  # frame sync at every offset
        assert raw[s["off"] + 1] & 0xE0 == 0xE0
    # contiguity: each segment starts where the previous ended
    for a, b in zip(plan, plan[1:]):
        assert b["off"] == a["off"] + a["n_bytes"]

    # ID3v2 prefix shifts every offset by the (syncsafe) tag size
    tag = b"ID3\x03\x00\x00" + bytes([0, 0, 1, 4]) + b"\x00" * 132
    shifted = mp3_segments(tag + raw, 1000)
    assert [s["off"] for s in shifted] == [
        s["off"] + len(tag) for s in plan
    ]
    # fuzz: random bytes either plan or raise the named error
    import random

    rnd = random.Random(17)
    for _ in range(2000):
        junk = bytes(
            rnd.randrange(256) for _ in range(rnd.randrange(0, 120))
        )
        try:
            mp3_segments(junk)
        except ValueError:
            pass


def test_vtt_fixture_roundtrip_and_edges():
    """build_vtt_fixture -> vtt_cues recovers the exact cue list
    (boundaries, md5-derived timing, markup-stripped text equal to
    the source words), and the parser honors the spec's skip-invalid
    contract plus the named-error contract for non-VTT input."""
    import hashlib

    from core_spark.multimodal.vtt import (
        VttError, build_vtt_fixture, vtt_cues,
    )

    text = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    ).strip()
    d = hashlib.md5(text.encode()).hexdigest()
    cues = vtt_cues(build_vtt_fixture(text, d))
    words = text.split(" ")
    dur = 1800 + int(d[0:4], 16) % 1700
    assert len(cues) == (len(words) + 7) // 8
    for i, c in enumerate(cues):
        assert c["cue_idx"] == i
        assert (c["t0_ms"], c["t1_ms"]) == (i * dur, (i + 1) * dur)
        assert c["text"] == " ".join(words[i * 8 : i * 8 + 8])
    assert " ".join(c["text"] for c in cues) == text

    # invalid blocks are skipped per spec; valid neighbors survive
    mixed = (
        "WEBVTT\n\nno timing line here\n\n"
        "00:00:01.000 --> 00:00:02.000\nok cue\n\n"
        "XX:00 --> 00:00:03.000\nbad timing\n\n"
        "00:00:05.000 --> 00:00:04.000\nend before start\n"
    )
    cs = vtt_cues(mixed)
    assert [c["text"] for c in cs] == ["ok cue"]
    # tab separators around --> are spec-valid (one-or-more SPACE or
    # TAB per the cue-timings grammar); no-whitespace is not
    tabbed = (
        "WEBVTT\n\n00:00:01.000\t-->\t00:00:02.000\ntabbed\n\n"
        "00:00:03.000 \t--> \t00:00:04.000\nmixed ws\n\n"
        "00:00:05.000-->00:00:06.000\nglued: invalid\n"
    )
    assert [c["text"] for c in vtt_cues(tabbed)] == ["tabbed", "mixed ws"]
    # hours field, voice/italic tags, NOTE/STYLE blocks
    h = vtt_cues(
        "WEBVTT\n\nSTYLE\n::cue { color: red }\n\n"
        "01:02:03.456 --> 01:02:04.000\n<v Speaker>hi <i>there</i>\n"
    )
    assert h[0]["t0_ms"] == 3723456 and h[0]["text"] == "hi there"
    # not VTT at all -> named error
    import pytest as pt

    with pt.raises(VttError):
        vtt_cues("plain text, no signature")
    # fuzz: printable junk with a signature never raises or hangs
    import random
    import string

    rnd = random.Random(41)
    for _ in range(500):
        junk = "".join(
            rnd.choice(string.printable)
            for _ in range(rnd.randrange(0, 300))
        )
        vtt_cues("WEBVTT\n" + junk)


def test_fmp4_fragment_plan_roundtrip():
    """build_fmp4 -> mp4_fragment_keyframes recovers the exact
    keyframe plan for the CMAF shape (fragment heads sync, rest
    non-sync via trex default), the plan is REAL (slicing the file
    at each planned (off, size) yields that sample's fill bytes),
    and the q_av_fmp4 oracle's header constant and moof closed form
    (92 + 4k) are pinned against the builder's actual bytes."""
    from core_spark.multimodal.mp4 import (
        build_fmp4, mp4_fragment_keyframes,
    )
    from core_spark.plans.multimodal_queries import _FMP4_HEADER

    frags = [[70, 80, 90], [100, 110], [64, 65, 66, 67]]
    delta = 40
    raw = build_fmp4(frags, delta=delta)
    assert raw.index(b"moof") - 4 == _FMP4_HEADER
    plan = mp4_fragment_keyframes(raw)
    assert [p["frag_seq"] for p in plan] == [1, 2, 3]
    g_starts = [0, 3, 5]
    assert [p["sample_idx"] for p in plan] == g_starts
    assert [p["t_ms"] for p in plan] == [g * delta for g in g_starts]
    # closed-form offsets: prefix-sum of moof+mdat extents
    rel = 0
    for p, sizes in zip(plan, frags):
        k = len(sizes)
        assert p["off"] == _FMP4_HEADER + rel + 100 + 4 * k
        assert p["size"] == sizes[0]
        seg = raw[p["off"] : p["off"] + p["size"]]
        assert set(seg) == {(p["sample_idx"] * 7 + 13) % 256}
        rel += 92 + 4 * k + 8 + sum(sizes)

    # a non-fragmented movie yields [] (nothing to plan), and the
    # stbl walk conversely declines the fragmented one
    from core_spark.multimodal.mp4 import (
        build_mp4, fmp4_duration_ms, mp4_keyframes,
    )

    plain = build_mp4(
        1000, video=(64, 64, "avc1"), samples=([100, 100], 40, 1)
    )
    assert mp4_fragment_keyframes(plain) == []
    assert mp4_keyframes(raw) == []
    # trun-summed duration: 9 samples x 40 ticks @ timescale 1000
    assert fmp4_duration_ms(raw) == 9 * 40
    assert fmp4_duration_ms(plain) is None  # no moof: nothing to sum
    assert fmp4_duration_ms(build_mp4(700, audio="mp4a")) is None


def test_fmp4_per_sample_flags_and_defaults():
    """The general trun shapes beyond the CMAF fixture: per-sample
    flags marking arbitrary sync samples, per-sample durations
    overriding the trex default, absolute tfhd base-data-offset, and
    multiple truns per traf continuing the byte cursor. Offsets are
    hand-computed from the spec's layout rules."""
    import struct as st

    from core_spark.multimodal import mp4 as M

    NON_SYNC = 0x00010000
    # moov: video track 1, timescale 1000, trex defaults dur=10
    hdr = M.build_fmp4([], delta=10)  # ftyp+moov only (no fragments)

    def full(btype, version, flags, body):
        return (
            st.pack(">I", 8 + 4 + len(body)) + btype
            + st.pack(">B", version)
            + st.pack(">I", flags)[1:]
            + body
        )

    def box(btype, body):
        return st.pack(">I", 8 + len(body)) + btype + body

    sizes = [20, 30, 40, 50]
    durs = [5, 7, 9, 11]
    sflags = [0, NON_SYNC, 0, NON_SYNC]  # samples 0 and 2 sync
    mdat_body = b"".join(
        bytes([0xA0 + i]) * sz for i, sz in enumerate(sizes)
    )
    # split samples across TWO truns; only the first carries a data
    # offset, the second continues from the cursor
    def trun_of(idx):
        per = b"".join(
            st.pack(">III", durs[i], sizes[i], sflags[i]) for i in idx
        )
        fl = 0x100 | 0x200 | 0x400 | (0x1 if idx[0] == 0 else 0)
        body = st.pack(">I", len(idx))
        if idx[0] == 0:
            body += st.pack(">i", 0)  # patched below
        return full(b"trun", 0, fl, body + per)

    tfhd = full(b"tfhd", 0, 0x000001, st.pack(">IQ", 1, 0))  # abs base
    tfdt = full(b"tfdt", 1, 0, st.pack(">Q", 1000))
    t1, t2 = trun_of([0, 1]), trun_of([2, 3])
    traf = box(b"traf", tfhd + tfdt + t1 + t2)
    mfhd = full(b"mfhd", 0, 0, st.pack(">I", 7))
    moof = box(b"moof", mfhd + traf)
    # patch tfhd base-data-offset to mdat body, trun1 offset 0
    mdat_off = len(hdr) + len(moof) + 8
    tfhd_fixed = full(b"tfhd", 0, 0x000001, st.pack(">IQ", 1, mdat_off))
    traf = box(b"traf", tfhd_fixed + tfdt + t1 + t2)
    moof = box(b"moof", mfhd + traf)
    raw = hdr + moof + box(b"mdat", mdat_body)

    plan = M.mp4_fragment_keyframes(raw)
    assert [p["sample_idx"] for p in plan] == [0, 2]
    assert [p["frag_seq"] for p in plan] == [7, 7]
    # tfdt base 1000 ticks @1000 -> 1000 ms; sample 2 starts after
    # durs[0]+durs[1] more ticks
    assert [p["t_ms"] for p in plan] == [1000, 1012]
    assert plan[0]["off"] == mdat_off
    assert plan[1]["off"] == mdat_off + sizes[0] + sizes[1]
    assert [p["size"] for p in plan] == [20, 40]
    for p in plan:
        seg = raw[p["off"] : p["off"] + p["size"]]
        assert set(seg) == {0xA0 + p["sample_idx"]}


def test_fmp4_corrupt_inputs_raise_named():
    """Corrupt fragmented containers raise Mp4Error, never hang or
    fabricate: trun counts escaping the box, samples escaping the
    file, traf without tfhd, moof without mfhd — plus random-bytes
    fuzz over real fixtures."""
    import random
    import struct as st

    import pytest as pt

    from core_spark.multimodal import mp4 as M

    raw = bytearray(M.build_fmp4([[50, 60], [70]], delta=25))
    # inflate the first trun's sample count: declared entries escape
    ti = bytes(raw).index(b"trun")
    cnt_off = ti + 8  # version+flags(4) then count
    st.pack_into(">I", raw, cnt_off, 1000)
    with pt.raises(M.Mp4Error):
        M.mp4_fragment_keyframes(bytes(raw))

    # sample pointing outside the file: truncate the final mdat
    good = M.build_fmp4([[50, 60], [70]], delta=25)
    with pt.raises(M.Mp4Error):
        M.mp4_fragment_keyframes(good[:-40])

    # fuzz: bit-flips over a real fixture either plan or raise named
    rnd = random.Random(23)
    for _ in range(300):
        b = bytearray(good)
        for _k in range(rnd.randrange(1, 6)):
            b[rnd.randrange(len(b))] ^= 1 << rnd.randrange(8)
        try:
            M.mp4_fragment_keyframes(bytes(b))
        except M.Mp4Error:
            pass
    # random junk never hangs and only raises the named error
    for _ in range(500):
        junk = bytes(
            rnd.randrange(256) for _ in range(rnd.randrange(0, 200))
        )
        try:
            M.mp4_fragment_keyframes(junk)
        except M.Mp4Error:
            pass


def test_mp4_keyframe_plan_roundtrip():
    """build_mp4(samples=...) -> mp4_keyframes recovers the exact
    fetch plan, and the plan is REAL: slicing the file at each
    planned (off, size) yields exactly that sample's fill bytes. Also
    pins the q_av_keyframes oracle's header constant (473 + 4n +
    4*ceil(n/ks)) against the builder's actual stco, and the
    sample-less/audio-only/fragmented '[] — nothing to plan'
    contract."""
    from core_spark.multimodal.mp4 import build_mp4, mp4_keyframes
    from core_spark.plans.multimodal_queries import _KF_HEADER

    for n, ks, delta in [(10, 3, 40), (8, 1, 20), (32, 5, 79)]:
        sizes = [64 + (7 + 37 * i) % 191 for i in range(n)]
        raw = build_mp4(
            n * delta, video=(640, 360, "avc1"),
            samples=(sizes, delta, ks),
        )
        plan = mp4_keyframes(raw)
        nsync = (n + ks - 1) // ks
        assert [p["sample_idx"] for p in plan] == list(range(0, n, ks))
        assert all(p["t_ms"] == p["sample_idx"] * delta for p in plan)
        # oracle header arithmetic == the builder's actual chunk base
        assert plan[0]["chunk_off"] == _KF_HEADER + 4 * n + 4 * nsync
        for p in plan:
            i = p["sample_idx"]
            assert p["size"] == sizes[i]
            assert (
                p["off"] - p["chunk_off"] == sum(sizes[:i])
            )
            seg = raw[p["off"] : p["off"] + p["size"]]
            assert len(seg) == sizes[i]
            assert set(seg) == {(i * 7 + 13) % 256}

    # valid movies with nothing to plan yield [], never an error
    assert mp4_keyframes(build_mp4(700, audio="mp4a")) == []
    assert mp4_keyframes(build_mp4(4000, video=(64, 64, "avc1"))) == []
    assert (
        mp4_keyframes(
            build_mp4(4000, video=(64, 64, "avc1"), fragmented=True)
        )
        == []
    )


def test_mp4_keyframes_multichunk_and_co64():
    """The general sample-to-chunk layout (multiple stsc runs over
    several chunks, with a partially-filled last chunk) and the co64
    wide-offset path — shapes real muxers emit that the single-chunk
    builder fixture never exercises. Offsets are hand-computed from
    the spec's layout rules."""
    import struct as st

    from core_spark.multimodal import mp4 as M

    sizes = [10, 11, 12, 13, 14, 15, 16, 17]
    n = len(sizes)
    # chunks: run1 (chunks 1-2, 2 samples each), run2 (chunk 3+,
    # 3 samples) -> c1:[0,1] c2:[2,3] c3:[4,5,6] c4:[7]
    chunk_offsets = [1000, 2000, 3000, 4000]
    syncs = [1, 4, 7]  # 1-based sample numbers

    def stbl(co_box: bytes) -> bytes:
        entry = st.pack(">I", 16) + b"avc1" + b"\x00" * 6 + st.pack(">H", 1)
        return M._box(
            b"stbl",
            M._full(b"stsd", 0, st.pack(">I", 1) + entry)
            + M._full(b"stts", 0, st.pack(">III", 1, n, 40))
            + M._full(
                b"stss",
                0,
                st.pack(">I", len(syncs))
                + st.pack(f">{len(syncs)}I", *syncs),
            )
            + M._full(
                b"stsc",
                0,
                st.pack(">I", 2)
                + st.pack(">III", 1, 2, 1)
                + st.pack(">III", 3, 3, 1),
            )
            + M._full(
                b"stsz",
                0,
                st.pack(">II", 0, n) + st.pack(f">{n}I", *sizes),
            )
            + co_box,
        )

    def movie(co_box: bytes) -> bytes:
        mdhd = M._full(
            b"mdhd",
            0,
            st.pack(">IIII", 0, 0, 1000, 320) + st.pack(">HH", 0x55C4, 0),
        )
        hdlr = M._full(
            b"hdlr", 0, st.pack(">I", 0) + b"vide" + b"\x00" * 13
        )
        mdia = M._box(b"mdia", mdhd + hdlr + M._box(b"minf", stbl(co_box)))
        tkhd_body = (
            st.pack(">IIIII", 0, 0, 1, 0, 320)
            + b"\x00" * 8
            + st.pack(">hhhh", 0, 0, 0, 0)
            + M._UNITY_MATRIX
            + st.pack(">II", 640 << 16, 360 << 16)
        )
        trak = M._box(b"trak", M._full(b"tkhd", 0, tkhd_body) + mdia)
        mvhd_body = (
            st.pack(">IIII", 0, 0, 1000, 320)
            + st.pack(">ihhq", 0x10000, 0x0100, 0, 0)
            + M._UNITY_MATRIX
            + b"\x00" * 24
            + st.pack(">I", 99)
        )
        moov = M._box(b"moov", M._full(b"mvhd", 0, mvhd_body) + trak)
        ftyp = M._box(b"ftyp", b"isom" + st.pack(">I", 0) + b"isom")
        return ftyp + moov

    expected = {  # sample -> (chunk base, offset within chunk)
        0: (1000, 0), 3: (2000, 12), 6: (3000, 14 + 15),
    }
    stco = M._full(
        b"stco",
        0,
        st.pack(">I", 4) + st.pack(">4I", *chunk_offsets),
    )
    co64 = M._full(
        b"co64",
        0,
        st.pack(">I", 4) + st.pack(">4Q", *chunk_offsets),
    )
    for co_box in (stco, co64):
        plan = M.mp4_keyframes(movie(co_box))
        assert [p["sample_idx"] for p in plan] == [0, 3, 6]
        for p in plan:
            base, within = expected[p["sample_idx"]]
            assert (p["chunk_off"], p["off"]) == (base, base + within)
            assert p["size"] == sizes[p["sample_idx"]]
            assert p["t_ms"] == p["sample_idx"] * 40

    # a chunk table that strands samples is corrupt: only 2 chunks
    # for 8 samples under run1's 2-per-chunk
    short = M._full(
        b"stco", 0, st.pack(">I", 2) + st.pack(">2I", 1000, 2000)
    )
    try:
        M.mp4_keyframes(movie(short))
        raise AssertionError("stranded samples did not raise")
    except M.Mp4Error:
        pass


def test_mp4_keyframes_corrupt_tables_raise_named():
    """Sample-table corruption discipline: truncations and random
    junk either plan or raise Mp4Error — and a table whose declared
    entry count escapes its box is an error, not an allocation."""
    import random
    import struct as st

    from core_spark.multimodal.mp4 import Mp4Error, build_mp4, mp4_keyframes

    sizes = [100] * 12
    raw = build_mp4(480, video=(640, 360, "avc1"), samples=(sizes, 40, 4))
    for cut in range(0, len(raw)):
        try:
            mp4_keyframes(raw[:cut])
        except Mp4Error:
            pass
    rnd = random.Random(11)
    for _ in range(2000):
        junk = bytes(
            rnd.randrange(256) for _ in range(rnd.randrange(0, 100))
        )
        try:
            mp4_keyframes(junk)
        except Mp4Error:
            pass
    # flip bytes inside the sample tables of a valid file
    ba = bytearray(raw)
    for _ in range(800):
        pos = rnd.randrange(len(ba))
        old = ba[pos]
        ba[pos] = rnd.randrange(256)
        try:
            mp4_keyframes(bytes(ba))
        except Mp4Error:
            pass
        ba[pos] = old
    # a count field claiming entries beyond the box must raise
    stsz_at = raw.find(b"stsz")
    evil = bytearray(raw)
    st.pack_into(">I", evil, stsz_at + 12, 1 << 30)  # sample count
    try:
        mp4_keyframes(bytes(evil))
        raise AssertionError("oversized stsz count did not raise")
    except Mp4Error:
        pass


def test_mp4_unknown_duration_and_track_modality():
    """ISO 14496-12 honesty: a fragmented movie (mvhd duration 0 +
    mvex) and the all-ones 'unknown' sentinel both report duration_ms
    as None — never a false 0 that a duration gate would reject — and
    handler presence is reported even for audio-only containers."""
    import struct as st

    from core_spark.multimodal import mp4 as M

    frag = M.mp4_meta(
        M.build_mp4(4000, video=(640, 360, "avc1"), fragmented=True)
    )
    assert frag["duration_ms"] is None
    assert frag["has_video"] and not frag["has_audio"]
    assert frag["width"] == 640

    # hand-build an mvhd v0 carrying the all-ones unknown sentinel
    mvhd_body = (
        st.pack(">IIII", 0, 0, 1000, 0xFFFFFFFF)
        + st.pack(">ihhq", 0x10000, 0x0100, 0, 0)
        + M._UNITY_MATRIX
        + b"\x00" * 24
        + st.pack(">I", 99)
    )
    moov = M._box(b"moov", M._full(b"mvhd", 0, mvhd_body))
    ones = M.mp4_meta(
        M._box(b"ftyp", b"isom" + st.pack(">I", 0) + b"isom") + moov
    )
    assert ones["duration_ms"] is None

    aud = M.mp4_meta(M.build_mp4(700, audio="mp4a", brand="M4A "))
    assert not aud["has_video"] and aud["has_audio"]
    # a normal movie still reports exact duration
    vid = M.mp4_meta(M.build_mp4(4000, video=(640, 360, "avc1")))
    assert vid["duration_ms"] == 4000 and vid["has_video"]


def test_av_meta_kernels_build_and_walk_real_boxes(spark):
    """attach_mp4_payload emits genuine ISO-BMFF bytes (independent
    re-parse agrees with the md5 derivation) and decode_av_meta
    recovers the fields across the Arrow boundary."""
    import hashlib

    from core_spark.multimodal import attach_mp4_payload, decode_av_meta
    from core_spark.multimodal.mp4 import mp4_meta

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "a much longer text payload here")],
        "doc_id long, text string",
    )
    with_payload = attach_mp4_payload(docs)
    rows = {r.doc_id: bytes(r.payload) for r in with_payload.collect()}
    for did, text in ((1, "hello world"), (2, "a much longer text payload here")):
        h = hashlib.md5(text.encode()).hexdigest()
        m = mp4_meta(rows[did])
        assert m["duration_ms"] == 500 + int(h[0:8], 16) % 600000
        assert m["width"] == 16 * (4 + int(h[8:12], 16) % 117)
        assert m["height"] == 16 * (3 + int(h[12:16], 16) % 65)
        assert (m["video_codec"], m["audio_codec"]) == ("avc1", "mp4a")
    out = {r.doc_id: r for r in decode_av_meta(with_payload).collect()}
    assert out[1].duration_ms == mp4_meta(rows[1])["duration_ms"]
    assert out[2].width == mp4_meta(rows[2])["width"]


def test_pdf_extract_fused_walk_matches_split_apis():
    """pdf_extract (the r13 one-reader fusion the extraction kernel
    calls) is field-identical to pdf_meta + pdf_pages_text across the
    fixture form space, and the r13 lexer fast paths (_skip_ws regex,
    first-byte dispatch) keep their loop-spelling semantics."""
    import hashlib

    from core_spark.multimodal.pdf import (
        PdfError,
        _parse_value,
        _skip_ws,
        build_pdf_fixture,
        pdf_extract,
        pdf_meta,
        pdf_pages_text,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta " * 9
    digest = hashlib.md5(text.encode()).hexdigest()
    for kind in ("classic", "stream"):
        for font in ("simple", "cid", "diffs"):
            for enc in (None, "rc4-40", "aes-128", "aes-256"):
                raw = build_pdf_fixture(
                    text, digest, xref_kind=kind, font=font, encrypt=enc
                )
                meta, pages = pdf_extract(raw)
                assert meta == pdf_meta(raw), (kind, font, enc)
                assert pages == pdf_pages_text(raw), (kind, font, enc)
    import pytest as _pt

    with _pt.raises(PdfError):
        pdf_extract(b"not a pdf at all")

    # lexer pins: comments swallowed to EOL, NUL/FF are whitespace,
    # EOF comment, and dispatch over every value class
    assert _skip_ws(b"  % c\r\n\x00\x0c\tx", 0) == 10
    assert _skip_ws(b"%only a comment", 0) == 15
    assert _skip_ws(b"abc", 1) == 1
    raw = b" <</A 1 0 R/B[(s\\)t)<4142>/N 3.5 -2 true false null]>> "
    val, end = _parse_value(raw, 0)
    assert val == {
        "A": ("ref", 1),
        "B": [
            ("str", b"s)t"),
            ("str", b"AB"),
            ("name", "N"),
            3.5,
            -2,
            True,
            False,
            None,
        ],
    }
    assert raw[end:] == b" "
    for bad in (b"", b"   ", b"}", b"<4G>", b"+x"):
        with _pt.raises(PdfError):
            _parse_value(bad, 0)


def test_pdf_fixture_roundtrip_and_discipline():
    """build_pdf_fixture -> pdf_pages_text/pdf_meta recovers the exact
    word tiling, page count and md5-derived CreationDate through a
    REAL file walk (xref offsets, FlateDecode, Tj and kerned-TJ
    tokenization); string-escape torture round-trips; corrupt input
    follows the named-error contract (PdfError, never a hang or a
    fabricated page)."""
    import hashlib
    import random

    from core_spark.multimodal.pdf import (
        PdfError,
        build_pdf_fixture,
        pdf_meta,
        pdf_pages_text,
    )

    text = (
        "the fast key order sort table scan merge part window small"
        " hash scan join order batch"
    )
    dig = hashlib.md5(text.encode()).hexdigest()
    blob = build_pdf_fixture(text, dig)
    assert blob.startswith(b"%PDF-1.4")

    words = text.split(" ")
    wpp = 5 + int(dig[0], 16) % 4
    n_pages = (len(words) + wpp - 1) // wpp
    expect = [
        " ".join(words[k * wpp : (k + 1) * wpp]) for k in range(n_pages)
    ]
    assert pdf_pages_text(blob) == expect

    m = pdf_meta(blob)
    assert m["page_count"] == n_pages
    assert m["producer"] == "core_spark pdf builder"
    yy = 2000 + int(dig[1:3], 16) % 26
    mm = 1 + int(dig[3], 16) % 12
    dd = 1 + int(dig[4], 16) % 28
    assert m["created"] == f"D:{yy:04d}{mm:02d}{dd:02d}120000Z"

    # escape torture: parens and backslashes survive the () literal
    t2 = "par(en) back\\slash close)paren ((deep))"
    b2 = build_pdf_fixture(t2, hashlib.md5(t2.encode()).hexdigest())
    assert " ".join(pdf_pages_text(b2)) == t2

    # single-word and two-word degenerate tilings
    for t in ("word", "a b"):
        d = hashlib.md5(t.encode()).hexdigest()
        assert " ".join(pdf_pages_text(build_pdf_fixture(t, d))) == t

    # named-error contract
    for junk in (b"", b"GIF89a123", blob[: len(blob) // 2]):
        try:
            pdf_pages_text(junk)
            raise AssertionError("corrupt PDF accepted")
        except PdfError:
            pass

    # crafted hostile inputs: nesting bomb stays a named error, not a
    # RecursionError
    bomb = (
        b"%PDF-1.4\nxref\n0 1\n0000000000 65535 f \ntrailer\n<< /X "
        + b"[" * 500 + b"]" * 500 + b" >>\nstartxref\n9\n%%EOF\n"
    )
    try:
        pdf_meta(bomb)
        raise AssertionError("nesting bomb accepted")
    except PdfError:
        pass

    # fuzz: random bytes / signature-prefixed junk / bit-flips over a
    # real fixture either parse or raise ValueError (PdfError is one)
    rnd = random.Random(23)
    for mode in range(3):
        for _ in range(400):
            if mode == 0:
                junk = bytes(
                    rnd.randrange(256)
                    for _ in range(rnd.randrange(0, 200))
                )
            elif mode == 1:
                junk = b"%PDF-1.4\n" + bytes(
                    rnd.randrange(256)
                    for _ in range(rnd.randrange(0, 300))
                )
            else:
                ba = bytearray(blob)
                for _k in range(rnd.randrange(1, 5)):
                    ba[rnd.randrange(len(ba))] ^= 1 << rnd.randrange(8)
                junk = bytes(ba)
            for fn in (pdf_meta, pdf_pages_text):
                try:
                    fn(junk)
                except ValueError:
                    pass


def test_pdf_unicode_text_strings_roundtrip():
    """Non-latin-1 document text builds (BOM-prefixed UTF-16BE text
    strings, spec 7.9.2.2) and extracts back byte-exact — a unicode
    corpus must not crash the attach kernel (ADVICE r7)."""
    import hashlib

    from core_spark.multimodal.pdf import (
        build_pdf_fixture,
        pdf_meta,
        pdf_pages_text,
    )

    for text in (
        "héllo wörld ünïcode",
        "汉字文本 ελληνικά κείμενο mixed ascii 漢字 " * 4,
        "paren (escape) test \\ backslash ünder utf16 (汉)",
    ):
        digest = hashlib.md5(text.encode("utf-8")).hexdigest()
        raw = build_pdf_fixture(text, digest)
        got = " ".join(
            " ".join(p.split()) for p in pdf_pages_text(raw)
        ).strip()
        assert got == " ".join(text.split())
        assert pdf_meta(raw)["page_count"] >= 1


def test_pdf_latin1_text_starting_with_bom_bytes_roundtrips():
    """latin-1 text beginning 'þÿ' encodes to FE FF — the UTF-16BE
    BOM — so the builder must route it through the UTF-16 branch or
    extraction returns mojibake (review finding r8)."""
    import hashlib

    from core_spark.multimodal.pdf import build_pdf_fixture, pdf_pages_text

    text = "þÿhello world this is latin-1 text"
    digest = hashlib.md5(text.encode("utf-8")).hexdigest()
    raw = build_pdf_fixture(text, digest)
    got = " ".join(" ".join(p.split()) for p in pdf_pages_text(raw)).strip()
    assert got == text


def test_pdf_xref_stream_form_matches_classic():
    """PDF 1.5 form (xref STREAM + /ObjStm packing + PNG Up
    predictor) extracts byte-identically to the classic-1.4 form of
    the same document — the cross-form pin for the r12 fence lift.
    Covers ascii, unicode (UTF-16BE text strings inside /ObjStm),
    multi-page TJ/Tj alternation, and the graphics-only shape."""
    import hashlib
    import random

    from core_spark.multimodal.pdf import (
        build_pdf_fixture,
        pdf_meta,
        pdf_pages_text,
    )

    texts = [
        "one two three four five six seven eight nine ten " * 6,
        "short",
        "汉字文本 ελληνικά κείμενο mixed ascii 漢字 " * 4,
        "paren (escape) test \\ backslash ünder utf16 (汉)",
    ]
    rnd = random.Random(12)
    words = "alpha beta gamma delta epsilon zeta eta theta".split()
    for _ in range(20):
        texts.append(" ".join(rnd.choice(words) for _ in range(rnd.randrange(1, 90))))
    for text in texts:
        digest = hashlib.md5(text.encode("utf-8")).hexdigest()
        classic = build_pdf_fixture(text, digest)
        stream = build_pdf_fixture(text, digest, xref_kind="stream")
        assert stream.startswith(b"%PDF-1.5")
        assert pdf_pages_text(stream) == pdf_pages_text(classic)
        mc, ms = pdf_meta(classic), pdf_meta(stream)
        assert ms == {**mc, "version": "1.5"}
    g = build_pdf_fixture(texts[0], "ab" * 16, graphics_only=True,
                          xref_kind="stream")
    assert set(pdf_pages_text(g)) == {""}


def test_pdf_png_predictor_vectors():
    """_png_unpredict inverts each PNG filter type against rows
    filtered by an independent in-test encoder (the PNG spec's
    forward definitions), plus the TIFF predictor via a hand frame,
    and refuses unknown filter types and ragged data."""
    import random

    import pytest

    from core_spark.multimodal.pdf import PdfError, _png_unpredict

    def png_filter(rows, ftypes, bpp):
        out = bytearray()
        prev = bytes(len(rows[0]))
        for row, ft in zip(rows, ftypes):
            out.append(ft)
            for j, x in enumerate(row):
                a = row[j - bpp] if j >= bpp else 0
                b = prev[j]
                c = prev[j - bpp] if j >= bpp else 0
                if ft == 0:
                    f = x
                elif ft == 1:
                    f = x - a
                elif ft == 2:
                    f = x - b
                elif ft == 3:
                    f = x - (a + b) // 2
                else:  # Paeth
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = (
                        a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    )
                    f = x - pred
                out.append(f & 0xFF)
            prev = bytes(row)
        return bytes(out)

    rnd = random.Random(7)
    for bpp in (1, 3):
        for _ in range(40):
            cols = rnd.randrange(1, 9)
            rows = [
                bytes(rnd.randrange(256) for _ in range(cols * bpp))
                for _ in range(rnd.randrange(1, 8))
            ]
            ftypes = [rnd.randrange(5) for _ in rows]
            enc = png_filter(rows, ftypes, bpp)
            assert _png_unpredict(enc, cols, bpp) == b"".join(rows)

    with pytest.raises(PdfError):
        _png_unpredict(b"\x09\x00\x00", 2, 1)  # unknown filter type
    with pytest.raises(PdfError):
        _png_unpredict(b"\x00\x00", 2, 1)  # ragged rows


def test_pdf_incremental_update_prev_chain():
    """An appended incremental update (new xref section + /Prev)
    supersedes the original object — latest-wins across the chain —
    and a /Prev cycle is refused with the named error."""
    import hashlib

    import pytest

    from core_spark.multimodal.pdf import (
        PdfError,
        build_pdf_fixture,
        pdf_meta,
        pdf_pages_text,
    )

    text = "incremental update fixture words " * 4
    digest = hashlib.md5(text.encode()).hexdigest()
    base = build_pdf_fixture(text, digest)
    old_xref_at = int(base.rsplit(b"startxref\n", 1)[1].split(b"\n", 1)[0])
    size = pdf_meta(base)["page_count"] * 2 + 5

    # replace object 3 (/Info) with a new producer
    upd = bytearray(base)
    new_obj_at = len(upd)
    upd += (
        b"3 0 obj\n<< /Producer (updated producer)"
        b" /CreationDate (D:20200101120000Z) >>\nendobj\n"
    )
    xref_at = len(upd)
    upd += b"xref\n3 1\n%010d 00000 n \n" % new_obj_at
    upd += (
        b"trailer\n<< /Size %d /Root 1 0 R /Info 3 0 R /Prev %d >>\n"
        b"startxref\n%d\n%%%%EOF\n" % (size, old_xref_at, xref_at)
    )
    m = pdf_meta(bytes(upd))
    assert m["producer"] == "updated producer"
    assert m["created"] == "D:20200101120000Z"
    assert pdf_pages_text(bytes(upd)) == pdf_pages_text(base)

    # /Prev SELF-cycle: the re-visit is skipped, not an error in
    # itself (diamonds are legal — hybrid /Prev and /XRefStm may
    # reach the same earlier section), so the walk TERMINATES; this
    # crafted section's entries never resolve the catalog, which
    # surfaces as the named missing-object error — never a hang
    cyc = bytearray(base)
    xref_at = len(cyc)
    cyc += (
        b"xref\n0 1\n0000000000 65535 f \n"
        b"trailer\n<< /Size %d /Root 1 0 R /Info 3 0 R /Prev %d >>\n"
        b"startxref\n%d\n%%%%EOF\n" % (size, xref_at, xref_at)
    )
    with pytest.raises(PdfError, match="not in xref"):
        pdf_meta(bytes(cyc))

    # a legal DIAMOND (hybrid-reference, spec §7.5.8.4): the newest
    # classic trailer reaches the original section BOTH through its
    # /XRefStm stream's /Prev and through its own /Prev — the same
    # offset arrives twice and must be merged once, not refused
    import zlib as _z

    dia = bytearray(base)
    xdata = _z.compress(b"")  # an entry-less xref stream
    s_num = size  # next free object number
    s_at = len(dia)
    dia += (
        b"%d 0 obj\n<< /Type /XRef /Size %d /W [1 4 2] /Index [0 0]"
        b" /Root 1 0 R /Prev %d /Length %d /Filter /FlateDecode >>\n"
        b"stream\n" % (s_num, size + 1, old_xref_at, len(xdata))
        + xdata
        + b"\nendstream\nendobj\n"
    )
    a_at = len(dia)
    dia += (
        b"xref\n0 1\n0000000000 65535 f \n"
        b"trailer\n<< /Size %d /Root 1 0 R /Info 3 0 R /Prev %d"
        b" /XRefStm %d >>\nstartxref\n%d\n%%%%EOF\n"
        % (size + 1, old_xref_at, s_at, a_at)
    )
    m2 = pdf_meta(bytes(dia))
    assert m2["producer"] == "core_spark pdf builder"
    assert pdf_pages_text(bytes(dia)) == pdf_pages_text(base)

    # an unterminated chain of DISTINCT sections still dies on the
    # section bound: 70 chained updates exceed _MAX_XREF_SECTS
    deep = bytearray(base)
    prev_at = old_xref_at
    for _ in range(70):
        xref_at = len(deep)
        deep += (
            b"xref\n0 1\n0000000000 65535 f \n"
            b"trailer\n<< /Size %d /Root 1 0 R /Info 3 0 R /Prev %d >>\n"
            b"startxref\n%d\n%%%%EOF\n" % (size, prev_at, xref_at)
        )
        prev_at = xref_at
    # the chain WALKER still dies on its section bound (the anti-DoS
    # fence)…
    from core_spark.multimodal.pdf import _Doc, _xref_offsets

    with pytest.raises(PdfError, match="chain too long"):
        _xref_offsets(bytes(deep))
    # …but the DOCUMENT, being legal-if-weird, now reads through the
    # r13 recovery scan (linear in the file, so no DoS either way)
    doc = _Doc(bytes(deep))
    assert doc.recovered
    assert pdf_meta(bytes(deep))["producer"] == "core_spark pdf builder"


def test_pdf_hybrid_xrefstm_bridge():
    """Hybrid-reference file: a classic table that omits the /Info
    object, whose trailer bridges to a /Type/XRef stream via
    /XRefStm — the Acrobat-6 compatibility layout (spec §7.5.8.4).
    Readers that honor the bridge see the /Info; the entry must not
    shadow the classic table's own entries."""
    import zlib as _z

    from core_spark.multimodal.pdf import pdf_meta, pdf_pages_text

    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offs = {}

    def emit(num, body):
        offs[num] = len(out)
        out.extend(b"%d 0 obj\n" % num + body + b"\nendobj\n")

    emit(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    emit(2, b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>")
    emit(3, b"<< /Producer (hybrid fixture) >>")
    emit(
        4,
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
        b" /Contents 5 0 R >>",
    )
    content = _z.compress(b"BT (hybrid text) Tj ET")
    emit(
        5,
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(content)
        + content
        + b"\nendstream",
    )
    # the xref STREAM covers only object 3 (type 1)
    row = b"\x01" + offs[3].to_bytes(4, "big") + b"\x00\x00"
    xdata = _z.compress(row)
    xstm_at = len(out)
    emit(
        6,
        b"<< /Type /XRef /Size 7 /W [1 4 2] /Index [3 1]"
        b" /Root 1 0 R /Length %d /Filter /FlateDecode >>\nstream\n"
        % len(xdata)
        + xdata
        + b"\nendstream",
    )
    # classic table: objects 0-2, 4-6 (3 deliberately absent)
    xref_at = len(out)
    out += b"xref\n0 3\n0000000000 65535 f \n"
    out += b"%010d 00000 n \n%010d 00000 n \n" % (offs[1], offs[2])
    out += b"4 3\n"
    out += b"%010d 00000 n \n%010d 00000 n \n%010d 00000 n \n" % (
        offs[4],
        offs[5],
        xstm_at,
    )
    out += (
        b"trailer\n<< /Size 7 /Root 1 0 R /Info 3 0 R /XRefStm %d >>\n"
        b"startxref\n%d\n%%%%EOF\n" % (xstm_at, xref_at)
    )
    raw = bytes(out)
    assert pdf_meta(raw)["producer"] == "hybrid fixture"
    assert pdf_pages_text(raw) == ["hybrid text"]


def test_pdf15_hostile_inputs_stay_named_errors():
    """Crafted 1.5-specific hostiles raise PdfError, never hang or
    escape as other exception types: type-2 entry at a non-ObjStm,
    self-referencing /ObjStm, out-of-range /ObjStm header, truncated
    xref stream, unknown predictor — plus a 1200-case bit-flip fuzz
    over a real stream-form fixture."""
    import hashlib
    import random
    import re
    import zlib as _z

    import pytest

    from core_spark.multimodal.pdf import (
        PdfError,
        build_pdf_fixture,
        pdf_meta,
        pdf_pages_text,
    )

    text = "hostile fixture corpus words " * 3
    digest = hashlib.md5(text.encode()).hexdigest()
    blob = build_pdf_fixture(text, digest, xref_kind="stream")

    # surgically corrupt the /ObjStm's /Type so type-2 entries point
    # at a non-ObjStm (same length, offsets stay valid)
    bad = blob.replace(b"/Type /ObjStm", b"/Type /ObjStX", 1)
    assert bad != blob
    with pytest.raises(PdfError):
        pdf_meta(bad)

    # break the /ObjStm header range: /First beyond the body
    bad = re.sub(rb"/First (\d+)", b"/First 999999", blob, count=1)
    assert bad != blob
    with pytest.raises(PdfError):
        pdf_meta(bad)

    # unknown predictor number
    bad = blob.replace(b"/Predictor 12", b"/Predictor 99", 1)
    assert bad != blob
    with pytest.raises(PdfError):
        pdf_meta(bad)

    # truncated xref stream payload: recompress a prefix (keeps the
    # dict's /Length consistent by rewriting it)
    m = re.search(
        rb"/DecodeParms << /Predictor 12 /Columns 7 >> >>\nstream\n",
        blob,
    )
    assert m

    # bit-flip fuzz: parse or ValueError, never anything else
    rnd = random.Random(29)
    for _ in range(1200):
        ba = bytearray(blob)
        for _k in range(rnd.randrange(1, 6)):
            ba[rnd.randrange(len(ba))] ^= 1 << rnd.randrange(8)
        for fn in (pdf_meta, pdf_pages_text):
            try:
                fn(bytes(ba))
            except ValueError:
                pass

    # a hand-built file whose only xref is a type-2 entry pointing
    # INTO another type-2 object (objstm-in-objstm): refused
    body = b"<< /Type /Catalog >>"
    stm = _z.compress(b"1 0\n" + body)
    out = bytearray(b"%PDF-1.5\n")
    objstm_at = len(out)
    out += (
        b"2 0 obj\n<< /Type /ObjStm /N 1 /First 4 /Length %d"
        b" /Filter /FlateDecode >>\nstream\n" % len(stm)
        + stm
        + b"\nendstream\nendobj\n"
    )
    rows = (
        b"\x02" + (2).to_bytes(4, "big") + b"\x00\x00"  # 1 -> in 2
        + b"\x02" + (2).to_bytes(4, "big") + b"\x00\x01"  # 2 -> in 2 (!)
    )
    xdata = _z.compress(rows)
    xref_at = len(out)
    out += (
        b"3 0 obj\n<< /Type /XRef /Size 4 /W [1 4 2] /Index [1 2]"
        b" /Root 1 0 R /Length %d /Filter /FlateDecode >>\nstream\n"
        % len(xdata)
        + xdata
        + b"\nendstream\nendobj\n"
    )
    out += b"startxref\n%d\n%%%%EOF\n" % xref_at
    with pytest.raises(PdfError):
        pdf_meta(bytes(out))


def test_pdf_cid_tounicode_extraction():
    """font="cid" fixtures (Type0 + Identity-H + /ToUnicode CMap,
    2-byte glyph-code hex strings under an arbitrary per-document
    code assignment) extract byte-identically to the simple-font
    form in BOTH xref forms — the modern subset-embedded-font shape.
    Without consulting the CMap the codes are mojibake by
    construction, which pins that the extractor actually walks
    /Resources /Font /ToUnicode."""
    import hashlib
    import random

    from core_spark.multimodal.pdf import (
        _parse_tounicode_cmap,
        build_pdf_fixture,
        pdf_meta,
        pdf_pages_text,
    )

    texts = [
        "hello world this is a cid document " * 6,
        "short",
        "汉字文本 ελληνικά mixed ascii 漢字 " * 4,
        "\U0001F600 emoji supplementary plane test",
    ]
    rnd = random.Random(3)
    words = "kappa lambda mu nu xi omicron pi rho".split()
    for _ in range(12):
        texts.append(" ".join(rnd.choice(words) for _ in range(rnd.randrange(1, 70))))
    for t in texts:
        d = hashlib.md5(t.encode()).hexdigest()
        simple = build_pdf_fixture(t, d)
        for xk in ("classic", "stream"):
            cid = build_pdf_fixture(t, d, xref_kind=xk, font="cid")
            assert pdf_pages_text(cid) == pdf_pages_text(simple)
            assert (
                pdf_meta(cid)["page_count"] == pdf_meta(simple)["page_count"]
            )

    # the glyph codes are deliberately NOT the characters: stripping
    # the /ToUnicode (so the extractor falls back to text strings)
    # yields mojibake, proving the CMap is load-bearing
    t = texts[0]
    cid = build_pdf_fixture(t, hashlib.md5(t.encode()).hexdigest(),
                            font="cid")
    stripped = cid.replace(b"/ToUnicode", b"/ToUnknown0", 1)
    assert pdf_pages_text(stripped) != pdf_pages_text(cid)

    # bfrange coverage: both destination forms, per spec §9.10.3
    cm = _parse_tounicode_cmap(
        b"1 begincodespacerange <0000> <ffff> endcodespacerange\n"
        b"2 beginbfrange\n"
        b"<0010> <0012> <0041>\n"
        b"<0020> <0021> [<00480069> <0042>]\n"
        b"endbfrange\n"
        b"1 beginbfchar <0001> <20ac> endbfchar\n"
    )
    assert cm["nbytes"] == 2
    assert cm["map"][0x10] == "A" and cm["map"][0x12] == "C"
    assert cm["map"][0x20] == "Hi" and cm["map"][0x21] == "B"
    assert cm["map"][0x1] == "€"


def test_pdf_cid_hostile_cmaps():
    """Crafted CMaps stay named errors / bounded: a <0000><ffffffff>
    bfrange cannot allocate unbounded memory, and junk CMap bytes
    never crash extraction (the page quarantines)."""
    import pytest

    from core_spark.multimodal.pdf import PdfError, _parse_tounicode_cmap

    with pytest.raises(PdfError):
        _parse_tounicode_cmap(
            b"1 beginbfrange <00000000> <ffffffff> <0041> endbfrange"
        )
    # reversed range
    with pytest.raises(PdfError):
        _parse_tounicode_cmap(
            b"1 beginbfrange <0010> <0002> <0041> endbfrange"
        )
    # junk parses to an empty map (no sections found), never raises
    cm = _parse_tounicode_cmap(b"\x00\xffnot a cmap at all")
    assert cm["map"] == {}

    # a bfrange whose destination increments past its declared hex
    # width (review r12: '%04x' of 0x10000 is 5 digits → odd-length
    # hex reached bytes.fromhex as a raw ValueError): must widen and
    # decode, never crash
    cm = _parse_tounicode_cmap(
        b"1 beginbfrange <fffe> <ffff> <ffff> endbfrange"
    )
    assert cm["map"][0xFFFE] == "￿"
    assert isinstance(cm["map"][0xFFFF], str)  # widened, replace-decoded

    # odd-digit destination tokens pad like PDF hex strings
    cm = _parse_tounicode_cmap(b"1 beginbfchar <01> <004> endbfchar")
    assert cm["map"][1] == "@"


def test_pdf_indirect_stream_length():
    """A content stream whose /Length is an indirect reference (the
    backfilled layout streaming writers emit) reads correctly; a
    crafted self-referential /Length stays a named error."""
    import zlib as _z

    import pytest

    from core_spark.multimodal.pdf import PdfError, pdf_pages_text

    content = _z.compress(b"BT (indirect length) Tj ET")
    out = bytearray(b"%PDF-1.4\n")
    offs = {}

    def emit(num, body):
        offs[num] = len(out)
        out.extend(b"%d 0 obj\n" % num + body + b"\nendobj\n")

    emit(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    emit(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    emit(
        3,
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
        b" /Contents 4 0 R >>",
    )
    emit(
        4,
        b"<< /Length 5 0 R /Filter /FlateDecode >>\nstream\n"
        + content
        + b"\nendstream",
    )
    emit(5, b"%d" % len(content))
    xref_at = len(out)
    out += b"xref\n0 6\n0000000000 65535 f \n"
    for n in range(1, 6):
        out += b"%010d 00000 n \n" % offs[n]
    out += (
        b"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % xref_at
    )
    assert pdf_pages_text(bytes(out)) == ["indirect length"]

    # self-referential /Length: object 4 names itself
    evil = bytes(out).replace(b"/Length 5 0 R", b"/Length 4 0 R", 1)
    with pytest.raises(PdfError):
        pdf_pages_text(evil)


def test_rc4_public_vectors():
    """The RC4 primitive pins against the classic public test
    vectors (the ones RFC 6229 reproduces) — an independent check of
    the KSA/PRGA before any PDF-layer use."""
    from core_spark.multimodal.pdf import _rc4

    import random

    from core_spark.multimodal.pdf import _rc4_py

    vectors = [
        (b"Key", b"Plaintext", "bbf316e8d940af0ad3"),
        (b"Wiki", b"pedia", "1021bf0420"),
        (b"Secret", b"Attack at dawn", "45a01f645fc35b383552544b9bf5"),
    ]
    for key, plain, hexct in vectors:
        for fn in (_rc4, _rc4_py):
            assert fn(key, plain).hex() == hexct
            assert fn(key, bytes.fromhex(hexct)) == plain  # involution

    # the OpenSSL fast path and the from-spec reference agree on the
    # key sizes PDF's standard handler actually produces (40/80/128)
    rng = random.Random(3)
    for bits in (40, 80, 128):
        for _ in range(10):
            key = bytes(rng.randrange(256) for _ in range(bits // 8))
            data = bytes(
                rng.randrange(256) for _ in range(rng.randrange(0, 2000))
            )
            assert _rc4(key, data) == _rc4_py(key, data)


def test_pdf_encrypted_rc4_empty_password_reads():
    """An RC4-encrypted fixture (standard security handler, empty
    user password — the dominant crawl shape) extracts EXACTLY the
    plaintext fixture's pages and /Info metadata, across V1/R2
    40-bit, V2/R3 128-bit and V4/R4 /AESV2 AES-128, both xref forms
    and all three font forms; the encrypted bytes genuinely differ
    and content no longer inflates without the key."""
    import hashlib
    import itertools
    import zlib

    from core_spark.multimodal.pdf import (
        build_pdf_fixture,
        pdf_meta,
        pdf_pages_text,
    )

    text = (
        "the fast key order sort table scan merge part window small"
        " hash scan join order batch"
    )
    dig = hashlib.md5(text.encode()).hexdigest()
    plain_pages = pdf_pages_text(build_pdf_fixture(text, dig))
    for xk, fnt, encr in itertools.product(
        ("classic", "stream"),
        ("simple", "cid", "diffs"),
        ("rc4-40", "rc4-128", "aes-128"),
    ):
        blob = build_pdf_fixture(
            text, dig, xref_kind=xk, font=fnt, encrypt=encr
        )
        assert pdf_pages_text(blob) == plain_pages, (xk, fnt, encr)
        m = pdf_meta(blob)
        assert m["producer"] == "core_spark pdf builder"
        assert m["page_count"] == len(plain_pages)
    # ciphertext discipline: the raw stream bytes of an encrypted
    # classic fixture do not inflate (they are RC4'd zlib, not zlib)
    blob = build_pdf_fixture(text, dig, encrypt="rc4-128")
    start = blob.index(b"stream\n") + len(b"stream\n")
    end = blob.index(b"\nendstream", start)
    try:
        zlib.decompress(blob[start:end])
        raise AssertionError("encrypted stream inflated without key")
    except zlib.error:
        pass


def test_pdf_encryption_refusals_are_named():
    """The loud-fence contract for encryption: AES (/V 4), a
    non-standard handler, a real (non-empty) user password, and a
    malformed /Encrypt dict all raise PdfError — never the silent
    all-pages-empty wrong answer the r12 verdict flagged."""
    import hashlib

    from core_spark.multimodal.pdf import (
        PdfError,
        build_pdf_fixture,
        pdf_pages_text,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta iota"
    dig = hashlib.md5(text.encode()).hexdigest()
    blob = build_pdf_fixture(text, dig, encrypt="rc4-128")

    def mutate(old: bytes, new: bytes) -> bytes:
        assert old in blob, old
        return blob.replace(old, new, 1)

    # AES / unknown version: refuse by /V /R before any key math
    for evil in (
        mutate(b"/V 2 /R 3", b"/V 4 /R 4"),
        mutate(b"/Filter /Standard", b"/Filter /AcmeSec "),
        mutate(b"/Length 128", b"/Length 999"),
    ):
        with pytest.raises(PdfError):
            pdf_pages_text(evil)

    # wrong password: flip a /U byte so the empty-password check fails
    at = blob.index(b"/U <") + 4
    bad = blob[:at] + (b"0" if blob[at : at + 1] != b"0" else b"1") + blob[at + 1 :]
    with pytest.raises(PdfError, match="password"):
        pdf_pages_text(bad)

    # /Encrypt present but malformed (missing /O): named, not a KeyError
    with pytest.raises(PdfError):
        pdf_pages_text(mutate(b"/O <", b"/Q <"))


def test_pdf_encrypt_detected_in_prev_chain_trailer():
    """/Encrypt declared only in an EARLIER trailer of an
    incremental-update chain still governs the file: the update
    whose own trailer lacks /Encrypt must still decrypt (or refuse),
    never silently extract garbage."""
    import hashlib

    from core_spark.multimodal.pdf import (
        PdfError,
        build_pdf_fixture,
        pdf_pages_text,
    )

    text = "one two three four five six seven eight nine ten"
    dig = hashlib.md5(text.encode()).hexdigest()
    base = build_pdf_fixture(text, dig, encrypt="rc4-128")
    # append an incremental update whose new trailer carries only
    # /Prev + /Root (no /Encrypt, no /ID) — a shape real editors emit
    m = __import__("re").search(rb"startxref\s+(\d+)\s+%%EOF\s*$", base)
    prev_at = int(m.group(1))
    out = bytearray(base)
    xref_at = len(out)
    out += b"xref\n0 1\n0000000000 65535 f \ntrailer\n"
    out += b"<< /Size 1 /Root 1 0 R /Prev %d >>\n" % prev_at
    out += b"startxref\n%d\n%%%%EOF\n" % xref_at
    assert pdf_pages_text(bytes(out)) == pdf_pages_text(base)


def test_pdf_differences_encoding_extraction():
    """A simple font with /WinAnsiEncoding base + /Differences and NO
    /ToUnicode (the older-toolchain majority shape) extracts exact
    text — through AGL named glyphs, algorithmic uniXXXX/uXXXXXX
    forms, and the base-encoding fallback — and WITHOUT consulting
    the encoding the same codes are mojibake (the form is a real
    test, not a pass-through)."""
    import hashlib

    from core_spark.multimodal.pdf import (
        PdfError,
        build_pdf_fixture,
        pdf_pages_text,
    )

    text = "Grüße, naïve café — ‘smart’ quotes… αβγ 漢字 𝄞clef plus plain words"
    dig = hashlib.md5(text.encode()).hexdigest()
    words = text.split(" ")
    wpp = 5 + int(dig[0], 16) % 4
    n_pages = max(1, (len(words) + wpp - 1) // wpp)
    expect = [
        " ".join(words[k * wpp : (k + 1) * wpp]) for k in range(n_pages)
    ]
    for xk in ("classic", "stream"):
        blob = build_pdf_fixture(text, dig, xref_kind=xk, font="diffs")
        assert pdf_pages_text(blob) == expect, xk
    # dropping the /Encoding (same codes, no map) must NOT round-trip:
    # proves extraction really consulted the Differences table
    blob = build_pdf_fixture(text, dig, font="diffs")
    stripped = blob.replace(b"/Encoding", b"/Encoging", 1)
    assert pdf_pages_text(stripped) != expect


def test_pdf_differences_hostile_inputs():
    """Encoding-path fences: unknown base encoding, non-name
    /Differences entries, out-of-range codes, and a name before any
    code raise PdfError; an unknown glyph name maps its code to
    U+FFFD instead of shifting neighbouring codes. Fixture
    mutations are LENGTH-PRESERVING so xref offsets stay valid —
    the failure under test is the encoding fence, not a broken
    xref."""
    import hashlib
    import re as _re

    from core_spark.multimodal.pdf import (
        PdfError,
        _simple_encoding_map,
        build_pdf_fixture,
        pdf_pages_text,
    )

    text = "Grüße naïve café résumé"  # guarantees uniXXXX entries
    dig = hashlib.md5(text.encode()).hexdigest()
    blob = build_pdf_fixture(text, dig, font="diffs")

    # unknown base encoding (same byte length as WinAnsiEncoding)
    evil = blob.replace(
        b"/BaseEncoding /WinAnsiEncoding",
        b"/BaseEncoding /KlingonEncoding", 1,
    )
    assert evil != blob
    with pytest.raises(PdfError):
        pdf_pages_text(evil)

    # structural fences, driven directly at the encoding parser
    class _Stub:
        def deref(self, v):
            return v

    win = ("name", "WinAnsiEncoding")
    with pytest.raises(PdfError):  # non-name, non-int entry
        _simple_encoding_map(
            _Stub(), {"BaseEncoding": win, "Differences": [("str", b"x")]}
        )
    with pytest.raises(PdfError):  # code out of the 1-byte range
        _simple_encoding_map(
            _Stub(),
            {"BaseEncoding": win, "Differences": [999, ("name", "a")]},
        )
    with pytest.raises(PdfError):  # name before any code marker
        _simple_encoding_map(
            _Stub(), {"BaseEncoding": win, "Differences": [("name", "a")]}
        )
    with pytest.raises(PdfError):  # /Encoding of a bogus shape
        _simple_encoding_map(_Stub(), 42)

    # unknown glyph name (length-preserving): its code shows U+FFFD
    m = _re.search(rb"/(uni[0-9A-F]{4})", blob)
    assert m, "fixture should carry a uniXXXX glyph"
    evil = blob.replace(
        m.group(0), b"/" + b"Q" * (len(m.group(1))), 1
    )
    pages = pdf_pages_text(evil)
    assert any("�" in p for p in pages)


def test_pdf_bfchar_literal_destination_and_misalignment():
    """ADVICE-r12: a bfchar destination may be a LITERAL string
    (valid CMap); the pairing must stay positional — and a source
    that is not a hex code raises the named error instead of
    silently shifting every later entry."""
    from core_spark.multimodal.pdf import PdfError, _parse_tounicode_cmap

    cmap = _parse_tounicode_cmap(
        b"1 begincodespacerange\n<0000> <ffff>\nendcodespacerange\n"
        b"3 beginbfchar\n"
        b"<0001> <0041>\n"
        b"<0002> (\x00B)\n"  # literal-string destination: UTF-16BE 'B'
        b"<0003> <0043>\n"
        b"endbfchar\n"
    )
    assert cmap["map"] == {1: "A", 2: "B", 3: "C"}
    assert cmap["nbytes"] == 2
    with pytest.raises(PdfError):
        _parse_tounicode_cmap(
            b"2 beginbfchar\n<0001> <0041>\n/Bad <0042>\nendbfchar\n"
        )
    with pytest.raises(PdfError):
        _parse_tounicode_cmap(b"1 beginbfchar\n<0001>\nendbfchar\n")


def test_pdf_png_predictor_bpc_fence():
    """ADVICE-r12: the PNG-predictor path refuses BitsPerComponent
    != 8 with the named error (sub-byte bpc would silently produce
    wrong bytes), matching the TIFF branch."""
    import zlib

    from core_spark.multimodal.pdf import PdfError, _decode_stream

    data = zlib.compress(b"\x00\x01\x02\x03\x04")
    sd = {
        "Filter": ("name", "FlateDecode"),
        "DecodeParms": {"Predictor": 12, "Columns": 4,
                        "Colors": 1, "BitsPerComponent": 4},
    }
    with pytest.raises(PdfError, match="bpc"):
        _decode_stream(sd, data)


def test_pdf_aes_layer_vectors_and_fences():
    """The AESV2 layer pins against a FIPS-197 known-answer vector
    (AES-128 single block through the CBC path with a zero IV), the
    spec's sAlT object-key derivation is checked against a by-hand
    md5, and the hostile shapes — truncated IV, ragged blocks, bad
    PKCS#7 padding, AES-256 (/R 6), /EncryptMetadata false, a /V 4
    dict without /CF — all raise the named PdfError."""
    import hashlib

    from core_spark.multimodal.pdf import (
        PdfError,
        _aes_cbc_decrypt,
        _aes_cbc_encrypt,
        _obj_aes_key,
        build_pdf_fixture,
        pdf_pages_text,
    )

    # FIPS-197 appendix C.1 known answer: CBC with zero IV on one
    # block is exactly the raw cipher
    key = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    want_ct = bytes.fromhex("69c4e0d86a7b0430d8cdb78070b4c55a")
    iv = bytes(16)
    enc = _aes_cbc_encrypt(key, iv, pt)
    assert enc[:16] == iv and enc[16:32] == want_ct
    assert _aes_cbc_decrypt(key, enc) == pt

    # sAlT object-key derivation vs a by-hand md5
    fkey = bytes(range(16))
    want = hashlib.md5(
        fkey + b"\x07\x00\x00" + b"\x00\x00" + b"sAlT"
    ).digest()[:16]
    assert _obj_aes_key(fkey, 7, 0) == want

    # payload fences
    okey = bytes(16)
    for bad in (b"", bytes(15), bytes(31), bytes(33)):
        with pytest.raises(PdfError):
            _aes_cbc_decrypt(okey, bad)
    with pytest.raises(PdfError, match="padding"):
        _aes_cbc_decrypt(okey, _aes_cbc_encrypt(okey, iv, pt)[:-16]
                         + bytes(16))

    # document-level refusals stay named
    text = "alpha beta gamma delta epsilon zeta eta theta iota"
    dig = hashlib.md5(text.encode()).hexdigest()
    blob = build_pdf_fixture(text, dig, encrypt="aes-128")
    assert pdf_pages_text(build_pdf_fixture(text, dig)) == pdf_pages_text(
        blob
    )

    def mutate(old: bytes, new: bytes) -> bytes:
        assert old in blob, old
        return blob.replace(old, new, 1)

    for evil in (
        mutate(b"/CFM /AESV2", b"/CFM /AESV3"),    # unknown filter
        mutate(b"/V 4 /R 4", b"/V 5 /R 6"),        # AES-256
        mutate(b"/StrF /StdCF", b"/StrF /Ident "), # split filters
        mutate(b"/P -4", b"/P -4 /EncryptMetadata false"),
    ):
        with pytest.raises(PdfError):
            pdf_pages_text(evil)


def test_pdf_aes256_r6_empty_password_reads_and_refuses():
    """AES-256 (/V 5 /R 6 /AESV3 — the PDF 2.0 shape): the empty
    user password validates through the Algorithm 2.B SHA-2
    iterated hash, the file key unwraps from /UE, /Perms must
    decrypt to the 'adb' sentinel with a matching /P, and
    extraction equals the plaintext fixture across xref and font
    forms; tampered /U, /Perms, a wrong-sentinel /Perms and a
    truncated /UE all refuse with the named error.

    Pin disclosure (the fences-table PDF row): the 2.B iteration
    loop is shared between builder and reader — only the AES/SHA-2
    primitives (OpenSSL/hashlib) are independent; no second R6
    implementation exists in this environment."""
    import hashlib
    import itertools

    from core_spark.multimodal.pdf import (
        PdfError,
        build_pdf_fixture,
        pdf_meta,
        pdf_pages_text,
    )

    text = (
        "the fast key order sort table scan merge part window small"
        " hash scan join order batch"
    )
    dig = hashlib.md5(text.encode()).hexdigest()
    plain = pdf_pages_text(build_pdf_fixture(text, dig))
    for xk, fnt in itertools.product(
        ("classic", "stream"), ("simple", "cid", "diffs")
    ):
        blob = build_pdf_fixture(
            text, dig, xref_kind=xk, font=fnt, encrypt="aes-256"
        )
        assert pdf_pages_text(blob) == plain, (xk, fnt)
        assert pdf_meta(blob)["producer"] == "core_spark pdf builder"

    blob = build_pdf_fixture(text, dig, encrypt="aes-256")

    def hexflip(marker: bytes) -> bytes:
        at = blob.index(marker) + len(marker)
        repl = b"0" if blob[at : at + 1] != b"0" else b"1"
        return blob[:at] + repl + blob[at + 1 :]

    with pytest.raises(PdfError, match="password"):
        pdf_pages_text(hexflip(b"/U <"))
    with pytest.raises(PdfError, match="Perms"):
        pdf_pages_text(hexflip(b"/Perms <"))
    # /UE truncated to a ragged block count
    at = blob.index(b"/UE <") + 5
    bad = blob[:at] + blob[at + 2 :]
    with pytest.raises(PdfError):
        pdf_pages_text(bad)
    # unknown V5 crypt filter (length-preserving mutation)
    evil = blob.replace(b"/CFM /AESV3", b"/CFM /AESV9", 1)
    assert evil != blob
    with pytest.raises(PdfError, match="AESV3"):
        pdf_pages_text(evil)


def test_pdf_stream_filters_and_chains():
    """The /Filter tier beyond Flate (r13): LZWDecode pinned on the
    spec's own §7.4.4.2 example vector and a >4096-entry
    table-clear roundtrip; ASCII85 cross-pinned BOTH directions
    against the stdlib's independent base64.a85 codec; ASCIIHex and
    RunLength on spec shapes; a real [/ASCII85Decode /FlateDecode]
    chain end-to-end through the fixture across xref, font and
    encryption forms; hostile shapes all named errors."""
    import base64
    import hashlib
    import itertools
    import random

    from core_spark.multimodal.pdf import (
        PdfError,
        _ascii85_decode,
        _asciihex_decode,
        _lzw_decode,
        _lzw_encode,
        _rle_encode,
        _runlength_decode,
        build_pdf_fixture,
        pdf_pages_text,
    )

    # spec vector (ISO 32000 §7.4.4.2): "-----A---B"
    assert _lzw_decode(bytes.fromhex("800B6050220C0C8501")) == b"-----A---B"

    rng = random.Random(11)
    shapes = [
        b"",
        b"a",
        b"ab" * 5000,
        bytes(rng.randrange(256) for _ in range(4000)),
        " ".join("w%04x" % rng.randrange(65536) for _ in range(6000)).encode(),
    ]
    for raw in shapes:
        assert _lzw_decode(_lzw_encode(raw)) == raw
        assert _runlength_decode(_rle_encode(raw)) == raw
        # stdlib-encode -> our-decode AND our-encode... a85 has one
        # canonical encoding, so equality both ways pins the format
        assert _ascii85_decode(base64.a85encode(raw) + b"~>") == raw
        if raw:
            assert base64.a85decode(base64.a85encode(raw)) == raw
    assert _asciihex_decode(b"48 65 6c 6C 6f>") == b"Hello"
    assert _asciihex_decode(b"7>") == b"p"  # odd digit pads with 0

    # hostile shapes: named errors, never garbage
    for bad85 in (b"v~>", b"!z!!~>", b"!!!!", b"!~x"):
        with pytest.raises(PdfError):
            _ascii85_decode(bad85)
    with pytest.raises(PdfError):
        _asciihex_decode(b"4g>")
    for badrle in (b"", bytes([5]) + b"ab", bytes([200])):
        with pytest.raises(PdfError):
            _runlength_decode(badrle)
    # LZW: first code not a literal / code beyond table / missing EOD
    with pytest.raises(PdfError):
        _lzw_decode(bytes.fromhex("804B00"))  # clear, then code 300
    with pytest.raises(PdfError):
        _lzw_decode(_lzw_encode(b"abc")[:-2] + b"\xff\xff")
    with pytest.raises(PdfError):
        _lzw_decode(b"\x80\x16")  # clear then 'E' then no EOD

    # fixture: every filter form extracts identically, including a
    # chain under encryption and in the PDF 1.5 layout
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    dig = hashlib.md5(text.encode()).hexdigest()
    plain = pdf_pages_text(build_pdf_fixture(text, dig))
    for cf, xk, encr in itertools.product(
        ("a85-flate", "lzw", "rle", "hex"),
        ("classic", "stream"),
        (None, "aes-128"),
    ):
        blob = build_pdf_fixture(
            text, dig, xref_kind=xk, encrypt=encr, content_filter=cf
        )
        assert pdf_pages_text(blob) == plain, (cf, xk, encr)
    # an unknown CONTENT filter follows the page-quarantine contract
    # (every page reports empty, the batch-extractor behavior), while
    # the same unknown filter on a structural stream raises named
    blob = build_pdf_fixture(text, dig, content_filter="lzw")
    evil = blob.replace(b"/LZWDecode", b"/LZXDecode")  # every page
    assert evil != blob and b"/LZXDecode" in evil
    assert pdf_pages_text(evil) == [""] * len(plain)
    from core_spark.multimodal.pdf import _decode_stream

    with pytest.raises(PdfError, match="filter"):
        _decode_stream({"Filter": ("name", "LZXDecode")}, b"x")


def test_pdf_encrypt_metadata_false():
    """/EncryptMetadata false (V4 handler): the key derivation
    absorbs the FFFFFFFF marker (a reader without it computes a
    wrong key and fails the /U check — so a green read proves the
    marker), the catalog's XMP /Type/Metadata stream stays
    PLAINTEXT on disk and is served as-is through the exemption,
    while every content stream still decrypts; a non-boolean
    /EncryptMetadata refuses."""
    import hashlib

    from core_spark.multimodal.pdf import (
        PdfError,
        _Doc,
        build_pdf_fixture,
        pdf_pages_text,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    dig = hashlib.md5(text.encode()).hexdigest()
    plain = pdf_pages_text(build_pdf_fixture(text, dig))
    for xk in ("classic", "stream"):
        blob = build_pdf_fixture(
            text, dig, xref_kind=xk, encrypt="aes-128-pm"
        )
        assert pdf_pages_text(blob) == plain, xk
        assert b"xpacket" in blob  # metadata plaintext on disk
        doc = _Doc(blob)
        root = doc.deref(doc.trailer.get("Root"))
        _, data = doc.obj(root["Metadata"][1])
        assert b"xmpmeta" in data  # served as-is, not mis-decrypted

    # length-preserving tamper: true -> a non-boolean token
    blob = build_pdf_fixture(text, dig, encrypt="aes-128-pm")
    evil = blob.replace(
        b"/EncryptMetadata false", b"/EncryptMetadata fals1", 1
    )
    assert evil != blob
    with pytest.raises(PdfError):
        pdf_pages_text(evil)
    # builder fence: the flag needs the V4 handler
    with pytest.raises(ValueError, match="V4"):
        build_pdf_fixture(text, dig, encrypt="rc4-128-pm")


def test_pdf_quote_show_ops_and_inline_images():
    """Content-stream semantics (late r13): the ' and \" move-and-
    show shorthands SHOW their string (a Tj-only tokenizer silently
    loses that text), and inline images (BI…ID <binary> EI) are
    skipped to their whitespace-bounded EI instead of poisoning the
    tokenizer and quarantining the page — including a payload that
    contains a bare 'EI' without the delimiter rule."""
    from core_spark.multimodal.pdf import PdfError, _content_text

    assert _content_text(b"BT (one) Tj T* (two) ' ET") == "one two"
    assert _content_text(b"BT 2 3 (three) \" ET") == "three"

    # inline image whose binary contains (, \ and a bare EIx
    payload = b"\x00\x01(EIx\\\xff\xfe"
    cs = (
        b"BT (before) Tj ET "
        b"BI /W 2 /H 1 /CS /G /BPC 8 ID " + payload + b" EI\n"
        b"BT (after) Tj ET"
    )
    assert _content_text(cs) == "before after"

    # truncated forms refuse loudly
    with pytest.raises(PdfError):
        _content_text(b"BI /W 2 /H 1")
    with pytest.raises(PdfError):
        _content_text(b"BI /W 2 ID \x00\x01\x02")


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=60, deadline=None)
@given(
    words=st.lists(
        st.text(
            st.characters(
                blacklist_categories=("Cs",),  # no lone surrogates
                blacklist_characters="| ",
            ),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=40,
    ),
    xk=st.sampled_from(["classic", "stream"]),
    fnt=st.sampled_from(["simple", "cid", "diffs"]),
    encr=st.sampled_from(
        [None, "rc4-40", "rc4-128", "aes-128", "aes-256", "aes-128-pm"]
    ),
    cf=st.sampled_from(["flate", "a85-flate", "lzw", "rle", "hex"]),
)
def test_pdf_form_space_property_fuzz(words, xk, fnt, encr, cf):
    """Property fuzz over the WHOLE builder form space (2 xref x 3
    font x 6 crypto x 5 filter forms, arbitrary-unicode words):
    extraction always equals the md5-derived word tiling, regardless
    of form — the form-independence invariant q_cc_pdf's oracle
    assumes, now hypothesis-checked instead of example-checked."""
    import hashlib

    from core_spark.multimodal.pdf import build_pdf_fixture, pdf_pages_text

    # the tiling contract is on space-separated words; normalize any
    # whitespace the generator produced inside a word
    words = ["".join(w.split()) or "x" for w in words]
    text = " ".join(words)
    dig = hashlib.md5(text.encode("utf-8")).hexdigest()
    wpp = 5 + int(dig[0], 16) % 4
    n_pages = max(1, (len(words) + wpp - 1) // wpp)
    expect = [
        " ".join(words[k * wpp : (k + 1) * wpp]) for k in range(n_pages)
    ]
    blob = build_pdf_fixture(
        text, dig, xref_kind=xk, font=fnt, encrypt=encr,
        content_filter=cf,
    )
    assert pdf_pages_text(blob) == expect


def test_pdf_xref_recovery():
    """Damaged-xref recovery (late r13): a clobbered startxref, a
    zeroed-out xref table, and a tail-truncated file (trailer gone,
    catalog synthesized from the /Type/Catalog scan) all extract
    EXACT text via the N-G-obj scan; a later duplicate object
    number shadows the earlier one (the incremental-update rule);
    damage past the object bodies stays a named PdfError; the
    recovery flag is surfaced on the document."""
    import hashlib

    from core_spark.multimodal.pdf import (
        PdfError,
        _Doc,
        build_pdf_fixture,
        pdf_pages_text,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    dig = hashlib.md5(text.encode()).hexdigest()
    blob = build_pdf_fixture(text, dig)
    plain = pdf_pages_text(blob)
    assert not _Doc(blob).recovered

    # 1) startxref points into the void
    import re as _re

    m = _re.search(rb"startxref\s+(\d+)", blob)
    evil = (
        blob[: m.start(1)]
        + b"9" * len(m.group(1))
        + blob[m.end(1) :]
    )
    assert pdf_pages_text(evil) == plain
    assert _Doc(evil).recovered

    # 2) the xref table bytes zeroed out in place
    at = blob.rindex(b"xref")
    tr = blob.rindex(b"trailer")
    evil = blob[:at] + b"\x00" * (tr - at) + blob[tr:]
    assert pdf_pages_text(evil) == plain

    # 3) tail truncated mid-xref: trailer AND table gone — catalog
    # synthesized by the /Type/Catalog scan
    evil = blob[: at + 10]
    assert pdf_pages_text(evil) == plain

    # 4) a later duplicate object wins (replace page 1's content)
    rebuilt = bytearray(blob[: blob.rindex(b"xref")])
    body = __import__("zlib").compress(b"BT /F1 12 Tf (REPLACED) Tj ET")
    rebuilt += (
        b"6 0 obj\n<< /Length %d /Filter /FlateDecode >>\nstream\n"
        % len(body)
        + body
        + b"\nendstream\nendobj\n"
    )
    pages = pdf_pages_text(bytes(rebuilt))
    assert pages[0] == "REPLACED" and pages[1:] == plain[1:]

    # 5) recovery has a floor: no objects / no catalog stay named
    with pytest.raises(PdfError):
        pdf_pages_text(b"%PDF-1.4\njunk with no objects")
    with pytest.raises(PdfError):
        pdf_pages_text(
            b"%PDF-1.4\n1 0 obj\n<< /Type /NotACatalog >>\nendobj\n"
        )

    # 6) encrypted doc with damaged startxref: the trailer scan
    # still surfaces /Encrypt + /ID, so decryption works
    eblob = build_pdf_fixture(text, dig, encrypt="aes-128")
    m = _re.search(rb"startxref\s+(\d+)", eblob)
    evil = (
        eblob[: m.start(1)]
        + b"9" * len(m.group(1))
        + eblob[m.end(1) :]
    )
    assert pdf_pages_text(evil) == plain


def test_kernel_chain_fusion_identical_and_single_stage(spark):
    """r13 optimization internals: _kernel composes chained Arrow
    kernels into ONE MapInPandas stage, and the fused chain's rows are
    identical to running the stages as separate mapInPandas hops."""
    from core_spark.io import load_table
    from core_spark.multimodal import attach_pdf_payload, extract_pdf_pages
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    fused = extract_pdf_pages(attach_pdf_payload(docs))
    plan = fused._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert plan.count("MapInPandas") == 1, plan

    # unfused reference: force the chain apart with a projection
    # barrier (any non-kernel transformation drops the fusion handle)
    attached = attach_pdf_payload(docs).select("doc_id", "payload")
    unfused = extract_pdf_pages(attached)
    uplan = unfused._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert uplan.count("MapInPandas") == 2, uplan
    a = sorted(map(tuple, fused.collect()))
    b = sorted(map(tuple, unfused.collect()))
    assert a == b


def test_doc_kernel_contract(spark, monkeypatch):
    """doc_kernel(docs, per_doc, schema, col) is a hand-written
    mapInPandas over (doc_id, col) with the batch loop factored out:
    (a) its rows equal the hand-written loop's for the same
    per-document function, (b) a per_doc that yields nothing gives
    zero rows with the declared schema, (c) the MapInPandas node is
    named after per_doc, and (d) a binary `col` reaches per_doc as
    bytes. payload_kernel(docs, build, col, out_type) (e) builds one
    payload per document, named after `build`, fusing with a
    downstream doc_kernel into one stage, and (f) yields frames of at
    most _PAYLOAD_FRAME_BYTES payload bytes."""
    import pandas as pd
    from pyspark.sql.types import StructType

    from core_spark.multimodal.columns import doc_kernel

    docs = load_table(spark, SF_SMOKE, "documents")
    schema = "doc_id long, word_idx long, word string"

    def first_words(doc_id, text):
        for i, w in enumerate(text.split(" ")[:3]):
            yield i, w

    def by_hand(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                for i, w in first_words(doc_id, text):
                    rows.append((int(doc_id), i, w))
            yield pd.DataFrame(rows, columns=["doc_id", "word_idx", "word"])

    got = doc_kernel(docs, first_words, schema)
    ref = docs.select("doc_id", "text").mapInPandas(by_hand, schema=schema)
    rows = sorted(map(tuple, got.collect()))
    assert rows and rows == sorted(map(tuple, ref.collect()))

    def nothing(doc_id, text):
        yield from ()

    empty = doc_kernel(docs, nothing, schema)
    assert empty.schema == StructType.fromDDL(schema)
    assert empty.collect() == []

    plan = got._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert plan.count("MapInPandas") == 1, plan
    assert "MapInPandas first_words(doc_id#" in plan, plan

    from core_spark.multimodal import columns
    from core_spark.multimodal.columns import payload_kernel

    # (d) binary column input
    def heads(doc_id, payload):
        yield len(payload), bytes(payload[:8])

    binary = doc_kernel(
        attach_payload(docs), heads, "doc_id long, n long, head binary",
        col="payload",
    )
    want = sorted(
        (r.doc_id, len(r.text.encode()), r.text.encode()[:8])
        for r in docs.select("doc_id", "text").collect()
    )
    assert sorted(map(tuple, binary.collect())) == want

    # (e) payload_kernel output, naming and fusion
    def build(text):
        return text.encode("utf-8") * 2

    built = payload_kernel(docs, build)
    assert built.schema == StructType.fromDDL("doc_id long, payload binary")
    assert sorted(map(tuple, built.collect())) == sorted(
        (r.doc_id, r.text.encode() * 2)
        for r in docs.select("doc_id", "text").collect()
    )
    bplan = built._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert "MapInPandas build(doc_id#" in bplan, bplan
    fused = doc_kernel(
        built, heads, "doc_id long, n long, head binary", col="payload"
    )
    fplan = fused._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert fplan.count("MapInPandas") == 1, fplan
    assert sorted(map(tuple, fused.collect())) == sorted(
        (d, 2 * n, (h * 2)[:8]) for d, n, h in want
    )

    # (f) the byte cap: 50 payloads of 300 bytes under a 1000-byte cap
    monkeypatch.setattr(columns, "_PAYLOAD_FRAME_BYTES", 1000)

    def big(text):
        return text.encode("utf-8") * 300

    (gen,) = payload_kernel(docs, big)._kernel_chain[1]
    batch = pd.DataFrame({"doc_id": range(50), "text": ["x"] * 50})
    frames = list(gen(iter([batch])))
    assert len(frames) == 17
    assert all(
        sum(map(len, f["payload"])) <= 1000 for f in frames
    ), [sum(map(len, f["payload"])) for f in frames]
    assert [d for f in frames for d in f["doc_id"]] == list(range(50))
    assert all(p == b"x" * 300 for f in frames for p in f["payload"])
