"""From-spec RFC 8878 zstd decoder (functions/zstd_decode.py),
pinned against pyarrow's (independent, C) zstd compressor across
levels and data shapes, plus the XXH64 its content checksum verifies
with (functions/xxhash.py) pinned against Spark's own JVM xxhash64
and the published empty-input vector."""

import os
import random
import struct

import pyarrow as pa
import pytest

from core_spark.functions import zstd_decode
from core_spark.functions.xxhash import xxh64
from core_spark.functions.zstd_decode import (
    ZstdDecodeError,
    zstd_decompress,
    zstd_decompress_frame,
)
from core_spark.functions.zstdfile import build_skippable, build_zstd_frames


def _shapes():
    rng = random.Random(99)
    words = [b"the", b"quick", b"brown", b"fox", b"zstd", b"\x00\x01\xff"]
    return [
        b"",
        b"a",
        b"hello world " * 100,
        bytes(range(256)) * 50,
        b"x" * 500_000,                       # RLE + multi-block (>128 KiB)
        bytes(rng.randrange(256) for _ in range(100_000)),  # incompressible
        b"abcabcabcabd" * 997,                # short-period matches
        b" ".join(rng.choice(words) for _ in range(40_000)),  # texty
    ]


@pytest.mark.parametrize("level", [1, 3, 9, 19, 22])
def test_pins_against_pyarrow_across_levels(level):
    codec = pa.Codec("zstd", compression_level=level)
    for raw in _shapes():
        comp = codec.compress(raw, asbytes=True)
        assert zstd_decompress(comp) == raw


def test_concatenated_and_skippable_frames():
    codec = pa.Codec("zstd", compression_level=3)
    a = codec.compress(b"first frame " * 50, asbytes=True)
    b = codec.compress(b"second frame " * 50, asbytes=True)
    blob = a + build_skippable(b"metadata here") + b
    assert zstd_decompress(blob) == b"first frame " * 50 + b"second frame " * 50
    # frame-at-a-time API reports the next offset exactly
    content, off = zstd_decompress_frame(blob)
    assert content == b"first frame " * 50 and off == len(a)
    skipped, off2 = zstd_decompress_frame(blob, off)
    assert skipped == b"" and off2 == off + 8 + len(b"metadata here")


def test_own_raw_block_frames_decode():
    content = b"0123456789" * 1000
    blob = build_zstd_frames(content, 3)
    assert zstd_decompress(blob) == content


def _checksummed_frame(content: bytes) -> bytes:
    # Single-segment frame of raw blocks WITH Content_Checksum set:
    # FHD = fcs-flag 2 (4-byte), single-segment, checksum bit.
    out = bytearray(struct.pack("<I", 0xFD2FB528))
    out += bytes([(2 << 6) | 0x20 | 0x04])
    out += struct.pack("<I", len(content))
    hdr = (len(content) << 3) | (0 << 1) | 1
    out += bytes([hdr & 0xFF, (hdr >> 8) & 0xFF, (hdr >> 16) & 0xFF])
    out += content
    out += struct.pack("<I", xxh64(content) & 0xFFFFFFFF)
    return bytes(out)


def test_content_checksum_verified_not_skipped():
    blob = _checksummed_frame(b"checksummed payload")
    assert zstd_decompress(blob) == b"checksummed payload"
    evil = bytearray(blob)
    evil[-1] ^= 0x01
    with pytest.raises(ZstdDecodeError, match="checksum"):
        zstd_decompress(bytes(evil))


def test_xxh64_matches_spark_jvm_xxhash64(spark):
    # Spark's xxhash64 on a binary column IS canonical XXH64 with
    # seed 42 — an independent JVM implementation to pin against.
    # The decoder must verify checksums with the shared functions.xxhash.
    import pyspark.sql.functions as F

    assert zstd_decode.xxh64 is xxh64
    datas = [b"", b"a", b"hello world", os.urandom(7), os.urandom(31),
             os.urandom(32), os.urandom(33), os.urandom(1000)]
    df = spark.createDataFrame(
        [(i, bytearray(d)) for i, d in enumerate(datas)], "i int, b binary"
    )
    jvm = {r["i"]: r["h"] for r in df.select(
        "i", F.xxhash64("b").alias("h")).collect()}
    for i, d in enumerate(datas):
        mine = zstd_decode.xxh64(d, seed=42)
        signed = mine - (1 << 64) if mine >= (1 << 63) else mine
        assert jvm[i] == signed
    # the published empty-input vector, seed 0
    assert zstd_decode.xxh64(b"") == 0xEF46DB3751D8E999


def test_corrupt_shapes_raise_named_error():
    codec = pa.Codec("zstd", compression_level=19)
    good = codec.compress(b"seed text " * 300, asbytes=True)
    cases = [
        b"",
        b"\x00\x01\x02\x03",                  # bad magic
        good[:8],                              # truncated header
        good[: len(good) - 3],                 # truncated mid-block
        good + b"\x28",                        # trailing garbage magic
    ]
    for blob in cases:
        with pytest.raises(ZstdDecodeError):
            zstd_decompress(blob)


def test_dictionary_frames_require_a_supplied_dictionary():
    # FHD with dictionary-id flag 1 → 1-byte dict id ≠ 0. With no
    # dictionary supplied, the named error says which id is needed
    # (r12: the former library-naming fence became real decode).
    blob = struct.pack("<I", 0xFD2FB528) + bytes([(2 << 6) | 0x20 | 0x01])
    blob += bytes([7]) + struct.pack("<I", 3)
    blob += b"\x19\x00\x00abc"
    with pytest.raises(ZstdDecodeError, match="requires dictionary id 7"):
        zstd_decompress(blob)


def test_output_bomb_guard():
    frame = pa.Codec("zstd").compress(b"y" * 100_000, asbytes=True)
    with pytest.raises(ZstdDecodeError, match="max_output"):
        zstd_decompress(frame, max_output=1000)


def test_bit_flip_fuzz_never_hangs_or_lies():
    rng = random.Random(4242)
    codec = pa.Codec("zstd", compression_level=19)
    raw = b" ".join(
        rng.choice([b"alpha", b"beta", b"gamma"]) for _ in range(5_000)
    )
    comp = bytearray(codec.compress(raw, asbytes=True))
    for _ in range(300):
        i = rng.randrange(len(comp))
        old = comp[i]
        comp[i] ^= 1 << rng.randrange(8)
        try:
            got = zstd_decompress(bytes(comp), max_output=1 << 24)
            # a surviving flip must still satisfy the frame's own
            # declared content size (checked inside the decoder)
            assert isinstance(got, bytes)
        except ZstdDecodeError:
            pass  # the only acceptable failure shape
        comp[i] = old


def test_dictionary_decode_pins_against_zstd_jni(spark):
    """RFC 8878 §5 dictionary frames (the r12 fence lift) pinned
    against zstd-jni on Spark's own classpath — an independent
    encoder AND trainer: a dictionary TRAINED by the reference ZDICT
    trainer (structured: magic + entropy tables + rep offsets +
    content), frames compressed with that dictionary across levels,
    decoded by the from-spec decoder. Covers the preset-entropy
    first-block path (Repeat/treeless modes backed by dict tables),
    match copies reaching into the dictionary-content window prefix,
    raw-content dictionaries, and the id-mismatch fence."""
    import random

    from core_spark.functions.zstd_decode import parse_zstd_dictionary

    jvm = spark._jvm
    rng = random.Random(41)
    words = [b"journal", b"fragment", b"manifest", b"shard", b"offset",
             b"commit", b"watermark", b"zstd", b"dictionary", b"training"]

    def doc(n):
        return b" ".join(rng.choice(words) for _ in range(n)) + b"\n"

    samples = [doc(rng.randrange(30, 120)) for _ in range(200)]
    trainer = jvm.com.github.luben.zstd.ZstdDictTrainer(
        sum(len(s) for s in samples), 16 * 1024
    )
    for s in samples:
        assert trainer.addSample(s)
    dict_bytes = bytes(trainer.trainSamples())
    parsed = parse_zstd_dictionary(dict_bytes)
    assert parsed["dict_id"] != 0 and parsed["huf"] is not None
    assert all(parsed[k] is not None for k in ("ll", "of", "ml"))
    assert len(parsed["content"]) > 0

    payloads = [doc(rng.randrange(5, 400)) for _ in range(30)]
    payloads += [b"", b"zstd", samples[0] * 3]
    for level in (1, 3, 19):
        ctx = jvm.com.github.luben.zstd.ZstdCompressCtx()
        ctx.setLevel(level)
        ctx.loadDict(dict_bytes)
        for p in payloads:
            comp = bytes(ctx.compress(p))
            assert zstd_decompress(comp, dictionary=dict_bytes) == p
            assert zstd_decompress(comp, dictionary=parsed) == p

    # raw-content dictionary (no magic): window-prefix-only decode
    raw_dict = b"".join(samples[:20])
    assert not raw_dict.startswith(b"\x37\xa4\x30\xec")
    ctx = jvm.com.github.luben.zstd.ZstdCompressCtx()
    ctx.setLevel(3)
    ctx.loadDict(raw_dict)
    for p in payloads[:10]:
        comp = bytes(ctx.compress(p))
        assert zstd_decompress(comp, dictionary=raw_dict) == p

    # fences: structured-dict id mismatch, and missing dictionary
    ctx = jvm.com.github.luben.zstd.ZstdCompressCtx()
    ctx.setLevel(3)
    ctx.loadDict(dict_bytes)
    comp = bytes(ctx.compress(payloads[2]))
    wrong = dict(parsed)
    wrong["dict_id"] = parsed["dict_id"] + 1
    with pytest.raises(ZstdDecodeError, match="requires dictionary id"):
        zstd_decompress(comp, dictionary=wrong)
    with pytest.raises(ZstdDecodeError, match="requires dictionary id"):
        zstd_decompress(comp)


def test_dictionary_corrupt_shapes_raise_named_error():
    """Crafted dictionary hostiles stay named errors: zero repeat
    offsets, truncated entropy/rep sections; plus a bit-flip fuzz
    over a real trained dictionary's parse."""
    import random

    from core_spark.functions.zstd_decode import parse_zstd_dictionary

    # structured magic + id, then junk entropy → named error
    for tail in (b"", b"\x00", b"\xff" * 6):
        with pytest.raises(ZstdDecodeError):
            parse_zstd_dictionary(
                struct.pack("<I", 0xEC30A437) + struct.pack("<I", 9) + tail
            )

    # raw-content dictionaries never raise (any bytes are a window)
    d = parse_zstd_dictionary(b"arbitrary raw content bytes")
    assert d["dict_id"] == 0 and d["huf"] is None

    rng = random.Random(17)
    base = struct.pack("<I", 0xEC30A437) + struct.pack("<I", 5)
    for _ in range(300):
        blob = base + bytes(rng.randrange(256) for _ in range(rng.randrange(0, 80)))
        try:
            parse_zstd_dictionary(blob)
        except ValueError:
            pass
