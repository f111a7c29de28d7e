"""Byte-stream journal fragments in random-access codec containers.

Gazette fragments are compressed byte streams named with a codec
suffix (broker/fragment/stores.go:124-139; broker/codecs/codecs.go
GZIP/ZSTANDARD/SNAPPY content encodings), and its journals are
byte-opaque — "only raw serializations", framing belongs to the
reader (message/interfaces.go:121-124). This module is that
contract re-expressed for Spark: a fragment is ONE
newline-delimited-JSON byte stream inside a container the reader
can split WITHOUT decoding it —

- ``jsonl.zst``: the public zstd seekable format — one compressed
  frame per line-aligned chunk, a skippable tail frame carrying the
  (compressed, decompressed) size table (functions/zstdfile.py
  documents the layout);
- ``jsonl.xz``: a concatenated multi-stream .xz — one stream per
  line-aligned chunk, each stream tail carrying its own CRC-checked
  block index (functions/xzfile.py);
- ``jsonl.gz``: gazette's DEFAULT codec (stores.go lists ``.gz``
  first) — a concatenated multi-member gzip, one member per
  line-aligned chunk. Stock gzip has no index, so each member's
  header carries the writer-planted ``SL`` FEXTRA subfield (u32
  total member length; the BGZF mechanism, RFC 1952 §2.3.1.1 —
  functions/gzipfile.py) and split planning walks headers FORWARD,
  two bounded ranged reads per member. Any stock gzip reader still
  streams the whole fragment: FEXTRA is skip-over data to it.

Split planning touches TAIL metadata only, via bounded ranged reads
(the local stand-in for object-store ranged GETs): the zstd plan is
one footer read + one seek-table read per file; the xz plan walks
streams backward, two small reads per stream. Chunk decode then
runs on executors — pyarrow's native zstd codec / stdlib lzma, one
split per container chunk — and rows come back through
``from_json`` under the schema the manifest carries (byte-opaque
journal, reader-side schema). The from-spec walkers
(zstd_seek_table, xz_streams) remain the verification tier for the
same bytes.

100 TB shape: planning cost is per-fragment tail KBs regardless of
body size; decode parallelism equals the chunk count; no payload
byte moves to the driver. Writers cut chunks at line boundaries so
every split decodes and parses independently.
"""

from __future__ import annotations

import gzip
import lzma
import os
import struct

import pyarrow as pa

from core_spark.functions.xzfile import XzError, _parse_index
from core_spark.functions.zstdfile import (
    SEEK_NIBBLE,
    SEEKABLE_MAGIC,
    SKIP_MAGIC_LO,
    ZstdError,
)

CODEC_FMTS = ("jsonl.zst", "jsonl.xz", "jsonl.gz")

# Decompressed chunk target. Chunks are the split unit: small enough
# that one decodes comfortably in executor memory, large enough that
# the per-split overhead amortizes. Line-aligned, so a chunk never
# splits a record.
DEFAULT_CHUNK_BYTES = 1 << 20

_XZ_FOOTER_MAGIC = b"YZ"
_XZ_HEADER_MAGIC = b"\xfd7zXZ\x00"


def _chunk_lines(src_path: str, chunk_bytes: int):
    """Yield line-aligned chunks of at least chunk_bytes (except the
    last) from a text file, streaming — never the whole file."""
    buf = bytearray()
    n_lines = 0
    with open(src_path, "rb") as fh:
        for line in fh:
            buf += line
            n_lines += 1
            if len(buf) >= chunk_bytes:
                yield bytes(buf), n_lines
                buf.clear()
                n_lines = 0
    if buf:
        yield bytes(buf), n_lines


def write_jsonl_zst(
    src_path: str, out_path: str, chunk_bytes: int | None = None
) -> int:
    """NDJSON text file → seekable .zst at out_path; returns the
    line count. Frames come from pyarrow's native zstd encoder (the
    production-rate path); the tail seek table is the public
    seekable-format skippable frame."""
    chunk_bytes = chunk_bytes or DEFAULT_CHUNK_BYTES
    codec = pa.Codec("zstd")
    sizes: list[tuple[int, int]] = []
    total = 0
    with open(out_path, "wb") as out:
        for chunk, n in _chunk_lines(src_path, chunk_bytes):
            frame = codec.compress(chunk, asbytes=True)
            out.write(frame)
            sizes.append((len(frame), len(chunk)))
            total += n
        payload = bytearray()
        for c, d in sizes:
            payload += struct.pack("<II", c, d)
        payload += struct.pack("<IBI", len(sizes), 0, SEEKABLE_MAGIC)
        out.write(struct.pack("<I", SKIP_MAGIC_LO | SEEK_NIBBLE))
        out.write(struct.pack("<I", len(payload)))
        out.write(bytes(payload))
    return total


def write_jsonl_xz(
    src_path: str, out_path: str, chunk_bytes: int | None = None
) -> int:
    """NDJSON text file → concatenated multi-stream .xz; returns the
    line count. One stream per chunk: xz carries no global index, so
    the stream is the split unit (each stream tail indexes itself)."""
    chunk_bytes = chunk_bytes or DEFAULT_CHUNK_BYTES
    total = 0
    with open(out_path, "wb") as out:
        for chunk, n in _chunk_lines(src_path, chunk_bytes):
            out.write(
                lzma.compress(
                    chunk, format=lzma.FORMAT_XZ, check=lzma.CHECK_CRC32
                )
            )
            total += n
    return total


def write_jsonl_gz(
    src_path: str, out_path: str, chunk_bytes: int | None = None
) -> int:
    """NDJSON text file → concatenated multi-member .gz; returns the
    line count. One member per line-aligned chunk, each header
    carrying the ``SL`` split-length subfield (functions/gzipfile.py)
    so gz_split_plan never inflates. MTIME=0: deterministic bytes,
    so the content-addressed fragment name is retry-stable."""
    from core_spark.functions.gzipfile import write_member

    chunk_bytes = chunk_bytes or DEFAULT_CHUNK_BYTES
    total = 0
    with open(out_path, "wb") as out:
        for chunk, n in _chunk_lines(src_path, chunk_bytes):
            out.write(write_member(chunk))
            total += n
    return total


def _ranged(path: str, off: int, size: int) -> bytes:
    """A bounded ranged read — the object-store GET-with-Range
    stand-in. Short reads raise (a planner must never mis-split on
    truncated metadata)."""
    with open(path, "rb") as fh:
        fh.seek(off)
        b = fh.read(size)
    if len(b) != size:
        raise OSError(f"ranged read [{off}, {off + size}) truncated")
    return b


def zst_split_plan(path: str) -> list[dict]:
    """Seekable-.zst split plan from TAIL reads only: footer (9+8
    bytes) then the seek table — never the body. Returns
    [{c_off, c_size, d_off, d_size}] with absolute offsets."""
    fsize = os.path.getsize(path)
    if fsize < 17:
        raise ZstdError("too short for a seekable footer")
    foot = _ranged(path, fsize - 9, 9)
    if struct.unpack_from("<I", foot, 5)[0] != SEEKABLE_MAGIC:
        raise ZstdError("missing seekable magic")
    desc = foot[4]
    if desc & 0x7F:
        raise ZstdError("reserved seek-descriptor bits set")
    entry = 12 if desc & 0x80 else 8
    nf = struct.unpack_from("<I", foot, 0)[0]
    payload = nf * entry + 9
    if payload + 8 > fsize:
        raise ZstdError("seek table escapes the file")
    table = _ranged(path, fsize - payload - 8, payload + 8)
    if struct.unpack_from("<I", table, 0)[0] != (
        SKIP_MAGIC_LO | SEEK_NIBBLE
    ):
        raise ZstdError("seek table is not a skippable frame")
    if struct.unpack_from("<I", table, 4)[0] != payload:
        raise ZstdError("seek-table size disagrees with the footer")
    out: list[dict] = []
    c_off = d_off = 0
    i = 8
    for _ in range(nf):
        c, d = struct.unpack_from("<II", table, i)
        i += entry
        out.append(
            {"c_off": c_off, "c_size": c, "d_off": d_off, "d_size": d}
        )
        c_off += c
        d_off += d
    if c_off != fsize - payload - 8:
        raise ZstdError(
            "seek-table compressed sizes disagree with the body"
        )
    return out


def xz_split_plan(path: str) -> list[dict]:
    """Multi-stream .xz split plan walking streams BACKWARD with two
    bounded ranged reads per stream (footer, then index) — the
    functions/xzfile.py walk re-expressed over ranged GETs. Returns
    [{c_off, c_size, d_size}] per stream, file order."""
    fsize = os.path.getsize(path)
    out: list[dict] = []
    end = fsize
    while end > 0:
        while end >= 4 and _ranged(path, end - 4, 4) == b"\x00\x00\x00\x00":
            end -= 4  # stream padding words
        if end == 0:
            break
        if end < 32:
            raise XzError("too short for an xz stream")
        foot = _ranged(path, end - 12, 12)
        if foot[10:12] != _XZ_FOOTER_MAGIC:
            raise XzError("missing stream-footer magic")
        (bw,) = struct.unpack_from("<I", foot, 4)
        index_size = (bw + 1) * 4
        index_start = end - 12 - index_size
        if index_start < 12:
            raise XzError("index escapes the stream")
        idx = _ranged(path, index_start, index_size)
        records = _parse_index(idx, 0, len(idx))
        body = sum((u + 3) // 4 * 4 for u, _ in records)
        start = index_start - body - 12
        if start < 0:
            raise XzError("stream blocks escape the buffer")
        head = _ranged(path, start, 8)
        if head[:6] != _XZ_HEADER_MAGIC:
            raise XzError("missing stream-header magic")
        if head[6:8] != foot[8:10]:
            raise XzError("stream header/footer flags disagree")
        out.append(
            {
                "c_off": start,
                "c_size": end - start,
                "d_size": sum(d for _, d in records),
            }
        )
        end = start
    out.reverse()
    return out


def gz_split_plan(path: str) -> list[dict]:
    """Multi-member .gz split plan walking members FORWARD, two
    bounded ranged reads per member (a 64-byte header probe for the
    ``SL`` member length; the 8-byte trailer for CRC32+ISIZE) —
    never a payload byte. Headers longer than the probe (a long
    FNAME/FCOMMENT from a foreign writer — RFC 1952 puts them AFTER
    FEXTRA, so SL is present but the parser can't reach the body)
    escalate to a 4 KiB then whole-remainder ranged read before the
    error is treated as real corruption. Returns
    [{c_off, c_size, d_size, crc32}] in file order. A member without
    the SL subfield (a stock writer's fragment) raises the named
    GzipError: such files are stream-decode-only, the documented
    reason jsonl.zst is the preferred scale path."""
    from core_spark.functions.gzipfile import GzipError, gz_member_len

    fsize = os.path.getsize(path)
    out: list[dict] = []
    off = 0
    while off < fsize:
        c_size = None
        for probe_len in (64, 4096, fsize - off):
            probe = _ranged(path, off, min(probe_len, fsize - off))
            try:
                c_size = gz_member_len(probe)
                break
            except GzipError:
                # a short probe and a corrupt header raise the same
                # named errors; only a probe covering the remainder
                # proves corruption
                if len(probe) >= fsize - off:
                    raise
        assert c_size is not None
        if off + c_size > fsize:
            raise GzipError("SL member length escapes the file")
        crc, isize = struct.unpack(
            "<II", _ranged(path, off + c_size - 8, 8)
        )
        out.append(
            {"c_off": off, "c_size": c_size, "d_size": isize, "crc32": crc}
        )
        off += c_size
    # a zero-byte fragment (an empty append) plans to zero splits,
    # matching the zst/xz planners
    return out


def split_plan(path: str, fmt: str) -> list[tuple]:
    """A codec fragment's split plan as (c_off, c_size, d_size)
    triples, by container format."""
    planners = {
        "jsonl.zst": zst_split_plan,
        "jsonl.xz": xz_split_plan,
        "jsonl.gz": gz_split_plan,
    }
    if fmt not in planners:
        raise ValueError(f"unknown codec fragment format {fmt!r}")
    return [(p["c_off"], p["c_size"], p["d_size"]) for p in planners[fmt](path)]


def decode_chunk(raw: bytes, fmt: str, d_size: int) -> bytes:
    """Decode one planned chunk with the native codec; a decoded size
    other than the plan's raises (a mis-planned split must never
    serve wrong rows)."""
    if fmt == "jsonl.zst":
        data = pa.Codec("zstd").decompress(
            raw, decompressed_size=d_size, asbytes=True
        )
    elif fmt == "jsonl.gz":
        # one whole member: stdlib verifies CRC32 + ISIZE
        data = gzip.decompress(raw)
    else:
        data = lzma.decompress(raw, format=lzma.FORMAT_XZ)
    if len(data) != d_size:
        raise ValueError("chunk decoded size disagrees with the plan")
    return data


def read_codec_fragment(spark, path: str, fmt: str, schema_json: str):
    """One codec fragment → DataFrame: tail-planned splits fan out to
    executors; each split ranged-reads its chunk, decodes it with the
    native codec, and parses lines under the manifest's schema."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    plan = split_plan(path, fmt)
    if not schema_json:
        raise ValueError(
            "codec fragment lacks its manifest schema (byte-opaque "
            "journal: the schema rides the manifest, not the bytes)"
        )
    schema = StructType.fromJson(__import__("json").loads(schema_json))
    # Parallelize the split plan AT its target width instead of
    # createDataFrame + repartition: the plan is a driver-local list
    # of (offset, size) triples, so slicing it at creation gives the
    # same one-split-per-task fan-out without the round-robin
    # exchange (one shuffle stage — and under AQE one Spark job —
    # per fragment read; decode order is immaterial, every row is an
    # independent ranged read).
    n_slices = max(1, min(len(plan), 64))
    splits = spark.createDataFrame(
        spark.sparkContext.parallelize(plan, n_slices),
        "c_off long, c_size long, d_size long",
    )

    def decode(batches):
        import pandas as pd

        for b in batches:
            for c_off, c_size, d_size in zip(
                b["c_off"], b["c_size"], b["d_size"]
            ):
                raw = _ranged(path, int(c_off), int(c_size))
                data = decode_chunk(raw, fmt, int(d_size))
                lines = data.decode("utf-8").splitlines()
                yield pd.DataFrame({"value": lines})

    values = splits.mapInPandas(decode, "value string")
    return values.select(
        F.from_json("value", schema).alias("r")
    ).select("r.*")
