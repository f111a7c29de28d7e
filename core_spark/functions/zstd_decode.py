"""From-spec Zstandard DECOMPRESSION (RFC 8878) — no zstd library.

Why: zstd is the default codec of the modern lake (parquet pages, ORC
streams, .zst corpus shards, seekable archives), and this container
does not ship a Python zstd binding — so until now every walker that
met a zstd payload stopped at the named stub. This module closes
that: a complete RFC 8878 decoder — FSE (tANS) table description and
interleaved-two-state decode, canonical Huffman literals (1- and
4-stream, tree carried as FSE-compressed or direct weights),
sequence execution with the three-slot repeat-offset history, RLE /
raw / compressed blocks, skippable frames, and XXH64 content-
checksum verification — written from the spec, pinned in tests
against pyarrow's (independent, C) zstd compressor at several levels
and shapes. As of r12, DICTIONARY frames too (§5): structured
dictionaries parse (magic + id + preset Huffman/FSE entropy tables +
repeat offsets + content), raw-content dictionaries serve as window
prefix, and match copies reach into the dictionary content — pinned
against zstd-jni on Spark's classpath, whose reference ZDICT trainer
builds the dictionaries the tests decode.

Scale shape: decompression is per-block CPU inside a map-side Arrow
kernel — embarrassingly parallel, no shuffle, the same class as the
snappy/LZ4 decoders (functions/snappy.py, lz4.py). Pure-Python
throughput is NOT the production story (install the public
``zstandard`` binding for bulk decode; columns.py's stub discipline)
— the point is that planners and verifiers can open any zstd frame
TODAY: ORC ZSTD footers deframe (orcfile.py), seekable-zstd members
decode from their ranged-GET splits (q_bits_zstd), and checksummed
frames are actually verified, not skipped.

Corrupt-input discipline: every desync raises the named
ZstdDecodeError — reserved bits, oversized accuracy logs, Huffman
weight sums that don't complete a power of two, FSE spreads that
don't land, bitstreams that end early or late, matches that escape
the window, checksums that don't match. Never a hang, never silent
garbage.

Reference parity: gazette stores fragments with codec suffixes and
leaves decompression to the reader (broker/fragment.go
CompressionCodecs); this is that reader edge for ZSTD_COMPRESSION.
"""

from __future__ import annotations

import struct
from functools import lru_cache

from core_spark.functions.xxhash import xxh64
from core_spark.functions.zstdfile import ZstdError, _frame_header

MAGIC = 0xFD2FB528
SKIP_MAGIC_LO = 0x184D2A50
SKIP_MAGIC_HI = 0x184D2A5F

_RAW, _RLE, _COMPRESSED, _RESERVED = 0, 1, 2, 3

# Default output-size guard: a frame claiming more than this without
# the caller raising the cap is treated as a bomb, not decoded.
MAX_OUTPUT_DEFAULT = 1 << 31

# RFC 8878 §3.1.1.3.2.1.1 — literals-length code baselines/extra bits
# (codes 0-15 are the value itself, 0 extra).
_LL_BASE = list(range(16)) + [
    16, 18, 20, 22, 24, 28, 32, 40, 48, 64, 128, 256, 512,
    1024, 2048, 4096, 8192, 16384, 32768, 65536,
]
_LL_EXTRA = [0] * 16 + [
    1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16,
]
# Match-length codes 0-31 are code+3, 0 extra.
_ML_BASE = list(range(3, 35)) + [
    35, 37, 39, 41, 43, 47, 51, 59, 67, 83, 99, 131, 259, 515,
    1027, 2051, 4099, 8195, 16387, 32771, 65539,
]
_ML_EXTRA = [0] * 32 + [
    1, 1, 1, 1, 2, 2, 3, 3, 4, 4, 5, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16,
]

# RFC 8878 §3.1.1.3.2.2 — predefined FSE distributions.
_LL_DEFAULT = (
    [4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1, 2, 2, 2, 2, 2, 2,
     2, 2, 2, 3, 2, 1, 1, 1, 1, 1, -1, -1, -1, -1],
    6,
)
_ML_DEFAULT = (
    [1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     1, 1, -1, -1, -1, -1, -1, -1, -1],
    6,
)
_OF_DEFAULT = (
    [1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     1, 1, -1, -1, -1, -1, -1],
    5,
)

_LL_MAX_ACC, _OF_MAX_ACC, _ML_MAX_ACC = 9, 8, 9
_LL_MAX_SYM, _OF_MAX_SYM, _ML_MAX_SYM = 35, 31, 52


class ZstdDecodeError(ValueError):
    """Named decode failure: corrupt, truncated, or unsupported input."""


# ----------------------------------------------------------- bitstreams


class _BackBits:
    """Backward bitstream (RFC 8878 §3.1.1.4): the buffer is one
    little-endian integer; a sentinel 1-bit tops the final byte;
    reads consume from just under the sentinel toward bit 0. ``pos``
    may go negative (reads zero-pad past the start) — the FSE
    interleaved-two-state loop uses that as its stop signal."""

    __slots__ = ("val", "pos")

    def __init__(self, data: bytes):
        if not data:
            raise ZstdDecodeError("empty backward bitstream")
        last = data[-1]
        if last == 0:
            raise ZstdDecodeError("backward bitstream padding byte is zero")
        self.val = int.from_bytes(data, "little")
        self.pos = (len(data) - 1) * 8 + last.bit_length() - 1

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        self.pos -= n
        if self.pos >= 0:
            return (self.val >> self.pos) & ((1 << n) - 1)
        pad = -self.pos
        if pad >= n:
            return 0
        return (self.val & ((1 << (n - pad)) - 1)) << pad

    def peek(self, n: int) -> int:
        if n == 0:
            return 0
        p = self.pos - n
        if p >= 0:
            return (self.val >> p) & ((1 << n) - 1)
        pad = -p
        if pad >= n:
            return 0
        return (self.val & ((1 << (n - pad)) - 1)) << pad


class _FwdBits:
    """Forward LSB-first bitstream (FSE table descriptions). Peeks
    past the end zero-pad; ``consumed`` reports whole bytes after a
    byte-align, which is how much of the section the table used."""

    __slots__ = ("val", "bits", "pos")

    def __init__(self, data: bytes):
        self.val = int.from_bytes(data, "little")
        self.bits = len(data) * 8
        self.pos = 0

    def peek(self, n: int) -> int:
        return (self.val >> self.pos) & ((1 << n) - 1)

    def skip(self, n: int) -> None:
        self.pos += n
        if self.pos > self.bits:
            raise ZstdDecodeError("FSE table description overruns its section")

    def read(self, n: int) -> int:
        v = self.peek(n)
        self.skip(n)
        return v

    def consumed_bytes(self) -> int:
        return (self.pos + 7) // 8


# ------------------------------------------------------------------ FSE


class _FseTable:
    __slots__ = ("sym", "nbits", "base", "acc")

    def __init__(self, sym, nbits, base, acc):
        self.sym, self.nbits, self.base, self.acc = sym, nbits, base, acc


def _fse_build(probs: list[int], acc_log: int) -> _FseTable:
    """Decoding table from normalized probabilities (RFC 8878
    §4.1.1) — memoized on the distribution: the table is a pure
    function of (probs, acc_log), every consumer only reads it, and
    the predefined sequence distributions (§3.1.1.3.2.2) plus
    repeated Huffman-weight distributions rebuild the same tables
    once per block otherwise (the dominant cost of decoding many
    small frames — ~25 builds/document in the orc-fixture kernels)."""
    return _fse_build_table(tuple(probs), acc_log)


@lru_cache(maxsize=256)
def _fse_build_table(probs: tuple[int, ...], acc_log: int) -> _FseTable:
    """See _fse_build: -1 probabilities take single top cells with
    full-width reads; positive probabilities spread with the fixed
    step; each symbol's cells, in state order, get numBits/baseline
    from the counter walk c = p, p+1, ..."""
    size = 1 << acc_log
    sym = [0] * size
    nbits = [0] * size
    base = [0] * size
    high = size
    for s, p in enumerate(probs):
        if p == -1:
            high -= 1
            if high < 0:
                raise ZstdDecodeError("FSE probabilities overflow the table")
            sym[high] = s
            nbits[high] = acc_log
            base[high] = 0
    step = (size >> 1) + (size >> 3) + 3
    mask = size - 1
    pos = 0
    for s, p in enumerate(probs):
        if p <= 0:
            continue
        cells = []
        for _ in range(p):
            if pos >= high:
                raise ZstdDecodeError("FSE spread escaped the table")
            cells.append(pos)
            pos = (pos + step) & mask
            while pos >= high:
                pos = (pos + step) & mask
        cells.sort()
        c = p
        for cell in cells:
            sym[cell] = s
            nb = acc_log - (c.bit_length() - 1)
            nbits[cell] = nb
            base[cell] = (c << nb) - size
            c += 1
    if pos != 0:
        raise ZstdDecodeError("FSE spread did not complete")
    # tuples: the cached table is shared by every later decode
    return _FseTable(tuple(sym), tuple(nbits), tuple(base), acc_log)


def _fse_rle(symbol: int) -> _FseTable:
    return _FseTable((symbol,), (0,), (0,), 0)


def _fse_parse(fb: _FwdBits, max_acc: int, max_sym: int) -> _FseTable:
    """FSE table description (RFC 8878 §4.1.1): forward LSB-first
    variable-width probability reads with the low/high threshold
    trick and the 2-bit zero-repeat flag; byte-aligned at the end."""
    acc_log = fb.read(4) + 5
    if acc_log > max_acc:
        raise ZstdDecodeError(
            f"FSE accuracy log {acc_log} exceeds the max {max_acc}"
        )
    remaining = (1 << acc_log) + 1
    threshold = 1 << acc_log
    nb = acc_log + 1
    probs: list[int] = []
    while remaining > 1:
        if len(probs) > max_sym:
            raise ZstdDecodeError("FSE table lists too many symbols")
        val = fb.peek(nb)
        cap = (2 * threshold - 1) - remaining
        if (val & (threshold - 1)) < cap:
            count = val & (threshold - 1)
            fb.skip(nb - 1)
        else:
            count = val & (2 * threshold - 1)
            if count >= threshold:
                count -= cap
            fb.skip(nb)
        count -= 1
        remaining -= -count if count < 0 else count
        probs.append(count)
        if count == 0:
            while True:
                rep = fb.read(2)
                probs.extend([0] * rep)
                if len(probs) > max_sym + 1:
                    raise ZstdDecodeError("FSE zero-repeat overruns symbols")
                if rep != 3:
                    break
        while 1 < remaining < threshold:
            threshold >>= 1
            nb -= 1
    if remaining != 1:
        raise ZstdDecodeError("FSE probabilities do not sum to the table")
    # Align to byte: the table description consumes whole bytes.
    fb.pos = fb.consumed_bytes() * 8
    return _fse_build(probs, acc_log)


# -------------------------------------------------------------- Huffman


class _HufTable:
    __slots__ = ("sym", "nbits", "max_bits")

    def __init__(self, sym, nbits, max_bits):
        self.sym, self.nbits, self.max_bits = sym, nbits, max_bits


def _huf_build(weights: list[int]) -> _HufTable:
    """Canonical Huffman table from weights (RFC 8878 §4.2.1): the
    LAST weight is implied (completes the 2^(w-1) sum to a power of
    two); weight w → code length maxBits+1-w; longer codes occupy
    lower table indices, ties in natural symbol order."""
    total = sum((1 << (w - 1)) for w in weights if w > 0)
    if total == 0:
        raise ZstdDecodeError("Huffman weights are all zero")
    max_bits = total.bit_length()
    if max_bits > 15:
        raise ZstdDecodeError("Huffman table depth exceeds 15 bits")
    rest = (1 << max_bits) - total
    if rest & (rest - 1):
        raise ZstdDecodeError(
            "Huffman weights do not complete a power of two"
        )
    weights = weights + [rest.bit_length()]
    bits = [0 if w == 0 else max_bits + 1 - w for w in weights]
    size = 1 << max_bits
    sym = [0] * size
    nbt = [0] * size
    rank_count: dict[int, int] = {}
    for b in bits:
        if b:
            rank_count[b] = rank_count.get(b, 0) + 1
    rank_idx = [0] * (max_bits + 2)
    for b in range(max_bits, 0, -1):
        rank_idx[b - 1] = rank_idx[b] + rank_count.get(b, 0) * (
            1 << (max_bits - b)
        )
    if rank_idx[0] != size:
        raise ZstdDecodeError("Huffman code space is not fully covered")
    for s, b in enumerate(bits):
        if b == 0:
            continue
        start = rank_idx[b]
        ln = 1 << (max_bits - b)
        for j in range(start, start + ln):
            sym[j] = s
            nbt[j] = b
        rank_idx[b] = start + ln
    return _HufTable(sym, nbt, max_bits)


def _huf_read_tree(data: bytes) -> tuple[_HufTable, int]:
    """Huffman tree description → (table, bytes consumed). Header
    byte < 128: that many bytes of FSE-compressed weights (two
    interleaved states, accuracy ≤ 6); ≥ 128: headerByte-127 direct
    4-bit weights, high nibble first."""
    if not data:
        raise ZstdDecodeError("truncated Huffman tree description")
    hb = data[0]
    if hb >= 128:
        n = hb - 127
        nbytes = (n + 1) // 2
        if 1 + nbytes > len(data):
            raise ZstdDecodeError("truncated direct Huffman weights")
        weights = []
        for i in range(n):
            b = data[1 + i // 2]
            weights.append((b >> 4) if i % 2 == 0 else (b & 15))
        return _huf_build(weights), 1 + nbytes
    csize = hb
    if 1 + csize > len(data):
        raise ZstdDecodeError("truncated FSE-compressed Huffman weights")
    comp = data[1 : 1 + csize]
    fb = _FwdBits(comp)
    table = _fse_parse(fb, 6, 255)
    rest = comp[fb.consumed_bytes() :]
    bs = _BackBits(rest)
    s1 = bs.read(table.acc)
    s2 = bs.read(table.acc)
    if bs.pos < 0:
        raise ZstdDecodeError("Huffman weight stream too short for states")
    weights = []
    while True:
        if len(weights) > 254:
            raise ZstdDecodeError("more than 255 Huffman weights")
        weights.append(table.sym[s1])
        s1 = table.base[s1] + bs.read(table.nbits[s1])
        if bs.pos < 0:
            weights.append(table.sym[s2])
            break
        weights.append(table.sym[s2])
        s2 = table.base[s2] + bs.read(table.nbits[s2])
        if bs.pos < 0:
            weights.append(table.sym[s1])
            break
    return _huf_build(weights), 1 + csize


def _huf_decode(data: bytes, table: _HufTable, expect: int) -> bytearray:
    """One backward Huffman stream → exactly ``expect`` symbols,
    ending with every content bit consumed."""
    out = bytearray()
    if expect == 0:
        return out
    bs = _BackBits(data)
    sym, nbt, mb = table.sym, table.nbits, table.max_bits
    while len(out) < expect:
        if bs.pos <= -mb:
            raise ZstdDecodeError("Huffman stream exhausted early")
        idx = bs.peek(mb)
        out.append(sym[idx])
        bs.pos -= nbt[idx]
    if bs.pos != 0:
        raise ZstdDecodeError("Huffman stream did not end on its last bit")
    return out


# ------------------------------------------------------------- literals


def _literals(block: bytes, state: dict) -> tuple[bytes, int]:
    """Literals section (RFC 8878 §3.1.1.3.1) → (literals, bytes
    consumed). Keeps the Huffman table in ``state`` for
    Treeless_Literals_Block reuse within the frame."""
    if not block:
        raise ZstdDecodeError("empty compressed block")
    b0 = block[0]
    ltype = b0 & 3
    sf = (b0 >> 2) & 3
    if ltype in (_RAW, _RLE):
        if sf in (0, 2):
            regen, hdr = b0 >> 3, 1
        elif sf == 1:
            if len(block) < 2:
                raise ZstdDecodeError("truncated literals size")
            regen, hdr = (b0 >> 4) | (block[1] << 4), 2
        else:
            if len(block) < 3:
                raise ZstdDecodeError("truncated literals size")
            regen = (b0 >> 4) | (block[1] << 4) | (block[2] << 12)
            hdr = 3
        if ltype == _RAW:
            if hdr + regen > len(block):
                raise ZstdDecodeError("raw literals escape the block")
            return bytes(block[hdr : hdr + regen]), hdr + regen
        if hdr + 1 > len(block):
            raise ZstdDecodeError("truncated RLE literal byte")
        return bytes([block[hdr]]) * regen, hdr + 1
    # Compressed (2) / Treeless (3)
    if sf == 0 or sf == 1:
        if len(block) < 3:
            raise ZstdDecodeError("truncated literals size")
        regen = (b0 >> 4) | ((block[1] & 0x3F) << 4)
        comp = (block[1] >> 6) | (block[2] << 2)
        hdr = 3
        streams = 1 if sf == 0 else 4
    elif sf == 2:
        if len(block) < 4:
            raise ZstdDecodeError("truncated literals size")
        regen = (b0 >> 4) | (block[1] << 4) | ((block[2] & 3) << 12)
        comp = (block[2] >> 2) | (block[3] << 6)
        hdr, streams = 4, 4
    else:
        if len(block) < 5:
            raise ZstdDecodeError("truncated literals size")
        regen = (b0 >> 4) | (block[1] << 4) | ((block[2] & 0x3F) << 12)
        comp = (block[2] >> 6) | (block[3] << 2) | (block[4] << 10)
        hdr, streams = 5, 4
    if hdr + comp > len(block):
        raise ZstdDecodeError("compressed literals escape the block")
    payload = block[hdr : hdr + comp]
    if ltype == _COMPRESSED:
        table, used = _huf_read_tree(payload)
        state["huf"] = table
        payload = payload[used:]
    else:
        table = state.get("huf")
        if table is None:
            raise ZstdDecodeError(
                "treeless literals with no previous Huffman table"
            )
    if streams == 1:
        lits = _huf_decode(payload, table, regen)
    else:
        if len(payload) < 6:
            raise ZstdDecodeError("truncated 4-stream jump table")
        s1, s2, s3 = struct.unpack_from("<HHH", payload, 0)
        body = payload[6:]
        s4 = len(body) - s1 - s2 - s3
        if s4 <= 0:
            raise ZstdDecodeError("4-stream jump table escapes the section")
        seg = (regen + 3) // 4
        last = regen - 3 * seg
        if last < 0:
            raise ZstdDecodeError("4-stream regenerated size too small")
        lits = bytearray()
        off = 0
        for sz, exp in ((s1, seg), (s2, seg), (s3, seg), (s4, last)):
            lits += _huf_decode(body[off : off + sz], table, exp)
            off += sz
    return bytes(lits), hdr + comp


# ------------------------------------------------------------ sequences


def _seq_table(
    data: bytes,
    i: int,
    mode: int,
    key: str,
    state: dict,
    default: tuple[list[int], int],
    max_acc: int,
    max_sym: int,
) -> tuple[_FseTable, int]:
    if mode == 0:
        table = _fse_build(*default)
    elif mode == 1:
        if i >= len(data):
            raise ZstdDecodeError("truncated RLE symbol byte")
        sym = data[i]
        if sym > max_sym:
            raise ZstdDecodeError(f"RLE {key} symbol {sym} out of range")
        table = _fse_rle(sym)
        i += 1
    elif mode == 2:
        fb = _FwdBits(data[i:])
        table = _fse_parse(fb, max_acc, max_sym)
        i += fb.consumed_bytes()
    else:
        table = state.get(key)
        if table is None:
            raise ZstdDecodeError(f"repeat {key} table with no previous one")
    state[key] = table
    return table, i


def _sequences(
    data: bytes, state: dict
) -> list[tuple[int, int, int]]:
    """Sequences section → [(literals_length, offset_value,
    match_length)]. Table modes per symbol type: predefined / RLE /
    FSE-compressed / repeat; execution bitstream read backward with
    OF→ML→LL extra-bit order and LL→ML→OF state-update order."""
    if not data:
        raise ZstdDecodeError("missing sequences section")
    b0 = data[0]
    if b0 == 0:
        if len(data) != 1:
            raise ZstdDecodeError("bytes after an empty sequences section")
        return []
    if b0 < 128:
        nseq, i = b0, 1
    elif b0 < 255:
        if len(data) < 2:
            raise ZstdDecodeError("truncated sequence count")
        nseq, i = ((b0 - 128) << 8) + data[1], 2
    else:
        if len(data) < 3:
            raise ZstdDecodeError("truncated sequence count")
        nseq, i = data[1] + (data[2] << 8) + 0x7F00, 3
    if i >= len(data):
        raise ZstdDecodeError("truncated symbol-compression modes")
    modes = data[i]
    i += 1
    if modes & 3:
        raise ZstdDecodeError("reserved symbol-compression mode bits set")
    ll_t, i = _seq_table(
        data, i, modes >> 6, "ll", state, _LL_DEFAULT, _LL_MAX_ACC, _LL_MAX_SYM
    )
    of_t, i = _seq_table(
        data, i, (modes >> 4) & 3, "of", state, _OF_DEFAULT, _OF_MAX_ACC,
        _OF_MAX_SYM,
    )
    ml_t, i = _seq_table(
        data, i, (modes >> 2) & 3, "ml", state, _ML_DEFAULT, _ML_MAX_ACC,
        _ML_MAX_SYM,
    )
    bs = _BackBits(data[i:])
    ll_s = bs.read(ll_t.acc)
    of_s = bs.read(of_t.acc)
    ml_s = bs.read(ml_t.acc)
    if bs.pos < 0:
        raise ZstdDecodeError("sequence bitstream too short for states")
    seqs = []
    for n in range(nseq):
        of_code = of_t.sym[of_s]
        if of_code > 31:
            raise ZstdDecodeError(f"offset code {of_code} out of range")
        of_val = (1 << of_code) + bs.read(of_code)
        ml_code = ml_t.sym[ml_s]
        ml = _ML_BASE[ml_code] + bs.read(_ML_EXTRA[ml_code])
        ll_code = ll_t.sym[ll_s]
        ll = _LL_BASE[ll_code] + bs.read(_LL_EXTRA[ll_code])
        if bs.pos < 0:
            raise ZstdDecodeError("sequence bitstream exhausted early")
        seqs.append((ll, of_val, ml))
        if n != nseq - 1:
            ll_s = ll_t.base[ll_s] + bs.read(ll_t.nbits[ll_s])
            ml_s = ml_t.base[ml_s] + bs.read(ml_t.nbits[ml_s])
            of_s = of_t.base[of_s] + bs.read(of_t.nbits[of_s])
            if bs.pos < 0:
                raise ZstdDecodeError("sequence bitstream exhausted early")
    if bs.pos != 0:
        raise ZstdDecodeError("sequence bitstream did not end on its last bit")
    return seqs


def _execute(
    literals: bytes,
    seqs: list[tuple[int, int, int]],
    out: bytearray,
    rep: list[int],
    prefix: bytes = b"",
) -> None:
    """Sequence execution (RFC 8878 §3.1.1.5): copy literals, then an
    overlappable match copy against the frame history; the 3-slot
    repeat-offset list with the literals_length==0 index shift.
    ``prefix`` is the dictionary content (§5), a virtual window
    prefix that match offsets may reach back into."""
    lit = 0
    for ll, of_val, ml in seqs:
        if lit + ll > len(literals):
            raise ZstdDecodeError("sequence consumes more literals than exist")
        out += literals[lit : lit + ll]
        lit += ll
        if of_val > 3:
            offset = of_val - 3
            rep[2] = rep[1]
            rep[1] = rep[0]
            rep[0] = offset
        else:
            idx = of_val - 1 + (1 if ll == 0 else 0)
            if idx == 0:
                offset = rep[0]
            elif idx == 1:
                offset = rep[1]
                rep[1] = rep[0]
                rep[0] = offset
            elif idx == 2:
                offset = rep[2]
                rep[2] = rep[1]
                rep[1] = rep[0]
                rep[0] = offset
            else:
                offset = rep[0] - 1
                if offset <= 0:
                    raise ZstdDecodeError("repeat offset underflow")
                rep[2] = rep[1]
                rep[1] = rep[0]
                rep[0] = offset
        if offset > len(out) + len(prefix):
            raise ZstdDecodeError("match offset escapes the window")
        if ml:
            if offset <= len(out) and offset >= ml:
                start = len(out) - offset
                out += out[start : start + ml]
            elif offset > len(out) and offset - len(out) >= ml:
                # match lies entirely inside the dictionary prefix
                start = len(prefix) - (offset - len(out))
                out += prefix[start : start + ml]
            else:
                # overlap and/or prefix-boundary crossing: the source
                # advances with the destination (RFC overlap rule)
                for _ in range(ml):
                    j = len(out) - offset
                    out.append(out[j] if j >= 0 else prefix[j])
    out += literals[lit:]


# --------------------------------------------------------------- frames


def _decode_block(payload: bytes, out: bytearray, state: dict) -> None:
    lits, used = _literals(payload, state)
    seqs = _sequences(payload[used:], state)
    _execute(lits, seqs, out, state["rep"], state.get("prefix", b""))


# ----------------------------------------------------------- dictionary
DICT_MAGIC = 0xEC30A437


def parse_zstd_dictionary(raw: bytes) -> dict:
    """RFC 8878 §5 dictionary → {dict_id, content, huf, ll/of/ml FSE
    tables, rep}. A buffer that does not start with the dictionary
    magic is a RAW CONTENT dictionary (spec: "a raw content
    dictionary is just the content"): no id, no preset entropy, the
    bytes serve only as window prefix. A structured dictionary is
    magic + 4-byte LE Dictionary_ID + entropy tables in spec order
    (Huffman literals, then FSE offsets / match-lengths /
    literal-lengths) + three 4-byte LE repeat offsets + content."""
    if len(raw) < 8 or struct.unpack_from("<I", raw, 0)[0] != DICT_MAGIC:
        return {
            "dict_id": 0,
            "content": bytes(raw),
            "huf": None,
            "ll": None,
            "of": None,
            "ml": None,
            "rep": [1, 4, 8],
        }
    dict_id = struct.unpack_from("<I", raw, 4)[0]
    huf, used = _huf_read_tree(raw[8:])
    i = 8 + used
    tables = {}
    for key, max_acc, max_sym in (
        ("of", _OF_MAX_ACC, _OF_MAX_SYM),
        ("ml", _ML_MAX_ACC, _ML_MAX_SYM),
        ("ll", _LL_MAX_ACC, _LL_MAX_SYM),
    ):
        fb = _FwdBits(raw[i:])
        tables[key] = _fse_parse(fb, max_acc, max_sym)
        i += fb.consumed_bytes()
    if i + 12 > len(raw):
        raise ZstdDecodeError("truncated dictionary repeat offsets")
    rep = list(struct.unpack_from("<III", raw, i))
    if any(r == 0 for r in rep):
        raise ZstdDecodeError("dictionary repeat offset of zero")
    i += 12
    return {
        "dict_id": dict_id,
        "content": bytes(raw[i:]),
        "huf": huf,
        "ll": tables["ll"],
        "of": tables["of"],
        "ml": tables["ml"],
        "rep": rep,
    }


def zstd_decompress_frame(
    raw: bytes,
    offset: int = 0,
    max_output: int = MAX_OUTPUT_DEFAULT,
    dictionary: bytes | dict | None = None,
) -> tuple[bytes, int]:
    """Decode ONE zstd frame at ``offset`` → (content, next offset).
    Skippable frames return b'' and skip. Content checksum, when
    present, is VERIFIED (XXH64 low 32). ``dictionary`` is raw
    dictionary bytes (structured or raw-content) or the result of
    parse_zstd_dictionary; a frame that DECLARES a dictionary id
    raises the named error when no dictionary is supplied or the
    supplied structured dictionary's id differs (RFC 8878 §5 —
    r12 lifted the former fence, pinned against zstd-jni's
    independent encoder+trainer on Spark's classpath)."""
    if offset + 4 > len(raw):
        raise ZstdDecodeError("truncated frame magic")
    magic = struct.unpack_from("<I", raw, offset)[0]
    if SKIP_MAGIC_LO <= magic <= SKIP_MAGIC_HI:
        if offset + 8 > len(raw):
            raise ZstdDecodeError("truncated skippable frame size")
        size = struct.unpack_from("<I", raw, offset + 4)[0]
        end = offset + 8 + size
        if end > len(raw):
            raise ZstdDecodeError("skippable frame escapes the buffer")
        return b"", end
    if magic != MAGIC:
        raise ZstdDecodeError(f"bad zstd magic 0x{magic:08x}")
    try:
        hdr, i = _frame_header(raw, offset + 4)
    except ZstdError as e:
        raise ZstdDecodeError(str(e)) from None
    if isinstance(dictionary, (bytes, bytearray)):
        dictionary = parse_zstd_dictionary(dictionary)
    if hdr["dict_id"]:
        if dictionary is None:
            raise ZstdDecodeError(
                f"frame requires dictionary id {hdr['dict_id']} and none "
                "was supplied"
            )
        if dictionary["dict_id"] and dictionary["dict_id"] != hdr["dict_id"]:
            raise ZstdDecodeError(
                f"frame requires dictionary id {hdr['dict_id']}, got "
                f"{dictionary['dict_id']}"
            )
    declared = hdr["content_size"]
    if declared is not None and declared > max_output:
        raise ZstdDecodeError(
            f"frame declares {declared} bytes > max_output {max_output}"
        )
    out = bytearray()
    state: dict = {"rep": [1, 4, 8], "huf": None}
    if dictionary is not None:
        state = {
            "rep": list(dictionary["rep"]),
            "huf": dictionary["huf"],
            "prefix": dictionary["content"],
        }
        for key in ("ll", "of", "ml"):
            if dictionary[key] is not None:
                state[key] = dictionary[key]
    while True:
        if i + 3 > len(raw):
            raise ZstdDecodeError("truncated block header")
        bh = raw[i] | (raw[i + 1] << 8) | (raw[i + 2] << 16)
        i += 3
        last, btype, bsize = bh & 1, (bh >> 1) & 3, bh >> 3
        if btype == _RESERVED:
            raise ZstdDecodeError("reserved block type")
        if btype == _RLE:
            if i >= len(raw):
                raise ZstdDecodeError("truncated RLE block byte")
            out += bytes([raw[i]]) * bsize
            i += 1
        elif btype == _RAW:
            if i + bsize > len(raw):
                raise ZstdDecodeError("raw block escapes the buffer")
            out += raw[i : i + bsize]
            i += bsize
        else:
            if i + bsize > len(raw):
                raise ZstdDecodeError("compressed block escapes the buffer")
            _decode_block(raw[i : i + bsize], out, state)
            i += bsize
        if len(out) > max_output:
            raise ZstdDecodeError(f"output exceeds max_output {max_output}")
        if last:
            break
    if declared is not None and len(out) != declared:
        raise ZstdDecodeError(
            f"frame content size {len(out)} != declared {declared}"
        )
    if hdr["has_checksum"]:
        if i + 4 > len(raw):
            raise ZstdDecodeError("truncated content checksum")
        want = struct.unpack_from("<I", raw, i)[0]
        got = xxh64(bytes(out)) & 0xFFFFFFFF
        if want != got:
            raise ZstdDecodeError(
                f"content checksum mismatch: 0x{got:08x} != 0x{want:08x}"
            )
        i += 4
    return bytes(out), i


def zstd_decompress(
    raw: bytes,
    max_output: int = MAX_OUTPUT_DEFAULT,
    dictionary: bytes | dict | None = None,
) -> bytes:
    """Decode a whole (possibly frame-concatenated) .zst buffer.
    ``dictionary`` applies to every frame that declares a dict id
    (and seeds the window/entropy state of id-less frames too, the
    reference behavior for raw-content dictionaries)."""
    if not raw:
        raise ZstdDecodeError("empty input is not a zstd frame")
    if isinstance(dictionary, (bytes, bytearray)):
        dictionary = parse_zstd_dictionary(dictionary)
    out = bytearray()
    i = 0
    while i < len(raw):
        content, i = zstd_decompress_frame(raw, i, max_output, dictionary)
        out += content
        if len(out) > max_output:
            raise ZstdDecodeError(f"output exceeds max_output {max_output}")
    return bytes(out)
