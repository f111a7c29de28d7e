"""Minimal from-spec Zstandard COMPRESSION (RFC 8878) — no zstd
library. The encode twin of functions/zstd_decode.py, deliberately
small: raw (uncompressed) literals + real LZ77 match sequences
encoded with the spec's PREDEFINED FSE distributions (mode 0 for all
three symbol streams — no table descriptions to serialize), one
frame of ≤64 KiB compressed blocks, XXH64 content checksum. That is
a conforming, genuinely compressing subset: repetitive corpus text
(jsonl journal fragments, shared-vocabulary documents) shrinks via
match copies even though literal bytes are stored raw.

Dictionary support (§5): ``dictionary=`` bytes serve as the window
PREFIX the match finder may reference — a raw-content dictionary —
or a structured dictionary (magic 0xEC30A437), whose content becomes
the prefix and whose id is stamped into the frame header so
conforming decoders demand the same dictionary back. Preset entropy
tables in a structured dictionary are NOT used by this encoder (its
blocks always declare predefined mode), which the spec permits —
table modes are chosen per block.

Pinned in tests against zstd-jni's independent DECODER (Spark's own
classpath) across shapes, levels of repetitiveness, and trained
dictionaries, and round-tripped against the repo's from-spec
decoder. The FSE encoder is derived mechanically from the decode
tables: to emit symbol s while the decoder sits at state t, pick the
unique source state t' with sym[t']==s whose (base, base+2^nbits)
range covers t — the per-symbol ranges tile the whole table, so the
choice is total and deterministic.

Scale shape: encoding is per-fragment CPU inside writer paths
(journal appends) and test fixtures — map-side, embarrassingly
parallel, the same class as the decoders.

Reference parity: gazette compresses fragments with standard codecs
via store-side libraries (fragment/store.go); this module exists so
zstd fragments and dictionary frames can be BUILT in this
environment without a binding, with zstd-jni as the independent
cross-check.
"""

from __future__ import annotations

import struct

from core_spark.functions.zstd_decode import (
    _LL_BASE,
    _LL_DEFAULT,
    _LL_EXTRA,
    _ML_BASE,
    _ML_DEFAULT,
    _ML_EXTRA,
    _OF_DEFAULT,
    ZstdDecodeError,
    _fse_build,
    parse_zstd_dictionary,
)
from core_spark.functions.xxhash import xxh64

MAGIC = 0xFD2FB528
_BLOCK = 64 * 1024  # output bytes per block (well under the 128 KiB cap)
_MIN_MATCH = 4
_MAX_MATCH = 65_535  # comfortably inside ml code 52's range
_CHAIN = 8  # candidate positions kept per 4-gram


class ZstdEncodeError(ValueError):
    """Named encode failure (content too large for this subset)."""


# --------------------------------------------------------- FSE encoding
def _encode_table(default: tuple) -> dict:
    """Decode table → per-symbol list of (lo, hi, state): emitting
    symbol s while the decoder must land on next-state t uses the
    unique entry with lo <= t < hi; the update field is (t - lo) in
    nbits(state) bits."""
    table = _fse_build(*default)
    by_sym: dict[int, list[tuple[int, int, int]]] = {}
    for t in range(len(table.sym)):
        lo = table.base[t]
        hi = lo + (1 << table.nbits[t])
        by_sym.setdefault(table.sym[t], []).append((lo, hi, t))
    for lst in by_sym.values():
        lst.sort()
    return {"by_sym": by_sym, "nbits": table.nbits, "base": table.base,
            "acc": table.acc}


_LL_ENC = _encode_table(_LL_DEFAULT)
_OF_ENC = _encode_table(_OF_DEFAULT)
_ML_ENC = _encode_table(_ML_DEFAULT)


def _state_chain(enc: dict, codes: list[int]) -> tuple[int, list[tuple[int, int]]]:
    """FSE-encode a symbol stream against a decode table → (initial
    state the decoder reads, per-step update fields (value, nbits)
    in DECODER READ ORDER — update[n] moves the decoder from the
    state that emitted codes[n] to the one emitting codes[n+1])."""
    n = len(codes)
    states = [0] * n
    try:
        states[n - 1] = enc["by_sym"][codes[n - 1]][0][2]
    except KeyError:
        raise ZstdEncodeError(f"symbol {codes[n - 1]} not in table")
    for i in range(n - 2, -1, -1):
        t_next = states[i + 1]
        for lo, hi, t in enc["by_sym"].get(codes[i], ()):
            if lo <= t_next < hi:
                states[i] = t
                break
        else:
            raise ZstdEncodeError(f"symbol {codes[i]} not in table")
    updates = []
    for i in range(n - 1):
        t = states[i]
        updates.append((states[i + 1] - enc["base"][t], enc["nbits"][t]))
    return states[0], updates


def _ll_code(v: int) -> int:
    if v < 16:
        return v
    for code in range(35, 15, -1):
        if v >= _LL_BASE[code]:
            if v - _LL_BASE[code] < (1 << _LL_EXTRA[code]):
                return code
            break
    raise ZstdEncodeError(f"literals length {v} out of range")


def _ml_code(v: int) -> int:
    if v < 3:
        raise ZstdEncodeError(f"match length {v} below minimum")
    if v < 35:
        return v - 3
    for code in range(52, 31, -1):
        if v >= _ML_BASE[code]:
            if v - _ML_BASE[code] < (1 << _ML_EXTRA[code]):
                return code
            break
    raise ZstdEncodeError(f"match length {v} out of range")


# ------------------------------------------------------- block assembly
def _pack_back(fields: list[tuple[int, int]]) -> bytes:
    """Fields (value, nbits) in decoder READ order → the backward
    bitstream bytes (sentinel 1-bit on top, little-endian)."""
    acc = 0
    total = 0
    for v, nb in fields:
        if nb == 0:
            continue
        if not 0 <= v < (1 << nb):
            raise ZstdEncodeError("bitfield value out of range")
        acc = (acc << nb) | v
        total += nb
    acc |= 1 << total  # sentinel
    return acc.to_bytes((total + 1 + 7) // 8, "little")


def _compress_block(
    chunk: bytes,
    seqs: list[tuple[int, int, int]],
    literals: bytes,
    economize: bool = True,
) -> bytes | None:
    """Literals + sequences → compressed-block payload, or None when
    the encoding would not be smaller than a raw block. With
    ``economize=False`` a block holding at least one sequence is
    kept compressed even when larger than raw (still conforming —
    chunks are ≤64 KiB so the payload stays far under the 128 KiB
    block bound); sequence-free blocks always economize."""
    if len(literals) >= 1 << 20:
        return None
    lit_sec = bytes(
        (
            0x0C | ((len(literals) & 0xF) << 4),
            (len(literals) >> 4) & 0xFF,
            (len(literals) >> 12) & 0xFF,
        )
    ) + literals
    nseq = len(seqs)
    if nseq == 0:
        payload = lit_sec + b"\x00"
        return payload if len(payload) < len(chunk) else None
    if nseq < 128:
        head = bytes([nseq])
    elif nseq < 0x7F00:
        head = bytes([128 + (nseq >> 8), nseq & 0xFF])
    else:
        if nseq > 0xFFFF + 0x7F00:
            raise ZstdEncodeError("too many sequences in one block")
        head = bytes(
            [255, (nseq - 0x7F00) & 0xFF, ((nseq - 0x7F00) >> 8) & 0xFF]
        )
    head += b"\x00"  # modes: predefined for LL/OF/ML

    ll_codes, of_codes, ml_codes, extras = [], [], [], []
    for ll, of_val, ml in seqs:
        ll_codes.append(_ll_code(ll))
        k = of_val.bit_length() - 1
        if k > 28:  # predefined OF table holds symbols 0..28 only
            raise ZstdEncodeError("offset code out of range")
        of_codes.append(k)
        ml_codes.append(_ml_code(ml))
        extras.append(
            (
                (of_val - (1 << k), k),
                (ml - _ML_BASE[ml_codes[-1]], _ML_EXTRA[ml_codes[-1]]),
                (ll - _LL_BASE[ll_codes[-1]], _LL_EXTRA[ll_codes[-1]]),
            )
        )
    ll0, ll_up = _state_chain(_LL_ENC, ll_codes)
    of0, of_up = _state_chain(_OF_ENC, of_codes)
    ml0, ml_up = _state_chain(_ML_ENC, ml_codes)

    fields = [
        (ll0, _LL_ENC["acc"]),
        (of0, _OF_ENC["acc"]),
        (ml0, _ML_ENC["acc"]),
    ]
    for n in range(nseq):
        fields.extend(extras[n])
        if n != nseq - 1:
            fields.append(ll_up[n])
            fields.append(ml_up[n])
            fields.append(of_up[n])
    payload = lit_sec + head + _pack_back(fields)
    if economize and len(payload) >= len(chunk):
        return None
    return payload


# ----------------------------------------------------------- match find
# the predefined Offset_Code table holds symbols 0..28 only (RFC 8878
# predefined distributions), so a representable offset value is < 2^29
_MAX_OF_VAL = (1 << 29) - 1


def _find_sequences(
    chunk: bytes, index: dict, v_off: int, virtual, index_content: bool
) -> tuple[list[tuple[int, int, int]], bytes]:
    """Greedy 4-gram LZ77 over the virtual buffer (dict prefix +
    frame history + this chunk). ``index`` maps 4-grams to recent
    virtual positions and is updated in place (content positions are
    added only when ``index_content`` — dictionary-only matching
    keeps every match sourced from the §5 prefix); ``v_off`` is the
    chunk's first virtual position; ``virtual(p)`` reads one byte at
    a virtual position. Candidates whose offset would not fit the
    predefined offset-code table (symbol > 28) are skipped, never
    errors."""
    seqs: list[tuple[int, int, int]] = []
    lits = bytearray()
    i = 0
    run_start = 0
    n = len(chunk)
    while i + _MIN_MATCH <= n:
        gram = chunk[i : i + 4]
        cands = index.get(gram)
        best_len = 0
        best_pos = 0
        if cands:
            vpos = v_off + i
            for cpos in reversed(cands):
                if vpos - cpos + 3 > _MAX_OF_VAL:
                    continue
                length = 0
                limit = min(n - i, _MAX_MATCH)
                while length < limit and virtual(cpos + length) == chunk[
                    i + length
                ]:
                    length += 1
                if length > best_len:
                    best_len, best_pos = length, cpos
                    if length >= 64:
                        break
        if best_len >= _MIN_MATCH:
            vpos = v_off + i
            ll = i - run_start
            lits += chunk[run_start:i]
            seqs.append((ll, (vpos - best_pos) + 3, best_len))
            end = i + best_len
            step = 1 if best_len < 64 else 7
            while i < end:
                g = chunk[i : i + 4]
                if index_content and len(g) == 4:
                    lst = index.setdefault(g, [])
                    lst.append(v_off + i)
                    if len(lst) > _CHAIN:
                        del lst[0]
                i += step
            i = end
            run_start = end
        else:
            if index_content:
                lst = index.setdefault(gram, [])
                lst.append(v_off + i)
                if len(lst) > _CHAIN:
                    del lst[0]
            i += 1
    lits += chunk[run_start:]
    return seqs, bytes(lits)


# ---------------------------------------------------------------- frame
def _window_descriptor(need: int) -> int:
    for exp in range(32):
        base = 1 << (10 + exp)
        for mant in range(8):
            if base + (base // 8) * mant >= need:
                return (exp << 3) | mant
    raise ZstdEncodeError("window too large")


def zstd_compress(
    content: bytes,
    dictionary: bytes | None = None,
    checksum: bool = True,
    dict_only: bool = False,
    economize: bool = True,
) -> bytes:
    """Compress ``content`` into one conforming zstd frame (raw
    literals + predefined-FSE match sequences). ``dictionary`` bytes
    extend the match window as the §5 prefix; a structured
    dictionary additionally stamps its id into the frame header.

    ``dict_only=True`` sources matches exclusively from the
    dictionary prefix (no frame-history self-matches) and
    ``economize=False`` keeps a block compressed whenever it holds
    at least one sequence even if the raw form would be smaller —
    together they make "this frame depends on its dictionary" a
    decidable function of the content alone (the q_bits_dict oracle
    contract); both default off for normal compression."""
    if len(content) >= 1 << 32:
        raise ZstdEncodeError("content too large for 4-byte FCS")
    dict_id = 0
    prefix = b""
    if dictionary:
        parsed = parse_zstd_dictionary(dictionary)
        dict_id = parsed["dict_id"]
        prefix = parsed["content"]

    out = bytearray(struct.pack("<I", MAGIC))
    fhd = (2 << 6) | (0x04 if checksum else 0) | (3 if dict_id else 0)
    out.append(fhd)
    out.append(_window_descriptor(len(content) + len(prefix)))
    if dict_id:
        out += struct.pack("<I", dict_id)
    out += struct.pack("<I", len(content))

    # virtual buffer = prefix + content; pre-index the prefix grams
    index: dict[bytes, list[int]] = {}
    plen = len(prefix)
    # dict_only is the q_bits_dict decidability contract: every
    # dictionary 4-gram must be findable, so a sparse stride would
    # make "dict_needed" depend on word placement (a >=4-char word's
    # only 4-gram can fall between stride-3 samples).  Full stride
    # whenever soundness matters; sparse only for plain compression
    # of oversized prefixes.
    step = 1 if (dict_only or plen <= 1 << 16) else 3
    for p in range(0, max(0, plen - 3), step):
        g = prefix[p : p + 4]
        lst = index.setdefault(g, [])
        lst.append(p)
        if len(lst) > _CHAIN:
            del lst[0]

    def virtual(p: int) -> int:
        return prefix[p] if p < plen else content[p - plen]

    pos = 0
    first = True
    while pos < len(content) or first:
        first = False
        chunk = content[pos : pos + _BLOCK]
        last = 1 if pos + len(chunk) >= len(content) else 0
        seqs, lits = _find_sequences(
            chunk, index, plen + pos, virtual, not dict_only
        )
        payload = _compress_block(chunk, seqs, lits, economize)
        if payload is None:  # incompressible: raw block
            hdr = (len(chunk) << 3) | (0 << 1) | last
            out += bytes((hdr & 0xFF, (hdr >> 8) & 0xFF, (hdr >> 16) & 0xFF))
            out += chunk
        else:
            hdr = (len(payload) << 3) | (2 << 1) | last
            out += bytes((hdr & 0xFF, (hdr >> 8) & 0xFF, (hdr >> 16) & 0xFF))
            out += payload
        pos += len(chunk)
    if checksum:
        out += struct.pack("<I", xxh64(content) & 0xFFFFFFFF)
    return bytes(out)
