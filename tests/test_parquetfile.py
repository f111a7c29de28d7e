"""Parquet footer walk discipline (functions/parquetfile.py) —
cross-checked against pyarrow's own metadata reader on bytes the
pyarrow WRITER produced, so the thrift walk is pinned to the real
wire format, not to our own assumptions."""

import io

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from core_spark.functions.parquetfile import (
    ParquetError,
    parse_parquet_footer,
)


def _file(vals, row_group_size, compression="snappy") -> bytes:
    t = pa.table(
        {"v": pa.array(vals, type=pa.int64()),
         "s": pa.array([f"s{i}" for i in range(len(vals))])}
    )
    buf = io.BytesIO()
    pq.write_table(
        t, buf, row_group_size=row_group_size, compression=compression
    )
    return buf.getvalue()


def test_agrees_with_pyarrow_metadata_field_by_field():
    raw = _file([5, -3, 17, 9, 2, 11, -64, 0], 3)
    got = parse_parquet_footer(raw)
    md = pq.ParquetFile(io.BytesIO(raw)).metadata
    assert got["num_rows"] == md.num_rows == 8
    assert got["schema"] == ["v", "s"]
    assert len(got["row_groups"]) == md.num_row_groups == 3
    for gi in range(md.num_row_groups):
        rg, mine = md.row_group(gi), got["row_groups"][gi]
        assert mine["num_rows"] == rg.num_rows
        assert mine["total_byte_size"] == rg.total_byte_size
        for ci in range(rg.num_columns):
            col, mc = rg.column(ci), mine["columns"][ci]
            assert mc["path"] == col.path_in_schema
            assert mc["num_values"] == col.num_values
            assert mc["data_page_offset"] == col.data_page_offset
            assert (
                mc["total_compressed_size"] == col.total_compressed_size
            )
            if col.path_in_schema == "v":
                assert mc["stats"]["min"] == col.statistics.min
                assert mc["stats"]["max"] == col.statistics.max
                assert (
                    mc["stats"]["null_count"]
                    == col.statistics.null_count
                )


def test_signed_stats_and_uncompressed_codec():
    raw = _file([-(2**40), 2**40, -1], 3, compression="none")
    got = parse_parquet_footer(raw)
    st = got["row_groups"][0]["columns"][0]["stats"]
    assert st["min"] == -(2**40) and st["max"] == 2**40


def test_data_page_offset_points_at_real_pages():
    """The plan's offsets must land inside the file, strictly
    increasing across row groups — the ranged-GET sanity a split
    planner relies on."""
    raw = _file(list(range(50)), 10)
    got = parse_parquet_footer(raw)
    offs = [
        c["data_page_offset"]
        for g in got["row_groups"]
        for c in g["columns"]
    ]
    assert all(4 <= o < len(raw) - 8 for o in offs)
    assert offs == sorted(offs)


def test_corrupt_inputs_raise_named_error():
    raw = _file([1, 2, 3], 3)
    for bad in (
        b"",
        b"PAR1",
        raw[:-4] + b"XXXX",                      # wrong tail magic
        b"XXXX" + raw[4:],                       # wrong head magic
        raw[:4] + raw[-8:],                      # footer len escapes
        raw[: len(raw) // 2] + raw[-8:],         # truncated footer
    ):
        with pytest.raises(ParquetError):
            parse_parquet_footer(bad)


def test_unnamed_schema_element_raises_named_error():
    """A footer flip that turns a schema element's name (field 4) into
    an unknown field leaves the element with no name: the footer parse
    raises ParquetError, not a TypeError from joining its path."""
    buf = io.BytesIO()
    pq.write_table(pa.table({"a": [1, 2], "zzname": ["x", "y"]}), buf)
    raw = buf.getvalue()
    footer = len(raw) - 8 - int.from_bytes(raw[-8:-4], "little")
    # the footer's first copy is the schema element's name; a column
    # chunk's path_in_schema repeats it later
    at = raw.index(b"\x06zzname", footer) - 1
    # compact-protocol field header: delta 1 from repetition_type (3),
    # type binary (8); delta 6 makes it field 9, skipped as binary
    assert raw[at] == 0x18
    assert parse_parquet_footer(raw)["schema"] == ["a", "zzname"]
    flipped = raw[:at] + bytes([0x68]) + raw[at + 1:]
    with pytest.raises(ParquetError, match="no name"):
        parse_parquet_footer(flipped)


def test_random_tail_bytes_never_hang_or_fabricate():
    import random

    rng = random.Random(88)
    for _ in range(200):
        blob = bytes(
            rng.randrange(256) for _ in range(rng.randrange(40))
        )
        candidate = (
            b"PAR1" + blob
            + len(blob).to_bytes(4, "little") + b"PAR1"
        )
        try:
            parse_parquet_footer(candidate)
        except ParquetError:
            pass  # the only acceptable failure shape


def test_giant_bool_collections_cannot_spin():
    """Adversarial footer: bool list/map elements occupy zero bytes,
    so a crafted huge size must not buy 2^k no-op iterations
    (review: the r8 fuzz run surfaced multi-second spins)."""
    import struct as _s
    import time

    # struct { field 1: LIST } with header (size=15|etype=bool) and a
    # varint size of 2^40, then STOP
    body = bytes([0x19, 0xF1]) + b"\x80\x80\x80\x80\x80\x80\x01" + b"\x00"
    raw = b"PAR1" + body + _s.pack("<I", len(body)) + b"PAR1"
    t0 = time.perf_counter()
    try:
        parse_parquet_footer(raw)  # O(1): size cap raises immediately
    except ParquetError:
        pass
    assert time.perf_counter() - t0 < 0.5
    # same shape as a MAP of bool->bool
    body = bytes([0x1B]) + b"\x80\x80\x80\x40" + bytes([0x11, 0x00])
    raw = b"PAR1" + body + _s.pack("<I", len(body)) + b"PAR1"
    t0 = time.perf_counter()
    try:
        parse_parquet_footer(raw)
    except ParquetError:
        pass
    assert time.perf_counter() - t0 < 0.5


def test_unknown_bool_list_field_does_not_desync():
    """Thrift compact encodes collection bools as ONE BYTE each; an
    unknown list<bool> field must be skipped by exactly that many
    bytes or later fields silently vanish (review finding r8)."""
    import struct as _s

    body = (
        bytes([0x15]) + b"\x02"          # field 1: I32 version = 1
        + bytes([0x49, 0x31])            # field 5 (+4): LIST, 3 x bool
        + b"\x01\x01\x02"                # the three element BYTES
        + bytes([0x18, 0x02]) + b"hi"    # field 6 (+1): created_by
        + b"\x00"
    )
    raw = b"PAR1" + body + _s.pack("<I", len(body)) + b"PAR1"
    got = parse_parquet_footer(raw)
    assert got.get("version") == 1
    # the field AFTER the skipped bool list must still be seen — a
    # zero-width skip desyncs and silently drops it
    assert got.get("created_by") == "hi"
    # and a footer whose thrift runs INTO the tail bytes must raise
    body2 = bytes([0x18, 0x20])          # BINARY claiming 32 bytes
    raw2 = b"PAR1" + body2 + _s.pack("<I", len(body2)) + b"PAR1"
    with pytest.raises(ParquetError):
        parse_parquet_footer(raw2)
    # flen overlapping the head magic must raise, not walk the magic
    raw3 = _file([1, 2, 3], 3)
    flen_bad = len(raw3) - 8  # would start inside 'PAR1'
    raw3 = raw3[:-8] + _s.pack("<I", flen_bad) + b"PAR1"
    with pytest.raises(ParquetError):
        parse_parquet_footer(raw3)


def test_unknown_i8_field_skips_one_raw_byte():
    """Thrift compact encodes i8 field values as ONE RAW BYTE, not a
    varint; an unknown i8 whose byte has the high bit set must not
    desync the walk (ADVICE r8 — forward-compat skip path)."""
    import struct as _s

    body = (
        bytes([0x15]) + b"\x02"          # field 1: I32 version = 1
        + bytes([0x43]) + b"\x80"        # field 5 (+4): BYTE, raw 0x80
        + bytes([0x18, 0x02]) + b"hi"    # field 6 (+1): created_by
        + b"\x00"
    )
    raw = b"PAR1" + body + _s.pack("<I", len(body)) + b"PAR1"
    got = parse_parquet_footer(raw)
    assert got.get("version") == 1
    # a varint-routed skip would eat the created_by header byte too
    assert got.get("created_by") == "hi"


def test_typed_stats_agree_with_pyarrow_all_widths():
    """min/max decode by physical type (INT32/INT64/FLOAT/DOUBLE/
    BOOLEAN/BYTE_ARRAY), pinned against pyarrow's own statistics on
    bytes the pyarrow writer produced (r9: widened from INT64-only)."""
    table = pa.table(
        {
            "i32": pa.array([7, -9, 3], pa.int32()),
            "i64": pa.array([-(2**40), 5, 2**33], pa.int64()),
            "f32": pa.array([1.5, -2.25, 0.75], pa.float32()),
            "f64": pa.array([3.125, -8.5, 99.0], pa.float64()),
            "b": pa.array([True, False, True], pa.bool_()),
            "s": pa.array(["pear", "apple", "quince"], pa.string()),
        }
    )
    buf = io.BytesIO()
    pq.write_table(table, buf)
    raw = buf.getvalue()
    got = parse_parquet_footer(raw)
    md = pq.ParquetFile(io.BytesIO(raw)).metadata
    rg, mine = md.row_group(0), got["row_groups"][0]
    for ci in range(rg.num_columns):
        col, mc = rg.column(ci), mine["columns"][ci]
        assert mc["stats"]["min"] == col.statistics.min, col.path_in_schema
        assert mc["stats"]["max"] == col.statistics.max, col.path_in_schema
    # physical types surfaced for planners (leaf columns only —
    # the root group's name varies by writer and carries None)
    leaf = {k: v for k, v in got["schema_types"].items() if v is not None}
    assert leaf == {"i32": 1, "i64": 2, "f32": 4, "f64": 5, "b": 0, "s": 6}


def test_page_index_pins_against_source_data():
    """Page-index walk (OffsetIndex + ColumnIndex): pages are found
    where the WRITER put them (first_row_index from the file), and
    each page's min/max must equal the actual value slice at those
    boundaries — a behavioral pin that trusts only the source table."""
    from core_spark.functions.parquetfile import parse_page_index

    vals = list(range(0, 700, 7))
    t = pa.table({"v": pa.array(vals, pa.int64())})
    buf = io.BytesIO()
    pq.write_table(
        t, buf, write_page_index=True, data_page_size=64,
        use_dictionary=False, write_batch_size=10, row_group_size=60,
    )
    raw = buf.getvalue()
    got = parse_parquet_footer(raw)
    ptype = got["schema_types"]["v"]
    base_row = 0
    total_pages = 0
    for rg in got["row_groups"]:
        col = rg["columns"][0]
        oi, ci = parse_page_index(raw, col, ptype)
        assert len(oi) == len(ci) >= 2  # multi-page row groups
        bounds = [p["first_row_index"] for p in oi] + [rg["num_rows"]]
        for j, (p, s) in enumerate(zip(oi, ci)):
            page_vals = vals[base_row + bounds[j]: base_row + bounds[j + 1]]
            assert s["min"] == min(page_vals)
            assert s["max"] == max(page_vals)
            assert s["null_count"] == 0 and not s["null_page"]
            assert 0 < p["offset"] < len(raw)
            assert p["compressed_page_size"] > 0
        offs = [p["offset"] for p in oi]
        assert offs == sorted(offs) and len(set(offs)) == len(offs)
        base_row += rg["num_rows"]
        total_pages += len(oi)
    assert total_pages >= 10
    # a file written WITHOUT the page index carries no offsets
    buf2 = io.BytesIO()
    pq.write_table(t, buf2, write_page_index=False)
    got2 = parse_parquet_footer(buf2.getvalue())
    col2 = got2["row_groups"][0]["columns"][0]
    oi2, ci2 = parse_page_index(buf2.getvalue(), col2, ptype)
    assert oi2 is None and ci2 is None
    # corrupt: an index range escaping the file raises
    col_bad = dict(col2)
    col_bad["offset_index_offset"] = len(buf2.getvalue())
    col_bad["offset_index_length"] = 10
    with pytest.raises(ParquetError):
        parse_page_index(buf2.getvalue(), col_bad, ptype)


# ------------------------------------------------- data-page value decode
def _typed_file(compression="zstd", row_group_size=300, n=1000,
                use_dictionary=None, version="1.0"):
    sch = pa.schema([
        pa.field("i", pa.int64(), nullable=False),
        pa.field("f", pa.float64(), nullable=False),
        pa.field("b", pa.bool_(), nullable=False),
        pa.field("word", pa.string(), nullable=False),
        pa.field("score", pa.int64(), nullable=True),
    ])
    t = pa.table(
        {
            "i": list(range(n)),
            "f": [k * 0.5 for k in range(n)],
            "b": [k % 3 == 0 for k in range(n)],
            "word": [f"w{k % 37}" for k in range(n)],
            "score": [None if k % 5 == 0 else k * 3 for k in range(n)],
        },
        schema=sch,
    )
    buf = io.BytesIO()
    pq.write_table(
        t, buf, compression=compression, version=version,
        use_dictionary=["word"] if use_dictionary is None else use_dictionary,
        row_group_size=row_group_size,
    )
    return buf.getvalue(), t


@pytest.mark.parametrize(
    "compression", ["zstd", "snappy", "gzip", "none", "lz4"]
)
def test_read_column_pins_against_pyarrow_per_codec(compression):
    from core_spark.functions.parquetfile import read_parquet_column

    raw, t = _typed_file(compression=compression)
    for name in ("i", "f", "b", "word", "score"):
        assert read_parquet_column(raw, name) == t[name].to_pylist()


def test_read_column_all_dictionary_and_all_plain():
    from core_spark.functions.parquetfile import read_parquet_column

    for use_dict in (True, False):
        raw, t = _typed_file(use_dictionary=use_dict, row_group_size=64)
        for name in ("i", "word", "score"):
            assert read_parquet_column(raw, name) == t[name].to_pylist()


def test_read_column_corrupt_shapes_raise():
    from core_spark.functions.parquetfile import read_parquet_column

    raw, _ = _typed_file()
    with pytest.raises(ParquetError, match="no flat column"):
        read_parquet_column(raw, "nope")
    # truncating the body must raise, never fabricate values
    with pytest.raises(ParquetError):
        read_parquet_column(raw[: len(raw) // 2] + raw[-8:], "i")


def _v2_file(column_encoding=None, compression="zstd", n=3000):
    sch = pa.schema([
        pa.field("i", pa.int64(), nullable=False),
        pa.field("j", pa.int32(), nullable=False),
        pa.field("word", pa.string(), nullable=False),
        pa.field("score", pa.int64(), nullable=True),
    ])
    t = pa.table(
        {
            "i": [k * k - 7 * k for k in range(n)],
            "j": pa.array([k % 211 - 100 for k in range(n)], pa.int32()),
            "word": [f"prefix-{k % 37}-suffix{k % 11}" for k in range(n)],
            "score": [None if k % 5 == 0 else k * 3 for k in range(n)],
        },
        schema=sch,
    )
    buf = io.BytesIO()
    pq.write_table(
        t, buf, compression=compression, version="2.6",
        data_page_version="2.0", use_dictionary=False,
        row_group_size=700, column_encoding=column_encoding,
    )
    return buf.getvalue(), t


def test_read_column_v2_pages_plain():
    from core_spark.functions.parquetfile import read_parquet_column

    for comp in ("zstd", "snappy", "none"):
        raw, t = _v2_file(compression=comp)
        for name in ("i", "j", "word", "score"):
            assert read_parquet_column(raw, name) == t[name].to_pylist()


def test_read_column_v2_delta_encodings():
    from core_spark.functions.parquetfile import read_parquet_column

    raw, t = _v2_file(
        column_encoding={
            "i": "DELTA_BINARY_PACKED",
            "j": "DELTA_BINARY_PACKED",
            "word": "DELTA_BYTE_ARRAY",
            "score": "DELTA_BINARY_PACKED",
        }
    )
    # the writer really used the delta encodings
    md = pq.ParquetFile(io.BytesIO(raw)).metadata.row_group(0)
    encs = {md.column(c).path_in_schema: md.column(c).encodings
            for c in range(md.num_columns)}
    assert "DELTA_BINARY_PACKED" in encs["i"]
    assert "DELTA_BYTE_ARRAY" in encs["word"]
    for name in ("i", "j", "word", "score"):
        assert read_parquet_column(raw, name) == t[name].to_pylist()
    raw2, t2 = _v2_file(
        column_encoding={"word": "DELTA_LENGTH_BYTE_ARRAY"},
        compression="snappy",
    )
    assert read_parquet_column(raw2, "word") == t2["word"].to_pylist()


def test_read_column_byte_stream_split():
    from core_spark.functions.parquetfile import read_parquet_column

    sch = pa.schema([
        pa.field("f", pa.float64(), nullable=False),
        pa.field("g", pa.float32(), nullable=False),
    ])
    n = 2000
    t = pa.table(
        {
            "f": [k * 0.37 - 11.5 for k in range(n)],
            "g": pa.array([float(k % 97) for k in range(n)], pa.float32()),
        },
        schema=sch,
    )
    buf = io.BytesIO()
    pq.write_table(
        t, buf, compression="zstd", version="2.6",
        data_page_version="2.0", use_dictionary=False,
        column_encoding={"f": "BYTE_STREAM_SPLIT", "g": "BYTE_STREAM_SPLIT"},
    )
    raw = buf.getvalue()
    md = pq.ParquetFile(io.BytesIO(raw)).metadata.row_group(0)
    assert "BYTE_STREAM_SPLIT" in md.column(0).encodings
    for name in ("f", "g"):
        assert read_parquet_column(raw, name) == t[name].to_pylist()


def test_page_checksums_verified_not_skipped():
    from core_spark.functions.parquetfile import (
        _ThriftReader,
        _parse_page_header,
        parse_parquet_footer,
        read_parquet_column,
    )

    sch = pa.schema([
        pa.field("i", pa.int64(), nullable=False),
        pa.field("w", pa.string(), nullable=False),
    ])
    n = 1000
    t = pa.table(
        {"i": list(range(n)), "w": [f"w{k % 7}" for k in range(n)]},
        schema=sch,
    )
    for v, dpv in (("1.0", "1.0"), ("2.6", "2.0")):
        buf = io.BytesIO()
        pq.write_table(
            t, buf, compression="zstd", version=v, data_page_version=dpv,
            write_page_checksum=True, row_group_size=300,
        )
        raw = buf.getvalue()
        assert read_parquet_column(raw, "i") == list(range(n))
        # a flipped byte inside the page body must fail the CRC, not
        # decode to garbage
        f = parse_parquet_footer(raw)
        col = f["row_groups"][0]["columns"][0]
        start = col.get("dictionary_page_offset") or col["data_page_offset"]
        r = _ThriftReader(raw, start)
        _parse_page_header(r)
        evil = bytearray(raw)
        evil[r.i + 5] ^= 0xFF
        with pytest.raises(ParquetError, match="checksum"):
            read_parquet_column(bytes(evil), "i")


def test_byte_array_binary_column_stays_bytes():
    """r9 ADVICE (low): a BYTE_ARRAY column without the STRING
    logical type must come back as bytes — including non-UTF-8
    payloads — while a STRING column still decodes to str."""
    import pyarrow.parquet as pq

    from core_spark.functions.parquetfile import read_parquet_column

    blobs = [b"\xff\xfe\x00raw", b"", b"plain", bytes(range(256))]
    strs = ["a", "élève", "", "z" * 40]
    t = pa.table(
        {
            "blob": pa.array(blobs, pa.binary()),
            "s": pa.array(strs, pa.string()),
        }
    )
    buf = io.BytesIO()
    pq.write_table(t, buf)
    raw = buf.getvalue()
    assert read_parquet_column(raw, "blob") == blobs
    assert read_parquet_column(raw, "s") == strs


def test_fixed_len_decimal_and_plain_fixed_columns():
    """r9 ADVICE breadth: FIXED_LEN_BYTE_ARRAY — DECIMAL columns
    come back as decimal.Decimal (pyarrow's mapping), plain FLBA as
    bytes; INT32/INT64-backed decimals scale too."""
    from decimal import Decimal

    import pyarrow.parquet as _pq

    from core_spark.functions.parquetfile import read_parquet_column

    decs = [Decimal("1234.567"), Decimal("-0.001"), None, Decimal("0")]
    small = [Decimal("9.99"), Decimal("-0.01"), Decimal("42.00"), None]
    fixed = [b"abcde", b"\x00\x01\x02\x03\x04", b"zzzzz", b"12345"]
    t = pa.table(
        {
            "d": pa.array(decs, pa.decimal128(12, 3)),
            "ds": pa.array(small, pa.decimal32(4, 2))
            if hasattr(pa, "decimal32")
            else pa.array(small, pa.decimal128(4, 2)),
            "fx": pa.array(fixed, pa.binary(5)),
        }
    )
    buf = io.BytesIO()
    _pq.write_table(t, buf)
    raw = buf.getvalue()
    assert read_parquet_column(raw, "d") == decs
    assert read_parquet_column(raw, "ds") == small
    assert read_parquet_column(raw, "fx") == fixed


def test_boolean_rle_v2_pages_decode():
    """v2 data pages encode booleans as RLE (bit width 1, u32 length
    prefix) — pinned against pyarrow's v2 writer."""
    import pyarrow.parquet as _pq

    from core_spark.functions.parquetfile import read_parquet_column

    vals = [(k * 7) % 3 == 1 for k in range(997)] + [None]
    t = pa.table({"b": pa.array(vals, pa.bool_())})
    buf = io.BytesIO()
    _pq.write_table(
        t, buf, data_page_version="2.0", use_dictionary=False
    )
    assert read_parquet_column(buf.getvalue(), "b") == vals


# ---------------------------------------------------- list columns
def test_list_column_roundtrip_all_codecs_and_page_versions():
    """Dremel reassembly pinned against pyarrow: nulls at every level
    (null list / empty list / null element), four codecs, dictionary
    on/off, BOTH page formats, multiple row groups."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from core_spark.functions.parquetfile import read_parquet_list_column

    data = [[1, 2, 3], None, [], [4, None, 5], [None], [6], None, []]
    t = pa.table({"xs": pa.array(data, type=pa.list_(pa.int64()))})
    for codec in ("NONE", "SNAPPY", "ZSTD", "GZIP"):
        for dict_on in (True, False):
            for v2 in (True, False):
                buf = io.BytesIO()
                pq.write_table(
                    t, buf, compression=codec, use_dictionary=dict_on,
                    data_page_version="2.0" if v2 else "1.0",
                    row_group_size=3,
                )
                got = read_parquet_list_column(buf.getvalue(), "xs")
                assert got == data, (codec, dict_on, v2)


def test_list_column_reads_the_real_embeddings_table():
    """The engine's own testdata ships the standard 3-level
    list<float> — the from-spec reader must agree with pyarrow on
    every element."""
    import io

    import pyarrow.parquet as pq

    from core_spark.functions.parquetfile import read_parquet_list_column

    raw = open("/root/testdata/sf0.001/embeddings.parquet", "rb").read()
    mine = read_parquet_list_column(raw, "embedding")
    theirs = pq.read_table(io.BytesIO(raw))["embedding"].to_pylist()
    assert mine == theirs
    assert len(mine) == 500 and len(mine[0]) == 64


def test_list_column_string_elements_and_fences():
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from core_spark.functions.parquetfile import (
        ParquetError,
        read_parquet_list_column,
    )

    sdata = [["a", "bb", None], [], None, ["ccc"]]
    t = pa.table({"s": pa.array(sdata, type=pa.list_(pa.string()))})
    buf = io.BytesIO()
    pq.write_table(t, buf)
    assert read_parquet_list_column(buf.getvalue(), "s") == sdata
    # doubly nested lists reassemble (r11 lifted the max_rep>1 fence)
    nd = [[[1]], None, [], [None, [2, None, 3], []], [[], [4]]]
    t3 = pa.table(
        {"n": pa.array(nd, type=pa.list_(pa.list_(pa.int64())))}
    )
    buf3 = io.BytesIO()
    pq.write_table(t3, buf3)
    assert read_parquet_list_column(buf3.getvalue(), "n") == nd
    # a flat column has no repeated leaf
    with _pytest.raises(ParquetError, match="no repeated column"):
        raw = open("/root/testdata/sf0.001/embeddings.parquet", "rb").read()
        read_parquet_list_column(raw, "vec_id")


def test_list_column_property_fuzz():
    """Hypothesis: ANY one-level list<int64> column — arbitrary mix
    of null lists, empty lists, null elements, any codec, either
    page format, any row-group size — reassembles exactly as pyarrow
    wrote it."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from core_spark.functions.parquetfile import read_parquet_list_column

    lists = st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.one_of(
                    st.none(),
                    st.integers(min_value=-(2**62), max_value=2**62),
                ),
                max_size=6,
            ),
        ),
        min_size=1,
        max_size=24,
    )

    @settings(max_examples=30, deadline=None)
    @given(
        data=lists,
        codec=st.sampled_from(["NONE", "SNAPPY", "ZSTD"]),
        v2=st.booleans(),
        rg=st.integers(min_value=1, max_value=7),
    )
    def prop(data, codec, v2, rg):
        t = pa.table({"xs": pa.array(data, type=pa.list_(pa.int64()))})
        buf = io.BytesIO()
        pq.write_table(
            t, buf, compression=codec,
            data_page_version="2.0" if v2 else "1.0", row_group_size=rg,
        )
        assert read_parquet_list_column(buf.getvalue(), "xs") == data

    prop()


def test_int96_timestamps_decode_to_epoch_nanos():
    """Legacy Impala/Hive INT96: Julian day + SIGNED nanos-of-day
    (pre-1970 instants split with truncation toward zero) → epoch
    nanos, pinned value-exact against pyarrow across codecs and
    dictionary settings."""
    import datetime
    import io
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from core_spark.functions.parquetfile import read_parquet_column

    rng = random.Random(3)
    base = datetime.datetime(1995, 1, 1)
    ts = [
        None if rng.random() < 0.15 else
        base + datetime.timedelta(
            days=rng.randrange(-20000, 20000),
            seconds=rng.randrange(86400),
            microseconds=rng.randrange(10**6),
        )
        for _ in range(300)
    ]
    t = pa.table({"ts": pa.array(ts, type=pa.timestamp("ns"))})
    for codec in ("NONE", "ZSTD", "SNAPPY"):
        for dict_on in (True, False):
            buf = io.BytesIO()
            pq.write_table(
                t, buf, use_deprecated_int96_timestamps=True,
                compression=codec, use_dictionary=dict_on,
                row_group_size=77,
            )
            got = read_parquet_column(buf.getvalue(), "ts")
            col = pq.read_table(
                io.BytesIO(buf.getvalue())
            )["ts"].combine_chunks()
            want = [None if not v.is_valid else v.value for v in col]
            assert got == want, (codec, dict_on)


def test_list_column_reads_spark_written_files(spark, tmp_path):
    """Interop with the engine's OWN writer: Spark's standard
    3-level list layout AND the legacy 2-level layout
    (spark.sql.parquet.writeLegacyFormat — the bare repeated leaf)
    both reassemble exactly."""
    import glob

    from pyspark.sql import functions as F

    from core_spark.functions.parquetfile import read_parquet_list_column

    df = spark.range(6).select(
        F.when(
            F.col("id") % 3 != 0,
            F.array_remove(F.array(F.col("id"), F.col("id") * 2), -1),
        ).alias("xs")
    )
    want = [None if i % 3 == 0 else [i, 2 * i] for i in range(6)]
    for legacy in ("false", "true"):
        spark.conf.set("spark.sql.parquet.writeLegacyFormat", legacy)
        out = str(tmp_path / f"legacy_{legacy}")
        try:
            df.coalesce(1).write.mode("overwrite").parquet(out)
        finally:
            spark.conf.set("spark.sql.parquet.writeLegacyFormat", "false")
        part = glob.glob(out + "/part-*.parquet")[0]
        raw = open(part, "rb").read()
        got = read_parquet_list_column(raw, "xs")
        assert sorted(map(repr, got)) == sorted(map(repr, want)), legacy


def test_map_column_roundtrip_and_fences():
    """Parquet MAP decode: two repeated leaves zipped by their shared
    levels — null map / empty map / null value across codecs, page
    versions and row-group splits; a map is not readable as a list."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from core_spark.functions.parquetfile import (
        ParquetError,
        read_parquet_list_column,
        read_parquet_map_column,
    )

    md = [{"a": 1, "b": 2}, None, {}, {"c": None, "d": 4}, {"e": 5}]
    t = pa.table({"m": pa.array(md, type=pa.map_(pa.string(), pa.int64()))})
    for codec in ("NONE", "ZSTD", "SNAPPY"):
        for v2 in (True, False):
            buf = io.BytesIO()
            pq.write_table(
                t, buf, compression=codec,
                data_page_version="2.0" if v2 else "1.0",
                row_group_size=2,
            )
            assert read_parquet_map_column(buf.getvalue(), "m") == md
    md2 = [{"k": "x"}, {"q": None, "r": "yy"}, {}]
    t2 = pa.table(
        {"m": pa.array(md2, type=pa.map_(pa.string(), pa.string()))}
    )
    buf = io.BytesIO()
    pq.write_table(t2, buf)
    assert read_parquet_map_column(buf.getvalue(), "m") == md2
    buf = io.BytesIO()
    pq.write_table(t, buf)
    with _pytest.raises(ParquetError, match="several repeated"):
        read_parquet_list_column(buf.getvalue(), "m")
    with _pytest.raises(ParquetError, match="no map column"):
        read_parquet_map_column(buf.getvalue(), "nope")


def test_map_column_reads_spark_written_files(spark, tmp_path):
    import glob

    from pyspark.sql import functions as F

    from core_spark.functions.parquetfile import read_parquet_map_column

    df = spark.range(5).select(
        F.when(
            F.col("id") % 4 != 0,
            F.create_map(
                F.lit("n"), F.col("id"),
                F.lit("sq"), F.col("id") * F.col("id"),
            ),
        ).alias("m")
    )
    out = str(tmp_path / "maps")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    raw = open(glob.glob(out + "/part-*.parquet")[0], "rb").read()
    got = read_parquet_map_column(raw, "m")
    want = [
        None if r["m"] is None else dict(r["m"]) for r in df.collect()
    ]
    assert sorted(map(repr, got)) == sorted(map(repr, want))


def test_struct_fields_read_by_dotted_path():
    """Flat STRUCT fields address by dotted path and read as
    flattened columns: None whether the field or the enclosing
    struct is null — nulls at both levels distinguished from values
    by the tree's definition levels."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from core_spark.functions.parquetfile import (
        ParquetError,
        read_parquet_column,
    )

    rows = [
        {"lang": "en", "score": 3},
        None,
        {"lang": None, "score": 7},
        {"lang": "de", "score": None},
    ]
    t = pa.table(
        {
            "id": pa.array(range(4), type=pa.int64()),
            "meta": pa.array(
                rows,
                type=pa.struct(
                    [("lang", pa.string()), ("score", pa.int64())]
                ),
            ),
        }
    )
    for v2 in (True, False):
        buf = io.BytesIO()
        pq.write_table(
            t, buf, data_page_version="2.0" if v2 else "1.0"
        )
        raw = buf.getvalue()
        assert read_parquet_column(raw, "id") == [0, 1, 2, 3]
        assert read_parquet_column(raw, "meta.lang") == [
            "en", None, None, "de",
        ]
        assert read_parquet_column(raw, "meta.score") == [3, None, 7, None]
    # a repeated dotted leaf points at the list/map readers
    lt = pa.table({"xs": pa.array([[1, 2]], type=pa.list_(pa.int64()))})
    buf = io.BytesIO()
    pq.write_table(lt, buf)
    with _pytest.raises(ParquetError, match="repeated"):
        read_parquet_column(buf.getvalue(), "xs.list.element")


# ------------------------------------------- deep nesting (r11)
def test_list_of_struct_fields_by_user_path():
    """array<struct<x,y>> — each field reads by its user path with
    the flattened-null convention (null struct element == null
    field), in both page formats."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from core_spark.functions.parquetfile import (
        ParquetError,
        read_parquet_list_column,
    )

    rows = [
        [{"x": 1, "y": "a"}, {"x": None, "y": "b"}],
        None,
        [],
        [None, {"x": 3, "y": None}],
    ]
    typ = pa.list_(pa.struct([("x", pa.int64()), ("y", pa.string())]))
    t = pa.table({"ev": pa.array(rows, type=typ)})
    want_x = [[1, None], None, [], [None, 3]]
    want_y = [["a", "b"], None, [], [None, None]]
    for v2 in (True, False):
        buf = io.BytesIO()
        pq.write_table(t, buf, data_page_version="2.0" if v2 else "1.0")
        raw = buf.getvalue()
        assert read_parquet_list_column(raw, "ev.x") == want_x
        assert read_parquet_list_column(raw, "ev.y") == want_y
        with _pytest.raises(ParquetError, match="several repeated"):
            read_parquet_list_column(raw, "ev")


def test_triple_nested_list_and_list_in_struct():
    """Three repetition levels, and a list living inside an optional
    struct (annotation groups above AND below an 'o' node)."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from core_spark.functions.parquetfile import read_parquet_list_column

    d3 = [
        [[[1, None], []], None, [[2]]],
        None,
        [],
        [[]],
        [[[]], [[3, 4], [5]]],
    ]
    t = pa.table(
        {"n3": pa.array(d3, type=pa.list_(pa.list_(pa.list_(pa.int64()))))}
    )
    buf = io.BytesIO()
    pq.write_table(t, buf)
    assert read_parquet_list_column(buf.getvalue(), "n3") == d3

    # struct<tags: list<string>> — a repeated leaf under an optional
    # struct: null struct flattens to a null list
    rows = [
        {"tags": ["a", None]},
        None,
        {"tags": None},
        {"tags": []},
        {"tags": ["b"]},
    ]
    typ = pa.struct([("tags", pa.list_(pa.string()))])
    t2 = pa.table({"meta": pa.array(rows, type=typ)})
    buf = io.BytesIO()
    pq.write_table(t2, buf)
    got = read_parquet_list_column(buf.getvalue(), "meta.tags")
    assert got == [["a", None], None, None, [], ["b"]]

    # list<struct<pts: list<long>>> — max_rep 2 through a struct
    rows = [
        [{"pts": [1, 2]}, {"pts": None}, None, {"pts": []}],
        None,
        [],
    ]
    typ = pa.list_(pa.struct([("pts", pa.list_(pa.int64()))]))
    t3 = pa.table({"seg": pa.array(rows, type=typ)})
    buf = io.BytesIO()
    pq.write_table(t3, buf)
    got = read_parquet_list_column(buf.getvalue(), "seg.pts")
    assert got == [[[1, 2], None, None, []], None, []]


def test_nested_reader_against_spark_parquet_writer(spark, tmp_path):
    """Interop with the OTHER major parquet encoder: Spark's Java
    writer — array<array<double>> and array<struct<x,y>> reassemble
    to what Spark itself reads back."""
    import glob

    from pyspark.sql import Row

    from core_spark.functions.parquetfile import read_parquet_list_column

    rows = [
        Row(id=0, m=[[1.5, None], []], ev=[Row(x=1, y="a"), Row(x=None, y=None)]),
        Row(id=1, m=None, ev=None),
        Row(id=2, m=[], ev=[]),
        Row(id=3, m=[None, [2.25]], ev=[None, Row(x=3, y="c")]),
    ]
    df = spark.createDataFrame(
        rows, "id int, m array<array<double>>, ev array<struct<x:int,y:string>>"
    )
    out = str(tmp_path / "nested")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    (path,) = glob.glob(out + "/*.parquet")
    raw = open(path, "rb").read()
    back = {r["id"]: r for r in spark.read.parquet(out).collect()}
    from core_spark.functions.parquetfile import read_parquet_column

    ids = read_parquet_column(raw, "id")
    ms = read_parquet_list_column(raw, "m")
    xs = read_parquet_list_column(raw, "ev.x")
    ys = read_parquet_list_column(raw, "ev.y")
    for k, rid in enumerate(ids):
        want = back[rid]
        assert ms[k] == want["m"]
        wx = None if want["ev"] is None else [
            None if e is None else e["x"] for e in want["ev"]
        ]
        wy = None if want["ev"] is None else [
            None if e is None else e["y"] for e in want["ev"]
        ]
        assert xs[k] == wx
        assert ys[k] == wy


def test_nested_list_fuzz_against_pyarrow():
    """Hypothesis-style deterministic fuzz: random ragged
    list<list<int64>> and list<struct> shapes through pyarrow, both
    page formats, multiple row groups."""
    import io
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from core_spark.functions.parquetfile import read_parquet_list_column

    rng = random.Random(0xD2E3E1)
    for trial in range(25):
        n = rng.randrange(1, 120)

        def inner():
            return [
                None if rng.random() < 0.15 else rng.randrange(-9999, 9999)
                for _ in range(rng.randrange(0, 4))
            ]

        def outer():
            r = rng.random()
            if r < 0.12:
                return None
            return [
                None if rng.random() < 0.1 else inner()
                for _ in range(rng.randrange(0, 4))
            ]

        data = [outer() for _ in range(n)]
        t = pa.table(
            {"v": pa.array(data, type=pa.list_(pa.list_(pa.int64())))}
        )
        buf = io.BytesIO()
        pq.write_table(
            t,
            buf,
            data_page_version="2.0" if trial % 2 else "1.0",
            row_group_size=max(1, n // 3),
        )
        got = read_parquet_list_column(buf.getvalue(), "v")
        assert got == data, f"trial {trial}"


def test_map_with_nested_list_values():
    """map<string, list<long>> (r11): map values reassemble through
    the general Dremel assembler — null map / empty map / null value
    / empty-list value / null element all distinguished, both page
    formats; struct values raise the named error pointing at the
    dotted-path reader."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from core_spark.functions.parquetfile import (
        ParquetError,
        read_parquet_list_column,
        read_parquet_map_column,
    )

    md = [
        [("a", [1, None]), ("b", [])],
        None,
        [],
        [("c", None), ("d", [2, 3])],
    ]
    t = pa.table(
        {"m": pa.array(md, type=pa.map_(pa.string(), pa.list_(pa.int64())))}
    )
    want = [None if r is None else dict(r) for r in md]
    for v2 in (True, False):
        buf = io.BytesIO()
        pq.write_table(t, buf, data_page_version="2.0" if v2 else "1.0")
        assert read_parquet_map_column(buf.getvalue(), "m") == want

    # struct values: named error, and the dotted-path reader serves
    # individual fields
    sv = [
        [("k1", {"x": 1, "y": "u"})],
        None,
        [("k2", None), ("k3", {"x": None, "y": "w"})],
    ]
    typ = pa.map_(
        pa.string(), pa.struct([("x", pa.int64()), ("y", pa.string())])
    )
    t2 = pa.table({"ms": pa.array(sv, type=typ)})
    buf = io.BytesIO()
    pq.write_table(t2, buf)
    with _pytest.raises(ParquetError, match="structs"):
        read_parquet_map_column(buf.getvalue(), "ms")
    xs = read_parquet_list_column(buf.getvalue(), "ms.key_value.value.x")
    assert xs == [[1], None, [None, None]]


# ---------------------------------------------- split-block blooms
def test_sbbf_bloom_probe_pins_against_spark_writer(spark, tmp_path):
    """Split-block bloom filters (parquet-format BloomFilter.md)
    written by Spark/parquet-mr — the independent encoder — probed
    by the from-spec XXH64+SBBF reader: every PRESENT value must
    verdict True in its row group (soundness), absent values are
    overwhelmingly False (the point of the filter), per-row-group
    granularity holds, and dictionary-covered columns carry no bloom
    (None — no verdict, never a guess)."""
    import glob

    from core_spark.functions.parquetfile import (
        parquet_bloom_may_contain,
        read_parquet_bloom,
    )

    out = str(tmp_path / "blooms")
    (
        spark.range(0, 6000)
        .selectExpr(
            "id",
            "CAST(id AS INT) AS i32",
            "CAST(id AS DOUBLE) * 0.5 AS d",
            # high-cardinality strings: the dictionary page overflows,
            # so parquet-mr falls back and KEEPS the bloom
            "concat('user-', CAST(id * 2654435761 % 1000000007 AS STRING)) AS name",
        )
        .coalesce(1)
        .sortWithinPartitions("id")
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#id", "true")
        .option("parquet.bloom.filter.enabled#i32", "true")
        .option("parquet.bloom.filter.enabled#d", "true")
        .option("parquet.bloom.filter.enabled#name", "true")
        .option("parquet.bloom.filter.expected.ndv#id", "6000")
        .option("parquet.bloom.filter.expected.ndv#name", "6000")
        .option("parquet.dictionary.page.size", "1024")
        .option("parquet.block.size", "65536")  # multiple row groups
        .parquet(out)
    )
    (path,) = glob.glob(out + "/*.parquet")
    raw = open(path, "rb").read()

    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    n_rg = md.num_row_groups
    blooms = read_parquet_bloom(raw, "id")
    assert len(blooms) == n_rg and all(b is not None for b in blooms)

    # soundness: every present value verdicts True in its row group
    starts = []
    acc = 0
    for g in range(n_rg):
        starts.append(acc)
        acc += md.row_group(g).num_rows
    for v in (0, 1, 2999, 5999, 4096):
        rg = max(g for g, s in enumerate(starts) if s <= v)
        assert parquet_bloom_may_contain(raw, "id", v)[rg] is True
        assert (
            parquet_bloom_may_contain(raw, "i32", v)[rg] is True
        )
        assert (
            parquet_bloom_may_contain(raw, "d", v * 0.5)[rg] is True
        )
        name = f"user-{v * 2654435761 % 1000000007}"
        got = parquet_bloom_may_contain(raw, "name", name)[rg]
        assert got is True or got is None  # None = dict-covered chunk

    # absent values: overwhelmingly False (SBBF fpp at this fill is
    # well under 1%; 200 probes catching >= 195 is a loose bound)
    absent = [
        parquet_bloom_may_contain(raw, "id", v)
        for v in range(100000, 100200)
    ]
    n_false = sum(
        1 for verdicts in absent if all(x is False for x in verdicts)
    )
    assert n_false >= 195, n_false

    # a value present ONLY in one row group must be False elsewhere
    if n_rg > 1:
        v0 = parquet_bloom_may_contain(raw, "id", 0)
        assert v0[0] is True and v0[-1] is False


def test_sbbf_refuses_unknown_branches_and_bad_bitsets(spark, tmp_path):
    """Future algorithm/hash/compression branches and out-of-range
    bitsets raise the named error — the prober never guesses."""
    import glob

    from core_spark.functions.parquetfile import (
        ParquetError,
        parse_parquet_footer,
        read_parquet_bloom,
    )

    out = str(tmp_path / "b2")
    (
        spark.range(0, 500)
        .coalesce(1)
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#id", "true")
        .parquet(out)
    )
    (path,) = glob.glob(out + "/*.parquet")
    raw = bytearray(open(path, "rb").read())
    f = parse_parquet_footer(bytes(raw))
    off = f["row_groups"][0]["columns"][0]["bloom_filter_offset"]
    assert read_parquet_bloom(bytes(raw), "id")[0] is not None
    # flip the numBytes varint to a non-32-multiple: named error
    evil = bytearray(raw)
    # header starts at off: field 1 header byte then zigzag numBytes
    evil[off + 1] ^= 0x02
    with pytest.raises(ParquetError):
        read_parquet_bloom(bytes(evil), "id")


def test_struct_list_reads_whole_dicts():
    """read_parquet_struct_list — ORC-parity list<struct> reads:
    null struct element vs all-fields-null DISTINGUISHED (the
    truncated-levels presence pass), both page formats, and pinned
    against a Spark-written file."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from core_spark.functions.parquetfile import read_parquet_struct_list

    rows = [
        [{"x": 1, "y": "a"}, {"x": None, "y": None}],  # all-null fields
        None,
        [],
        [None, {"x": 3, "y": None}],                   # null struct
    ]
    typ = pa.list_(pa.struct([("x", pa.int64()), ("y", pa.string())]))
    t = pa.table({"ev": pa.array(rows, type=typ)})
    for v2 in (True, False):
        buf = io.BytesIO()
        pq.write_table(t, buf, data_page_version="2.0" if v2 else "1.0")
        assert read_parquet_struct_list(buf.getvalue(), "ev") == rows


def test_struct_list_matches_spark_written(spark, tmp_path):
    import glob

    from pyspark.sql import Row

    from core_spark.functions.parquetfile import (
        read_parquet_column,
        read_parquet_struct_list,
    )

    rows = [
        Row(id=0, ev=[Row(x=1, y="a"), None, Row(x=None, y=None)]),
        Row(id=1, ev=None),
        Row(id=2, ev=[]),
    ]
    df = spark.createDataFrame(
        rows, "id int, ev array<struct<x:int,y:string>>"
    )
    out = str(tmp_path / "sl")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    (path,) = glob.glob(out + "/*.parquet")
    raw = open(path, "rb").read()
    back = {r["id"]: r for r in spark.read.parquet(out).collect()}
    ids = read_parquet_column(raw, "id")
    evs = read_parquet_struct_list(raw, "ev")
    for k, rid in enumerate(ids):
        want = back[rid]["ev"]
        want = (
            None
            if want is None
            else [None if e is None else e.asDict() for e in want]
        )
        assert evs[k] == want


def test_parquet_chunk_stats_verify_and_tamper(spark, tmp_path):
    """parquet_verify_chunk_stats (r13): every row group's recorded
    min/max/null_count recomputed from the decoded chunk values —
    numeric bounds bit-exact, string bounds sound-and-exact when
    untruncated — against BOTH independent writers (pyarrow and
    Spark's parquet-mr); a footer min-value byte flip is caught;
    unsupported physical types fence."""
    import glob
    import hashlib

    from core_spark.functions.parquetfile import (
        ParquetError,
        parquet_verify_chunk_stats,
    )

    n = 3000
    hs = [hashlib.md5(b"pq:%d" % k).hexdigest() for k in range(n)]
    t = pa.table(
        {
            "i": pa.array(
                [
                    None if k % 7 == 0 else int(h[:12], 16) - (1 << 46)
                    for k, h in enumerate(hs)
                ],
                pa.int64(),
            ),
            "s": pa.array([h[:10] for h in hs], pa.string()),
            "d": pa.array([k * 0.25 - 100 for k in range(n)], pa.float64()),
        }
    )
    buf = io.BytesIO()
    pq.write_table(t, buf, row_group_size=700, compression="zstd")
    raw = buf.getvalue()
    for col in ("i", "s", "d"):
        rows = parquet_verify_chunk_stats(raw, col)
        assert len(rows) == 5 and all(r["exact"] for r in rows), col
    assert sum(r["null_count"] for r in parquet_verify_chunk_stats(raw, "i")) == 429

    # tamper: flip the LAST byte of the recorded min of the int
    # column inside the footer (the PLAIN-encoded i64 is byte-unique
    # enough to locate) — bounds must disagree, never verify clean
    import struct

    true_min = min(v for v in t["i"].to_pylist() if v is not None)
    needle = struct.pack("<q", true_min)
    at = raw.rindex(needle)  # footer copy (data pages are compressed)
    evil = bytearray(raw)
    evil[at + 7] ^= 0x01
    with pytest.raises(ParquetError, match="bounds disagree"):
        parquet_verify_chunk_stats(bytes(evil), "i")

    # Spark's parquet-mr: second independent writer, nulls + strings
    out = str(tmp_path / "pstats")
    (
        spark.range(0, 50000)
        .selectExpr(
            "CASE WHEN id % 9 = 0 THEN NULL ELSE id * 3 - 75000 END AS i",
            "concat('s', CAST(id * 2654435761 % 1000000007 AS STRING))"
            " AS s",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .option("parquet.block.size", "65536")
        .parquet(out)
    )
    (path,) = glob.glob(out + "/*.parquet")
    jraw = open(path, "rb").read()
    for col in ("i", "s"):
        rows = parquet_verify_chunk_stats(jraw, col)
        assert sum(r["n_rows"] for r in rows) == 50000, col
        assert all(r["exact"] for r in rows), col

    # unsupported physical type fence (INT96 etc. absent here; use a
    # repeated column via a list to hit the no-flat-column fence)
    with pytest.raises(ParquetError, match="no flat column"):
        parquet_verify_chunk_stats(raw, "nope")
