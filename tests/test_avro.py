"""Avro OCF walk discipline (functions/avro.py)."""

import hashlib
import json
import zlib

import pytest

from core_spark.functions.avro import (
    MAGIC,
    AvroError,
    avro_block_records,
    avro_blocks,
    avro_ocf_meta,
    build_avro_fixture,
    read_long,
    write_long,
    write_string,
)

FIELDS = [("seq", "long"), ("tag", "string"), ("score", "long")]


def test_long_zigzag_roundtrip_all_shapes():
    for n in (0, 1, -1, 63, -64, 64, 2**31, -(2**31), 2**62,
              -(2**62), 2**63 - 1, -(2**63)):
        raw = write_long(n)
        got, i = read_long(raw, 0)
        assert got == n and i == len(raw)
    # canonical small encodings (Avro spec examples)
    assert write_long(0) == b"\x00"
    assert write_long(-1) == b"\x01"
    assert write_long(1) == b"\x02"
    assert write_long(-64) == b"\x7f"
    assert write_long(64) == b"\x80\x01"


def test_fixture_block_offsets_slice_exactly():
    """The fetch plan's absolute offsets must slice bytes that decode
    standalone — the ranged-GET contract."""
    d = hashlib.md5(b"offset slicing doc").hexdigest()
    raw = build_avro_fixture(d)
    meta = avro_ocf_meta(raw)
    assert meta["sync"] == d
    blocks = avro_blocks(raw)
    assert len(blocks) == 2 + int(d[0], 16) % 2
    base = int(d[3:5], 16) - 128
    for blk in blocks:
        data = raw[blk["data_off"]: blk["data_off"] + blk["data_len"]]
        recs = avro_block_records(
            data, meta["codec"], FIELDS, blk["n_records"]
        )
        b = blk["block_idx"]
        for i, r in enumerate(recs):
            assert r["seq"] == 100 * b + i
            assert r["tag"] == f"{d[:6]}-{b}-{i}"
            assert r["score"] == base + 7 * i - 3 * b


def test_both_codecs_appear_and_deflate_is_raw():
    seen = set()
    for k in range(16):
        d = f"{k:x}" * 32
        raw = build_avro_fixture(d[:32])
        meta = avro_ocf_meta(raw)
        seen.add(meta["codec"])
        if meta["codec"] == "deflate":
            blk = avro_blocks(raw)[0]
            data = raw[blk["data_off"]: blk["data_off"] + blk["data_len"]]
            # raw DEFLATE (RFC 1951): zlib-wrapped inflate must fail,
            # wbits=-15 must succeed
            with pytest.raises(zlib.error):
                zlib.decompress(data)
            zlib.decompress(data, wbits=-15)
    assert seen == {"null", "deflate"}


def test_corrupt_inputs_raise_named_error():
    d = hashlib.md5(b"x").hexdigest()
    good = build_avro_fixture(d)
    bad_magic = b"Obj\x02" + good[4:]
    flipped_sync = bytearray(good)
    flipped_sync[-1] ^= 0xFF  # trailing sync marker
    truncated = good[:-10]
    for bad in (b"", bad_magic, bytes(flipped_sync), truncated):
        with pytest.raises(AvroError):
            avro_blocks(bad)
    # declared record count larger than the block holds
    blk = avro_blocks(good)[0]
    meta = avro_ocf_meta(good)
    data = good[blk["data_off"]: blk["data_off"] + blk["data_len"]]
    with pytest.raises(AvroError):
        avro_block_records(
            data, meta["codec"], FIELDS, blk["n_records"] + 1
        )
    # trailing garbage after the declared records
    plain = (
        zlib.decompress(data, wbits=-15)
        if meta["codec"] == "deflate"
        else data
    )
    with pytest.raises(AvroError):
        avro_block_records(
            plain + b"\x00junk", "null", FIELDS, blk["n_records"]
        )


def test_header_metadata_is_real_avro_map():
    """The metadata map must parse as the spec's map encoding —
    including a negative-count (sized) block, which real writers
    emit."""
    schema = json.dumps(
        {"type": "record", "name": "t",
         "fields": [{"name": "seq", "type": "long"}]}
    ).encode()
    meta = (
        write_long(-1)                      # negative count: 1 pair
        + write_long(len(write_string("avro.schema")) + 2 + len(schema))
        + write_string("avro.schema")
        + write_long(len(schema)) + schema
        + write_long(0)
    )
    raw = MAGIC + meta + b"\x00" * 16
    got = avro_ocf_meta(raw)
    assert got["schema"]["name"] == "t" and got["codec"] == "null"


def test_random_bytes_never_hang_or_fabricate():
    import random

    rng = random.Random(8)
    for _ in range(200):
        blob = bytes(rng.randrange(256) for _ in range(rng.randrange(64)))
        with pytest.raises(AvroError):
            avro_blocks(MAGIC + blob)


def test_non_ascii_codec_raises_named_error():
    """Corrupt metadata must stay inside the AvroError contract
    (review finding r8)."""
    schema = json.dumps({"type": "record", "name": "t",
                         "fields": []}).encode()
    meta = (
        write_long(2)
        + write_string("avro.schema")
        + write_long(len(schema)) + schema
        + write_string("avro.codec")
        + write_long(2) + b"\xff\xfe"
        + write_long(0)
    )
    from core_spark.functions.avro import avro_ocf_meta
    with pytest.raises(AvroError):
        avro_ocf_meta(MAGIC + meta + b"\x00" * 16)


# ----------------------------------------------- typed value decode
def test_typed_fixture_all_codecs_and_types_roundtrip():
    """Full-primitive decode across null/deflate/snappy: every field
    recomputed independently from the digest (the q_bits_avro
    oracle's arithmetic, here in python)."""
    import hashlib

    from core_spark.functions.avro import (
        _TYPED_FIELDS,
        avro_block_records,
        avro_blocks,
        avro_ocf_meta,
        build_avro_typed_fixture,
    )

    codecs = set()
    for t in "abcdefghij":
        d = hashlib.md5(t.encode()).hexdigest()
        raw = build_avro_typed_fixture(d)
        meta = avro_ocf_meta(raw)
        codecs.add(meta["codec"])
        base = int(d[3:5], 16)
        for blk in avro_blocks(raw):
            recs = avro_block_records(
                raw[blk["data_off"]: blk["data_off"] + blk["data_len"]],
                meta["codec"], _TYPED_FIELDS, blk["n_records"],
            )
            b = blk["block_idx"]
            for i, r in enumerate(recs):
                assert r["seq"] == 100 * b + i
                assert r["flag"] is ((base + i) % 2 == 0)
                assert r["ratio"] == (8 * base + 7 * i - 3 * b) / 32.0
                assert r["fval"] == float(i - b)
                assert r["note"] == (
                    None if (b + i) % 3 == 0 else f"{d[:6]}-{b}-{i}"
                )
                assert r["blob"] == bytes.fromhex(d) * (1 + i % 2)
                import datetime as _dt
                import decimal as _dec

                u = 13 * i - 3 * b + base - 200
                assert r["dec"] == _dec.Decimal(u).scaleb(-2)
                assert r["day"] == _dt.date(1970, 1, 1) + _dt.timedelta(
                    days=10 * base + 31 * i + b
                )
                assert r["ts"] == _dt.datetime(1970, 1, 1) + _dt.timedelta(
                    microseconds=((base % 50) * 86400 + 3661 * i + b)
                    * 1_000_000 + i
                )
    assert codecs == {"null", "deflate", "snappy"}


def test_snappy_block_crc_is_verified():
    import hashlib
    import struct

    import pytest as _pytest

    from core_spark.functions.avro import (
        _TYPED_FIELDS,
        AvroError,
        avro_block_records,
        avro_blocks,
        avro_ocf_meta,
        build_avro_typed_fixture,
    )

    # find a snappy-codec fixture
    for t in (f"doc{i}" for i in range(50)):
        d = hashlib.md5(t.encode()).hexdigest()
        raw = build_avro_typed_fixture(d)
        if avro_ocf_meta(raw)["codec"] == "snappy":
            break
    blk = avro_blocks(raw)[0]
    data = raw[blk["data_off"]: blk["data_off"] + blk["data_len"]]
    ok = avro_block_records(data, "snappy", _TYPED_FIELDS, blk["n_records"])
    assert len(ok) == blk["n_records"]
    # flip one CRC byte -> named error, never silent garbage
    bad = data[:-4] + struct.pack(
        ">I", struct.unpack(">I", data[-4:])[0] ^ 1
    )
    with _pytest.raises(AvroError, match="CRC32"):
        avro_block_records(bad, "snappy", _TYPED_FIELDS, blk["n_records"])
    # a short block can't even hold its CRC
    with _pytest.raises(AvroError, match="CRC32|short"):
        avro_block_records(b"abc", "snappy", _TYPED_FIELDS, 1)


def test_typed_corrupt_values_raise_named():
    import pytest as _pytest

    from core_spark.functions.avro import (
        AvroError,
        avro_block_records,
        write_long,
    )

    # boolean byte that is neither 0 nor 1
    with _pytest.raises(AvroError, match="boolean"):
        avro_block_records(b"\x02", "null", [("f", "boolean")], 1)
    # float/double running past EOF
    with _pytest.raises(AvroError, match="float"):
        avro_block_records(b"\x01\x02", "null", [("f", "float")], 1)
    with _pytest.raises(AvroError, match="double"):
        avro_block_records(b"\x01" * 6, "null", [("f", "double")], 1)
    # int that overflows 32 bits
    with _pytest.raises(AvroError, match="32 bits"):
        avro_block_records(
            write_long(1 << 40), "null", [("f", "int")], 1
        )
    # union branch index out of range
    with _pytest.raises(AvroError, match="union branch"):
        avro_block_records(
            write_long(5), "null", [("f", ["null", "string"])], 1
        )
    # nested complex types are scope-fenced, not guessed
    with _pytest.raises(AvroError, match="unsupported field type"):
        avro_block_records(b"", "null", [("f", "array")], 1)
    # unknown logical types are fenced too
    with _pytest.raises(AvroError, match="logical type"):
        avro_block_records(
            b"\x00", "null",
            [("f", {"type": "long", "logicalType": "duration"})], 1,
        )
    # decimal-over-fixed decodes as of r11: 2 bytes, scale 2
    got = avro_block_records(
        b"\x30\x39", "null",
        [("f", {"type": "fixed", "size": 2, "logicalType": "decimal",
                "scale": 2})], 1,
    )
    import decimal as _dec

    assert got == [{"f": _dec.Decimal("123.45")}]


def test_array_values_decode_all_block_forms():
    """Avro arrays: plain blocks, multiple blocks, the skippable
    negative-count+size form, empty arrays, nullable union items,
    and the array-of-arrays scope fence."""
    from core_spark.functions.avro import (
        AvroError,
        _read_value,
        write_long,
        write_string,
    )

    spec = {"type": "array", "items": "long"}
    # two blocks then terminator — readers must concatenate
    data = (
        write_long(2) + write_long(7) + write_long(-1)
        + write_long(1) + write_long(100)
        + write_long(0)
    )
    v, i = _read_value(data, 0, spec)
    assert v == [7, -1, 100] and i == len(data)
    # skippable form: negative count carries a byte size
    data = (
        write_long(-2) + write_long(99)
        + write_long(2) + write_long(4) + write_long(0)
    )
    v, i = _read_value(data, 0, spec)
    assert v == [2, 4] and i == len(data)
    # empty
    v, i = _read_value(write_long(0), 0, spec)
    assert v == []
    # nullable items through the union path
    nspec = {"type": "array", "items": ["null", "string"]}
    data = (
        write_long(3)
        + write_long(1) + write_string("a")
        + write_long(0)
        + write_long(1) + write_string("cc")
        + write_long(0)
    )
    v, i = _read_value(data, 0, nspec)
    assert v == ["a", None, "cc"]
    # truncated block raises, never hangs
    with pytest.raises(AvroError):
        _read_value(write_long(3) + write_long(1), 0, spec)
    # arrays of arrays decode (r11 lifted the one-level fence):
    # [[1, 2], []] — inner arrays are ordinary items
    aa = {"type": "array", "items": {"type": "array", "items": "long"}}
    data = (
        write_long(2)
        + (write_long(2) + write_long(1) + write_long(2) + write_long(0))
        + write_long(0)  # inner []
        + write_long(0)
    )
    v, i = _read_value(data, 0, aa)
    assert v == [[1, 2], []] and i == len(data)


def test_map_values_decode():
    """Avro maps: the array block shape with string keys — plain and
    skippable block forms, nullable union values, empties, and the
    nested values."""
    from core_spark.functions.avro import (
        AvroError,
        _read_value,
        write_long,
        write_string,
    )

    spec = {"type": "map", "values": "long"}
    data = (
        write_long(2)
        + write_string("a") + write_long(7)
        + write_string("b") + write_long(-3)
        + write_long(1)
        + write_string("c") + write_long(100)
        + write_long(0)
    )
    v, i = _read_value(data, 0, spec)
    assert v == {"a": 7, "b": -3, "c": 100} and i == len(data)
    v, i = _read_value(write_long(0), 0, spec)
    assert v == {}
    # skippable negative-count block
    data = (
        write_long(-1) + write_long(42)
        + write_string("k") + write_long(5)
        + write_long(0)
    )
    v, i = _read_value(data, 0, spec)
    assert v == {"k": 5}
    # nullable values through the union path
    nspec = {"type": "map", "values": ["null", "string"]}
    data = (
        write_long(2)
        + write_string("x") + write_long(1) + write_string("v")
        + write_string("y") + write_long(0)
        + write_long(0)
    )
    v, i = _read_value(data, 0, nspec)
    assert v == {"x": "v", "y": None}
    with pytest.raises(AvroError):
        _read_value(write_long(2) + write_string("a"), 0, spec)
    # maps of maps decode (r11 lifted the one-level fence)
    mm = {"type": "map", "values": {"type": "map", "values": "long"}}
    data = (
        write_long(1) + write_string("outer")
        + (write_long(1) + write_string("inner") + write_long(9)
           + write_long(0))
        + write_long(0)
    )
    v, i = _read_value(data, 0, mm)
    assert v == {"outer": {"inner": 9}} and i == len(data)


def test_nested_records_pin_against_java_avro_writer(spark, tmp_path):
    """Record-in-record, record-in-array, array-of-array and
    map-of-record pinned against the JAVA Avro encoder (the
    avro-1.12 jar on Spark's own classpath — a fully independent
    implementation, driven through its JsonDecoder so the Java
    library does all binary encoding), plus the record_path
    dotted-path convention."""
    import json

    from core_spark.functions.avro import (
        AvroError,
        avro_block_records,
        avro_blocks,
        avro_ocf_meta,
        record_path,
    )

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "meta", "type": ["null", {
                "type": "record", "name": "m", "fields": [
                    {"name": "x", "type": ["null", "long"]},
                    {"name": "tags", "type": {
                        "type": "array", "items": ["null", "string"]}},
                    {"name": "geo", "type": {
                        "type": "record", "name": "g", "fields": [
                            {"name": "lat", "type": "double"},
                            {"name": "lon", "type": "double"}]}},
                ]}]},
            {"name": "mat", "type": {
                "type": "array",
                "items": {"type": "array", "items": "long"}}},
            {"name": "by_key", "type": {
                "type": "map",
                "values": ["null", {
                    "type": "record", "name": "kv", "fields": [
                        {"name": "n", "type": "long"}]}]}},
        ],
    }
    rows_json = [
        {"id": 1,
         "meta": {"m": {"x": {"long": 7},
                        "tags": [{"string": "a"}, None, {"string": "bb"}],
                        "geo": {"lat": 1.5, "lon": -2.25}}},
         "mat": [[1, 2], [], [3]],
         "by_key": {"k1": {"kv": {"n": 9}}, "k2": None}},
        {"id": 2, "meta": None, "mat": [], "by_key": {}},
    ]
    want = [
        {"id": 1,
         "meta": {"x": 7, "tags": ["a", None, "bb"],
                  "geo": {"lat": 1.5, "lon": -2.25}},
         "mat": [[1, 2], [], [3]],
         "by_key": {"k1": {"n": 9}, "k2": None}},
        {"id": 2, "meta": None, "mat": [], "by_key": {}},
    ]

    jvm = spark._jvm
    jschema = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(schema))
    dw = jvm.org.apache.avro.generic.GenericDatumWriter(jschema)
    w = jvm.org.apache.avro.file.DataFileWriter(dw)
    path = str(tmp_path) + "/nested.avro"
    w.create(jschema, jvm.java.io.File(path))
    reader = jvm.org.apache.avro.generic.GenericDatumReader(jschema)
    fac = jvm.org.apache.avro.io.DecoderFactory.get()
    for r in rows_json:
        w.append(reader.read(None, fac.jsonDecoder(jschema, json.dumps(r))))
    w.close()

    raw = open(path, "rb").read()
    meta = avro_ocf_meta(raw)
    fields = [(f["name"], f["type"]) for f in meta["schema"]["fields"]]
    got = []
    for b in avro_blocks(raw):
        got.extend(
            avro_block_records(
                raw[b["data_off"] : b["data_off"] + b["data_len"]],
                meta["codec"],
                fields,
                b["n_records"],
            )
        )
    assert got == want

    # dotted paths flatten nulls like the parquet/ORC struct readers
    assert record_path(got[0], "meta.geo.lat") == 1.5
    assert record_path(got[0], "meta.x") == 7
    assert record_path(got[1], "meta.geo.lat") is None  # null meta
    with pytest.raises(AvroError, match="no field"):
        record_path(got[0], "meta.nope")
    with pytest.raises(AvroError, match="non-record"):
        record_path(got[0], "id.x")


def test_nested_fuzz_against_java_avro_writer(spark, tmp_path):
    """Deterministic fuzz: random nested rows (nullable record,
    ragged array-of-array, map of nullable records) through the Java
    encoder across null and deflate codecs — every shape decodes to
    the JSON the Java JsonDecoder consumed."""
    import json
    import random

    from core_spark.functions.avro import (
        avro_block_records,
        avro_blocks,
        avro_ocf_meta,
    )

    schema = {
        "type": "record", "name": "r", "fields": [
            {"name": "id", "type": "long"},
            {"name": "meta", "type": ["null", {
                "type": "record", "name": "m", "fields": [
                    {"name": "x", "type": ["null", "long"]},
                    {"name": "tags", "type": {
                        "type": "array", "items": ["null", "string"]}}]}]},
            {"name": "mat", "type": {
                "type": "array",
                "items": {"type": "array", "items": "long"}}},
        ],
    }
    rng = random.Random(0xAE0)
    jvm = spark._jvm
    jschema = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(schema))
    fac = jvm.org.apache.avro.io.DecoderFactory.get()
    reader = jvm.org.apache.avro.generic.GenericDatumReader(jschema)
    for codec in ("null", "deflate"):
        rows_json, want = [], []
        for k in range(60):
            x = None if rng.random() < 0.3 else rng.randrange(-9999, 9999)
            tags = [
                None if rng.random() < 0.2 else f"t{rng.randrange(99)}"
                for _ in range(rng.randrange(0, 4))
            ]
            meta_null = rng.random() < 0.25
            mat = [
                [rng.randrange(100) for _ in range(rng.randrange(0, 3))]
                for _ in range(rng.randrange(0, 3))
            ]
            rows_json.append({
                "id": k,
                "meta": None if meta_null else {"m": {
                    "x": None if x is None else {"long": x},
                    "tags": [
                        None if t is None else {"string": t} for t in tags
                    ]}},
                "mat": mat,
            })
            want.append({
                "id": k,
                "meta": None if meta_null else {"x": x, "tags": tags},
                "mat": mat,
            })
        dw = jvm.org.apache.avro.generic.GenericDatumWriter(jschema)
        w = jvm.org.apache.avro.file.DataFileWriter(dw)
        if codec == "deflate":
            w.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
        path = str(tmp_path) + f"/fuzz-{codec}.avro"
        w.create(jschema, jvm.java.io.File(path))
        for r in rows_json:
            w.append(
                reader.read(None, fac.jsonDecoder(jschema, json.dumps(r)))
            )
        w.close()
        raw = open(path, "rb").read()
        meta = avro_ocf_meta(raw)
        assert meta["codec"] == codec
        fields = [(f["name"], f["type"]) for f in meta["schema"]["fields"]]
        got = []
        for b in avro_blocks(raw):
            got.extend(
                avro_block_records(
                    raw[b["data_off"] : b["data_off"] + b["data_len"]],
                    meta["codec"], fields, b["n_records"],
                )
            )
        assert got == want, codec


def test_enum_fixed_and_decimal_over_fixed_pin_java(spark, tmp_path):
    """Enums (symbol strings), fixed (raw bytes) and decimal-over-
    fixed pinned against the Java Avro encoder (fixed values ride
    the Avro-JSON latin-1 convention into the JsonDecoder)."""
    import json
    from decimal import Decimal

    from core_spark.functions.avro import (
        AvroError,
        _read_value,
        avro_block_records,
        avro_blocks,
        avro_ocf_meta,
        write_long,
    )

    schema = {
        "type": "record", "name": "r", "fields": [
            {"name": "color", "type": {
                "type": "enum", "name": "c",
                "symbols": ["RED", "GREEN", "BLUE"]}},
            {"name": "mac", "type": {
                "type": "fixed", "name": "m6", "size": 6}},
            {"name": "price", "type": {
                "type": "fixed", "name": "d4", "size": 4,
                "logicalType": "decimal", "precision": 9, "scale": 2}},
        ],
    }
    mac0 = bytes([0, 1, 2, 3, 4, 0xFF])
    price0 = (12345).to_bytes(4, "big")           # 123.45
    mac1 = b"\xaa" * 6
    price1 = b"\xff" * 4                          # -0.01
    rows_json = [
        {"color": "GREEN",
         "mac": mac0.decode("latin-1"),
         "price": price0.decode("latin-1")},
        {"color": "RED",
         "mac": mac1.decode("latin-1"),
         "price": price1.decode("latin-1")},
    ]
    jvm = spark._jvm
    jschema = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(schema))
    dw = jvm.org.apache.avro.generic.GenericDatumWriter(jschema)
    w = jvm.org.apache.avro.file.DataFileWriter(dw)
    path = str(tmp_path) + "/ef.avro"
    w.create(jschema, jvm.java.io.File(path))
    reader = jvm.org.apache.avro.generic.GenericDatumReader(jschema)
    fac = jvm.org.apache.avro.io.DecoderFactory.get()
    for r in rows_json:
        w.append(reader.read(None, fac.jsonDecoder(jschema, json.dumps(r))))
    w.close()
    raw = open(path, "rb").read()
    meta = avro_ocf_meta(raw)
    fields = [(f["name"], f["type"]) for f in meta["schema"]["fields"]]
    got = []
    for b in avro_blocks(raw):
        got.extend(
            avro_block_records(
                raw[b["data_off"] : b["data_off"] + b["data_len"]],
                meta["codec"], fields, b["n_records"],
            )
        )
    assert got == [
        {"color": "GREEN", "mac": mac0, "price": Decimal("123.45")},
        {"color": "RED", "mac": mac1, "price": Decimal("-0.01")},
    ]

    # corrupt enum index raises the named error
    spec = {"type": "enum", "name": "e", "symbols": ["A"]}
    with pytest.raises(AvroError, match="out of range"):
        _read_value(write_long(5), 0, spec)


def test_remaining_common_logical_types_pin_java(spark, tmp_path):
    """timestamp-millis, time-micros/millis and uuid (the remaining
    COMMON logical types) decode — pinned against the Java encoder;
    truly exotic ones (duration…) still raise by name."""
    import datetime as dt
    import json

    from core_spark.functions.avro import (
        avro_block_records,
        avro_blocks,
        avro_ocf_meta,
    )

    schema = {
        "type": "record", "name": "r", "fields": [
            {"name": "tsm", "type": {
                "type": "long", "logicalType": "timestamp-millis"}},
            {"name": "tus", "type": {
                "type": "long", "logicalType": "time-micros"}},
            {"name": "tms", "type": {
                "type": "int", "logicalType": "time-millis"}},
            {"name": "u", "type": {
                "type": "string", "logicalType": "uuid"}},
        ],
    }
    rows_json = [
        {"tsm": 1577882096789, "tus": 45296789123, "tms": 45296789,
         "u": "123e4567-e89b-12d3-a456-426614174000"},
        {"tsm": -1, "tus": 0, "tms": 0,
         "u": "00000000-0000-0000-0000-000000000000"},
    ]
    jvm = spark._jvm
    jschema = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(schema))
    dw = jvm.org.apache.avro.generic.GenericDatumWriter(jschema)
    w = jvm.org.apache.avro.file.DataFileWriter(dw)
    path = str(tmp_path) + "/lt.avro"
    w.create(jschema, jvm.java.io.File(path))
    reader = jvm.org.apache.avro.generic.GenericDatumReader(jschema)
    fac = jvm.org.apache.avro.io.DecoderFactory.get()
    for r in rows_json:
        w.append(reader.read(None, fac.jsonDecoder(jschema, json.dumps(r))))
    w.close()
    raw = open(path, "rb").read()
    meta = avro_ocf_meta(raw)
    fields = [(f["name"], f["type"]) for f in meta["schema"]["fields"]]
    got = []
    for b in avro_blocks(raw):
        got.extend(avro_block_records(
            raw[b["data_off"] : b["data_off"] + b["data_len"]],
            meta["codec"], fields, b["n_records"]))
    assert got[0]["tsm"] == dt.datetime(2020, 1, 1, 12, 34, 56, 789000)
    assert got[0]["tus"] == dt.time(12, 34, 56, 789123)
    assert got[0]["tms"] == dt.time(12, 34, 56, 789000)
    assert got[0]["u"] == "123e4567-e89b-12d3-a456-426614174000"
    assert got[1]["tsm"] == dt.datetime(1969, 12, 31, 23, 59, 59, 999000)
    assert got[1]["tus"] == dt.time(0, 0)


def test_named_type_references_resolve(spark, tmp_path):
    """A schema reusing a defined record/enum/fixed by NAME (the
    ``["null", "c"]`` form) decodes — references resolve through
    collect_named_types, pinned against the Java encoder."""
    import json

    from core_spark.functions.avro import (
        avro_block_records,
        avro_blocks,
        avro_ocf_meta,
    )

    schema = {
        "type": "record", "name": "r", "namespace": "ns", "fields": [
            {"name": "a", "type": {
                "type": "enum", "name": "col",
                "symbols": ["RED", "BLUE"]}},
            {"name": "b", "type": ["null", "col"]},     # bare name
            {"name": "c", "type": ["null", "ns.col"]},  # fullname
            {"name": "pt", "type": {
                "type": "record", "name": "p", "fields": [
                    {"name": "x", "type": "long"}]}},
            {"name": "pts", "type": {
                "type": "array", "items": "p"}},        # record by name
        ],
    }
    rows_json = [
        {"a": "RED", "b": {"ns.col": "BLUE"}, "c": None,
         "pt": {"x": 1}, "pts": [{"x": 2}, {"x": 3}]},
        {"a": "BLUE", "b": None, "c": {"ns.col": "RED"},
         "pt": {"x": 9}, "pts": []},
    ]
    jvm = spark._jvm
    jschema = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(schema))
    dw = jvm.org.apache.avro.generic.GenericDatumWriter(jschema)
    w = jvm.org.apache.avro.file.DataFileWriter(dw)
    path = str(tmp_path) + "/named.avro"
    w.create(jschema, jvm.java.io.File(path))
    reader = jvm.org.apache.avro.generic.GenericDatumReader(jschema)
    fac = jvm.org.apache.avro.io.DecoderFactory.get()
    for r in rows_json:
        w.append(reader.read(None, fac.jsonDecoder(jschema, json.dumps(r))))
    w.close()
    raw = open(path, "rb").read()
    meta = avro_ocf_meta(raw)
    fields = [(f["name"], f["type"]) for f in meta["schema"]["fields"]]
    got = []
    for b in avro_blocks(raw):
        got.extend(avro_block_records(
            raw[b["data_off"] : b["data_off"] + b["data_len"]],
            meta["codec"], fields, b["n_records"]))
    assert got == [
        {"a": "RED", "b": "BLUE", "c": None,
         "pt": {"x": 1}, "pts": [{"x": 2}, {"x": 3}]},
        {"a": "BLUE", "b": None, "c": "RED",
         "pt": {"x": 9}, "pts": []},
    ]


def test_r12_logical_types_pin_java(spark, tmp_path):
    """local-timestamp-millis/micros over long, uuid over fixed[16],
    and duration over fixed[12] pinned against the Java Avro encoder
    (the r12 fence lift — verdict ask #4). Fixed values ride the
    Avro-JSON latin-1 convention into the JsonDecoder; the long
    logical types are plain JSON longs. Also: the scope fence still
    names genuinely unknown logical types, and wrong underlying
    shapes/sizes raise."""
    import datetime
    import json
    import uuid as _uuid

    from core_spark.functions.avro import (
        AvroError,
        _read_value,
        avro_block_records,
        avro_blocks,
        avro_ocf_meta,
        write_long,
    )

    schema = {
        "type": "record", "name": "r", "fields": [
            {"name": "lts_us", "type": {
                "type": "long", "logicalType": "local-timestamp-micros"}},
            {"name": "lts_ms", "type": {
                "type": "long", "logicalType": "local-timestamp-millis"}},
            {"name": "uid", "type": {
                "type": "fixed", "name": "u16", "size": 16,
                "logicalType": "uuid"}},
            {"name": "dur", "type": {
                "type": "fixed", "name": "d12", "size": 12,
                "logicalType": "duration"}},
        ],
    }
    uid0 = _uuid.UUID("0102030405060708090a0b0c0d0e0f10")
    # duration fixed[12]: three LITTLE-endian uint32 (months, days, ms)
    dur0 = (14).to_bytes(4, "little") + (3).to_bytes(4, "little") + (
        90_061_001
    ).to_bytes(4, "little")
    uid1 = _uuid.UUID(bytes=b"\xff" * 16)
    dur1 = b"\x00" * 12
    rows_json = [
        # 2021-03-04T05:06:07.123456 wall-clock, pre-1970 millis
        {"lts_us": 1_614_834_367_123_456, "lts_ms": -86_400_000 + 250,
         "uid": uid0.bytes.decode("latin-1"),
         "dur": dur0.decode("latin-1")},
        {"lts_us": -1, "lts_ms": 0,
         "uid": uid1.bytes.decode("latin-1"),
         "dur": dur1.decode("latin-1")},
    ]
    want = [
        {"lts_us": datetime.datetime(2021, 3, 4, 5, 6, 7, 123456),
         "lts_ms": datetime.datetime(1969, 12, 31, 0, 0, 0, 250_000),
         "uid": str(uid0),
         "dur": {"months": 14, "days": 3, "millis": 90_061_001}},
        {"lts_us": datetime.datetime(1969, 12, 31, 23, 59, 59, 999_999),
         "lts_ms": datetime.datetime(1970, 1, 1),
         "uid": str(uid1),
         "dur": {"months": 0, "days": 0, "millis": 0}},
    ]
    jvm = spark._jvm
    jschema = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(schema))
    dw = jvm.org.apache.avro.generic.GenericDatumWriter(jschema)
    w = jvm.org.apache.avro.file.DataFileWriter(dw)
    path = str(tmp_path) + "/r12lt.avro"
    w.create(jschema, jvm.java.io.File(path))
    reader = jvm.org.apache.avro.generic.GenericDatumReader(jschema)
    fac = jvm.org.apache.avro.io.DecoderFactory.get()
    for r in rows_json:
        w.append(reader.read(None, fac.jsonDecoder(jschema, json.dumps(r))))
    w.close()
    raw = open(path, "rb").read()
    meta = avro_ocf_meta(raw)
    fields = [(f["name"], f["type"]) for f in meta["schema"]["fields"]]
    got = []
    for b in avro_blocks(raw):
        got.extend(
            avro_block_records(
                raw[b["data_off"] : b["data_off"] + b["data_len"]],
                meta["codec"], fields, b["n_records"],
            )
        )
    assert got == want

    # fences: wrong underlying shape / size / unknown type still raise
    with pytest.raises(AvroError, match="must annotate long"):
        _read_value(write_long(1), 0, {
            "type": "int", "logicalType": "local-timestamp-micros"})
    with pytest.raises(AvroError, match="size 16"):
        _read_value(b"\x00" * 8, 0, {
            "type": "fixed", "name": "u8", "size": 8,
            "logicalType": "uuid"})
    with pytest.raises(AvroError, match="size 12"):
        _read_value(b"\x00" * 16, 0, {
            "type": "fixed", "name": "d16", "size": 16,
            "logicalType": "duration"})
    with pytest.raises(AvroError, match="unsupported logical type"):
        _read_value(write_long(1), 0, {
            "type": "long", "logicalType": "timestamp-nanos-custom"})
