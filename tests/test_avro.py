"""Avro OCF codec (operators/avro.py): zigzag varints, nullable unions,
deflate blocks, container framing, honest gates for complex types."""

from __future__ import annotations

import pytest

from native_sql_engine_spark.operators.avro import (
    _zigzag_decode,
    _zigzag_encode,
    read_avro,
    write_avro,
)

SCHEMA = {
    "type": "record",
    "name": "r",
    "fields": [
        {"name": "k", "type": "long"},
        {"name": "s", "type": "string"},
        {"name": "p", "type": "double"},
        {"name": "f32", "type": "float"},
        {"name": "flag", "type": "boolean"},
        {"name": "opt", "type": ["null", "long"]},
        {"name": "raw", "type": "bytes"},
    ],
}


def _rows(n):
    import struct as _s

    out = []
    for i in range(-5, n - 5):
        out.append(
            {
                "k": i * 123456789,
                "s": f"row-{i}-é中",
                "p": i * 1.5,
                "f32": _s.unpack("<f", _s.pack("<f", i * 0.25))[0],
                "flag": i % 2 == 0,
                "opt": None if i % 3 == 0 else i * 7,
                "raw": bytes([i % 256, 255, 0]),
            }
        )
    return out


def test_zigzag_pinned_values():
    """Spec check values: 0→00, -1→01, 1→02, -2→03, 2147483647→fe ff ff ff 0f."""
    assert _zigzag_encode(0) == b"\x00"
    assert _zigzag_encode(-1) == b"\x01"
    assert _zigzag_encode(1) == b"\x02"
    assert _zigzag_encode(-2) == b"\x03"
    assert _zigzag_encode(2147483647) == b"\xfe\xff\xff\xff\x0f"
    for v in (0, -1, 1, 63, -64, 64, 2**40, -(2**40), 2**62):
        dec, _ = _zigzag_decode(_zigzag_encode(v), 0)
        assert dec == v


@pytest.mark.parametrize("codec", ["null", "deflate", "snappy", "bzip2", "xz", "zstandard"])
def test_roundtrip_multiblock(codec):
    rows = _rows(2500)
    buf = write_avro(rows, SCHEMA, codec=codec, block_rows=700)
    schema, out = read_avro(buf)
    assert schema == SCHEMA
    assert out == rows


def test_errors_and_gates():
    with pytest.raises(ValueError, match="magic"):
        read_avro(b"PAR1....")
    buf = write_avro(_rows(10), SCHEMA)
    with pytest.raises(ValueError, match="overruns|truncated"):
        read_avro(buf[:-12])
    # corrupt the sync marker of the data block
    bad = bytearray(buf)
    bad[-1] ^= 0xFF
    with pytest.raises(ValueError, match="sync"):
        read_avro(bytes(bad))
    # unresolved named-type references stay gated
    with pytest.raises(NotImplementedError, match="unresolved|not supported"):
        write_avro([{"m": 1}], {"type": "record", "name": "x",
                                "fields": [{"name": "m", "type": "NoSuchType"}]})
    # all six spec codecs landed (round 8); non-spec names stay rejected
    with pytest.raises(ValueError, match="codec"):
        write_avro([], SCHEMA, codec="lzo")


def test_nested_types_roundtrip():
    """Full type-system round-trip (round 8): nested records, arrays of
    records, maps, enums, fixed, general unions, recursive named types —
    the shapes Iceberg manifests and Kafka archives actually contain."""
    schema = {
        "type": "record",
        "name": "doc",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {"name": "props", "type": {"type": "map", "values": ["null", "long"]}},
            {"name": "color", "type": {"type": "enum", "name": "Color",
                                       "symbols": ["RED", "GREEN", "BLUE"]}},
            {"name": "digest", "type": {"type": "fixed", "name": "Md5", "size": 4}},
            {
                "name": "points",
                "type": {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "pt",
                        "fields": [
                            {"name": "x", "type": "double"},
                            {"name": "y", "type": ["null", "double"]},
                        ],
                    },
                },
            },
            {"name": "alt", "type": ["null", "string", "long"]},
            {
                "name": "next",
                "type": ["null", {
                    "type": "record",
                    "name": "node",
                    "fields": [
                        {"name": "v", "type": "long"},
                        {"name": "next", "type": ["null", "node"]},  # recursive
                    ],
                }],
            },
        ],
    }
    rows = [
        {
            "id": 1,
            "tags": ["a", "b", "c"],
            "props": {"k1": 7, "k2": None},
            "color": "GREEN",
            "digest": b"\x01\x02\x03\x04",
            "points": [{"x": 1.5, "y": 2.5}, {"x": -1.0, "y": None}],
            "alt": "s-branch",
            "next": {"v": 1, "next": {"v": 2, "next": None}},
        },
        {
            "id": 2,
            "tags": [],
            "props": {},
            "color": "RED",
            "digest": b"\xff\xfe\xfd\xfc",
            "points": [],
            "alt": 42,
            "next": None,
        },
    ]
    for codec in ("null", "deflate", "zstandard"):
        got_schema, got = read_avro(write_avro(rows, schema, codec=codec))
        assert got == rows, codec


def test_logical_types_roundtrip():
    """Avro logical types: typed views over the primitive encodings —
    date, timestamp-millis/micros (incl. pre-1970 and null-union), decimal
    over bytes AND fixed, uuid, time-micros.  Unknown logical names fall
    back to the raw value per the spec."""
    import datetime as dt
    import decimal
    import uuid

    schema = {"type": "record", "name": "lt", "fields": [
        {"name": "d", "type": {"type": "int", "logicalType": "date"}},
        {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
        {"name": "tsm", "type": ["null", {"type": "long", "logicalType": "timestamp-millis"}]},
        {"name": "dec", "type": {"type": "bytes", "logicalType": "decimal",
                                 "precision": 20, "scale": 4}},
        {"name": "decf", "type": {"type": "fixed", "name": "d16", "size": 8,
                                  "logicalType": "decimal", "precision": 18, "scale": 2}},
        {"name": "u", "type": {"type": "string", "logicalType": "uuid"}},
        {"name": "t", "type": {"type": "long", "logicalType": "time-micros"}},
        {"name": "raw", "type": {"type": "long", "logicalType": "no-such-logical"}},
    ]}
    rows = [
        {"d": dt.date(2024, 2, 29), "ts": dt.datetime(2024, 1, 1, 12, 34, 56, 789012),
         "tsm": dt.datetime(1969, 12, 31, 23, 59, 59),
         "dec": decimal.Decimal("-1234567890.1234"), "decf": decimal.Decimal("99.25"),
         "u": uuid.UUID("12345678-1234-5678-1234-567812345678"),
         "t": dt.time(23, 59, 59, 123456), "raw": 42},
        {"d": dt.date(1950, 6, 1), "ts": dt.datetime(1900, 1, 1),
         "tsm": None, "dec": decimal.Decimal("0.0001"),
         "decf": decimal.Decimal("-0.01"), "u": uuid.UUID(int=7),
         "t": dt.time(0, 0, 0), "raw": -1},
    ]
    for codec in ("null", "deflate", "zstandard"):
        _, back = read_avro(write_avro(rows, schema, codec=codec))
        assert back == rows, codec


def test_negative_block_count_arrays():
    """Writers may emit array/map blocks with NEGATIVE counts followed by
    a byte-size long (for skippability); the decoder must honor both."""
    from native_sql_engine_spark.operators.avro import (
        _decode_value,
        _encode_value,
        _zigzag_encode as zz,
    )

    typ = {"type": "array", "items": "long"}
    items = [5, -7, 900]
    body = b"".join(_encode_value(x, "long") for x in items)
    framed = zz(-3) + zz(len(body)) + body + zz(0)
    got, pos = _decode_value(framed, 0, typ)
    assert got == items and pos == len(framed)
    # two blocks concatenated
    framed2 = zz(2) + b"".join(_encode_value(x, "long") for x in items[:2]) + \
        zz(-1) + zz(len(_encode_value(900, "long"))) + _encode_value(900, "long") + zz(0)
    got2, _ = _decode_value(framed2, 0, typ)
    assert got2 == items


def test_empty_file_and_empty_strings():
    buf = write_avro([], SCHEMA)
    _, out = read_avro(buf)
    assert out == []
    rows = [{"k": 0, "s": "", "p": 0.0, "f32": 0.0, "flag": False, "opt": None, "raw": b""}]
    _, out = read_avro(write_avro(rows, SCHEMA, codec="deflate"))
    assert out == rows


def test_union_branch_index_is_positional():
    """Per the Avro spec the union branch index is the union *position*:
    ["long","null"] encodes null as branch 1 (and values as branch 0),
    the reverse of ["null","long"].  A codec that hardwires 0=null writes
    files a compliant reader mis-decodes."""
    from native_sql_engine_spark.operators.avro import _field_type, _zigzag_encode as zz

    assert _field_type(["null", "long"]) == ("long", 0)
    assert _field_type(["long", "null"]) == ("long", 1)
    assert _field_type("long") == ("long", None)

    schema = {"type": "record", "name": "r",
              "fields": [{"name": "v", "type": ["long", "null"]}]}
    rows = [{"v": 7}, {"v": None}, {"v": -3}]
    buf = write_avro(rows, schema, codec="null")
    _, out = read_avro(buf)
    assert out == rows
    # wire check: the (uncompressed) block body must be exactly
    # branch0+7, branch1, branch0+-3 — positional branches on the wire
    body = zz(0) + zz(7) + zz(1) + zz(0) + zz(-3)
    assert body in buf
    # and the mirrored union uses the mirrored branches
    schema2 = {"type": "record", "name": "r",
               "fields": [{"name": "v", "type": ["null", "long"]}]}
    buf2 = write_avro(rows, schema2, codec="null")
    _, out2 = read_avro(buf2)
    assert out2 == rows
    body2 = zz(1) + zz(7) + zz(0) + zz(1) + zz(-3)
    assert body2 in buf2


def test_snappy_blocks_real_encoder_and_crc():
    """Snappy blocks written by pyarrow's libsnappy decode back, a block
    re-encoded by hand with the same library and a recomputed CRC reads,
    and a flipped CRC fails."""
    import zlib

    import pyarrow as pa

    from native_sql_engine_spark.operators.avro import _zigzag_encode as zz

    rows = _rows(300)
    buf = bytearray(write_avro(rows, SCHEMA, codec="snappy", block_rows=100))
    _, out = read_avro(bytes(buf))
    assert out == rows
    # rebuild one file whose block data is REAL-encoder snappy
    one = write_avro(rows[:50], SCHEMA, codec="snappy", block_rows=50)
    # locate the single block: header ends after meta map + sync
    hdr_end = one.index(b"\x00", 4)  # end-of-map marker
    sync = one[hdr_end + 1 : hdr_end + 17]
    # re-encode the uncompressed body with the real encoder
    import native_sql_engine_spark.operators.avro as A

    body = bytearray()
    fields = [(f["name"], *A._field_type(f["type"])) for f in SCHEMA["fields"]]
    for row in rows[:50]:
        for name, typ, nb in fields:
            v = row.get(name)
            if nb is not None:
                if v is None:
                    body += zz(nb)
                    continue
                body += zz(1 - nb)
            body += A._encode_value(v, typ)
    real = pa.Codec("snappy").compress(bytes(body), asbytes=True)
    data = real + (zlib.crc32(bytes(body)) & 0xFFFFFFFF).to_bytes(4, "big")
    rebuilt = one[: hdr_end + 17] + zz(50) + zz(len(data)) + data + sync
    _, out2 = read_avro(rebuilt)
    assert out2 == rows[:50]
    # flipped CRC byte -> positioned ValueError
    bad = bytearray(rebuilt)
    bad[-17] ^= 0xFF  # last CRC byte sits just before the trailing sync
    with pytest.raises(ValueError, match="CRC|snappy"):
        read_avro(bytes(bad))


def test_zstandard_blocks_real_encoder():
    """Zstandard blocks hand-encoded at level 9 decode back, and the
    blocks write_avro emits are raw frames any zstd decoder reads (spec:
    no CRC suffix)."""
    import pyarrow as pa

    from native_sql_engine_spark.operators.avro import _zigzag_encode as zz
    import native_sql_engine_spark.operators.avro as A

    rows = _rows(120)
    one = write_avro(rows, SCHEMA, codec="zstandard", block_rows=120)
    hdr_end = one.index(b"\x00", 4)
    sync = one[hdr_end + 1 : hdr_end + 17]
    body = bytearray()
    fields = [(f["name"], *A._field_type(f["type"])) for f in SCHEMA["fields"]]
    for row in rows:
        for name, typ, nb in fields:
            v = row.get(name)
            if nb is not None:
                if v is None:
                    body += zz(nb)
                    continue
                body += zz(1 - nb)
            body += A._encode_value(v, typ)
    real = pa.Codec("zstd", compression_level=9).compress(bytes(body), asbytes=True)
    rebuilt = one[: hdr_end + 17] + zz(120) + zz(len(real)) + real + sync
    _, out = read_avro(rebuilt)
    assert out == rows
    # and the block we write is a plain zstd frame
    _, pos = A._zigzag_decode(one, hdr_end + 17)  # row count
    size, pos = A._zigzag_decode(one, pos)
    block = one[pos : pos + size]
    assert pa.Codec("zstd").decompress(
        block, decompressed_size=len(body), asbytes=True
    ) == bytes(body)
