"""From-scratch Avro Object Container File (OCF) codec.

Implements the Avro 1.x spec subset that covers tabular interchange:
record schemas over null / boolean / int / long / float / double /
string / bytes (including ["null", T] unions — how nullable columns are
spelled in Avro), zigzag-varint integers, little-endian IEEE floats,
length-prefixed strings, container framing (Obj\\x01 magic, metadata map
with the embedded JSON schema, 16-byte sync markers) and ALL six spec
codecs: null, deflate (raw DEFLATE), snappy (each block carries the
spec's 4-byte big-endian CRC32 of the uncompressed data), bzip2, xz and
zstandard (raw frames).  Blocks decode through operators/codec.py; the
writer encodes with the stdlib and pyarrow's native codecs.

Reference parity: the reference's arrow-data-source module reads
columnar interchange formats next to parquet/csv; here the container
decode itself is first-class and feeds Arrow batches.

The full Avro type system is supported recursively (round 8): records
nested to any depth (including self-referential named types), arrays and
maps (multi-block framing with negative-count byte-size prefixes),
enums, fixed, and general positional unions — the shapes real OCF
estates (Kafka archives, Iceberg manifests) actually contain.

Malformed payloads raise positioned ``ValueError`` (shared codec-layer
contract); unresolved type names raise ``NotImplementedError``.
"""

from __future__ import annotations

import json
import struct
import zlib

import pyarrow as pa

from .codec import decompress

__all__ = ["write_avro", "read_avro", "encode_datum", "decode_datum"]


def encode_datum(value, schema: dict) -> bytes:
    """Avro BINARY-encode one datum against ``schema`` (no OCF framing) —
    the wire form used inside container formats like Hudi log data blocks."""
    return _encode_value(value, schema, {})


def decode_datum(buf: bytes, schema: dict, pos: int = 0):
    """Decode one binary-encoded datum; returns ``(value, end_pos)``."""
    return _decode_value(buf, pos, schema, {})

_MAGIC = b"Obj\x01"
_SYNC = bytes(range(16))  # deterministic sync marker (spec: any 16 bytes)


# -- primitive codecs ----------------------------------------------------------


def _zigzag_encode(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag_decode(buf: bytes, pos: int) -> tuple[int, int]:
    shift = u = 0
    while True:
        if pos >= len(buf):
            raise ValueError(f"truncated varint at byte {pos}")
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 70:
            raise ValueError(f"varint too long at byte {pos}")
    return (u >> 1) ^ -(u & 1), pos


_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double", "string", "bytes"}

_EPOCH_DATE = None  # lazy datetime imports (hot path stays import-free)


def _logical_decode(raw, logical: str, typ: dict):
    """Avro logical types (spec §Logical Types): typed views over the
    primitive encodings.  Unknown logical names fall back to the raw
    underlying value, exactly as the spec instructs readers to do."""
    import datetime as dt
    import decimal
    import uuid as _uuid

    if raw is None:
        return None
    if logical == "decimal":
        unscaled = int.from_bytes(bytes(raw), "big", signed=True)
        return decimal.Decimal(unscaled).scaleb(-typ.get("scale", 0))
    if logical == "uuid":
        return _uuid.UUID(str(raw))
    if logical == "date":
        return dt.date(1970, 1, 1) + dt.timedelta(days=raw)
    if logical == "time-millis":
        return (dt.datetime.min + dt.timedelta(milliseconds=raw)).time()
    if logical == "time-micros":
        return (dt.datetime.min + dt.timedelta(microseconds=raw)).time()
    if logical in ("timestamp-millis", "local-timestamp-millis"):
        return dt.datetime(1970, 1, 1) + dt.timedelta(milliseconds=raw)
    if logical in ("timestamp-micros", "local-timestamp-micros"):
        return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=raw)
    return raw


def _logical_encode(v, kind: str, logical: str, typ: dict):
    """Inverse of :func:`_logical_decode`; raw-compatible values pass
    through so callers may hand either typed or primitive values."""
    import datetime as dt
    import decimal
    import uuid as _uuid

    if v is None:
        return None
    if logical == "decimal" and isinstance(v, decimal.Decimal):
        unscaled = int(v.scaleb(typ.get("scale", 0)))
        size = typ.get("size") or max(1, (unscaled.bit_length() + 8) // 8)
        return unscaled.to_bytes(size, "big", signed=True)
    if logical == "uuid" and isinstance(v, _uuid.UUID):
        return str(v)
    if logical == "date" and isinstance(v, dt.date) and not isinstance(v, dt.datetime):
        return (v - dt.date(1970, 1, 1)).days
    if logical in ("time-millis", "time-micros") and isinstance(v, dt.time):
        us = ((v.hour * 60 + v.minute) * 60 + v.second) * 10**6 + v.microsecond
        return us // 1000 if logical == "time-millis" else us
    if logical and logical.endswith(("timestamp-millis", "timestamp-micros")) and isinstance(v, dt.datetime):
        delta = v - dt.datetime(1970, 1, 1)
        us = delta // dt.timedelta(microseconds=1)
        return us // 1000 if logical.endswith("millis") else us
    return v


def _register_named(t, named: dict) -> None:
    """Pre-register named types (record/enum/fixed) so later references —
    including recursive ones — resolve."""
    if isinstance(t, dict):
        kind = t.get("type")
        name = t.get("name")
        if kind in ("record", "enum", "fixed") and name:
            named[name] = t
            ns = t.get("namespace")
            if ns:
                named[f"{ns}.{name}"] = t
        if kind == "record":
            for f in t.get("fields", []):
                _register_named(f.get("type"), named)
        elif kind == "array":
            _register_named(t.get("items"), named)
        elif kind == "map":
            _register_named(t.get("values"), named)
    elif isinstance(t, list):
        for b in t:
            _register_named(b, named)


def _union_branch_for(v, branches: list, named: dict) -> int:
    """Pick the union branch for a python value (write side).  Exact for
    the null/non-null unions fixtures use; type-directed otherwise."""
    if v is None and "null" in branches:
        return branches.index("null")
    non_null = [i for i, b in enumerate(branches) if b != "null"]
    if len(non_null) == 1:
        return non_null[0]

    def kind_of(b):
        b = named.get(b, b) if isinstance(b, str) else b
        if isinstance(b, dict):
            return b.get("type")
        return b

    prefs = {
        bool: ("boolean",),
        int: ("long", "int"),
        float: ("double", "float"),
        str: ("string", "enum"),
        bytes: ("bytes", "fixed"),
        dict: ("record", "map"),
        list: ("array",),
    }
    for want in prefs.get(type(v), ()):
        for i in non_null:
            if kind_of(branches[i]) == want:
                return i
    raise ValueError(f"cannot pick a union branch for {type(v).__name__} in {branches}")


def _encode_value(v, typ, named: dict | None = None) -> bytes:
    named = named if named is not None else {}
    if isinstance(typ, str) and typ not in _PRIMITIVES and typ in named:
        typ = named[typ]
    if isinstance(typ, list):  # union: positional branch index + value
        idx = _union_branch_for(v, typ, named)
        return _zigzag_encode(idx) + _encode_value(v, typ[idx], named)
    if isinstance(typ, dict):
        kind = typ.get("type")
        logical = typ.get("logicalType")
        if logical:
            v = _logical_encode(v, kind, logical, typ)
            if kind in _PRIMITIVES:
                return _encode_value(v, kind, named)
            # fixed-backed decimals fall through with converted bytes
        if kind in _PRIMITIVES:
            return _encode_value(v, kind, named)
        if kind == "record":
            _register_named(typ, named)
            out = bytearray()
            for f in typ.get("fields", []):
                out += _encode_value((v or {}).get(f["name"]), f["type"], named)
            return bytes(out)
        if kind == "enum":
            return _zigzag_encode(typ["symbols"].index(v))
        if kind == "fixed":
            raw = bytes(v)
            if len(raw) != typ.get("size"):
                raise ValueError(f"fixed {typ.get('name')} needs {typ.get('size')} bytes")
            return raw
        if kind == "array":
            if not v:
                return _zigzag_encode(0)
            body = b"".join(_encode_value(x, typ["items"], named) for x in v)
            return _zigzag_encode(len(v)) + body + _zigzag_encode(0)
        if kind == "map":
            if not v:
                return _zigzag_encode(0)
            body = bytearray()
            for k, x in v.items():
                ke = str(k).encode()
                body += _zigzag_encode(len(ke)) + ke
                body += _encode_value(x, typ["values"], named)
            return _zigzag_encode(len(v)) + bytes(body) + _zigzag_encode(0)
        raise NotImplementedError(f"Avro type {kind!r} not supported")
    if typ == "null":
        return b""
    if typ == "boolean":
        return b"\x01" if v else b"\x00"
    if typ in ("int", "long"):
        return _zigzag_encode(int(v))
    if typ == "float":
        return struct.pack("<f", float(v))
    if typ == "double":
        return struct.pack("<d", float(v))
    if typ == "string":
        enc = str(v).encode()
        return _zigzag_encode(len(enc)) + enc
    if typ == "bytes":
        return _zigzag_encode(len(v)) + bytes(v)
    raise NotImplementedError(f"Avro type {typ!r} not supported (unresolved name?)")


def _decode_value(buf: bytes, pos: int, typ, named: dict | None = None):
    named = named if named is not None else {}
    if isinstance(typ, str) and typ not in _PRIMITIVES and typ in named:
        typ = named[typ]
    if isinstance(typ, list):  # union: positional branch index
        idx, pos = _zigzag_decode(buf, pos)
        if not 0 <= idx < len(typ):
            raise ValueError(f"union branch {idx} out of range at byte {pos}")
        return _decode_value(buf, pos, typ[idx], named)
    if isinstance(typ, dict):
        kind = typ.get("type")
        logical = typ.get("logicalType")
        if logical and kind in _PRIMITIVES:
            raw, pos = _decode_value(buf, pos, kind, named)
            return _logical_decode(raw, logical, typ), pos
        if kind in _PRIMITIVES:
            return _decode_value(buf, pos, kind, named)
        if logical and kind == "fixed":
            raw, pos = _decode_value(buf, pos, dict(typ, logicalType=None), named)
            return _logical_decode(raw, logical, typ), pos
        if kind == "record":
            _register_named(typ, named)
            row = {}
            for f in typ.get("fields", []):
                row[f["name"]], pos = _decode_value(buf, pos, f["type"], named)
            return row, pos
        if kind == "enum":
            idx, pos = _zigzag_decode(buf, pos)
            try:
                return typ["symbols"][idx], pos
            except IndexError:
                raise ValueError(f"enum index {idx} out of range at byte {pos}") from None
        if kind == "fixed":
            n = typ.get("size", 0)
            if pos + n > len(buf):
                raise ValueError(f"truncated fixed at byte {pos}")
            return buf[pos : pos + n], pos + n
        if kind in ("array", "map"):
            out = [] if kind == "array" else {}
            while True:
                count, pos = _zigzag_decode(buf, pos)
                if count == 0:
                    return out, pos
                if count < 0:  # abs count preceded by a byte-size long
                    count = -count
                    _, pos = _zigzag_decode(buf, pos)
                for _ in range(count):
                    if kind == "map":
                        k, pos = _decode_value(buf, pos, "string", named)
                        out[k], pos = _decode_value(buf, pos, typ["values"], named)
                    else:
                        v, pos = _decode_value(buf, pos, typ["items"], named)
                        out.append(v)
        raise NotImplementedError(f"Avro type {kind!r} not supported")
    if typ == "null":
        return None, pos
    if typ == "boolean":
        return buf[pos] != 0, pos + 1
    if typ in ("int", "long"):
        return _zigzag_decode(buf, pos)
    if typ == "float":
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if typ == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if typ in ("string", "bytes"):
        n, pos = _zigzag_decode(buf, pos)
        if n < 0 or pos + n > len(buf):
            raise ValueError(f"bad {typ} length {n} at byte {pos}")
        raw = buf[pos : pos + n]
        return (raw.decode() if typ == "string" else raw), pos + n
    raise NotImplementedError(f"Avro type {typ!r} not supported (unresolved name?)")


def _field_type(t):
    """Normalize a field type: plain primitive or a two-branch union with
    "null".  Returns ``(primitive, null_branch)`` where ``null_branch`` is
    the union *position* of the null branch (``None`` for non-union types).
    Per the Avro spec the encoded branch index is positional, so
    ``["long","null"]`` writes branch 1 for null while ``["null","long"]``
    writes branch 0 — hardwiring 0 would mis-encode the former."""
    if isinstance(t, str):
        return t, None
    if isinstance(t, list):
        names = [x if isinstance(x, str) else None for x in t]
        if len(names) == 2 and "null" in names:
            null_branch = names.index("null")
            other = names[1 - null_branch]
            if other:
                return other, null_branch
    raise NotImplementedError(f"Avro type {t!r} outside the tabular subset")


# -- container -----------------------------------------------------------------

#: Avro codec name -> codec.decompress name (snappy blocks also carry a
#: CRC and are handled inline in read_avro)
_CODECS = {
    "deflate": "deflate", "bzip2": "bz2", "xz": "xz", "zstandard": "zstd",
}


def write_avro(rows: list[dict], schema: dict, codec: str = "deflate", block_rows: int = 1000) -> bytes:
    """Serialize dict rows under a record ``schema`` into an OCF byte
    string.  ``codec``: 'null', 'deflate', 'snappy' (blocks carry the
    spec's 4-byte big-endian CRC32 of the UNCOMPRESSED data), 'bzip2',
    'xz' or 'zstandard' (raw frames, no CRC — per the spec)."""
    if codec not in ("null", "deflate", "snappy", "bzip2", "xz", "zstandard"):
        raise ValueError(f"unsupported Avro codec {codec!r}")
    named: dict = {}
    _register_named(schema, named)
    meta = {
        "avro.schema": json.dumps(schema, separators=(",", ":")).encode(),
        "avro.codec": codec.encode(),
    }
    out = bytearray(_MAGIC)
    out += _zigzag_encode(len(meta))
    for k, v in meta.items():
        ke = k.encode()
        out += _zigzag_encode(len(ke)) + ke + _zigzag_encode(len(v)) + v
    out += _zigzag_encode(0)  # end of metadata map
    out += _SYNC

    for start in range(0, len(rows), block_rows):
        blk = rows[start : start + block_rows]
        body = bytearray()
        for row in blk:
            body += _encode_value(row, schema, named)
        data = bytes(body)
        if codec == "deflate":
            data = zlib.compress(data, 6)[2:-4]  # raw DEFLATE per spec
        elif codec == "snappy":
            crc = zlib.crc32(data) & 0xFFFFFFFF
            data = pa.compress(data, "snappy", asbytes=True) + crc.to_bytes(4, "big")
        elif codec == "bzip2":
            import bz2

            data = bz2.compress(data)
        elif codec == "xz":
            import lzma

            data = lzma.compress(data, format=lzma.FORMAT_XZ)
        elif codec == "zstandard":
            data = pa.compress(data, "zstd", asbytes=True)
        out += _zigzag_encode(len(blk)) + _zigzag_encode(len(data)) + data + _SYNC
    return bytes(out)


def read_avro(buf: bytes) -> tuple[dict, list[dict]]:
    """Parse an OCF byte string.  Returns (schema, rows)."""
    if buf[:4] != _MAGIC:
        raise ValueError("not an Avro OCF payload (missing Obj\\x01 magic)")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        n, pos = _zigzag_decode(buf, pos)
        if n == 0:
            break
        if n < 0:  # negative count: abs count preceded by byte size
            n, pos = -n, _zigzag_decode(buf, pos)[1]
        for _ in range(n):
            kl, pos = _zigzag_decode(buf, pos)
            k = buf[pos : pos + kl].decode()
            pos += kl
            vl, pos = _zigzag_decode(buf, pos)
            meta[k] = buf[pos : pos + vl]
            pos += vl
    try:
        schema = json.loads(meta["avro.schema"])
    except (KeyError, ValueError) as ex:
        raise ValueError(f"missing or invalid avro.schema: {ex}") from ex
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate", "snappy", "bzip2", "xz", "zstandard"):
        raise NotImplementedError(
            f"Avro codec {codec!r} not supported "
            "(null/deflate/snappy/bzip2/xz/zstandard)"
        )
    sync = buf[pos : pos + 16]
    pos += 16

    named: dict = {}
    _register_named(schema, named)
    rows: list[dict] = []
    while pos < len(buf):
        count, pos = _zigzag_decode(buf, pos)
        size, pos = _zigzag_decode(buf, pos)
        if count < 0 or size < 0 or pos + size + 16 > len(buf):
            raise ValueError(f"block at byte {pos} overruns the buffer")
        data = buf[pos : pos + size]
        pos += size
        if buf[pos : pos + 16] != sync:
            raise ValueError(f"sync marker mismatch at byte {pos}")
        pos += 16
        if codec == "snappy":
            if len(data) < 4:
                raise ValueError(f"snappy block at byte {pos} too short for its CRC")
            data, crc = decompress(data[:-4], "snappy"), int.from_bytes(data[-4:], "big")
            if zlib.crc32(data) & 0xFFFFFFFF != crc:
                raise ValueError(f"snappy block CRC mismatch at byte {pos}")
        elif codec != "null":
            try:
                data = decompress(data, _CODECS[codec])
            except ValueError as ex:
                raise ValueError(f"bad {codec} block at byte {pos}: {ex}") from ex
        dpos = 0
        for _ in range(count):
            row, dpos = _decode_value(data, dpos, schema, named)
            rows.append(row)
        if dpos != len(data):
            raise ValueError("Avro block has trailing bytes after the last record")
    return schema, rows
