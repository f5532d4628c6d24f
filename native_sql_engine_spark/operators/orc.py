"""From-scratch ORC file reading — stdlib + operators/codec.py.

Implements the public ORC v1 specification (orc.apache.org/specification)
deep enough to read what real writers (pyarrow / ORC-java / Spark) emit
for flat tabular data:

- **tail walk**: 1-byte postscript length, protobuf PostScript
  (footer/metadata lengths, compression kind + block size, version,
  ``ORC`` magic), compressed Footer (schema type tree, stripe directory,
  row counts) and per-stripe StripeFooter (stream directory + column
  encodings) — all via a schema-agnostic protobuf wire-format decoder
  (the ORC sibling of parquet_meta's thrift walker);
- **compression framing**: ORC chunks each carry a 3-byte little-endian
  header ``(len << 1) | is_original``; codecs ZLIB (raw deflate) /
  SNAPPY / LZ4 (raw block) / ZSTD inflate through operators/codec.py
  (the stdlib for deflate, pyarrow's native codecs for the rest);
- **run-length codecs**: byte RLE, boolean (bit) RLE, and all four RLEv2
  sub-encodings — SHORT_REPEAT, DIRECT, DELTA (fixed and variable
  width), PATCHED_BASE (sign-magnitude base, patch gap/value ORing) —
  with the spec's 5-bit closest-fixed-bit width table and big-endian
  bit packing;
- **column types**: boolean, tinyint, smallint/int/long, float, double,
  string/varchar/char (DIRECT_V2 and DICTIONARY_V2), binary, date,
  timestamp (base 2015-01-01 epoch seconds + SECONDARY nanos with the
  trailing-zero scale trick), and decimal64 (DIRECT_V2 zigzag +
  SECONDARY scale stream);
- **NULLs** via PRESENT bit streams, values re-expanded positionally;
  multiple stripes concatenate.

- **Nested types**: struct / list / map at arbitrary depth via
  ``_decode_tree`` — LENGTH streams (unsigned RLEv2) for list/map, child
  value counts derived from the parent's PRESENT bits (ORC has no
  parquet-style def/rep levels; children store values only for rows
  where every ancestor is non-null).

- **RLE v1** (the pre-0.12 DIRECT/DICTIONARY column encodings):
  constant-delta runs + literal varint groups, signed zigzag; selected
  per column from the stripe footer's encoding list, including
  list/map LENGTH streams.  No writer in this container emits v1, so
  :func:`write_orc` grows an ``rle_version=1`` mode whose files
  pyarrow's real reader accepts — keeping the from-scratch decode honest
  in both directions.

Honest gates: union columns and LZO chunks raise
``NotImplementedError``.  (Wide decimals — precision > 18 — ride
the same varint DATA + SECONDARY scale streams as decimal64 and decode
exactly; pinned in the test matrix.)  Malformed
payloads raise positioned ``ValueError`` (shared codec-layer contract).
Cross-validated against pyarrow's ORC writer/reader in
tests/test_orc.py; the oracle battery entry aggregates the ORIGINAL
parquet through DuckDB.

Reference parity: the reference's arrow-data-source reads ORC beside
parquet/csv (arrow Dataset FileFormat); here the byte-level decode is
first-class so a lake's ORC files can be verified with zero engine code.
"""

from __future__ import annotations

import struct

from .codec import decompress

__all__ = ["read_orc_column", "read_orc_table", "orc_metadata"]

_MAGIC = b"ORC"

#: Type.Kind enum (orc_proto)
_KINDS = {
    0: "boolean", 1: "tinyint", 2: "smallint", 3: "int", 4: "long",
    5: "float", 6: "double", 7: "string", 8: "binary", 9: "timestamp",
    10: "list", 11: "map", 12: "struct", 13: "union", 14: "decimal",
    15: "date", 16: "varchar", 17: "char", 18: "timestamp_instant",
}
_INT_KINDS = {1, 2, 3, 4}
_STR_KINDS = {7, 16, 17}

#: Stream.Kind enum
_PRESENT, _DATA, _LENGTH, _DICT_DATA, _SECONDARY = 0, 1, 2, 3, 5


# -- protobuf wire format --------------------------------------------------------------


def _pb_varint(buf: bytes, pos: int) -> tuple[int, int]:
    v = s = 0
    while True:
        if pos >= len(buf):
            raise ValueError(f"truncated protobuf varint at byte {pos}")
        b = buf[pos]
        pos += 1
        v |= (b & 0x7F) << s
        s += 7
        if not b & 0x80:
            return v, pos


def pb_decode(buf: bytes) -> dict[int, list]:
    """Decode one protobuf message schema-agnostically into
    ``{field_number: [values...]}`` (repeated fields accumulate; callers
    interpret per the orc_proto IDL).  Length-delimited fields stay bytes."""
    out: dict[int, list] = {}
    pos = 0
    while pos < len(buf):
        key, pos = _pb_varint(buf, pos)
        field, wire = key >> 3, key & 7
        if wire == 0:
            v, pos = _pb_varint(buf, pos)
        elif wire == 1:
            v = buf[pos : pos + 8]
            pos += 8
        elif wire == 2:
            n, pos = _pb_varint(buf, pos)
            if pos + n > len(buf):
                raise ValueError(f"protobuf field {field} overruns the buffer")
            v = buf[pos : pos + n]
            pos += n
        elif wire == 5:
            v = buf[pos : pos + 4]
            pos += 4
        else:
            raise ValueError(f"unsupported protobuf wire type {wire} at byte {pos}")
        out.setdefault(field, []).append(v)
    return out


def _one(msg: dict, field: int, default=None):
    v = msg.get(field)
    return v[0] if v else default


def _pb_write_varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def pb_encode(fields: list[tuple[int, object]]) -> bytes:
    """Serialize one protobuf message from ``(field_number, value)`` pairs:
    int → varint, bytes/str → length-delimited, list of pairs → nested
    message.  Repeat a field number for repeated fields.  Inverse of
    :func:`pb_decode` for the subset ORC fixture-writing needs."""
    out = bytearray()
    for field, value in fields:
        if isinstance(value, bool):
            value = int(value)
        if isinstance(value, int):
            out += _pb_write_varint(field << 3 | 0)
            out += _pb_write_varint(value)
        else:
            if isinstance(value, str):
                value = value.encode("utf-8")
            elif isinstance(value, list):
                value = pb_encode(value)
            out += _pb_write_varint(field << 3 | 2)
            out += _pb_write_varint(len(value))
            out += bytes(value)
    return bytes(out)


def _repeated_uints(msg: dict, field: int) -> list[int]:
    """A repeated integer field: either one-per-entry varints or a single
    PACKED length-delimited blob of varints (proto3 default)."""
    out: list[int] = []
    for v in msg.get(field, []):
        if isinstance(v, int):
            out.append(v)
        else:
            pos = 0
            while pos < len(v):
                u, pos = _pb_varint(v, pos)
                out.append(u)
    return out


# -- compression framing ---------------------------------------------------------------


#: ORC CompressionKind -> codec.decompress name (3 = LZO stays gated)
_CODECS = {1: "deflate", 2: "snappy", 4: "lz4_raw", 5: "zstd"}


def _inflate(raw: bytes, codec: int) -> bytes:
    if codec not in _CODECS:
        raise NotImplementedError(f"ORC compression kind {codec} not supported (LZO)")
    return decompress(raw, _CODECS[codec])


def _decompress_stream(buf: bytes, codec: int) -> bytes:
    """Walk ORC compression chunks: 3-byte LE header = (len << 1) |
    is_original, then len bytes (stored verbatim when is_original)."""
    if codec == 0:
        return buf
    out = bytearray()
    pos = 0
    while pos < len(buf):
        if pos + 3 > len(buf):
            raise ValueError(f"truncated ORC chunk header at byte {pos}")
        hdr = buf[pos] | buf[pos + 1] << 8 | buf[pos + 2] << 16
        n = hdr >> 1
        pos += 3
        if pos + n > len(buf):
            raise ValueError(f"ORC chunk at byte {pos} overruns the stream")
        raw = buf[pos : pos + n]
        pos += n
        out += raw if hdr & 1 else _inflate(raw, codec)
    return bytes(out)


# -- varints and run-length codecs -----------------------------------------------------


def _uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    return _pb_varint(buf, pos)


def _svarint(buf: bytes, pos: int) -> tuple[int, int]:
    u, pos = _pb_varint(buf, pos)
    return (u >> 1) ^ -(u & 1), pos


def _byte_rle(buf: bytes, n: int | None = None) -> list[int]:
    """ORC byte RLE: header 0..127 = run of (h+3) copies of the next
    byte; 128..255 = (256-h) literal bytes."""
    out: list[int] = []
    pos = 0
    while pos < len(buf) and (n is None or len(out) < n):
        h = buf[pos]
        pos += 1
        if h < 128:
            out.extend([buf[pos]] * (h + 3))
            pos += 1
        else:
            cnt = 256 - h
            out.extend(buf[pos : pos + cnt])
            pos += cnt
    return out if n is None else out[:n]


def _bool_rle(buf: bytes, n: int) -> list[bool]:
    """Boolean RLE: byte RLE over bit-packed bytes, MSB first."""
    out: list[bool] = []
    for byte in _byte_rle(buf, (n + 7) // 8):
        for k in range(7, -1, -1):
            out.append(bool((byte >> k) & 1))
    return out[:n]


#: 5-bit closest-fixed-bit width table (FixedBitSizes): codes 0..23 ->
#: 1..24 bits, then 26/28/30/32/40/48/56/64.
_WIDTHS = list(range(1, 25)) + [26, 28, 30, 32, 40, 48, 56, 64]


def _unpack_bits(buf: bytes, pos: int, width: int, count: int) -> tuple[list[int], int]:
    """Big-endian bit-unpack `count` unsigned ints of `width` bits."""
    if width == 0:
        return [0] * count, pos
    total_bits = width * count
    nbytes = (total_bits + 7) // 8
    if pos + nbytes > len(buf):
        raise ValueError(f"bit-packed run at byte {pos} overruns the stream")
    big = int.from_bytes(buf[pos : pos + nbytes], "big")
    pad = nbytes * 8 - total_bits
    big >>= pad
    mask = (1 << width) - 1
    out = [(big >> (width * i)) & mask for i in range(count - 1, -1, -1)]
    return out, pos + nbytes


def _rlev1(buf: bytes, n: int | None, signed: bool) -> list[int]:
    """ORC RLE version 1 (pre-0.12 writers; still the v1 DIRECT/DICTIONARY
    column encodings).  Header byte 0..127 = run of (h+3) values: one
    signed delta byte then a base varint, value[i] = base + i*delta;
    header byte 128..255 = (256-h) literal varints.  Signed streams are
    zigzag varints, unsigned plain."""
    out: list[int] = []
    pos = 0

    def read(b, p):
        try:
            return (_svarint if signed else _uvarint)(b, p)
        except ValueError as exc:
            raise ValueError(f"RLEv1 value truncated at byte {p}: {exc}") from exc

    while pos < len(buf) and (n is None or len(out) < n):
        h = buf[pos]
        pos += 1
        if h < 128:  # run
            if pos >= len(buf):
                raise ValueError(f"RLEv1 run truncated at byte {pos}")
            delta = buf[pos] - 256 if buf[pos] > 127 else buf[pos]
            pos += 1
            base, pos = read(buf, pos)
            out.extend(base + i * delta for i in range(h + 3))
        else:  # literals
            for _ in range(256 - h):
                v, pos = read(buf, pos)
                out.append(v)
    if n is not None and len(out) < n:
        raise ValueError(f"RLEv1 stream ended after {len(out)} of {n} values")
    return out if n is None else out[:n]


def _rlev2(buf: bytes, n: int | None, signed: bool) -> list[int]:
    """ORC RLEv2: SHORT_REPEAT / DIRECT / PATCHED_BASE / DELTA.
    ``n=None`` drains the buffer (dictionary LENGTH streams carry exactly
    dictionary-size entries, not row counts)."""
    out: list[int] = []
    pos = 0
    while (len(out) < n) if n is not None else (pos < len(buf)):
        if pos >= len(buf):
            raise ValueError(f"RLEv2 stream ended after {len(out)} of {n} values")
        first = buf[pos]
        enc = first >> 6
        if enc == 0:  # SHORT_REPEAT
            width = ((first >> 3) & 7) + 1
            repeat = (first & 7) + 3
            pos += 1
            if pos + width > len(buf):
                raise ValueError(f"SHORT_REPEAT at byte {pos} overruns the stream")
            v = int.from_bytes(buf[pos : pos + width], "big")
            pos += width
            if signed:
                v = (v >> 1) ^ -(v & 1)
            out.extend([v] * repeat)
        elif enc == 1:  # DIRECT
            width = _WIDTHS[(first >> 1) & 0x1F]
            length = ((first & 1) << 8 | buf[pos + 1]) + 1
            pos += 2
            vals, pos = _unpack_bits(buf, pos, width, length)
            if signed:
                vals = [(v >> 1) ^ -(v & 1) for v in vals]
            out.extend(vals)
        elif enc == 3:  # DELTA
            wcode = (first >> 1) & 0x1F
            width = 0 if wcode == 0 else _WIDTHS[wcode]
            length = ((first & 1) << 8 | buf[pos + 1]) + 1  # total values
            pos += 2
            base, pos = (_svarint if signed else _uvarint)(buf, pos)
            delta0, pos = _svarint(buf, pos)
            vals = [base]
            if length > 1:
                vals.append(base + delta0)
                if width == 0:
                    for _ in range(length - 2):
                        vals.append(vals[-1] + delta0)
                else:
                    deltas, pos = _unpack_bits(buf, pos, width, length - 2)
                    sign = 1 if delta0 >= 0 else -1
                    for d in deltas:
                        vals.append(vals[-1] + sign * d)
            out.extend(vals)
        else:  # PATCHED_BASE
            width = _WIDTHS[(first >> 1) & 0x1F]
            length = ((first & 1) << 8 | buf[pos + 1]) + 1
            b3, b4 = buf[pos + 2], buf[pos + 3]
            base_bytes = ((b3 >> 5) & 7) + 1
            patch_width = _WIDTHS[b3 & 0x1F]
            gap_width = ((b4 >> 5) & 7) + 1
            patch_count = b4 & 0x1F
            pos += 4
            if pos + base_bytes > len(buf):
                raise ValueError(f"PATCHED_BASE base at byte {pos} overruns the stream")
            base = int.from_bytes(buf[pos : pos + base_bytes], "big")
            # sign-magnitude: MSB of the base's width is the sign bit
            sign_mask = 1 << (base_bytes * 8 - 1)
            if base & sign_mask:
                base = -(base & (sign_mask - 1))
            pos += base_bytes
            vals, pos = _unpack_bits(buf, pos, width, length)
            # patch list: (gap, patch) pairs, each entry bit-packed at
            # closestFixedBits(gap_width + patch_width); the padding lands
            # in the gap's (zero) high bits
            pgpw = next(w for w in _WIDTHS if w >= gap_width + patch_width)
            patches, pos = _unpack_bits(buf, pos, pgpw, patch_count)
            idx = 0
            gmask = (1 << patch_width) - 1
            for p in patches:
                gap = p >> patch_width
                pval = p & gmask
                idx += gap
                vals[idx] |= pval << width
            out.extend(base + v for v in vals)
    return out[:n]


# -- stripe/column assembly ------------------------------------------------------------


def _tail(buf: bytes):
    """Parse postscript + footer; returns (footer_msg, codec, types)."""
    if len(buf) < 16 or buf[:3] != _MAGIC:
        raise ValueError("not an ORC payload (missing ORC magic)")
    ps_len = buf[-1]
    ps = pb_decode(buf[len(buf) - 1 - ps_len : len(buf) - 1])
    if _one(ps, 8000, b"") != _MAGIC:
        raise ValueError("not an ORC payload (postscript magic mismatch)")
    codec = _one(ps, 2, 0)
    flen = _one(ps, 1, 0)
    fstart = len(buf) - 1 - ps_len - flen
    if fstart < 0:
        raise ValueError("ORC footer length exceeds the payload")
    footer = pb_decode(_decompress_stream(buf[fstart : fstart + flen], codec))
    types = [pb_decode(t) for t in footer.get(4, [])]
    return footer, codec, types


def orc_metadata(buf: bytes) -> dict:
    """File-level metadata: schema, row count, stripe directory, codec."""
    footer, codec, types = _tail(buf)
    root = types[0] if types else {}
    names = [n.decode("utf-8", "replace") for n in root.get(3, [])]
    cols = {}
    for name, tid in zip(names, _repeated_uints(root, 2)):
        cols[name] = _KINDS.get(_one(types[tid], 1, 0), "unknown")
    return {
        "num_rows": _one(footer, 6, 0),
        "codec": {0: "none", 1: "zlib", 2: "snappy", 3: "lzo", 4: "lz4", 5: "zstd"}.get(
            codec, str(codec)
        ),
        "columns": cols,
        "num_stripes": len(footer.get(3, [])),
        "stripe_rows": [_one(pb_decode(s), 5, 0) for s in footer.get(3, [])],
    }


def _decode_column(streams: dict[int, bytes], kind: int, enc: int, nrows: int, scale: int):
    """Decode one column's value list (with None for nulls) from its
    decompressed streams within a single stripe."""
    # DIRECT / DICTIONARY (encodings 0/1) carry RLEv1 integer streams;
    # DIRECT_V2 / DICTIONARY_V2 (2/3) carry RLEv2
    ints = _rlev1 if enc in (0, 1) else _rlev2
    present = None
    if _PRESENT in streams:
        present = _bool_rle(streams[_PRESENT], nrows)
        n_vals = sum(present)
    else:
        n_vals = nrows

    if kind == 0:  # boolean
        vals = [bool(b) for b in _bool_rle(streams[_DATA], n_vals)]
    elif kind == 1:  # tinyint: byte RLE, signed
        vals = [v - 256 if v > 127 else v for v in _byte_rle(streams[_DATA], n_vals)]
    elif kind in _INT_KINDS:
        vals = ints(streams[_DATA], n_vals, signed=True)
    elif kind in (5, 6):  # float / double
        raw = streams[_DATA]
        width = 4 if kind == 5 else 8
        if len(raw) < width * n_vals:
            raise ValueError(
                f"ORC DATA stream truncated: need {width * n_vals} bytes for "
                f"{n_vals} {'float' if kind == 5 else 'double'} values, have {len(raw)}"
            )
        fmt = "f" if kind == 5 else "d"
        vals = list(struct.unpack(f"<{n_vals}{fmt}", raw[: width * n_vals]))
    elif kind in _STR_KINDS or kind == 8:  # string family / binary
        if enc in (1, 3):  # DICTIONARY / DICTIONARY_V2
            dict_blob = streams[_DICT_DATA]
            # LENGTH carries one entry per dictionary item; drain it
            lens = ints(streams[_LENGTH], None, signed=False)
            entries = []
            off = 0
            for ln in lens:
                entries.append(dict_blob[off : off + ln])
                off += ln
            idx = ints(streams[_DATA], n_vals, signed=False)
            try:
                raw_vals = [entries[i] for i in idx]
            except IndexError:
                raise ValueError("ORC dictionary index out of range") from None
        else:  # DIRECT / DIRECT_V2
            lens = ints(streams[_LENGTH], n_vals, signed=False)
            blob = streams[_DATA]
            raw_vals = []
            off = 0
            for ln in lens:
                raw_vals.append(blob[off : off + ln])
                off += ln
        vals = raw_vals if kind == 8 else [v.decode("utf-8", "replace") for v in raw_vals]
    elif kind == 15:  # date: days since unix epoch
        import datetime as dt

        epoch = dt.date(1970, 1, 1)
        days = ints(streams[_DATA], n_vals, signed=True)
        vals = [epoch + dt.timedelta(days=d) for d in days]
    elif kind in (9, 18):  # timestamp (+_INSTANT): 2015-01-01 base + nanos
        import datetime as dt

        secs = ints(streams[_DATA], n_vals, signed=True)
        nanos_enc = ints(streams[_SECONDARY], n_vals, signed=False)
        base = dt.datetime(2015, 1, 1)
        vals = []
        for s, ne in zip(secs, nanos_enc):
            # bottom 3 bits z: nanos had z+1 trailing zeros trimmed (z>0)
            zeros = ne & 7
            nanos = ne >> 3
            if zeros:
                nanos *= 10 ** (zeros + 1)
            # the writer floors seconds, so nanos always add forward
            vals.append(base + dt.timedelta(seconds=s, microseconds=nanos // 1000))
    elif kind == 14:  # decimal (precision <= 18: DIRECT_V2 zigzag + scale)
        import decimal

        if _SECONDARY in streams:
            scales = ints(streams[_SECONDARY], n_vals, signed=True)
        else:
            scales = [scale] * n_vals
        unscaled = _varint128_stream(streams[_DATA], n_vals)
        vals = [decimal.Decimal(u).scaleb(-s) for u, s in zip(unscaled, scales)]
    else:
        raise NotImplementedError(
            f"ORC column kind {_KINDS.get(kind, kind)} not supported "
            "(union remains gated; struct/list/map decode via _decode_tree)"
        )

    if present is None:
        return vals[:nrows]
    it = iter(vals)
    return [next(it) if p else None for p in present]


def _decode_tree(
    buf: bytes,
    tid: int,
    types: list[dict],
    encodings: list[dict],
    located: dict[int, dict[int, tuple[int, int]]],
    codec: int,
    nrows: int,
):
    """Recursively decode a (possibly nested) ORC column subtree.

    ORC nesting semantics: a child column physically stores values only
    for rows where every ancestor is non-null, so each child decodes with
    the PARENT's present count (struct) or the sum of LENGTH entries
    (list/map) — there is no parquet-style def/rep level stream.  STRUCT
    rows come back as dicts, LIST rows as lists, MAP rows as lists of
    (key, value) tuples (pyarrow's to_pylist rendering, which the matrix
    tests compare against).  UNION stays gated."""
    tmsg = types[tid]
    kind = _one(tmsg, 1, 0)
    streams = {
        k: _decompress_stream(buf[p : p + ln], codec)
        for k, (p, ln) in located.get(tid, {}).items()
        if k in (_PRESENT, _DATA, _LENGTH, _DICT_DATA, _SECONDARY)
    }
    enc = _one(encodings[tid], 1, 0) if tid < len(encodings) else 0
    if kind not in (10, 11, 12):  # leaf
        scale = _one(tmsg, 6, 0)
        return _decode_column(streams, kind, enc, nrows, scale)

    present = _bool_rle(streams[_PRESENT], nrows) if _PRESENT in streams else None
    n_present = sum(present) if present is not None else nrows
    children = _repeated_uints(tmsg, 2)
    if kind == 12:  # struct
        names = [n.decode("utf-8", "replace") for n in tmsg.get(3, [])]
        cols = [
            _decode_tree(buf, c, types, encodings, located, codec, n_present)
            for c in children
        ]
        vals = [dict(zip(names, row)) for row in zip(*cols)] if cols else [{}] * n_present
    else:  # list (10) / map (11): LENGTH stream, children hold the flattened entries
        lengths = (_rlev1 if enc in (0, 1) else _rlev2)(
            streams[_LENGTH], n_present, signed=False
        )
        total = sum(lengths)
        if kind == 10:
            child = _decode_tree(buf, children[0], types, encodings, located, codec, total)
            vals, i = [], 0
            for ln in lengths:
                vals.append(child[i : i + ln])
                i += ln
        else:
            keys = _decode_tree(buf, children[0], types, encodings, located, codec, total)
            vs = _decode_tree(buf, children[1], types, encodings, located, codec, total)
            vals, i = [], 0
            for ln in lengths:
                vals.append(list(zip(keys[i : i + ln], vs[i : i + ln])))
                i += ln
    if present is None:
        return vals
    it = iter(vals)
    return [next(it) if p else None for p in present]


def _varint128_stream(buf: bytes, n: int) -> list[int]:
    """Decimal DATA stream: n zigzag base-128 varints (unbounded width)."""
    out = []
    pos = 0
    for _ in range(n):
        v, pos = _svarint(buf, pos)
        out.append(v)
    return out


# -- minimal writer (fixtures; real readers must accept the output) -------------------


def _zigzag_varint(v: int) -> bytes:
    return _pb_write_varint((v << 1) ^ (v >> 63) if v >= 0 else ((-v) << 1) - 1)


def _rlev1_encode(values: list[int], signed: bool) -> bytes:
    """RLE v1 encoder (fixture writer): greedy constant-delta runs of
    3..130 values, literal groups of up to 128 otherwise."""
    enc1 = _zigzag_varint if signed else _pb_write_varint
    out = bytearray()
    i, n = 0, len(values)
    while i < n:
        run = 1
        if i + 1 < n:
            delta = values[i + 1] - values[i]
            if -128 <= delta <= 127:
                while (
                    i + run < n
                    and run < 130
                    and values[i + run] - values[i + run - 1] == delta
                ):
                    run += 1
        if run >= 3:
            out.append(run - 3)
            out.append(delta & 0xFF)
            out += enc1(values[i])
            i += run
            continue
        lit_start = i
        while i < n and i - lit_start < 128:
            nxt = run = 1
            if i + 2 < n and i - lit_start < 126:
                d = values[i + 1] - values[i]
                if (
                    -128 <= d <= 127
                    and values[i + 2] - values[i + 1] == d
                    and i + 3 <= n
                ):
                    break  # a run starts here; flush literals first
            i += nxt
        out.append(256 - (i - lit_start))
        for v in values[lit_start:i]:
            out += enc1(v)
    return bytes(out)


def _rlev2_encode(values: list[int], signed: bool) -> bytes:
    """Naive spec-valid RLEv2: DIRECT runs of ≤512 values at the smallest
    supported width (readers don't care that it's not the densest choice)."""
    out = bytearray()
    for start in range(0, len(values), 512):
        run = values[start : start + 512]
        enc = [((v << 1) ^ (v >> 63)) & (2**64 - 1) if signed else v for v in run]
        need = max(1, max(v.bit_length() for v in enc) if any(enc) else 1)
        width = next(w for w in _WIDTHS if w >= need)
        code = _WIDTHS.index(width)
        length = len(run) - 1
        out.append(0x40 | (code << 1) | (length >> 8))
        out.append(length & 0xFF)
        big = 0
        for v in enc:
            big = (big << width) | v
        nbits = width * len(run)
        pad = (-nbits) % 8
        out += (big << pad).to_bytes((nbits + pad) // 8, "big")
    return bytes(out)


def write_orc(columns: dict[str, list], rle_version: int = 2) -> bytes:
    """Write a minimal uncompressed ORC file: one stripe, REQUIRED
    columns, types inferred from the first value (int → LONG via RLEv2
    DIRECT runs, float → DOUBLE, str → STRING DIRECT_V2).  A fixture
    writer in the same spirit as the encrypted-parquet one — its output
    is cross-validated against pyarrow's AND Spark's ORC readers in the
    tests, which is what makes the from-scratch reader's spec reading
    trustworthy in both directions.  ``rle_version=1`` emits the pre-0.12
    DIRECT/DICTIONARY column encodings with RLEv1 integer streams —
    nothing in this container writes those, so legacy-file coverage needs
    this writer (and the same real-reader cross-validation keeps it
    honest)."""
    if rle_version not in (1, 2):
        raise ValueError(f"rle_version must be 1 or 2, not {rle_version}")
    int_enc = _rlev1_encode if rle_version == 1 else _rlev2_encode
    direct = 0 if rle_version == 1 else 2  # DIRECT vs DIRECT_V2
    n_rows = None
    out = bytearray(_MAGIC)
    streams = []  # (kind, col_id, length)
    types = [[]]  # root placeholder
    encodings = [[(1, 0)]]  # root DIRECT
    names = []
    for col_id, (name, values) in enumerate(columns.items(), start=1):
        if n_rows is None:
            n_rows = len(values)
        elif len(values) != n_rows:
            raise ValueError("all columns must have the same length")
        v0 = values[0]
        names.append(name)
        if isinstance(v0, bool) or not isinstance(v0, (int, float, str)):
            raise ValueError(f"unsupported fixture value type {type(v0).__name__}")
        if isinstance(v0, int):
            types.append([(1, 4)])  # LONG
            encodings.append([(1, direct)])
            data = int_enc(values, signed=True)
            out += data
            streams.append((_DATA, col_id, len(data)))
        elif isinstance(v0, float):
            types.append([(1, 6)])  # DOUBLE
            encodings.append([(1, 0)])  # DIRECT
            data = b"".join(struct.pack("<d", v) for v in values)
            out += data
            streams.append((_DATA, col_id, len(data)))
        else:
            types.append([(1, 7)])  # STRING
            encodings.append([(1, direct)])
            blobs = [v.encode("utf-8") for v in values]
            data = b"".join(blobs)
            lens = int_enc([len(b) for b in blobs], signed=False)
            out += data
            streams.append((_DATA, col_id, len(data)))
            out += lens
            streams.append((_LENGTH, col_id, len(lens)))
    types[0] = [(1, 12)] + [(2, i) for i in range(1, len(columns) + 1)] + [
        (3, nm) for nm in names
    ]
    data_len = len(out) - 3
    sf = pb_encode(
        [(1, [(1, k), (2, c), (3, ln)]) for k, c, ln in streams]
        + [(2, e) for e in encodings]
        + [(3, "GMT")]
    )
    out += sf
    footer = pb_encode(
        [
            (1, 3),  # headerLength (the magic)
            (2, 3 + data_len + len(sf)),  # contentLength
            (3, [(1, 3), (2, 0), (3, data_len), (4, len(sf)), (5, n_rows or 0)]),
            *[(4, t) for t in types],
            (6, n_rows or 0),
        ]
    )
    out += footer
    ps = pb_encode(
        [
            (1, len(footer)),
            (2, 0),  # compression NONE
            (3, 65536),
            (4, b"\x00\x0c"),  # packed version [0, 12]
            (5, 0),  # metadataLength
            (6, 6),  # writerVersion
            (8000, _MAGIC),
        ]
    )
    out += ps
    out.append(len(ps))
    return bytes(out)


def read_orc_column(buf: bytes, column: str):
    """Read one top-level column of an ORC file entirely from scratch.
    Returns a list (None for nulls), concatenated over all stripes."""
    return read_orc_table(buf, [column])[column]


def _decode_col_stats(cs: dict, kind: int):
    """(min, max) from one ColumnStatistics message, or None when the
    writer recorded nothing usable for the column's kind."""
    if kind in _INT_KINDS:  # IntegerStatistics: sint64 -> zigzag on the wire
        iv = _one(cs, 2)
        if iv is None:
            return None
        m = pb_decode(iv)
        lo, hi = _one(m, 1), _one(m, 2)
        if lo is None or hi is None:
            return None
        unz = lambda u: (u >> 1) ^ -(u & 1)  # noqa: E731
        return unz(lo), unz(hi)
    if kind in (5, 6):  # DoubleStatistics: wire-type-1 doubles
        dv = _one(cs, 3)
        if dv is None:
            return None
        m = pb_decode(dv)
        lo, hi = _one(m, 1), _one(m, 2)
        if lo is None or hi is None:
            return None
        return struct.unpack("<d", lo)[0], struct.unpack("<d", hi)[0]
    if kind in _STR_KINDS:  # StringStatistics
        sv = _one(cs, 4)
        if sv is None:
            return None
        m = pb_decode(sv)
        lo, hi = _one(m, 1), _one(m, 2)
        if lo is None or hi is None:
            return None
        return lo.decode("utf-8", "replace"), hi.decode("utf-8", "replace")
    return None


def orc_stripe_stats(buf: bytes) -> list[dict]:
    """Per-stripe column statistics from the file Metadata section:
    ``[{col_name: (min, max)}, ...]`` in stripe order (int/double/string
    columns; others report nothing and therefore never prune).  Empty
    when the writer recorded no Metadata."""
    if len(buf) < 16 or buf[:3] != _MAGIC:
        raise ValueError("not an ORC payload (missing ORC magic)")
    ps_len = buf[-1]
    ps = pb_decode(buf[len(buf) - 1 - ps_len : len(buf) - 1])
    codec = _one(ps, 2, 0)
    flen = _one(ps, 1, 0)
    mlen = _one(ps, 5, 0)
    if not mlen:
        return []
    mstart = len(buf) - 1 - ps_len - flen - mlen
    meta = pb_decode(_decompress_stream(buf[mstart : mstart + mlen], codec))
    _, _, types = _tail(buf)
    root = types[0] if types else {}
    names = [n.decode("utf-8", "replace") for n in root.get(3, [])]
    subtypes = _repeated_uints(root, 2)
    out = []
    for ss in meta.get(1, []):  # repeated StripeStatistics
        cols = [pb_decode(c) for c in pb_decode(ss).get(1, [])]
        stats = {}
        for name, tid in zip(names, subtypes):
            if tid < len(cols):
                mm = _decode_col_stats(cols[tid], _one(types[tid], 1, 0))
                if mm is not None:
                    stats[name] = mm
        out.append(stats)
    return out


def read_orc_table_pruned(
    buf: bytes, columns: list[str], ranges: dict[str, tuple]
) -> tuple[dict[str, list], int, int]:
    """Stripe-statistics pruning (the ORC sibling of parquet PageIndex
    page pruning): whole stripes whose Metadata min/max provably cannot
    intersect ``ranges`` ({col: (lo, hi)} inclusive) are never touched —
    no stream in a skipped stripe is read or decompressed.  Returns
    (columns_dict, stripes_read, stripes_total).  Conservative: a stripe
    with missing stats for a filter column is read; callers re-apply the
    exact filter afterwards (same contract as production ORC readers)."""
    stats = orc_stripe_stats(buf)

    def keep(i: int) -> bool:
        if i >= len(stats):
            return True
        for col, (lo, hi) in ranges.items():
            mm = stats[i].get(col)
            if mm is not None and (hi < mm[0] or lo > mm[1]):
                return False
        return True

    # Stripe count comes from the footer's StripeInformation list, NOT
    # from the Metadata section: a file with no (or truncated)
    # StripeStatistics still has all its stripes, and those beyond the
    # stats list must be read conservatively rather than dropped.
    footer, _, _ = _tail(buf)
    total = max(len(footer.get(3, [])), 1)
    kept = [i for i in range(total) if keep(i)]
    out = _read_orc_stripes(buf, columns, set(kept))
    return out, len(kept), total


def read_orc_table(buf: bytes, columns: list[str]) -> dict[str, list]:
    """Read several top-level columns; returns {name: values}."""
    return _read_orc_stripes(buf, columns, None)


def _read_orc_stripes(
    buf: bytes, columns: list[str], keep: set | None
) -> dict[str, list]:
    footer, codec, types = _tail(buf)
    root = types[0] if types else {}
    if _one(root, 1, 0) != 12:
        raise NotImplementedError("ORC root type is not a struct")
    names = [n.decode("utf-8", "replace") for n in root.get(3, [])]
    subtypes = _repeated_uints(root, 2)
    col_ids: dict[str, int] = {}
    for want in columns:
        if want not in names:
            raise ValueError(f"column {want!r} not in ORC schema {names}")
        col_ids[want] = subtypes[names.index(want)]

    out: dict[str, list] = {c: [] for c in columns}
    for stripe_idx, s in enumerate(footer.get(3, [])):
        if keep is not None and stripe_idx not in keep:
            continue
        st = pb_decode(s)
        offset, ilen, dlen, sflen, nrows = (
            _one(st, 1, 0),
            _one(st, 2, 0),
            _one(st, 3, 0),
            _one(st, 4, 0),
            _one(st, 5, 0),
        )
        sf = pb_decode(
            _decompress_stream(buf[offset + ilen + dlen : offset + ilen + dlen + sflen], codec)
        )
        encodings = [pb_decode(e) for e in sf.get(2, [])]
        # walk the stream directory to locate each column's data streams
        pos = offset
        located: dict[int, dict[int, tuple[int, int]]] = {}
        for sm in sf.get(1, []):
            m = pb_decode(sm)
            skind, scol, slen = _one(m, 1, 0), _one(m, 2, 0), _one(m, 3, 0)
            located.setdefault(scol, {})[skind] = (pos, slen)
            pos += slen
        for want, tid in col_ids.items():
            out[want].extend(_decode_tree(buf, tid, types, encodings, located, codec, nrows))
    return out
