"""From-scratch Parquet DATA reading — column chunks to Python values.

Builds on the footer walk in parquet_meta.py and goes all the way down
the storage stack in Python, with page decompression handed to
operators/codec.py (pyarrow's native codecs and the stdlib):

- Thrift ``PageHeader`` / ``DataPageHeader`` / ``DictionaryPageHeader``
  decode (via the generic compact-protocol decoder);
- the **RLE/bit-packed hybrid** (definition levels and dictionary
  indices);
- **PLAIN** decoding for BOOLEAN / INT32 / INT64 / FLOAT / DOUBLE /
  BYTE_ARRAY, and **RLE_DICTIONARY / PLAIN_DICTIONARY** pages
  (dictionary page + index pages);
- the three **DELTA_*** encodings (what Arrow/Spark writers emit for
  sorted int and string columns): DELTA_BINARY_PACKED
  (blocks/miniblocks, zigzag header, per-miniblock bit widths,
  wrapping-arithmetic prefix sums), DELTA_LENGTH_BYTE_ARRAY
  (delta-packed lengths + concatenated bytes) and DELTA_BYTE_ARRAY
  (incremental front-coding: delta-packed prefix lengths + suffixes);
- **BYTE_STREAM_SPLIT** (the float/double encoding) byte-plane
  reassembly — including the FLBA variant;
- **FIXED_LEN_BYTE_ARRAY** with its logical-type views: DECIMAL(p>18)
  (big-endian two's-complement unscaled → decimal.Decimal — the physical
  layout Spark/Arrow/DuckDB use for wide decimals), UUID (FLBA(16)) and
  FLOAT16 (FLBA(2)), under PLAIN / dictionary / DELTA_BYTE_ARRAY /
  BYTE_STREAM_SPLIT pages;
- definition-level reassembly for flat OPTIONAL columns (nulls).

- **DECIMAL over BYTE_ARRAY** (variable-length big-endian
  two's-complement unscaled — the Hive/parquet-mr legacy layout), PLAIN
  and dictionary pages; fixtures come from this module's own
  ``write_ba_decimal_fixture`` since no writer in the container emits
  the layout (pyarrow/DuckDB/Spark all pick INT/FLBA).

Honest gates: repeated (nested/list) columns beyond the 3-level LIST
shape and codecs beyond uncompressed/snappy/gzip/brotli/lz4/lz4_raw/zstd
(all inflated by operators/codec.py against the page header's declared
size; LZO remains gated — no fixture tool in the container) raise
``NotImplementedError``.  Modular-encryption files (``PARE`` magic or
signed plaintext footers) read through
``operators/parquet_crypto.read_encrypted_column``; this module handles
only plaintext payloads.  Scope is
deliberate: this is the verification path (read a column with zero
engine code and cross-check the engine's own scan), not a replacement
for Spark's vectorized reader.
"""

from __future__ import annotations

import struct
import zlib

from .codec import decompress
from .parquet_meta import thrift_compact_decode

__all__ = ["read_column", "read_table"]


# -- varints -------------------------------------------------------------------


def _uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = v = 0
    while True:
        if pos >= len(buf):
            raise ValueError(f"truncated varint at byte {pos}")
        b = buf[pos]
        pos += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, pos
        shift += 7


# -- RLE / bit-packed hybrid -----------------------------------------------------


def _rle_hybrid(data: bytes, pos: int, bit_width: int, count: int) -> tuple[list[int], int]:
    out: list[int] = []
    if bit_width == 0:
        return [0] * count, pos
    mask = (1 << bit_width) - 1
    while len(out) < count:
        h, pos = _uvarint(data, pos)
        if h & 1:  # bit-packed: (h >> 1) groups of 8 values
            groups = h >> 1
            nbytes = groups * bit_width
            chunk = data[pos : pos + nbytes]
            if len(chunk) < nbytes:
                raise ValueError(f"bit-packed run overruns page at byte {pos}")
            pos += nbytes
            acc = int.from_bytes(chunk, "little")
            for i in range(groups * 8):
                out.append((acc >> (i * bit_width)) & mask)
        else:  # RLE run
            run = h >> 1
            nb = (bit_width + 7) // 8
            v = int.from_bytes(data[pos : pos + nb], "little")
            pos += nb
            out.extend([v] * run)
    return out[:count], pos


# -- PLAIN decoding --------------------------------------------------------------

_FIXED = {1: ("i", 4), 2: ("q", 8), 4: ("f", 4), 5: ("d", 8)}  # parquet Type


def _plain_values(
    data: bytes,
    pos: int,
    ptype: int,
    count: int,
    type_length: int | None = None,
    binary: bool = False,
):
    if ptype == 0:  # BOOLEAN: bit-packed LSB-first
        out = [(data[pos + (i >> 3)] >> (i & 7)) & 1 == 1 for i in range(count)]
        return out, pos + (count + 7) // 8
    if ptype in _FIXED:
        letter, size = _FIXED[ptype]
        vals = list(struct.unpack_from(f"<{count}{letter}", data, pos))
        return vals, pos + count * size
    if ptype == 6:  # BYTE_ARRAY: 4-byte LE length prefix each
        out = []
        for _ in range(count):
            (ln,) = struct.unpack_from("<I", data, pos)
            pos += 4
            raw = data[pos : pos + ln]
            # binary view: DECIMAL columns store big-endian two's-complement
            # unscaled ints here — a UTF-8 decode would be lossy ("replace")
            out.append(raw if binary else raw.decode("utf-8", "replace"))
            pos += ln
        return out, pos
    if ptype == 3:  # INT96 legacy timestamp: 8-byte nanos-of-day + 4-byte Julian day
        import datetime as dt

        epoch = dt.datetime(1970, 1, 1)
        out = []
        for _ in range(count):
            # nanos-of-day is SIGNED: Arrow's INT96 writer truncates toward
            # zero, so pre-1970 timestamps carry NEGATIVE nanos; an unsigned
            # read decodes them ~584 years in the future (off by 2^64 ns).
            # Post-1970 values are unaffected (in-range nanos, same bits).
            nanos = int.from_bytes(data[pos : pos + 8], "little", signed=True)
            jday = int.from_bytes(data[pos + 8 : pos + 12], "little")
            micros = (jday - 2440588) * 86_400_000_000 + nanos // 1000
            out.append(epoch + dt.timedelta(microseconds=micros))
            pos += 12
        return out, pos
    if ptype == 7:  # FIXED_LEN_BYTE_ARRAY: type_length bytes each, no prefix
        if not type_length or type_length <= 0:
            raise ValueError("FLBA column without a positive type_length")
        end = pos + count * type_length
        if end > len(data):
            raise ValueError(f"FLBA run overruns page at byte {pos}")
        out = [data[p : p + type_length] for p in range(pos, end, type_length)]
        return out, end
    raise NotImplementedError(f"parquet physical type {ptype} not supported")


# -- DELTA_* encodings -----------------------------------------------------------


def _zigzag(buf: bytes, pos: int) -> tuple[int, int]:
    u, pos = _uvarint(buf, pos)
    return (u >> 1) ^ -(u & 1), pos


def _delta_binary_packed(data: bytes, pos: int, ptype: int) -> tuple[list[int], int]:
    """DELTA_BINARY_PACKED (encoding 5) for INT32/INT64.  Layout:
    <block size> <miniblocks per block> <total count> <first value: zigzag>,
    then per block <min delta: zigzag> <bit width per miniblock: 1 byte
    each> <bit-packed (delta - min_delta) miniblocks>.  Arithmetic wraps at
    the physical width (the spec's overflow rule), and only the miniblocks
    that contain needed values are present in the last block."""
    block_size, pos = _uvarint(data, pos)
    n_mini, pos = _uvarint(data, pos)
    total, pos = _uvarint(data, pos)
    first, pos = _zigzag(data, pos)
    if n_mini == 0 or block_size % n_mini:
        raise ValueError(f"bad DELTA_BINARY_PACKED geometry {block_size}/{n_mini}")
    vpm = block_size // n_mini
    if vpm % 32:
        raise ValueError(f"miniblock size {vpm} not a multiple of 32")
    bits = 32 if ptype == 1 else 64
    half, full = 1 << (bits - 1), 1 << bits

    def wrap(v: int) -> int:
        v &= full - 1
        return v - full if v >= half else v

    if total == 0:
        return [], pos
    prev = wrap(first)
    out = [prev]
    remaining = total - 1
    while remaining > 0:
        min_delta, pos = _zigzag(data, pos)
        widths = data[pos : pos + n_mini]
        if len(widths) < n_mini:
            raise ValueError(f"truncated miniblock width list at byte {pos}")
        pos += n_mini
        for bw in widths:
            if remaining <= 0:
                break
            take = min(vpm, remaining)
            if bw == 0:
                for _ in range(take):
                    prev = wrap(prev + min_delta)
                    out.append(prev)
            else:
                nbytes = vpm * bw // 8
                chunk = data[pos : pos + nbytes]
                if len(chunk) < nbytes:
                    raise ValueError(f"miniblock overruns page at byte {pos}")
                pos += nbytes
                acc = int.from_bytes(chunk, "little")
                m = (1 << bw) - 1
                for i in range(take):
                    prev = wrap(prev + min_delta + ((acc >> (i * bw)) & m))
                    out.append(prev)
            remaining -= take
    return out, pos


def _delta_length_byte_array(data: bytes, pos: int) -> tuple[list[bytes], int]:
    """DELTA_LENGTH_BYTE_ARRAY (encoding 6): all lengths as one
    DELTA_BINARY_PACKED int32 run, then the concatenated bytes."""
    lengths, pos = _delta_binary_packed(data, pos, 1)
    out: list[bytes] = []
    for ln in lengths:
        if ln < 0 or pos + ln > len(data):
            raise ValueError(f"bad byte-array length {ln} at byte {pos}")
        out.append(data[pos : pos + ln])
        pos += ln
    return out, pos


def _delta_byte_array(data: bytes, pos: int) -> tuple[list[bytes], int]:
    """DELTA_BYTE_ARRAY (encoding 7): incremental front-coding — prefix
    lengths as DELTA_BINARY_PACKED, suffixes as DELTA_LENGTH_BYTE_ARRAY;
    value[i] = value[i-1][:prefix_len[i]] + suffix[i]."""
    prefix_lens, pos = _delta_binary_packed(data, pos, 1)
    suffixes, pos = _delta_length_byte_array(data, pos)
    if len(suffixes) != len(prefix_lens):
        raise ValueError(
            f"prefix/suffix count mismatch {len(prefix_lens)} vs {len(suffixes)}"
        )
    out: list[bytes] = []
    prev = b""
    for pl, suf in zip(prefix_lens, suffixes):
        if pl < 0 or pl > len(prev):
            raise ValueError(f"prefix length {pl} exceeds previous value")
        prev = prev[:pl] + suf
        out.append(prev)
    return out, pos


# -- column chunk reader ----------------------------------------------------------


def _schema_leaves(meta: dict) -> dict[str, dict]:
    """name -> column descriptor for the root's children.  Flat leaves get
    ``{"kind": "flat", "max_def", "converted"}``; standard 3-level LIST
    groups (optional group[LIST] > repeated group > leaf) get
    ``{"kind": "list", "max_def", "max_rep", "converted", "path"}``;
    other nesting gets ``{"kind": "nested"}`` (honest gate)."""
    schema = meta.get(2, [])
    if not schema:
        raise ValueError("footer has no schema elements")
    out: dict[str, dict] = {}
    i = 1
    n = len(schema)
    while i < n:
        el = schema[i]
        name = el.get(4, b"").decode("utf-8", "replace")
        nchildren = el.get(5, 0)
        if not nchildren:
            rep = el.get(3, 0)
            if rep == 2:
                out[name] = {"kind": "nested"}
            else:
                out[name] = {
                    "kind": "flat",
                    "max_def": 1 if rep == 1 else 0,
                    "converted": el.get(6),
                    "type_length": el.get(2),
                    "scale": el.get(7),
                    "precision": el.get(8),
                    "logical": el.get(10),
                }
            i += 1
            continue
        # group: recognize the standard 3-level list shape
        sub = schema[i + 1] if i + 1 < n else {}
        leaf = schema[i + 2] if i + 2 < n else {}
        is_list = (
            el.get(6) == 3  # ConvertedType LIST
            and nchildren == 1
            and sub.get(3) == 2  # repeated middle group
            and sub.get(5, 0) == 1
            and not leaf.get(5, 0)  # single leaf
        )
        if is_list:
            # def levels: +1 optional outer (if optional), +1 repeated, +1
            # optional leaf (if optional)
            md = (1 if el.get(3, 0) == 1 else 0) + 1 + (1 if leaf.get(3, 0) == 1 else 0)
            out[name] = {
                "kind": "list",
                "max_def": md,
                "max_rep": 1,
                "converted": leaf.get(6),
                "type_length": leaf.get(2),
                "scale": leaf.get(7),
                "precision": leaf.get(8),
                "logical": leaf.get(10),
                "outer_optional": el.get(3, 0) == 1,
                "leaf_optional": leaf.get(3, 0) == 1,
                "path": ".".join(
                    x.get(4, b"").decode("utf-8", "replace") for x in (el, sub, leaf)
                ),
            }
            i += 3
            continue
        out[name] = {"kind": "nested"}
        # skip the whole subtree (pre-order with child counts)
        remaining = nchildren
        i += 1
        while remaining and i < n:
            remaining -= 1
            remaining += schema[i].get(5, 0)
            i += 1
    return out


def _wants_binary(desc: dict) -> bool:
    """True when a BYTE_ARRAY column must be decoded as raw bytes, not
    UTF-8: DECIMAL stores big-endian two's-complement unscaled ints in the
    byte array (the layout Spark/Arrow emit for DECIMAL over BYTE_ARRAY)."""
    return desc.get("converted") == 5 or 5 in (desc.get("logical") or {})


def _convert(values: list, desc: dict) -> list:
    """Apply the logical-type view.  ConvertedType enum: TIMESTAMP_MICROS
    (10) / TIMESTAMP_MILLIS (9) → naive datetimes, DATE (6) → dates,
    DECIMAL (5) → decimal.Decimal (INT32/INT64 unscaled, or FLBA/BYTE_ARRAY
    big-endian two's-complement unscaled — the physical layout Spark/Arrow
    use for DECIMAL(p>18)).  LogicalType union (SchemaElement field 10):
    UUID (field 14) → uuid.UUID over FLBA(16), FLOAT16 (field 15) →
    half-float over FLBA(2)."""
    import datetime as dt

    converted_type = desc.get("converted")
    logical = desc.get("logical") or {}
    if converted_type == 10:
        epoch = dt.datetime(1970, 1, 1)
        return [None if v is None else epoch + dt.timedelta(microseconds=v) for v in values]
    if converted_type == 9:
        epoch = dt.datetime(1970, 1, 1)
        return [None if v is None else epoch + dt.timedelta(milliseconds=v) for v in values]
    if converted_type == 6:
        epoch = dt.date(1970, 1, 1)
        return [None if v is None else epoch + dt.timedelta(days=v) for v in values]
    if converted_type == 5 or 5 in logical:  # DECIMAL
        import decimal

        scale = desc.get("scale")
        if scale is None:
            scale = logical.get(5, {}).get(1, 0)

        def to_dec(v):
            if v is None:
                return None
            if isinstance(v, str):  # _wants_binary must have kept these as bytes
                raise ValueError(
                    "DECIMAL BYTE_ARRAY page decoded as UTF-8 — binary flag lost upstream"
                )
            unscaled = int.from_bytes(v, "big", signed=True) if isinstance(v, (bytes, bytearray)) else int(v)
            return decimal.Decimal(unscaled).scaleb(-scale)

        return [to_dec(v) for v in values]
    if 14 in logical:  # UUID over FLBA(16)
        import uuid

        return [None if v is None else uuid.UUID(bytes=bytes(v)) for v in values]
    if 15 in logical:  # FLOAT16 over FLBA(2), little-endian
        return [
            None if v is None else struct.unpack("<e", bytes(v))[0] for v in values
        ]
    return values


def read_column(buf: bytes, column: str):
    """Read one column of a parquet file entirely from scratch.  Flat
    columns return a list (None for nulls); standard 3-level LIST columns
    return a list of lists (None for null lists / elements).  Values are
    concatenated over all row groups."""
    if buf[-4:] == b"PARE":
        raise ValueError(
            "encrypted-footer parquet file: use parquet_crypto.read_encrypted_column"
        )
    if buf[-4:] != b"PAR1":
        raise ValueError("not a parquet payload")
    (flen,) = struct.unpack_from("<I", buf, len(buf) - 8)
    meta, _ = thrift_compact_decode(buf[len(buf) - 8 - flen : len(buf) - 8])
    leaves = _schema_leaves(meta)
    if column not in leaves:
        raise ValueError(f"column {column!r} not in schema {sorted(leaves)}")
    desc = leaves[column]
    if desc["kind"] == "nested":
        raise NotImplementedError(
            "nested columns beyond the standard 3-level LIST shape not supported"
        )
    max_def = desc["max_def"]
    max_rep = desc.get("max_rep", 0)
    chunk_path = desc.get("path", column)

    out: list = []
    for rg in meta.get(4, []):
        for cc in rg.get(1, []):
            cm = cc.get(3, {})
            path = ".".join(p.decode("utf-8", "replace") for p in cm.get(3, []))
            if path != chunk_path:
                continue
            defs, reps, present = _read_chunk(
                buf, cm, max_def, max_rep, desc.get("type_length"), _wants_binary(desc)
            )
            present = _convert(present, desc)
            if desc["kind"] == "flat":
                it = iter(present)
                out.extend(next(it) if d == max_def else None for d in defs)
            else:
                out.extend(_assemble_lists(defs, reps, present, desc))
    return out


def _assemble_lists(defs, reps, present, desc):
    """Reassemble 3-level list rows from (def, rep) level pairs.
    Def-level meaning (outer optional, leaf optional, max_def=3):
    0 = null list, 1 = empty list, 2 = null element, 3 = value."""
    max_def = desc["max_def"]
    empty_level = 1 if desc["outer_optional"] else 0
    rows: list = []
    it = iter(present)
    cur: list | None = None
    for d, r in zip(defs, reps):
        if r == 0:  # this entry starts a new row
            if cur is not None:
                rows.append(cur)
            cur = None
            if d == 0 and desc["outer_optional"]:
                rows.append(None)
                continue
            if d <= empty_level:
                rows.append([])
                continue
            cur = []
        if cur is None:
            raise ValueError("repetition level continues a row that never started")
        if d == max_def:
            cur.append(next(it))
        elif desc["leaf_optional"] and d == max_def - 1:
            cur.append(None)
        else:
            raise ValueError(f"unexpected definition level {d} inside a list")
    if cur is not None:
        rows.append(cur)
    return rows


def _read_chunk(
    buf: bytes, cm: dict, max_def: int, max_rep: int, type_length: int | None = None, binary: bool = False
):
    start = cm.get(11, cm.get(9))  # dictionary page first when present
    if start is None:
        raise ValueError("column chunk has no page offset")

    def pages():
        pos = start
        while True:
            hdr, hend = thrift_compact_decode(buf, pos)
            comp_size = hdr.get(3)
            raw = buf[hend : hend + comp_size]
            pos = hend + comp_size
            if 4 in hdr:  # optional page CRC: crc32 over the on-disk page bytes
                if zlib.crc32(raw) != hdr[4] & 0xFFFFFFFF:
                    raise ValueError(f"page checksum mismatch at byte {hend}")
            yield hdr, raw

    return _decode_pages(pages(), cm, max_def, max_rep, type_length, binary)


def _decode_pages(
    pages, cm: dict, max_def: int, max_rep: int, type_length: int | None = None, binary: bool = False
):
    """Decode (page_header, raw_page_bytes) pairs from ``pages`` until the
    chunk's value count is reached.  Shared by the plaintext walk above and
    the modular-encryption reader (parquet_crypto), which feeds decrypted
    modules through the same logic."""
    ptype = cm.get(1)
    codec = cm.get(4, 0)
    if codec not in (0, 1, 2, 4, 5, 6, 7):
        raise NotImplementedError(
            f"codec {codec} not supported (uncompressed/snappy/gzip/brotli/lz4/zstd)"
        )
    n_values = cm.get(5, 0)
    dictionary = None
    defs: list[int] = []
    reps: list[int] = []
    present: list = []
    it = iter(pages)
    while len(defs) < n_values:
        try:
            hdr, raw = next(it)
        except StopIteration:
            raise ValueError(
                f"column chunk ended after {len(defs)} of {n_values} values"
            ) from None
        page_type = hdr.get(1)
        if page_type == 2:  # DICTIONARY_PAGE
            data = _decompress(raw, codec, hdr.get(2, -1))
            dph = hdr.get(7, {})
            dictionary, _ = _plain_values(data, 0, ptype, dph.get(1, 0), type_length, binary)
            continue
        if page_type == 0:  # DATA_PAGE (v1): whole page compressed together
            data = _decompress(raw, codec, hdr.get(2, -1))
            dp = hdr.get(5, {})
            nv = dp.get(1, 0)
            enc = dp.get(2)
            dpos = 0
            page_reps = [0] * nv
            if max_rep > 0:  # rep levels first: 4-byte length + hybrid
                (ln,) = struct.unpack_from("<I", data, dpos)
                dpos += 4
                page_reps, _ = _rle_hybrid(data, dpos, max_rep.bit_length(), nv)
                dpos += ln
            page_defs = [max_def] * nv
            if max_def > 0:  # then def levels
                (ln,) = struct.unpack_from("<I", data, dpos)
                dpos += 4
                page_defs, _ = _rle_hybrid(data, dpos, max_def.bit_length(), nv)
                dpos += ln
            n_present = sum(1 for d in page_defs if d == max_def)
            page_vals = _decode_values(
                data, dpos, enc, ptype, n_present, dictionary, type_length, binary
            )
        elif page_type == 3:  # DATA_PAGE_V2: levels stored uncompressed up front
            dp = hdr.get(8, {})
            nv = dp.get(1, 0)
            enc = dp.get(4)
            dll = dp.get(5, 0)
            rll = dp.get(6, 0)
            page_reps = [0] * nv
            if max_rep > 0 and rll:
                page_reps, _ = _rle_hybrid(raw, 0, max_rep.bit_length(), nv)
            page_defs = [max_def] * nv
            if max_def > 0 and dll:
                page_defs, _ = _rle_hybrid(raw, rll, max_def.bit_length(), nv)
            body = raw[dll + rll :]
            if dp.get(7, True):  # is_compressed applies to the values only
                body = _decompress(body, codec, hdr.get(2, -1) - dll - rll)
            n_present = sum(1 for d in page_defs if d == max_def)
            page_vals = _decode_values(
                body, 0, enc, ptype, n_present, dictionary, type_length, binary
            )
        else:
            raise NotImplementedError(f"page type {page_type} not supported")
        defs.extend(page_defs)
        reps.extend(page_reps)
        present.extend(page_vals)
    return defs[:n_values], reps[:n_values], present


#: parquet CompressionCodec -> codec.decompress name (3 = LZO stays gated)
_CODECS = {1: "snappy", 2: "gzip", 4: "brotli", 5: "lz4_hadoop", 6: "zstd", 7: "lz4_raw"}


def _decompress(raw: bytes, codec: int, size: int) -> bytes:
    """Inflate one page body to the ``size`` its header declares."""
    if codec == 0:
        return raw
    return decompress(raw, _CODECS[codec], size)


def _decode_values(
    data: bytes,
    pos: int,
    enc: int,
    ptype: int,
    count: int,
    dictionary,
    type_length: int | None = None,
    binary: bool = False,
):
    if count == 0:
        return []
    if enc == 0:  # PLAIN
        vals, _ = _plain_values(data, pos, ptype, count, type_length, binary)
        return vals
    if enc in (2, 8):  # PLAIN_DICTIONARY / RLE_DICTIONARY
        if dictionary is None:
            raise ValueError("dictionary-encoded page before any dictionary page")
        bw = data[pos]
        idx, _ = _rle_hybrid(data, pos + 1, bw, count)
        try:
            return [dictionary[i] for i in idx]
        except IndexError:
            raise ValueError("dictionary index out of range") from None
    if enc == 5:  # DELTA_BINARY_PACKED
        if ptype not in (1, 2):
            raise NotImplementedError(
                f"DELTA_BINARY_PACKED on physical type {ptype} (INT32/INT64 only)"
            )
        vals, _ = _delta_binary_packed(data, pos, ptype)
        if len(vals) < count:
            raise ValueError(f"DELTA page holds {len(vals)} values, need {count}")
        return vals[:count]
    if enc == 7 and ptype == 7:  # DELTA_BYTE_ARRAY over FLBA: front-coded, keep bytes
        vals, _ = _delta_byte_array(data, pos)
        if len(vals) < count:
            raise ValueError(f"DELTA page holds {len(vals)} values, need {count}")
        if type_length and any(len(v) != type_length for v in vals[:count]):
            raise ValueError("front-coded FLBA value violates type_length")
        return vals[:count]
    if enc in (6, 7):  # DELTA_LENGTH_BYTE_ARRAY / DELTA_BYTE_ARRAY
        if ptype != 6:
            raise NotImplementedError(
                f"DELTA byte-array encoding {enc} on physical type {ptype}"
            )
        decode = _delta_length_byte_array if enc == 6 else _delta_byte_array
        vals, _ = decode(data, pos)
        if len(vals) < count:
            raise ValueError(f"DELTA page holds {len(vals)} values, need {count}")
        if binary:
            return vals[:count]
        return [v.decode("utf-8", "replace") for v in vals[:count]]
    if enc == 9:  # BYTE_STREAM_SPLIT: K byte planes of `count` values each
        if ptype == 7:  # FLBA planes reassemble to bytes (float16/decimal)
            if not type_length or type_length <= 0:
                raise ValueError("BYTE_STREAM_SPLIT FLBA without a type_length")
            width = type_length
            if len(data) - pos < count * width:
                raise ValueError("BYTE_STREAM_SPLIT page shorter than its value block")
            planes = [data[pos + k * count : pos + (k + 1) * count] for k in range(width)]
            return [bytes(p[i] for p in planes) for i in range(count)]
        if ptype not in _FIXED:
            raise NotImplementedError(
                f"BYTE_STREAM_SPLIT on physical type {ptype} (fixed-width only)"
            )
        letter, width = _FIXED[ptype]
        if len(data) - pos < count * width:
            raise ValueError("BYTE_STREAM_SPLIT page shorter than its value block")
        planes = [data[pos + k * count : pos + (k + 1) * count] for k in range(width)]
        joined = bytes(b for i in range(count) for b in (p[i] for p in planes))
        return list(struct.unpack(f"<{count}{letter}", joined))
    raise NotImplementedError(
        f"encoding {enc} not supported (PLAIN/dictionary/DELTA/BYTE_STREAM_SPLIT subset)"
    )


def read_table(buf: bytes, columns: list[str]) -> dict[str, list]:
    """Read several flat columns; returns {name: values}."""
    return {c: read_column(buf, c) for c in columns}


# -- BYTE_ARRAY DECIMAL fixture writer --------------------------------------------
#
# DECIMAL may legally annotate the BYTE_ARRAY physical type (variable-length
# big-endian two's-complement unscaled int — parquet LogicalTypes spec), but
# none of the writers in this container emit it: pyarrow, DuckDB and Spark
# all choose INT32/INT64/FLBA.  Real lakes do contain such files (Hive and
# parquet-mr with older schema mappings), so the read path above supports
# them and this writer exists to produce test fixtures — single row group,
# OPTIONAL columns with def-levels, PLAIN or dictionary pages, uncompressed.


def _uvarint_bytes(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _bitpack1(bits: list[int]) -> bytes:
    """RLE-hybrid payload: one bit-packed run of bit-width-1 levels."""
    groups = (len(bits) + 7) // 8
    data = bytearray(groups)
    for i, b in enumerate(bits):
        data[i >> 3] |= (b & 1) << (i & 7)
    return _uvarint_bytes((groups << 1) | 1) + bytes(data)


def _signed_be(u: int) -> bytes:
    ln = 1
    while True:
        try:
            return u.to_bytes(ln, "big", signed=True)
        except OverflowError:
            ln += 1


def write_ba_decimal_fixture(
    columns: dict[str, tuple[list, int, int]], dictionary: bool = False
) -> bytes:
    """Write a plaintext parquet file whose DECIMAL columns use the
    BYTE_ARRAY physical type.  ``columns``: name -> (values, precision,
    scale) with values ``decimal.Decimal | None`` (all columns OPTIONAL —
    None writes def-level 0).  ``dictionary=True`` emits a PLAIN
    dictionary page + RLE_DICTIONARY-indexed data page instead of PLAIN."""
    from .parquet_meta import thrift_compact_encode

    out = bytearray(b"PAR1")
    n_rows = None
    chunks = []  # (name, precision, scale, dict_start|None, data_start, end, n)
    for name, (values, precision, scale) in columns.items():
        if n_rows is None:
            n_rows = len(values)
        elif len(values) != n_rows:
            raise ValueError("all columns must have the same length")
        defs = [0 if v is None else 1 for v in values]
        raws = [_signed_be(int(v.scaleb(scale))) for v in values if v is not None]
        chunk_start = len(out)
        dict_start = None
        if dictionary:
            uniq = sorted(set(raws))
            page = b"".join(struct.pack("<I", len(r)) + r for r in uniq)
            hdr = thrift_compact_encode(
                [
                    (1, 5, 2),  # DICTIONARY_PAGE
                    (2, 5, len(page)),
                    (3, 5, len(page)),
                    (7, 12, [(1, 5, len(uniq)), (2, 5, 0)]),  # PLAIN dict
                ]
            )
            dict_start = chunk_start
            out += hdr + page
            index = {r: i for i, r in enumerate(uniq)}
            bw = max(1, (len(uniq) - 1).bit_length())
            idx = [index[r] for r in raws]
            groups = (len(idx) + 7) // 8
            packed = bytearray(groups * bw)
            acc = 0
            for i, v in enumerate(idx):
                acc |= v << (i * bw)
            packed = acc.to_bytes(groups * bw, "little")
            vals = bytes([bw]) + _uvarint_bytes((groups << 1) | 1) + packed
            enc = 8  # RLE_DICTIONARY
        else:
            vals = b"".join(struct.pack("<I", len(r)) + r for r in raws)
            enc = 0  # PLAIN
        dl = _bitpack1(defs)
        body = struct.pack("<I", len(dl)) + dl + vals
        hdr = thrift_compact_encode(
            [
                (1, 5, 0),  # DATA_PAGE
                (2, 5, len(body)),
                (3, 5, len(body)),
                (5, 12, [(1, 5, len(values)), (2, 5, enc), (3, 5, 3), (4, 5, 3)]),
            ]
        )
        data_start = len(out)
        out += hdr + body
        chunks.append((name, precision, scale, dict_start, data_start, len(out), len(values)))

    schema = [[(4, 8, b"schema"), (5, 5, len(columns))]]
    for name, precision, scale, *_ in chunks:
        schema.append(
            [
                (1, 5, 6),  # BYTE_ARRAY
                (3, 5, 1),  # OPTIONAL
                (4, 8, name.encode()),
                (6, 5, 5),  # ConvertedType DECIMAL
                (7, 5, scale),
                (8, 5, precision),
            ]
        )

    cc_fields = []
    for name, precision, scale, dict_start, data_start, end, nv in chunks:
        start = dict_start if dict_start is not None else data_start
        cm = [
            (1, 5, 6),
            (2, 9, (5, [0, 3, 8] if dict_start is not None else [0, 3])),
            (3, 9, (8, [name.encode()])),
            (4, 5, 0),  # UNCOMPRESSED
            (5, 6, nv),
            (6, 6, end - start),
            (7, 6, end - start),
            (9, 6, data_start),
        ]
        if dict_start is not None:
            cm.append((11, 6, dict_start))
        cc_fields.append([(2, 6, start), (3, 12, cm)])

    rg = [
        (1, 9, (12, cc_fields)),
        (2, 6, sum(c[5] - (c[3] if c[3] is not None else c[4]) for c in chunks)),
        (3, 6, n_rows or 0),
    ]
    meta = thrift_compact_encode(
        [
            (1, 5, 1),
            (2, 9, (12, schema)),
            (3, 6, n_rows or 0),
            (4, 9, (12, [rg])),
            (6, 8, b"native_sql_engine_spark ba-decimal fixture writer"),
        ]
    )
    out += meta
    out += struct.pack("<I", len(meta)) + b"PAR1"
    return bytes(out)
