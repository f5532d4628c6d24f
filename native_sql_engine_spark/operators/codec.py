"""Codec and cipher helper: the one place that decides which library
decodes a compressed payload or decrypts an encrypted parquet module.

The format readers (parquet_data, parquet_crypto, orc, avro, web) name a
codec; this module runs it:

- zstd, brotli, lz4 frames, raw LZ4 blocks and snappy on pyarrow's
  bundled native codecs;
- gzip, zlib, raw deflate, bzip2 and xz on the stdlib;
- AES-GCM and AES-CTR on ``cryptography``.

Every arm keeps the codec-layer contract the readers rely on: malformed
input raises ``ValueError`` (never ``OSError``, ``zlib.error`` or
``InvalidTag``), and a result is never silently short or padded.
Truncated, corrupt or trailing bytes and empty input raise; ``size``,
when the container declares the decoded length (parquet page headers,
Hadoop-LZ4 records), must match; ``max_output`` caps the decoded size,
and decoding stops as soon as it is passed.  Frame codecs (zstd, lz4,
gzip, bzip2, xz) decode concatenated frames; zstd and lz4 skip
skippable frames.

Two formats carry no end marker of their own.  Snappy's varint preamble
holds the exact length, which is checked against ``size`` before the
block is decoded.  A raw LZ4 block (parquet LZ4_RAW, ORC LZ4 chunks,
Hadoop-LZ4 inner blocks) decodes as the single block of an LZ4 frame
whose descriptor is constant; that descriptor caps the block at 4 MiB
decoded (ORC chunks are at most the file's compression block size,
256 KiB by default).  Bytes appended to a raw LZ4 block that happen to
parse as a literal run are only caught by a declared ``size``.
"""

from __future__ import annotations

import bz2
import lzma
import struct
import zlib

import pyarrow as pa
from cryptography.exceptions import InvalidTag
from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes
from cryptography.hazmat.primitives.ciphers.aead import AESGCM

__all__ = ["MAX_OUTPUT", "ctr_decrypt", "decompress", "gcm_decrypt", "gcm_encrypt"]

#: default cap on one payload's decoded size
MAX_OUTPUT = 1 << 31

#: LZ4 frame magic, FLG (version 1, independent blocks, no checksums or
#: content size), BD (4 MiB block maximum) and the descriptor checksum
_LZ4_RAW_FRAME = b"\x04\x22\x4d\x18\x60\x70\x73"
_STREAMED = {"zstd": "zstd", "brotli": "brotli", "lz4": "lz4", "lz4_raw": "lz4"}
_STDLIB = {
    "gzip": lambda: zlib.decompressobj(31),
    "zlib": zlib.decompressobj,
    "deflate": lambda: zlib.decompressobj(-15),
    "bz2": bz2.BZ2Decompressor,
    "xz": lzma.LZMADecompressor,
}
_MULTI_STREAM = {"gzip", "bz2", "xz"}


def decompress(
    buf: bytes, codec: str, size: int | None = None, max_output: int = MAX_OUTPUT
) -> bytes:
    """Decode one ``codec`` payload: 'zstd', 'brotli', 'lz4' (frames),
    'lz4_raw' (one block), 'lz4_hadoop', 'snappy', 'gzip', 'zlib',
    'deflate' (raw), 'bz2' or 'xz'."""
    buf = bytes(buf)
    if not buf:
        raise ValueError(f"empty {codec} payload")
    if size is not None and size < 0:
        raise ValueError(f"container declares a negative {codec} size {size}")
    limit = max_output if size is None else min(size, max_output)
    try:
        if codec == "snappy":
            out = _snappy(buf, limit)
        elif codec == "lz4_hadoop":
            out = _lz4_hadoop(buf, limit)
        elif codec in _STREAMED:
            out = _streamed(buf, codec, limit)
        elif codec in _STDLIB:
            out = _stdlib(buf, codec, limit)
        else:
            raise NotImplementedError(f"codec {codec!r} not supported")
    except (OSError, zlib.error, lzma.LZMAError) as exc:
        raise ValueError(f"corrupt or truncated {codec} payload: {exc}") from exc
    if len(out) > max_output:
        raise ValueError(f"{codec} output exceeds max_output={max_output}")
    if size is not None and len(out) != size:
        raise ValueError(f"{codec} payload decodes to {len(out)} bytes, container declares {size}")
    return out


def _streamed(buf: bytes, codec: str, limit: int) -> bytes:
    if codec == "lz4_raw":
        buf = _LZ4_RAW_FRAME + struct.pack("<I", len(buf)) + buf + bytes(4)
    out = bytearray()
    with pa.CompressedInputStream(pa.BufferReader(buf), _STREAMED[codec]) as stream:
        while len(out) <= limit:
            chunk = stream.read(min(limit + 1 - len(out), 1 << 20))
            if not chunk:
                break
            out += chunk
    return bytes(out)


def _stdlib(buf: bytes, codec: str, limit: int) -> bytes:
    out = bytearray()
    while buf:
        d = _STDLIB[codec]()
        out += d.decompress(buf, limit + 1 - len(out))
        if len(out) > limit:
            break
        if not d.eof:
            raise ValueError(f"truncated {codec} stream")
        buf = d.unused_data
        if buf and codec not in _MULTI_STREAM:
            raise ValueError(f"{len(buf)} trailing byte(s) after the {codec} stream")
    return bytes(out)


def _snappy(buf: bytes, limit: int) -> bytes:
    n = shift = pos = 0
    while True:  # uvarint preamble: the exact decoded length
        if pos >= len(buf) or shift > 35:
            raise ValueError("truncated snappy length preamble")
        b = buf[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            break
    if n > limit:
        raise ValueError(f"snappy preamble declares {n} bytes, over the limit of {limit}")
    if n > 22 * len(buf):  # no snappy element expands more than 3 bytes -> 64
        raise ValueError(f"snappy preamble declares {n} bytes, more than {len(buf)} can hold")
    return pa.decompress(buf, n, codec="snappy", asbytes=True)


def _lz4_hadoop(buf: bytes, limit: int) -> bytes:
    """Legacy parquet LZ4 (codec 5): records of [4-byte BE decoded size]
    then one or more [4-byte BE block size][raw block] (Arrow writes one
    block per record, even for an empty page).  A payload that does not
    parse as such records is a bare raw block, as older Arrow writers
    stored it."""
    try:
        out = bytearray()
        pos, n = 0, len(buf)
        while pos < n:
            if pos + 8 > n:
                raise ValueError("truncated Hadoop LZ4 record")
            (want,) = struct.unpack_from(">I", buf, pos)
            pos += 4
            end = len(out) + want
            if end > limit:
                raise ValueError(f"Hadoop LZ4 record declares {want} bytes, over the limit")
            while True:
                if pos + 4 > n:
                    raise ValueError(f"truncated Hadoop LZ4 block size at byte {pos}")
                (csize,) = struct.unpack_from(">I", buf, pos)
                pos += 4
                if pos + csize > n:
                    raise ValueError("Hadoop LZ4 block overruns the buffer")
                out += decompress(buf[pos : pos + csize], "lz4_raw", max_output=end - len(out))
                pos += csize
                if len(out) >= end:
                    break
        return bytes(out)
    except ValueError:
        return _streamed(buf, "lz4_raw", limit)


# -- ciphers ---------------------------------------------------------------------------


def gcm_decrypt(key: bytes, nonce: bytes, ct: bytes, tag: bytes, aad: bytes = b"") -> bytes:
    """AES-GCM decrypt and authenticate (12-byte nonce, 16-byte tag)."""
    if len(nonce) != 12 or len(tag) != 16:
        raise ValueError("GCM needs a 12-byte nonce and 16-byte tag")
    try:
        return AESGCM(key).decrypt(nonce, ct + tag, aad)
    except InvalidTag:
        raise ValueError("GCM tag mismatch (wrong key, tampered data, or wrong AAD)") from None


def gcm_encrypt(key: bytes, nonce: bytes, pt: bytes, aad: bytes = b"") -> tuple[bytes, bytes]:
    """AES-GCM encrypt; returns (ciphertext, tag)."""
    sealed = AESGCM(key).encrypt(nonce, pt, aad)
    return sealed[:-16], sealed[-16:]


def ctr_decrypt(key: bytes, nonce: bytes, ct: bytes) -> bytes:
    """AES-CTR decrypt as parquet's AES_GCM_CTR_V1 page modules use it:
    the initial counter block is the 12-byte nonce followed by a 32-bit
    big-endian counter equal to 1."""
    if len(nonce) != 12:
        raise ValueError("CTR needs a 12-byte nonce")
    dec = Cipher(algorithms.AES(key), modes.CTR(nonce + b"\x00\x00\x00\x01")).decryptor()
    return dec.update(ct) + dec.finalize()
