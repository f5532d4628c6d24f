"""The codec/cipher helper (operators/codec.py): every codec arm keeps
the ValueError contract on malformed input, and the native libraries it
relies on load inside a Python worker."""

from __future__ import annotations

import bz2
import gzip
import lzma
import struct
import zlib

import pyarrow as pa
import pytest

from native_sql_engine_spark.operators.codec import decompress

CODECS = [
    "zstd", "brotli", "lz4", "lz4_raw", "lz4_hadoop", "snappy",
    "gzip", "zlib", "deflate", "bz2", "xz",
]

PAYLOAD = b"".join(f"row{i},val{i * 7 % 13},{i * i}\n".encode() for i in range(2000))


def encode(codec: str, data: bytes) -> bytes:
    """Reference encoder for each arm: pyarrow's native codecs, the
    Hadoop-LZ4 record framing around one raw block, and the stdlib."""
    if codec == "lz4_hadoop":
        block = pa.compress(data, "lz4_raw", asbytes=True)
        return struct.pack(">II", len(data), len(block)) + block
    if codec in ("zstd", "brotli", "lz4", "lz4_raw", "snappy"):
        return pa.compress(data, codec, asbytes=True)
    return {
        "gzip": gzip.compress,
        "zlib": zlib.compress,
        "deflate": lambda d: zlib.compress(d)[2:-4],
        "bz2": bz2.compress,
        "xz": lzma.compress,
    }[codec](data)


@pytest.mark.parametrize("codec", CODECS)
def test_roundtrip_with_and_without_declared_size(codec):
    z = encode(codec, PAYLOAD)
    assert decompress(z, codec) == PAYLOAD
    assert decompress(z, codec, size=len(PAYLOAD)) == PAYLOAD
    assert decompress(z, codec, max_output=len(PAYLOAD)) == PAYLOAD


@pytest.mark.parametrize(
    "case",
    [
        "truncated_half", "truncated_last_byte", "corrupt", "trailing",
        "empty", "size_over", "size_under", "over_cap",
    ],
)
@pytest.mark.parametrize("codec", CODECS)
def test_malformed_input_raises_value_error(codec, case):
    """Never an OSError/zlib.error, never a short or padded result."""
    z = encode(codec, PAYLOAD)
    args = {
        "truncated_half": (z[: len(z) // 2],),
        "truncated_last_byte": (z[:-1],),
        "corrupt": (bytes(b ^ 0xFF for b in z[:4]) + z[4:],),
        "trailing": (z + b"zz",),
        "empty": (b"",),
        "size_over": (z, len(PAYLOAD) + 1),
        "size_under": (z, len(PAYLOAD) - 1),
        "over_cap": (z, None, len(PAYLOAD) - 1),
    }[case]
    with pytest.raises(ValueError):
        decompress(args[0], codec, *args[1:])


def test_unknown_codec_is_a_gate():
    with pytest.raises(NotImplementedError):
        decompress(b"\x00", "lzo")


def test_codec_dependencies_load_in_python_worker(spark):
    """A pyarrow build without one of these codecs, or an environment
    without ``cryptography``, fails here rather than mid-task in a worker."""
    names = ["zstd", "brotli", "lz4", "lz4_raw", "snappy"]

    def probe(it):
        import pandas as pd
        import pyarrow as pa
        from cryptography.hazmat.primitives.ciphers.aead import AESGCM  # noqa: F401

        import native_sql_engine_spark.operators.codec  # noqa: F401

        for _ in it:
            ok = [pa.Codec.is_available(c) for c in names]
            yield pd.DataFrame({"codec": names, "ok": ok})

    rows = spark.range(1).mapInPandas(probe, "codec string, ok boolean").collect()
    assert {r.codec: r.ok for r in rows} == dict.fromkeys(names, True)
