"""Brotli through operators/codec.py — libbrotli-encoded streams across
quality levels, the malformed-input contract and the parquet codec-4
page path."""

from __future__ import annotations

import random

import pytest

from native_sql_engine_spark.operators.codec import MAX_OUTPUT, decompress


def brotli_decompress(buf: bytes, max_output: int = MAX_OUTPUT) -> bytes:
    return decompress(buf, "brotli", max_output=max_output)


def _real(data: bytes, q: int = 11) -> bytes:
    import pyarrow as pa

    return pa.Codec("brotli", compression_level=q).compress(data, asbytes=True)


def test_roundtrip_matrix_vs_real_encoder():
    """Every quality tier (fast/balanced/max) x payload shape: uncompressed
    meta-blocks, plain backward references, context-modelled literals,
    static-dictionary references all flow through."""
    random.seed(11)
    cases = {
        "empty": b"",
        "one": b"x",
        "english": (
            b"This is not the time for working with people from all of the "
            b"world. Technology should provide information. " * 3
        ),
        "repetitive": b"abcdefgh" * 5000,
        "random": bytes(random.randrange(256) for _ in range(60000)),
        "skewed": bytes(random.choice(b"aabbccddee\n \t") for _ in range(80000)),
        "binary-ladder": bytes(range(256)) * 64,
    }
    for q in (0, 1, 2, 5, 9, 11):
        for name, data in cases.items():
            assert brotli_decompress(_real(data, q)) == data, (q, name)


def test_static_dictionary_and_transforms():
    """Short unique English at q11 is encoded with static-dictionary word
    references and their transforms."""
    text = (
        b"This is not the time for working with people from all of the "
        b"world. Technology should provide information."
    )
    z = _real(text, 11)
    assert len(z) < len(text) // 2  # dictionary references shrink it below half
    assert brotli_decompress(z) == text


def test_malformed_inputs_raise_value_error():
    z = _real(b"hello world")
    with pytest.raises(ValueError):  # trailing bytes
        brotli_decompress(z + b"zz")
    with pytest.raises(ValueError):
        brotli_decompress(_real(open("README.md", "rb").read())[:40])
    with pytest.raises(ValueError):
        brotli_decompress(b"\xff" * 10)
    with pytest.raises(ValueError, match="max_output"):
        brotli_decompress(_real(b"a" * 100000), max_output=10)


def test_parquet_brotli_pages_match_pyarrow():
    """Parquet codec 4: our footer walk + page decode + brotli vs pyarrow's
    own reader on the same file (DuckDB cannot read brotli parquet, so the
    second opinion is Arrow's C++ reader)."""
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from native_sql_engine_spark.operators.parquet_data import read_column

    t = pa.table(
        {
            "k": list(range(3000)),
            "s": [f"value-{i % 97}" for i in range(3000)],
            "f": [i / 7.0 for i in range(3000)],
        }
    )
    with tempfile.NamedTemporaryFile(suffix=".parquet") as f:
        pq.write_table(t, f.name, compression="brotli")
        md = pq.ParquetFile(f.name).metadata.row_group(0).column(0)
        assert md.compression == "BROTLI"
        buf = open(f.name, "rb").read()
        for col in ("k", "s", "f"):
            assert read_column(buf, col) == t[col].to_pylist(), col
