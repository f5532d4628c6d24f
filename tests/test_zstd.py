"""Zstandard through operators/codec.py — frames from pyarrow's encoder
AND the reference zstd CLI at multiple levels, multi-frame and
skippable-frame walks, error paths, and zstd parquet pages vs DuckDB."""

from __future__ import annotations

import os
import shutil
import struct
import subprocess
import tempfile

import pyarrow as pa
import pytest

from native_sql_engine_spark.operators.codec import decompress


def zstd_decompress(buf: bytes) -> bytes:
    return decompress(buf, "zstd")


def zstd_compress(data: bytes) -> bytes:
    return pa.compress(data, "zstd", asbytes=True)


_CLI = shutil.which("zstd")


def _cases():
    return {
        "empty": b"",
        "one": b"a",
        "rle_ish": b"\x00" * 100_000,
        "repetitive": b"hello hello hello world " * 2_000,
        "structured": b"".join(
            f"row{i},val{i * 7 % 13},{i * i}\n".encode() for i in range(20_000)
        ),
        "random": bytes((i * 2654435761) >> 7 & 0xFF for i in range(50_000)),
        "utf8": "αβγδε UTF-8 κείμενο — ".encode() * 3_000,
    }


@pytest.mark.parametrize("level", [1, 3, 9, 19])
def test_pyarrow_matrix(level):
    codec = pa.Codec("zstd", compression_level=level)
    for name, d in _cases().items():
        z = codec.compress(d, asbytes=True)
        assert zstd_decompress(z) == d, (name, level)


@pytest.mark.skipif(_CLI is None, reason="reference zstd CLI not on PATH")
@pytest.mark.parametrize(
    "args",
    [["-1"], ["-9"], ["-19"], ["--ultra", "-22"], ["-3", "--long=27"], ["-5", "--no-check"]],
)
def test_reference_cli_matrix(args):
    """Frames from the reference implementation: multi-block, checksummed
    (CLI default), ultra levels, long-distance matching."""
    with tempfile.TemporaryDirectory() as td:
        for name, d in _cases().items():
            src = os.path.join(td, name)
            dst = src + ".zst"
            open(src, "wb").write(d)
            subprocess.run(["zstd", "-f", "-q", *args, src, "-o", dst], check=True)
            assert zstd_decompress(open(dst, "rb").read()) == d, (name, args)


def test_multi_frame_and_skippable():
    a, b = b"first frame " * 100, b"second frame " * 77
    skip = struct.pack("<II", 0x184D2A53, 5) + b"extra"
    buf = zstd_compress(a) + skip + zstd_compress(b)
    assert zstd_decompress(buf) == a + b


def test_error_paths_and_gates():
    with pytest.raises(ValueError):  # bad magic
        zstd_decompress(b"\x00\x01\x02\x03\x04")
    with pytest.raises(ValueError):  # frame ends after its magic
        zstd_decompress(struct.pack("<I", 0xFD2FB528))
    good = zstd_compress(b"payload payload payload " * 20)
    # wrong frame content size (single-segment frame: FCS starts at offset 5)
    bad = bytearray(good)
    bad[5] ^= 0x01
    with pytest.raises(ValueError):
        zstd_decompress(bytes(bad))
    # a frame naming a dictionary that was not supplied is an error
    fhd = good[4]
    dict_frame = good[:4] + bytes([fhd | 0x01]) + b"\x07" + good[5:]
    with pytest.raises(ValueError):
        zstd_decompress(dict_frame)


@pytest.mark.skipif(_CLI is None, reason="reference zstd CLI not on PATH")
def test_content_checksum_mismatch():
    """A checksummed frame (the CLI default) with one flipped content
    byte fails its XXH64 check."""
    with tempfile.TemporaryDirectory() as td:
        src = os.path.join(td, "p")
        open(src, "wb").write(b"payload payload payload " * 20)
        subprocess.run(["zstd", "-f", "-q", "-1", src, "-o", src + ".zst"], check=True)
        z = bytearray(open(src + ".zst", "rb").read())
        assert zstd_decompress(bytes(z)) == b"payload payload payload " * 20
        z[-6] ^= 0xFF
        with pytest.raises(ValueError):
            zstd_decompress(bytes(z))


def test_parquet_zstd_pages_match_duckdb():
    """Zstd-compressed parquet pages through the from-scratch page reader:
    every column of a pyarrow-written zstd file decodes bit-identically
    to DuckDB's reader (codec 6 wiring in parquet_data.py)."""
    import duckdb
    import pyarrow.parquet as pq

    from native_sql_engine_spark.operators.parquet_data import read_column

    src = "/root/testdata/sf0.01/orders.parquet"
    t = pq.read_table(src)
    with tempfile.NamedTemporaryFile(suffix=".parquet") as f:
        pq.write_table(t, f.name, compression="zstd", compression_level=9, row_group_size=3000)
        buf = open(f.name, "rb").read()
        cols = duckdb.sql(f"DESCRIBE SELECT * FROM read_parquet('{f.name}')").fetchall()
        for col, *_ in cols:
            got = read_column(buf, col)
            want = [
                r[0]
                for r in duckdb.sql(
                    f'SELECT "{col}" FROM read_parquet(\'{f.name}\')'
                ).fetchall()
            ]
            assert got == want, col


def test_decompress_text_zstd_arm(spark):
    """decompress_text dispatches the zstd magic to the zstd arm,
    alongside the stdlib codecs."""
    from pyspark.sql import functions as F

    from native_sql_engine_spark.operators.web import (
        decompress_text,
        synthesize_zstd_corpus,
    )

    df = spark.createDataFrame(
        [(1, "hello zstd"), (2, "δεύτερο κείμενο"), (3, "")], ["doc_id", "text"]
    )
    rows = (
        decompress_text(synthesize_zstd_corpus(df), "payload", "doc_id")
        .orderBy("media_id")
        .collect()
    )
    assert [r.codec for r in rows] == ["zstd", "zstd", "zstd"]
    assert rows[0].text == "hello zstd"
    assert rows[1].text == "δεύτερο κείμενο"
    assert rows[2].text == "" and rows[2].n_bytes == 0


def test_frames_do_not_share_windows():
    """Each frame decodes on its own window: concatenated frames decode
    to the concatenation of their contents."""
    a = zstd_compress(b"A" * 50)
    b = zstd_compress(b"B" * 10)
    assert zstd_decompress(a + b) == b"A" * 50 + b"B" * 10
