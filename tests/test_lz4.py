"""LZ4 through operators/codec.py: raw blocks (in a synthesized frame),
Hadoop framing, frame format with checksums — checked against pyarrow's
lz4/lz4_raw encoders, the reference lz4 CLI and DuckDB's parquet reader."""

from __future__ import annotations

import os
import shutil
import struct
import subprocess
import tempfile

import pytest

from native_sql_engine_spark.operators.codec import decompress


def lz4_block_decompress(buf: bytes) -> bytes:
    return decompress(buf, "lz4_raw")


def lz4_frame_decompress(buf: bytes) -> bytes:
    return decompress(buf, "lz4")


def lz4_hadoop_decompress(buf: bytes) -> bytes:
    return decompress(buf, "lz4_hadoop")


def _cases():
    return {
        "empty": b"",
        "one": b"a",
        "repetitive": b"hello hello hello world " * 1_000,
        "structured": b"".join(
            f"row{i},val{i * 7 % 13},{i * i}\n".encode() for i in range(10_000)
        ),
        "random": bytes((i * 2654435761) >> 9 & 0xFF for i in range(40_000)),
        "zeros": b"\x00" * 70_000,  # > one 64 KB block at small frame sizes
        "overlap": b"ab" * 30_000,  # offset < match length copies
    }


def test_block_format_matches_reference():
    import pyarrow as pa

    codec = pa.Codec("lz4_raw")
    for name, d in _cases().items():
        z = codec.compress(d, asbytes=True)
        assert lz4_block_decompress(z) == d, name


def test_frame_format_matches_reference():
    import pyarrow as pa

    codec = pa.Codec("lz4")  # frame format
    for name, d in _cases().items():
        z = codec.compress(d, asbytes=True)
        assert lz4_frame_decompress(z) == d, name


def test_block_hand_cases_and_errors():
    # literals-only block: token 0x30, "abc"
    assert lz4_block_decompress(bytes([0x30]) + b"abc") == b"abc"
    # "abcabcabc": 3 literals then match off=3 len=6 -> token 0x32 (ml 2+4),
    # then the literals-only last sequence the format requires (>= 5 bytes)
    z = bytes([0x32]) + b"abc" + struct.pack("<H", 3) + bytes([0x50]) + b"01234"
    assert lz4_block_decompress(z) == b"abcabcabc01234"
    with pytest.raises(ValueError):  # a block may not end on a match
        lz4_block_decompress(bytes([0x32]) + b"abc" + struct.pack("<H", 3))
    # length extension: 15 + 255 + 0 = 270 literals
    d = (bytes(range(256)) + bytes(range(256)))[:270]
    z = bytes([0xF0, 255, 0]) + d
    assert lz4_block_decompress(z) == d
    with pytest.raises(ValueError):  # match offset 9 before 1 byte of output
        lz4_block_decompress(bytes([0x12]) + b"a" + struct.pack("<H", 9))
    with pytest.raises(ValueError):  # 5-byte literal run, 2 bytes left
        lz4_block_decompress(bytes([0x50]) + b"ab")


def test_frame_checksum_and_error_paths():
    import pyarrow as pa

    z = bytearray(pa.Codec("lz4").compress(b"payload payload payload " * 50, asbytes=True))
    # corrupt a content byte: block/content checksum (or decode) must fail
    z[20] ^= 0xFF
    with pytest.raises(ValueError):
        lz4_frame_decompress(bytes(z))
    with pytest.raises(ValueError):  # no frame magic
        lz4_frame_decompress(b"\x00\x01\x02\x03\x04\x05\x06\x07")
    # skippable frame between two real frames
    a = pa.Codec("lz4").compress(b"first " * 30, asbytes=True)
    b = pa.Codec("lz4").compress(b"second " * 30, asbytes=True)
    skip = struct.pack("<II", 0x184D2A51, 3) + b"xyz"
    assert lz4_frame_decompress(a + skip + b) == b"first " * 30 + b"second " * 30


def test_truncated_inputs_raise_value_error_not_raw():
    """ValueError codec contract: truncated payloads must never leak the
    native codecs' OSError — callers (decompress_text dispatch) rely on
    uniform exceptions."""
    # Hadoop framing: want=100 then a short record tail (inner csize cut off)
    with pytest.raises(ValueError):
        lz4_hadoop_decompress(struct.pack(">II", 100, 5) + b"\x30abc")
    # frame ends right after the magic (FLG/BD bytes missing)
    with pytest.raises(ValueError):
        lz4_frame_decompress(struct.pack("<I", 0x184D2204))
    # skippable frame with the size field cut off
    with pytest.raises(ValueError):
        lz4_frame_decompress(struct.pack("<I", 0x184D2A51) + b"\x03")
    # zstd: same two truncation shapes through its own arm
    with pytest.raises(ValueError):
        decompress(struct.pack("<I", 0xFD2FB528), "zstd")
    with pytest.raises(ValueError):
        decompress(struct.pack("<I", 0x184D2A51) + b"\x03", "zstd")


@pytest.mark.skipif(shutil.which("lz4") is None, reason="reference lz4 CLI not on PATH")
@pytest.mark.parametrize("args", [["-1"], ["-9"], ["--no-frame-crc", "-BD"], ["-BX", "-B4"]])
def test_reference_cli_frames(args):
    """Frames from the reference lz4 CLI: content checksum on and off,
    linked blocks (-BD), block checksums (-BX) and 64 KiB blocks (-B4)."""
    with tempfile.TemporaryDirectory() as td:
        for name, d in _cases().items():
            src = os.path.join(td, name)
            open(src, "wb").write(d)
            subprocess.run(["lz4", "-f", "-q", *args, src, src + ".lz4"], check=True)
            assert lz4_frame_decompress(open(src + ".lz4", "rb").read()) == d, (name, args)


def test_parquet_lz4_pages_match_duckdb():
    """Parquet pages pyarrow writes for compression='lz4' (LZ4_RAW, or
    the Hadoop-framed legacy codec on older writers) through the
    from-scratch page reader, bit-identical to DuckDB's scan."""
    import tempfile

    import duckdb
    import pyarrow.parquet as pq

    from native_sql_engine_spark.operators.parquet_data import read_column

    src = "/root/testdata/sf0.01/orders.parquet"
    t = pq.read_table(src)
    with tempfile.NamedTemporaryFile(suffix=".parquet") as f:
        pq.write_table(t, f.name, compression="lz4", row_group_size=3000)
        codec_name = pq.ParquetFile(f.name).metadata.row_group(0).column(0).compression
        assert codec_name in ("LZ4", "LZ4_RAW")
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


def test_decompress_text_lz4_arm(spark):
    """decompress_text dispatches the lz4-frame magic to the lz4 arm,
    alongside gzip/bz2/xz/zstd/zlib."""
    import pyarrow as pa

    from native_sql_engine_spark.operators.web import decompress_text

    codec = pa.Codec("lz4")
    rows_in = [(1, "hello lz4 " * 20), (2, "κείμενο lz4")]
    payloads = [(i, codec.compress(t.encode(), asbytes=True)) for i, t in rows_in]
    df = spark.createDataFrame(payloads, ["doc_id", "payload"])
    rows = decompress_text(df, "payload", "doc_id").orderBy("media_id").collect()
    assert [r.codec for r in rows] == ["lz4", "lz4"]
    assert rows[0].text == rows_in[0][1] and rows[1].text == rows_in[1][1]
