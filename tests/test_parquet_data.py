"""From-scratch parquet DATA reading (operators/parquet_data.py):
snappy pages, page framing, RLE hybrid, dictionary decode, logical types —
verified column-for-column against DuckDB on the driver testdata."""

from __future__ import annotations

import glob

import pytest

from native_sql_engine_spark.operators.codec import decompress
from native_sql_engine_spark.operators.parquet_data import read_column

SF = "/root/testdata/sf0.01"


def test_snappy_hand_cases():
    def snappy_decompress(buf: bytes) -> bytes:
        return decompress(buf, "snappy")

    # literal(3) "abc" + overlapping copy1(off=3, len=6) -> "abcabcabc"
    enc = bytes([9, (3 - 1) << 2]) + b"abc" + bytes([((6 - 4) << 2) | 1, 3])
    assert snappy_decompress(enc) == b"abcabcabc"
    # long literal (>=60 one-byte length form)
    payload = bytes(range(256)) * 2
    enc = bytes([0x82, 0x04])  # varint 514
    n1 = len(payload) - 1  # 511: needs the two-byte length form (base 61)
    enc += bytes([61 << 2, n1 & 0xFF, n1 >> 8]) + payload + bytes([(2 - 1) << 2]) + payload[:2]
    assert snappy_decompress(enc) == payload + payload[:2]
    with pytest.raises(ValueError):
        snappy_decompress(bytes([4, ((4 - 4) << 2) | 1, 9]))  # copy before any output
    with pytest.raises(ValueError):  # preamble says 5, the stream holds 3
        snappy_decompress(bytes([5, (3 - 1) << 2]) + b"abc")


def test_every_column_matches_duckdb():
    """EVERY top-level column of every sf0.01 table — flat and
    list<float> — decodes bit-identically to DuckDB's reader: dictionary
    pages, snappy, nullable def-levels, repetition-level list reassembly,
    timestamps/dates via converted_type."""
    import duckdb

    checked = 0
    for p in sorted(glob.glob(f"{SF}/*.parquet")):
        buf = open(p, "rb").read()
        cols = duckdb.sql(f"DESCRIBE SELECT * FROM read_parquet('{p}')").fetchall()
        for col, *_ in cols:
            got = read_column(buf, col)
            want = [r[0] for r in duckdb.sql(f'SELECT "{col}" FROM read_parquet(\'{p}\')').fetchall()]
            got = [list(g) if isinstance(g, list) else g for g in got]
            want = [list(w) if isinstance(w, list) else w for w in want]
            assert got == want, col
            checked += 1
    assert checked >= 45


def test_column_errors_and_gates():
    buf = open(f"{SF}/embeddings.parquet", "rb").read()
    with pytest.raises(ValueError, match="not in schema"):
        read_column(buf, "no_such_column")
    with pytest.raises(ValueError, match="parquet"):
        read_column(b"garbage", "x")


def _flba_fixture_table(n=200):
    import decimal

    import numpy as np
    import pyarrow as pa

    dec = [None if i % 17 == 0 else decimal.Decimal(i * 7919 - 500000).scaleb(-4) for i in range(n)]
    big = [
        None if i % 23 == 0 else decimal.Decimal((i * 982451653 - 10**15) * 10**6 + i).scaleb(-10)
        for i in range(n)
    ]
    f16 = pa.array(np.array([i / 8.0 for i in range(n)], dtype=np.float16), type=pa.float16())
    return pa.table(
        {
            "dec30": pa.array(dec, type=pa.decimal128(30, 4)),
            "dec38": pa.array(big, type=pa.decimal128(38, 10)),
            "h": f16,
        }
    )


def test_flba_decimal_float16_all_encodings():
    """FIXED_LEN_BYTE_ARRAY — the physical type of DECIMAL(p>18) and
    FLOAT16 — under PLAIN, dictionary, DELTA_BYTE_ARRAY-over-FLBA and
    BYTE_STREAM_SPLIT-over-FLBA pages.  Decimals cross-checked against
    DuckDB where its reader supports the encoding, and against pyarrow
    everywhere (DuckDB 1.0 can't read DELTA_BYTE_ARRAY FLBA, and reads
    FLOAT16 as raw BLOB — pyarrow is the independent reader there)."""
    import tempfile

    import duckdb
    import pyarrow.parquet as pq

    t = _flba_fixture_table()
    with tempfile.TemporaryDirectory() as d:
        files = {
            "plain": dict(compression="snappy", use_dictionary=False),
            "dict": dict(compression="zstd", use_dictionary=True),
            "delta": dict(
                compression="snappy",
                use_dictionary=False,
                column_encoding={
                    "dec30": "DELTA_BYTE_ARRAY",
                    "dec38": "BYTE_STREAM_SPLIT",
                    "h": "BYTE_STREAM_SPLIT",
                },
            ),
        }
        for tag, kw in files.items():
            p = f"{d}/flba_{tag}.parquet"
            pq.write_table(t, p, **kw)
            buf = open(p, "rb").read()
            arrow = pq.read_table(p)
            for col in ("dec30", "dec38", "h"):
                got = read_column(buf, col)
                want = arrow[col].to_pylist()
                if col == "h":
                    want = [None if v is None else float(v) for v in want]
                assert got == want, (tag, col)
                if tag != "delta" and col != "h":  # DuckDB second opinion
                    dd = [r[0] for r in duckdb.sql(f"SELECT {col} FROM read_parquet('{p}')").fetchall()]
                    assert got == dd, (tag, col)


def test_page_crc_verified_and_small_decimals():
    """Optional page CRCs (PageHeader field 4, crc32 of the on-disk page
    bytes) are verified when present — a flipped byte fails loudly.  The
    fixture also covers DECIMAL on the INT32/INT64 physical types (what
    DuckDB's writer emits for p<=18, unlike pyarrow which always uses
    FLBA)."""
    import tempfile

    import duckdb
    import pyarrow.parquet as pq

    with tempfile.TemporaryDirectory() as d:
        p = f"{d}/crc.parquet"
        duckdb.sql(
            "COPY (SELECT range AS a, "
            "cast(range AS DECIMAL(7,0)) * cast(0.25 AS DECIMAL(2,2)) AS d9, "
            "cast(range * 7 - 100 AS DECIMAL(14,0)) * cast(0.0625 AS DECIMAL(4,4)) AS d18 "
            "FROM range(500)) "
            f"TO '{p}' (FORMAT PARQUET, COMPRESSION SNAPPY)"
        )
        phys = {pq.ParquetFile(p).metadata.schema.column(i).physical_type for i in (1, 2)}
        assert phys == {"INT32", "INT64"}
        buf = open(p, "rb").read()
        for col in ("a", "d9", "d18"):
            got = read_column(buf, col)
            want = [r[0] for r in duckdb.sql(f"SELECT {col} FROM read_parquet('{p}')").fetchall()]
            assert got == want, col
        # pyarrow fixture WITH checksums: verify, then corrupt one page byte
        import pyarrow as pa

        p2 = f"{d}/crc2.parquet"
        t = pa.table({"x": [f"v{i}" for i in range(2000)]})
        pq.write_table(t, p2, compression="snappy", write_page_checksum=True)
        buf2 = bytearray(open(p2, "rb").read())
        assert read_column(bytes(buf2), "x") == t["x"].to_pylist()
        buf2[len(buf2) // 3] ^= 0xFF  # inside page data, before the footer
        with pytest.raises(ValueError, match="checksum|snappy|length|overruns"):
            read_column(bytes(buf2), "x")


def test_flba_uuid_logical_type():
    """UUID logical type (FLBA(16)) — DuckDB both writes the fixture and
    reads it back as uuid.UUID for the comparison."""
    import tempfile

    import duckdb

    with tempfile.TemporaryDirectory() as d:
        p = f"{d}/uuid.parquet"
        duckdb.sql(
            "COPY (SELECT cast(concat(substr(md5(cast(range AS varchar)), 1, 8), '-', "
            "substr(md5(cast(range AS varchar)), 9, 4), '-', "
            "substr(md5(cast(range AS varchar)), 13, 4), '-', "
            "substr(md5(cast(range AS varchar)), 17, 4), '-', "
            "substr(md5(cast(range AS varchar)), 21, 12)) AS uuid) AS u, "
            f"range AS i FROM range(100)) TO '{p}' (FORMAT PARQUET, COMPRESSION SNAPPY)"
        )
        buf = open(p, "rb").read()
        got = read_column(buf, "u")
        want = [r[0] for r in duckdb.sql(f"SELECT u FROM read_parquet('{p}')").fetchall()]
        assert got == want
        assert read_column(buf, "i") == list(range(100))


def test_list_reassembly_levels():
    """Null list / empty list / null element def-level mapping through a
    pyarrow-written file with all four cases present."""
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [[1.5, None, 2.5], None, [], [7.0]]
    t = pa.table({"v": pa.array(rows, type=pa.list_(pa.float64()))})
    with tempfile.NamedTemporaryFile(suffix=".parquet") as f:
        pq.write_table(t, f.name, compression="snappy")
        got = read_column(open(f.name, "rb").read(), "v")
    assert got == rows


@pytest.mark.parametrize("page_version", ["1.0", "2.0"])
@pytest.mark.parametrize("compression", ["none", "snappy"])
def test_delta_encodings_matrix(page_version, compression):
    """DELTA_BINARY_PACKED / DELTA_LENGTH_BYTE_ARRAY / DELTA_BYTE_ARRAY
    decode, cross-checked against DuckDB's reader on pyarrow-written
    files: int32+int64 (sorted, negative, large jumps, nulls, >1 block),
    front-coded and length-delta strings, v1 and v2 data pages."""
    import random
    import tempfile

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(42)
    n = 1500  # > one 128-value block, partial last miniblock
    i64 = [None if i % 97 == 0 else (i * 977 - 700000 + rng.randrange(1000)) for i in range(n)]
    i32 = [None if i % 89 == 0 else rng.randrange(-(2**31), 2**31) for i in range(n)]
    s_front = [f"user_{i // 7:06d}/path/{i:05d}" for i in range(n)]  # shared prefixes
    s_plain = [None if i % 101 == 0 else f"v{rng.randrange(10**6)}" for i in range(n)]
    t = pa.table(
        {
            "i64": pa.array(i64, type=pa.int64()),
            "i32": pa.array(i32, type=pa.int32()),
            "s_front": pa.array(s_front),
            "s_plain": pa.array(s_plain),
        }
    )
    with tempfile.NamedTemporaryFile(suffix=".parquet") as f:
        pq.write_table(
            t,
            f.name,
            compression=compression,
            use_dictionary=False,
            column_encoding={
                "i64": "DELTA_BINARY_PACKED",
                "i32": "DELTA_BINARY_PACKED",
                "s_front": "DELTA_BYTE_ARRAY",
                "s_plain": "DELTA_LENGTH_BYTE_ARRAY",
            },
            data_page_version=page_version,
            row_group_size=600,  # several row groups
        )
        buf = open(f.name, "rb").read()
        # confirm the writer actually used the encodings under test
        md = pq.ParquetFile(f.name).metadata
        encs = {
            md.schema.column(ci).name: md.row_group(0).column(ci).encodings
            for ci in range(md.num_columns)
        }
        assert "DELTA_BINARY_PACKED" in encs["i64"]
        assert "DELTA_BYTE_ARRAY" in encs["s_front"]
        assert "DELTA_LENGTH_BYTE_ARRAY" in encs["s_plain"]
        for col in ("i64", "i32", "s_front", "s_plain"):
            got = read_column(buf, col)
            want = [
                r[0]
                for r in duckdb.sql(
                    f'SELECT "{col}" FROM read_parquet(\'{f.name}\')'
                ).fetchall()
            ]
            assert got == want, col


def test_delta_binary_packed_hand_cases():
    """Closed-form wire checks independent of any writer: single value,
    all-equal run (bw=0 miniblocks), and 64-bit wraparound arithmetic."""
    from native_sql_engine_spark.operators.parquet_data import _delta_binary_packed

    def uv(n):
        out = bytearray()
        while True:
            b = n & 0x7F
            n >>= 7
            if n:
                out.append(b | 0x80)
            else:
                out.append(b)
                return bytes(out)

    def zz(n):
        return uv((n << 1) ^ (n >> 63))

    # header only: block=128, mini=4, total=1, first=-5
    vals, _ = _delta_binary_packed(uv(128) + uv(4) + uv(1) + zz(-5), 0, 2)
    assert vals == [-5]
    # 5 values all equal 9: one block, min_delta=0, widths 0,0,0,0 -> no data
    buf = uv(128) + uv(4) + uv(5) + zz(9) + zz(0) + bytes([0, 0, 0, 0])
    vals, _ = _delta_binary_packed(buf, 0, 2)
    assert vals == [9] * 5
    # wraparound: first = int64 max, delta +1 wraps to int64 min
    hi = 2**63 - 1
    buf = uv(128) + uv(4) + uv(2) + zz(hi) + zz(1) + bytes([0, 0, 0, 0])
    vals, _ = _delta_binary_packed(buf, 0, 2)
    assert vals == [hi, -(2**63)]
    # same wire as int32: wraps at 32 bits
    buf = uv(128) + uv(4) + uv(2) + zz(2**31 - 1) + zz(1) + bytes([0, 0, 0, 0])
    vals, _ = _delta_binary_packed(buf, 0, 1)
    assert vals == [2**31 - 1, -(2**31)]


@pytest.mark.parametrize("page_version", ["1.0", "2.0"])
def test_byte_stream_split_matches_duckdb(page_version):
    """BYTE_STREAM_SPLIT (the float/double encoding) byte-plane
    reassembly, cross-checked against DuckDB on pyarrow-written files,
    nulls and multiple row groups included."""
    import random
    import tempfile

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(11)
    n = 1200
    f64 = [None if i % 83 == 0 else rng.uniform(-1e6, 1e6) for i in range(n)]
    f32 = [None if i % 71 == 0 else float(rng.randrange(10**6)) for i in range(n)]
    t = pa.table(
        {"d": pa.array(f64, type=pa.float64()), "f": pa.array(f32, type=pa.float32())}
    )
    with tempfile.NamedTemporaryFile(suffix=".parquet") as f:
        pq.write_table(
            t,
            f.name,
            compression="snappy",
            use_dictionary=False,
            column_encoding={"d": "BYTE_STREAM_SPLIT", "f": "BYTE_STREAM_SPLIT"},
            data_page_version=page_version,
            row_group_size=500,
        )
        md = pq.ParquetFile(f.name).metadata
        assert "BYTE_STREAM_SPLIT" in md.row_group(0).column(0).encodings
        buf = open(f.name, "rb").read()
        for col in ("d", "f"):
            got = read_column(buf, col)
            want = [
                r[0]
                for r in duckdb.sql(
                    f'SELECT "{col}" FROM read_parquet(\'{f.name}\')'
                ).fetchall()
            ]
            assert got == want, col


def test_int96_legacy_timestamps_match_duckdb():
    """INT96 (the deprecated Impala/legacy-Spark timestamp layout:
    nanos-of-day + Julian day) — still common in old data lakes; pyarrow
    writes it under use_deprecated_int96_timestamps."""
    import datetime as dt
    import tempfile

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = [
        None if i % 37 == 0 else dt.datetime(1999, 12, 31, 23, 59, 58) + dt.timedelta(seconds=i * 977, microseconds=i * 13)
        for i in range(500)
    ]
    t = pa.table({"ts": pa.array(ts, type=pa.timestamp("us"))})
    with tempfile.NamedTemporaryFile(suffix=".parquet") as f:
        pq.write_table(t, f.name, compression="snappy", use_deprecated_int96_timestamps=True)
        md = pq.ParquetFile(f.name).metadata
        assert md.schema.column(0).physical_type == "INT96"
        buf = open(f.name, "rb").read()
        got = read_column(buf, "ts")
        want = [r[0] for r in duckdb.sql(f"SELECT ts FROM read_parquet('{f.name}')").fetchall()]
        assert got == want


def test_int96_pre_epoch_timestamps_signed_nanos():
    """Pre-1970 INT96: Arrow's writer uses TRUNCATING division, so legacy
    lakes store NEGATIVE nanos-of-day for pre-epoch timestamps; an unsigned
    read decodes them ~584 years in the future (2^64 ns off). Regression for
    the round-7 advice finding — nanos must be read signed."""
    import datetime as dt
    import tempfile

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = [
        None if i % 41 == 0 else dt.datetime(1950, 1, 1) + dt.timedelta(seconds=i * 8641, microseconds=i * 7)
        for i in range(500)
    ]
    t = pa.table({"ts": pa.array(ts, type=pa.timestamp("us"))})
    with tempfile.NamedTemporaryFile(suffix=".parquet") as f:
        pq.write_table(t, f.name, compression="snappy", use_deprecated_int96_timestamps=True)
        assert pq.ParquetFile(f.name).metadata.schema.column(0).physical_type == "INT96"
        buf = open(f.name, "rb").read()
        got = read_column(buf, "ts")
        want = [r[0] for r in duckdb.sql(f"SELECT ts FROM read_parquet('{f.name}')").fetchall()]
        assert got == want
        assert min(v for v in got if v is not None) < dt.datetime(1970, 1, 1)


def test_byte_array_decimal_plain_and_dictionary():
    """DECIMAL over the BYTE_ARRAY physical type (variable-length
    big-endian two's-complement unscaled — Hive/parquet-mr legacy layout;
    no writer in this container emits it, so the fixture is self-written
    via write_ba_decimal_fixture).  Cross-validated three ways: our
    reader, pyarrow, and DuckDB all agree on both PLAIN and
    dictionary-encoded pages, including nulls and negative unscaled
    values wider than 16 bytes."""
    import decimal
    import io

    import duckdb
    import pyarrow.parquet as pq

    from native_sql_engine_spark.operators.parquet_data import (
        write_ba_decimal_fixture,
    )

    D = decimal.Decimal
    n = 300
    d9 = [None if i % 7 == 0 else D(i * 98765 - 300000).scaleb(-3) for i in range(n)]
    d30 = [None if i % 11 == 0 else D((i - 150) * 10**22 + i).scaleb(-8) for i in range(n)]
    # > 16 bytes unscaled: beyond decimal128, pyarrow maps it to decimal256
    d44 = [None if i % 13 == 0 else D((i - 150) * 10**40 + i * 17).scaleb(-2) for i in range(n)]
    cols = {"d9": (d9, 9, 3), "d30": (d30, 30, 8), "d44": (d44, 44, 2)}
    for dic in (False, True):
        buf = write_ba_decimal_fixture(cols, dictionary=dic)
        for name, (vals, _, _) in cols.items():
            assert read_column(buf, name) == vals, (name, dic)
        t = pq.read_table(io.BytesIO(buf))
        for name, (vals, _, _) in cols.items():
            assert t.column(name).to_pylist() == vals, ("pyarrow", name, dic)
    import os
    import tempfile

    p = tempfile.mktemp(suffix=".parquet")
    try:
        with open(p, "wb") as f:
            f.write(write_ba_decimal_fixture(cols))
        got = duckdb.sql(f"SELECT d9, d30 FROM read_parquet('{p}')").fetchall()
        assert [g[0] for g in got] == d9
        assert [g[1] for g in got] == d30
    finally:
        os.unlink(p)
