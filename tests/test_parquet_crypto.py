"""Parquet Modular Encryption (operators/parquet_crypto.py): the cipher
helpers in operators/codec.py pinned to NIST SP 800-38D vectors, all three
file layouts read against pyarrow's real encryption writer, tamper/move
detection, and our own fixture writer decrypted by pyarrow's C++ reader.
Reference parity: the oap-project reference scans parquet through Arrow,
which carries the same modular-encryption spec (parquet-format
Encryption.md); see arrow-data-source ParquetFileFormat."""

from __future__ import annotations

import base64
import json
import struct

import pytest

from native_sql_engine_spark.operators.codec import (
    ctr_decrypt,
    gcm_decrypt,
    gcm_encrypt,
)
from native_sql_engine_spark.operators.parquet_crypto import (
    FileCrypto,
    decrypt_module,
    module_aad,
    read_encrypted_column,
    read_encrypted_table,
    write_encrypted_parquet,
)

KF = bytes(range(16))
KC = bytes(range(16, 32))


# -- key-wrapping helpers shared with the pyarrow KMS stub ---------------------------


def _wrap(key: bytes, mid: str) -> str:
    return base64.b64encode(mid.encode() + b":" + key).decode()


def _unwrap_km(km: bytes) -> bytes:
    return base64.b64decode(json.loads(km)["wrappedDEK"]).partition(b":")[2]


def _km_json(key: bytes, mid: str, footer: bool) -> bytes:
    return json.dumps(
        {
            "keyMaterialType": "PKMT1",
            "internalStorage": True,
            "isFooterKey": footer,
            "kmsInstanceID": "DEFAULT",
            "kmsInstanceURL": "DEFAULT",
            "masterKeyID": mid,
            "wrappedDEK": _wrap(key, mid),
            "doubleWrapping": False,
        }
    ).encode()


def _pyarrow_crypto():
    pe = pytest.importorskip("pyarrow.parquet.encryption")

    class KMS(pe.KmsClient):
        def __init__(self, config):
            pe.KmsClient.__init__(self)

        def wrap_key(self, key_bytes, master_key_identifier):
            return _wrap(key_bytes, master_key_identifier)

        def unwrap_key(self, wrapped_key, master_key_identifier):
            return base64.b64decode(wrapped_key).partition(b":")[2]

    conf = pe.KmsConnectionConfig(custom_kms_conf={"unused": "unused"})
    return pe, conf, pe.CryptoFactory(lambda *a, **k: KMS(conf))


def _pyarrow_encrypted(
    tmp_path,
    *,
    column_keys,
    plaintext_footer=False,
    bits=128,
    compression="snappy",
    algorithm="AES_GCM_V1",
):
    pa = pytest.importorskip("pyarrow")
    pq = pytest.importorskip("pyarrow.parquet")
    pe, conf, factory = _pyarrow_crypto()
    fep = factory.file_encryption_properties(
        conf,
        pe.EncryptionConfiguration(
            footer_key="kf",
            column_keys=column_keys,
            plaintext_footer=plaintext_footer,
            double_wrapping=False,
            data_key_length_bits=bits,
            encryption_algorithm=algorithm,
        ),
    )
    tbl = pa.table(
        {
            "id": pa.array(range(100), pa.int64()),
            "name": pa.array([f"row-{i}" for i in range(100)]),
            "vals": pa.array(
                [[float(i), i * 0.5] for i in range(100)], pa.list_(pa.float64())
            ),
        }
    )
    path = tmp_path / "enc.parquet"
    pq.write_table(tbl, path, encryption_properties=fep, compression=compression)
    return path.read_bytes()


EXPECT = {
    "id": list(range(100)),
    "name": [f"row-{i}" for i in range(100)],
    "vals": [[float(i), i * 0.5] for i in range(100)],
}


# -- GCM / CTR cipher pins -------------------------------------------------------------


@pytest.mark.parametrize(
    "key_hex,iv_hex,pt_hex,aad_hex,ct_hex,tag_hex",
    [
        # NIST SP 800-38D test cases 1, 2, 4 (AES-128) and 14 (AES-256)
        ("00" * 16, "00" * 12, "", "", "", "58e2fccefa7e3061367f1d57a4e7455a"),
        (
            "00" * 16,
            "00" * 12,
            "00" * 16,
            "",
            "0388dace60b6a392f328c2b971b2fe78",
            "ab6e47d42cec13bdf53a67b21257bddf",
        ),
        (
            "feffe9928665731c6d6a8f9467308308",
            "cafebabefacedbaddecaf888",
            "d9313225f88406e5a55909c5aff5269a86a7a9531534f7da2e4c303d8a318a72"
            "1c3c0c95956809532fcf0e2449a6b525b16aedf5aa0de657ba637b39",
            "feedfacedeadbeeffeedfacedeadbeefabaddad2",
            "42831ec2217774244b7221b784d0d49ce3aa212f2c02a4e035c17e2329aca12e"
            "21d514b25466931c7d8f6a5aac84aa051ba30b396a0aac973d58e091",
            "5bc94fbc3221a5db94fae95ae7121a47",
        ),
        ("00" * 32, "00" * 12, "", "", "", "530f8afbc74536b9a963b4f1c4cb738b"),
    ],
)
def test_gcm_nist_vectors(key_hex, iv_hex, pt_hex, aad_hex, ct_hex, tag_hex):
    key, iv, pt, aad = (bytes.fromhex(h) for h in (key_hex, iv_hex, pt_hex, aad_hex))
    ct, tag = gcm_encrypt(key, iv, pt, aad)
    assert ct.hex() == ct_hex and tag.hex() == tag_hex
    assert gcm_decrypt(key, iv, ct, tag, aad) == pt


def test_gcm_rejects_tamper_and_wrong_aad():
    key, iv = bytes(16), bytes(12)
    ct, tag = gcm_encrypt(key, iv, b"secret payload", b"position")
    with pytest.raises(ValueError, match="tag mismatch"):
        gcm_decrypt(key, iv, ct, tag, b"other position")
    with pytest.raises(ValueError, match="tag mismatch"):
        gcm_decrypt(key, iv, bytes([ct[0] ^ 1]) + ct[1:], tag, b"position")
    with pytest.raises(ValueError, match="tag mismatch"):
        gcm_decrypt(bytes(range(16)), iv, ct, tag, b"position")


def test_ctr_keystream_starts_one_block_before_gcm():
    """AES_GCM_CTR_V1 page modules start the keystream at counter 1; GCM
    encrypts from counter 2.  So CTR over one block of zeros plus the GCM
    ciphertext yields that block's keystream plus the NIST plaintext."""
    key = bytes.fromhex("feffe9928665731c6d6a8f9467308308")
    iv = bytes.fromhex("cafebabefacedbaddecaf888")
    pt = bytes.fromhex("d9313225f88406e5a55909c5aff5269a86a7a9531534f7da2e4c303d8a318a72")
    ct, _ = gcm_encrypt(key, iv, pt)
    assert ctr_decrypt(key, iv, bytes(16) + ct)[16:] == pt
    with pytest.raises(ValueError):
        ctr_decrypt(key, iv[:8], ct)


def test_module_framing_errors():
    with pytest.raises(ValueError, match="truncated"):
        decrypt_module(b"\x01", 0, KF, b"")
    with pytest.raises(ValueError, match="overruns"):
        decrypt_module(struct.pack("<I", 100) + b"x" * 10, 0, KF, b"")


# -- pyarrow-written files, all three layouts -----------------------------------------


def test_encrypted_footer_column_keys(tmp_path):
    buf = _pyarrow_encrypted(
        tmp_path, column_keys={"kc": ["name", "vals.list.element"]}
    )
    assert buf[:4] == b"PARE" and buf[-4:] == b"PARE"
    got = read_encrypted_table(buf, ["id", "name", "vals"], key_unwrapper=_unwrap_km)
    assert got == EXPECT  # plaintext id + column-key string + column-key LIST


def test_encrypted_footer_aes256_zstd(tmp_path):
    buf = _pyarrow_encrypted(
        tmp_path,
        column_keys={"kc": ["name"], "kc2": ["id", "vals.list.element"]},
        bits=256,
        compression="zstd",
    )
    got = read_encrypted_table(buf, ["id", "name", "vals"], key_unwrapper=_unwrap_km)
    assert got == EXPECT


def test_plaintext_footer_signature_and_columns(tmp_path):
    buf = _pyarrow_encrypted(
        tmp_path, column_keys={"kc": ["name"]}, plaintext_footer=True
    )
    assert buf[:4] == b"PAR1" and buf[-4:] == b"PAR1"
    got = read_encrypted_table(buf, ["id", "name"], key_unwrapper=_unwrap_km)
    assert got == {"id": EXPECT["id"], "name": EXPECT["name"]}
    # the unencrypted column also reads through the plaintext reader
    from native_sql_engine_spark.operators.parquet_data import read_column

    assert read_column(buf, "id") == EXPECT["id"]


def test_tampered_page_fails(tmp_path):
    buf = bytearray(
        _pyarrow_encrypted(tmp_path, column_keys={"kc": ["id", "name", "vals.list.element"]})
    )
    buf[30] ^= 1  # inside the first column's first encrypted module
    with pytest.raises(ValueError, match="tag mismatch|module at byte"):
        read_encrypted_table(bytes(buf), ["id"], key_unwrapper=_unwrap_km)


def test_tampered_plaintext_footer_fails(tmp_path):
    buf = bytearray(
        _pyarrow_encrypted(tmp_path, column_keys={"kc": ["name"]}, plaintext_footer=True)
    )
    # flip a bit inside created_by (keeps the thrift parseable, breaks the tag)
    idx = bytes(buf).rindex(b"parquet-cpp")
    buf[idx] ^= 1
    with pytest.raises(ValueError, match="signature|tag mismatch"):
        read_encrypted_table(bytes(buf), ["id"], key_unwrapper=_unwrap_km)


def test_wrong_key_fails(tmp_path):
    buf = _pyarrow_encrypted(tmp_path, column_keys={"kc": ["name"]})
    with pytest.raises(ValueError, match="tag mismatch|module at byte"):
        read_encrypted_column(buf, "name", footer_key=_footer_key(buf), column_keys={"name": bytes(16)})


def _footer_key(buf: bytes) -> bytes:
    from native_sql_engine_spark.operators.parquet_meta import thrift_compact_decode

    (flen,) = struct.unpack_from("<I", buf, len(buf) - 8)
    fcm, _ = thrift_compact_decode(buf, len(buf) - 8 - flen)
    return _unwrap_km(bytes(fcm[2]))


# -- AAD position binding: a module moved to another column must not decrypt ---------


def test_page_module_moved_between_columns_fails():
    cols = {"a": list(range(10)), "b": list(range(10, 20))}
    buf = write_encrypted_parquet(cols, KF)
    # both columns share the footer key; swap their page-header modules so
    # only the AAD ordinals differ -> authentication must fail
    pos = 4
    spans = []
    for _ in range(4):  # hdr,page per column
        (mlen,) = struct.unpack_from("<I", buf, pos)
        spans.append((pos, pos + 4 + mlen))
        pos += 4 + mlen
    (a_h, a_p, b_h, b_p) = spans
    swapped = (
        buf[: a_h[0]]
        + buf[b_h[0] : b_h[1]]
        + buf[a_h[1] : a_p[1]]  # a's page stays
        + buf[a_h[0] : a_h[1]]
        + buf[b_p[0] :]
    )
    if len(swapped) == len(buf):  # identical module sizes: offsets still line up
        with pytest.raises(ValueError, match="tag mismatch|module at byte"):
            read_encrypted_column(swapped, "a", footer_key=KF)


def test_algorithm_union_variants():
    # AES_GCM_CTR_V1 resolves with ctr=True; an unknown variant is malformed
    crypto = FileCrypto.from_algorithm({2: {}}, KF, {}, None)
    assert crypto.ctr is True
    assert FileCrypto.from_algorithm({1: {}}, KF, {}, None).ctr is False
    with pytest.raises(ValueError, match="EncryptionAlgorithm"):
        FileCrypto.from_algorithm({3: {}}, KF, {}, None)


# -- our own fixture writer -----------------------------------------------------------


def test_own_writer_roundtrip():
    cols = {
        "a": list(range(20)),
        "b": [i * 0.25 for i in range(20)],
        "c": [f"val-{i}" for i in range(20)],
    }
    buf = write_encrypted_parquet(cols, KF, column_keys={"c": KC})
    got = read_encrypted_table(buf, ["a", "b", "c"], footer_key=KF, column_keys={"c": KC})
    assert got == cols
    # footer key alone cannot open the column-key column
    with pytest.raises(ValueError, match="no key supplied"):
        read_encrypted_column(buf, "c", footer_key=KF)


def test_own_writer_read_by_pyarrow(tmp_path):
    pq = pytest.importorskip("pyarrow.parquet")
    _, conf, factory = _pyarrow_crypto()
    cols = {
        "a": list(range(20)),
        "b": [i * 0.25 for i in range(20)],
        "c": [f"val-{i}" for i in range(20)],
    }
    buf = write_encrypted_parquet(
        cols,
        KF,
        column_keys={"c": KC},
        footer_key_metadata=_km_json(KF, "kf", True),
        column_key_metadata={"c": _km_json(KC, "kc", False)},
    )
    path = tmp_path / "ours.parquet"
    path.write_bytes(buf)
    dep = factory.file_decryption_properties(conf)
    # use_threads=False: parquet-cpp shares one decryptor object for all
    # ENCRYPTION_WITH_FOOTER_KEY columns and races when two such columns
    # decode in parallel (~3% under CPU contention; reproduced against
    # this pyarrow with a 100-read hammer — its own writer never emits
    # multi-column footer-key files through this API, so the race only
    # surfaces on ours).  Single-threaded decryption is deterministic and
    # still validates the format end-to-end, which is what this test pins.
    tbl = pq.ParquetFile(path, decryption_properties=dep).read(use_threads=False)
    assert tbl.column("a").to_pylist() == cols["a"]
    assert tbl.column("b").to_pylist() == cols["b"]
    assert tbl.column("c").to_pylist() == cols["c"]


def test_unencrypted_file_falls_through(tmp_path):
    pa = pytest.importorskip("pyarrow")
    pq = pytest.importorskip("pyarrow.parquet")
    path = tmp_path / "plain.parquet"
    pq.write_table(pa.table({"x": pa.array(range(10), pa.int64())}), path)
    assert read_encrypted_column(path.read_bytes(), "x") == list(range(10))


# -- AES_GCM_CTR_V1 (page modules CTR, metadata modules GCM) ---------------------------


def test_gcm_ctr_encrypted_footer(tmp_path):
    """GCM_CTR files from pyarrow's real writer: page bodies decrypt with
    the nonce+counter=1 CTR scheme, headers/footer stay GCM-authenticated."""
    buf = _pyarrow_encrypted(
        tmp_path,
        column_keys={"kc": ["name", "vals.list.element"]},
        algorithm="AES_GCM_CTR_V1",
    )
    assert buf[:4] == b"PARE"
    got = read_encrypted_table(buf, ["id", "name", "vals"], key_unwrapper=_unwrap_km)
    assert got == EXPECT


def test_gcm_ctr_plaintext_footer_upstream_writer_bug(tmp_path):
    """Arrow's writer records AesGcmV1 (union branch 1) in a PLAINTEXT
    footer even when the file's pages are CTR-encrypted — pyarrow's own
    reader then GCM-decrypts the CTR pages and fails ('Failed decryption
    finalization').  Our reader trusts the same footer field and fails
    the same authenticated way (tag mismatch), never returning garbage;
    this test pins the failure parity so an arrow fix shows up as a
    (welcome) red."""
    buf = _pyarrow_encrypted(
        tmp_path,
        column_keys={"kc": ["id", "name"]},
        plaintext_footer=True,
        algorithm="AES_GCM_CTR_V1",
    )
    assert buf[-4:] == b"PAR1"
    with pytest.raises(ValueError, match="tag mismatch"):
        read_encrypted_table(buf, ["id", "name"], key_unwrapper=_unwrap_km)
    pa_ = pytest.importorskip("pyarrow")
    pq_ = pytest.importorskip("pyarrow.parquet")
    pe, conf, factory = _pyarrow_crypto()
    dec = factory.file_decryption_properties(conf, pe.DecryptionConfiguration())
    path = tmp_path / "enc.parquet"
    with pytest.raises(OSError, match="decryption"):
        pq_.ParquetFile(path, decryption_properties=dec).read()


def test_gcm_ctr_header_tamper_still_detected(tmp_path):
    """CTR page BODIES are unauthenticated by design, but page HEADERS
    remain GCM modules — flipping a header byte must still hard-fail."""
    buf = bytearray(
        _pyarrow_encrypted(
            tmp_path, column_keys={"kc": ["id"]}, algorithm="AES_GCM_CTR_V1"
        )
    )
    # first page-header module of the first chunk starts at byte 4
    buf[9] ^= 0x01
    with pytest.raises(ValueError, match="tag mismatch|module"):
        read_encrypted_table(bytes(buf), ["id"], key_unwrapper=_unwrap_km)
