"""Parquet Modular Encryption reading.

Implements the read side of the parquet-format encryption spec
(Encryption.md).  The ciphers themselves — AES-GCM and AES-CTR — run on
``cryptography`` through operators/codec.py; this module does the
parquet part:

- **encrypted module framing**: ``len(4 LE) || nonce(12) || ciphertext
  || tag(16)``, with the spec's module AAD — ``aad_prefix ||
  aad_file_unique || module_type(1) [|| row_group(2 LE) || column(2 LE)
  [|| page(2 LE)]]`` — so a module moved to another file, column, row
  group or page position fails authentication, exactly the property the
  scheme exists for;
- **AES_GCM_V1 footer-encrypted files** (``PARE`` magic): plaintext
  ``FileCryptoMetaData`` walk, footer module decryption, per-column
  crypto metadata (footer key vs column keys), encrypted ColumnMetaData,
  and encrypted page-header + page modules (dictionary and data pages);
  plaintext-footer mode (``PAR1`` with encrypted columns, footer signed
  with a GCM tag) rides the same machinery.

Key management stays external, as the spec intends: callers hand
``read_column`` raw AES keys (footer + per-column) or a
``key_unwrapper(key_metadata_bytes) -> key`` callback that resolves the
file's key-metadata through whatever KMS wrapped it.

Both spec ciphers read: **AES_GCM_V1** (everything GCM-authenticated)
and **AES_GCM_CTR_V1** (page MODULES are AES-CTR with a nonce+counter=1
initial block and no tag — the throughput trade-off that mode makes —
while footers, page headers and column metadata stay GCM-authenticated
with positional AADs).  Note the integrity consequence faithfully: in
GCM_CTR files a flipped page-body byte decodes to garbage values rather
than raising, exactly as the spec accepts.

Malformed or tampered payloads raise positioned ``ValueError`` (shared
codec-layer contract).  Cross-validated against pyarrow's real
encryption writer in tests/test_parquet_crypto.py.
"""

from __future__ import annotations

import hmac
import struct

from .codec import ctr_decrypt, gcm_decrypt, gcm_encrypt

__all__ = [
    "decrypt_module",
    "module_aad",
    "read_encrypted_column",
    "read_encrypted_table",
]


# -- parquet encrypted modules -------------------------------------------------------

#: module types (Encryption.md)
FOOTER, COLUMN_META, DATA_PAGE, DICT_PAGE, DATA_PAGE_HEADER, DICT_PAGE_HEADER = range(6)
#: which modules carry (row group, column) and page ordinals in their AAD
_WITH_ORDINALS = {COLUMN_META, DATA_PAGE, DICT_PAGE, DATA_PAGE_HEADER, DICT_PAGE_HEADER}
_WITH_PAGE = {DATA_PAGE, DATA_PAGE_HEADER}


def module_aad(
    aad_prefix: bytes,
    aad_file_unique: bytes,
    module_type: int,
    row_group: int = -1,
    column: int = -1,
    page: int = -1,
) -> bytes:
    """The spec's module AAD: prefix + file-unique + typed position suffix."""
    suffix = bytes([module_type])
    if module_type in _WITH_ORDINALS:
        suffix += struct.pack("<HH", row_group, column)
        if module_type in _WITH_PAGE:
            suffix += struct.pack("<H", page)
    return aad_prefix + aad_file_unique + suffix


def decrypt_module(buf: bytes, pos: int, key: bytes, aad: bytes) -> tuple[bytes, int]:
    """Decrypt one length-framed encrypted module at ``pos``; returns
    (plaintext, end_pos)."""
    if pos + 4 > len(buf):
        raise ValueError(f"truncated encrypted module length at byte {pos}")
    (mlen,) = struct.unpack_from("<I", buf, pos)
    start = pos + 4
    end = start + mlen
    if mlen < 28 or end > len(buf):
        raise ValueError(f"encrypted module at byte {pos} overruns the buffer")
    nonce = buf[start : start + 12]
    ct = buf[start + 12 : end - 16]
    tag = buf[end - 16 : end]
    try:
        return gcm_decrypt(key, nonce, ct, tag, aad), end
    except ValueError as exc:
        raise ValueError(f"module at byte {pos}: {exc}") from exc


def decrypt_ctr_module(buf: bytes, pos: int, key: bytes) -> tuple[bytes, int]:
    """Decrypt one length-framed AES_GCM_CTR_V1 page module at ``pos``:
    length(4 LE) + nonce(12) + ciphertext — no tag, no AAD (the
    unauthenticated trade-off that mode makes for page throughput; all
    metadata modules stay GCM-authenticated)."""
    if pos + 4 > len(buf):
        raise ValueError(f"truncated encrypted module length at byte {pos}")
    (mlen,) = struct.unpack_from("<I", buf, pos)
    start = pos + 4
    end = start + mlen
    if mlen < 12 or end > len(buf):
        raise ValueError(f"encrypted module at byte {pos} overruns the buffer")
    return ctr_decrypt(key, buf[start : start + 12], buf[start + 12 : end]), end


class FileCrypto:
    """Per-file decryption context resolved from FileCryptoMetaData (or a
    plaintext footer's column crypto metadata)."""

    def __init__(
        self,
        aad_prefix: bytes,
        aad_file_unique: bytes,
        footer_key: bytes | None,
        column_keys: dict[str, bytes],
        key_unwrapper=None,
        ctr: bool = False,
    ):
        self.aad_prefix = aad_prefix
        self.aad_file_unique = aad_file_unique
        self.footer_key = footer_key
        self.column_keys = dict(column_keys or {})
        self.key_unwrapper = key_unwrapper
        self.ctr = ctr  # AES_GCM_CTR_V1: page MODULES are CTR, rest GCM

    @classmethod
    def from_algorithm(cls, algo: dict, footer_key, column_keys, key_unwrapper, supplied_aad_prefix: bytes = b""):
        # EncryptionAlgorithm union: 1 = AesGcmV1, 2 = AesGcmCtrV1 — the
        # two structs carry identical fields
        if 1 in algo:
            gcm, ctr = algo[1], False
        elif 2 in algo:
            gcm, ctr = algo[2], True
        else:
            raise ValueError("unknown parquet EncryptionAlgorithm variant")
        aad_prefix = gcm.get(1, b"")
        if gcm.get(3, False):  # supply_aad_prefix: caller must provide it
            aad_prefix = supplied_aad_prefix
        return cls(aad_prefix, gcm.get(2, b""), footer_key, column_keys, key_unwrapper, ctr)

    def column_key(self, crypto_meta: dict | None, path: str) -> bytes:
        """Resolve the key for a column chunk from its ColumnCryptoMetaData
        (1 = footer key, 2 = column key {1: path, 2: key_metadata})."""
        if crypto_meta is None or 1 in crypto_meta:
            if self.footer_key is None:
                raise ValueError("column is encrypted with the footer key, none supplied")
            return self.footer_key
        spec = crypto_meta.get(2, {})
        if path in self.column_keys:
            return self.column_keys[path]
        km = spec.get(2)
        if km is not None and self.key_unwrapper is not None:
            return self.key_unwrapper(bytes(km))
        raise ValueError(f"no key supplied for encrypted column {path!r}")


# -- encrypted-file reading ----------------------------------------------------------


def _file_crypto(buf: bytes, footer_key, column_keys, key_unwrapper, aad_prefix):
    """Resolve (FileMetaData fields, FileCrypto | None) for either file
    layout.  ``PARE``: plaintext FileCryptoMetaData walk + encrypted footer
    module.  ``PAR1``: plaintext footer; encryption (if any) is declared in
    FileMetaData field 7 (encryption_algorithm) and the footer carries a
    28-byte GCM signature (nonce || tag) verified when a footer key is
    resolvable."""
    from .parquet_meta import thrift_compact_decode

    if len(buf) < 12:
        raise ValueError("not a parquet payload (too short)")
    magic = buf[-4:]
    (flen,) = struct.unpack_from("<I", buf, len(buf) - 8)
    tail_start = len(buf) - 8 - flen
    if tail_start < 0:
        raise ValueError(f"footer length {flen} exceeds the payload")

    if magic == b"PARE":  # encrypted-footer mode
        fcm, fcm_end = thrift_compact_decode(buf, tail_start)
        algo = fcm.get(1, {})
        if footer_key is None:
            km = fcm.get(2)
            if km is not None and key_unwrapper is not None:
                footer_key = key_unwrapper(bytes(km))
            else:
                raise ValueError(
                    "encrypted footer: supply footer_key or a key_unwrapper "
                    "for the file's footer key metadata"
                )
        crypto = FileCrypto.from_algorithm(
            algo, footer_key, column_keys, key_unwrapper, aad_prefix
        )
        aad = module_aad(crypto.aad_prefix, crypto.aad_file_unique, FOOTER)
        footer_pt, _ = decrypt_module(buf, fcm_end, footer_key, aad)
        meta, _ = thrift_compact_decode(footer_pt)
        return meta, crypto

    if magic != b"PAR1":
        raise ValueError("not a parquet payload (missing PAR1/PARE magic)")
    meta, meta_end = thrift_compact_decode(buf, tail_start)
    algo = meta.get(8)  # FileMetaData.encryption_algorithm
    if not isinstance(algo, dict) or not algo:
        return meta, None  # unencrypted file
    # plaintext-footer mode: columns may still be encrypted; the footer is
    # signed with the footer key (nonce || tag appended after the thrift)
    crypto = FileCrypto.from_algorithm(
        algo, footer_key, column_keys, key_unwrapper, aad_prefix
    )
    if crypto.footer_key is None and key_unwrapper is not None:
        km = meta.get(9)  # footer_signing_key_metadata
        if km is not None:
            crypto.footer_key = key_unwrapper(bytes(km))
    if crypto.footer_key is not None:
        sig = buf[meta_end : tail_start + flen]  # meta_end is absolute
        if len(sig) != 28:
            raise ValueError(
                f"plaintext footer signature is {len(sig)} bytes, want 28"
            )
        aad = module_aad(crypto.aad_prefix, crypto.aad_file_unique, FOOTER)
        _, tag = gcm_encrypt(
            crypto.footer_key, sig[:12], buf[tail_start:meta_end], aad
        )
        if not hmac.compare_digest(tag, sig[12:]):
            raise ValueError("plaintext footer signature mismatch (tampered footer?)")
    return meta, crypto


def _encrypted_pages(buf: bytes, cm: dict, key: bytes, crypto: "FileCrypto", rg: int, col: int):
    """Yield (page_header_fields, plaintext_page_bytes) for an encrypted
    column chunk: alternating page-header and page modules, dictionary page
    first when the chunk has one, page ordinal counting data pages."""
    from .parquet_meta import thrift_compact_decode

    pos = cm.get(11, cm.get(9))
    if pos is None:
        raise ValueError("column chunk has no page offset")
    expect_dict = 11 in cm
    page_ord = 0
    while True:
        if expect_dict:
            h_aad = module_aad(crypto.aad_prefix, crypto.aad_file_unique, DICT_PAGE_HEADER, rg, col)
            p_aad = module_aad(crypto.aad_prefix, crypto.aad_file_unique, DICT_PAGE, rg, col)
        else:
            h_aad = module_aad(
                crypto.aad_prefix, crypto.aad_file_unique, DATA_PAGE_HEADER, rg, col, page_ord
            )
            p_aad = module_aad(
                crypto.aad_prefix, crypto.aad_file_unique, DATA_PAGE, rg, col, page_ord
            )
            page_ord += 1
        expect_dict = False
        hdr_pt, pos = decrypt_module(buf, pos, key, h_aad)
        hdr, _ = thrift_compact_decode(hdr_pt)
        if crypto.ctr:  # GCM_CTR: page bodies are CTR, headers stay GCM
            page_pt, pos = decrypt_ctr_module(buf, pos, key)
        else:
            page_pt, pos = decrypt_module(buf, pos, key, p_aad)
        yield hdr, page_pt


def read_encrypted_column(
    buf: bytes,
    column: str,
    footer_key: bytes | None = None,
    column_keys: dict[str, bytes] | None = None,
    key_unwrapper=None,
    aad_prefix: bytes = b"",
):
    """Read one column of an encrypted parquet file entirely from scratch.
    Same return contract as ``parquet_data.read_column``; every module is
    authenticated (key + position AAD) before its bytes are trusted.
    Unencrypted files fall through to the plaintext reader."""
    from .parquet_data import (
        _convert,
        _decode_pages,
        _schema_leaves,
        _wants_binary,
        read_column,
    )

    meta, crypto = _file_crypto(buf, footer_key, column_keys, key_unwrapper, aad_prefix)
    if crypto is None:
        return read_column(buf, column)
    from .parquet_meta import thrift_compact_decode

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
    for rg_idx, rg in enumerate(meta.get(4, [])):
        for col_idx, cc in enumerate(rg.get(1, [])):
            crypto_meta = cc.get(8)
            cm = cc.get(3)
            # path: from plaintext ColumnMetaData, else the column-key spec
            if cm is not None:
                path = ".".join(p.decode("utf-8", "replace") for p in cm.get(3, []))
            elif crypto_meta is not None and 2 in crypto_meta:
                path = ".".join(
                    p.decode("utf-8", "replace") for p in crypto_meta[2].get(1, [])
                )
            else:
                raise ValueError(f"row group {rg_idx}: column chunk carries no metadata")
            if path != chunk_path:
                continue
            if crypto_meta is None and cc.get(9) is None:
                # ColumnCryptoMetaData unset: the chunk itself is plaintext
                # (legal in both PARE and PAR1 files — encryption is per-column)
                defs, reps, present = __plaintext_chunk(buf, cm, max_def, max_rep, desc)
            else:
                key = crypto.column_key(crypto_meta, path)
                enc_cm = cc.get(9)
                if enc_cm is not None:  # authoritative ColumnMetaData is encrypted
                    aad = module_aad(
                        crypto.aad_prefix, crypto.aad_file_unique, COLUMN_META, rg_idx, col_idx
                    )
                    cm_pt, _ = decrypt_module(bytes(enc_cm), 0, key, aad)
                    cm, _ = thrift_compact_decode(cm_pt)
                pages = _encrypted_pages(buf, cm, key, crypto, rg_idx, col_idx)
                defs, reps, present = _decode_pages(
                    pages, cm, max_def, max_rep, desc.get("type_length"), _wants_binary(desc)
                )
            present = _convert(present, desc)
            if desc["kind"] == "flat":
                it = iter(present)
                out.extend(next(it) if d == max_def else None for d in defs)
            else:
                from .parquet_data import _assemble_lists

                out.extend(_assemble_lists(defs, reps, present, desc))
    return out


def __plaintext_chunk(buf, cm, max_def, max_rep, desc):
    from .parquet_data import _read_chunk, _wants_binary

    return _read_chunk(buf, cm, max_def, max_rep, desc.get("type_length"), _wants_binary(desc))


def read_encrypted_table(buf: bytes, columns: list[str], **kw) -> dict[str, list]:
    """Read several columns of an encrypted parquet file; returns {name: values}."""
    return {c: read_encrypted_column(buf, c, **kw) for c in columns}


# -- minimal encrypted-file writer (fixtures) ----------------------------------------


def write_encrypted_parquet(
    columns: dict[str, list],
    footer_key: bytes,
    column_keys: dict[str, bytes] | None = None,
    footer_key_metadata: bytes = b"",
    column_key_metadata: dict[str, bytes] | None = None,
    aad_prefix: bytes = b"",
    aad_file_unique: bytes = b"\x00nse-fixture\x00\x00\x00\x00",
) -> bytes:
    """Write a minimal AES_GCM_V1 encrypted-footer parquet file: one row
    group, one PLAIN uncompressed data page per column, REQUIRED fields,
    types inferred from the first value (int → INT64, float → DOUBLE,
    str → BYTE_ARRAY/UTF8).  Columns named in ``column_keys`` get their own
    key (``ENCRYPTION_WITH_COLUMN_KEY`` + encrypted ColumnMetaData); the
    rest use the footer key (``ENCRYPTION_WITH_FOOTER_KEY``).  Nonces are
    deterministic counters — fine for fixtures, never for production.
    Cross-validated against pyarrow's decryptor in the tests; the read
    side lives in :func:`read_encrypted_column`."""
    from .parquet_meta import thrift_compact_encode

    column_keys = column_keys or {}
    column_key_metadata = column_key_metadata or {}
    nonce_ctr = [0]

    def module(pt: bytes, key: bytes, aad: bytes) -> bytes:
        nonce_ctr[0] += 1
        nonce = nonce_ctr[0].to_bytes(12, "big")
        ct, tag = gcm_encrypt(key, nonce, pt, aad)
        body = nonce + ct + tag
        return struct.pack("<I", len(body)) + body

    out = bytearray(b"PARE")
    n_rows = None
    chunks = []  # (name, ptype, converted, chunk_start, chunk_len, num_values)
    for col_idx, (name, values) in enumerate(columns.items()):
        if n_rows is None:
            n_rows = len(values)
        elif len(values) != n_rows:
            raise ValueError("all columns must have the same length")
        v0 = values[0]
        if isinstance(v0, bool) or not isinstance(v0, (int, float, str)):
            raise ValueError(f"unsupported fixture value type {type(v0).__name__}")
        if isinstance(v0, int):
            ptype, conv = 2, None  # INT64
            page = b"".join(struct.pack("<q", v) for v in values)
        elif isinstance(v0, float):
            ptype, conv = 5, None  # DOUBLE
            page = b"".join(struct.pack("<d", v) for v in values)
        else:
            ptype, conv = 6, 0  # BYTE_ARRAY / UTF8
            page = b"".join(
                struct.pack("<I", len(e)) + e for e in (v.encode("utf-8") for v in values)
            )
        hdr = thrift_compact_encode(
            [
                (1, 5, 0),  # page_type DATA_PAGE
                (2, 5, len(page)),
                # in encrypted columns compressed_page_size covers the whole
                # on-disk page module: frame(4) + nonce(12) + ct + tag(16)
                (3, 5, len(page) + 32),
                (5, 12, [(1, 5, len(values)), (2, 5, 0), (3, 5, 3), (4, 5, 3)]),
            ]
        )
        key = column_keys.get(name, footer_key)
        chunk_start = len(out)
        out += module(
            hdr,
            key,
            module_aad(aad_prefix, aad_file_unique, DATA_PAGE_HEADER, 0, col_idx, 0),
        )
        out += module(
            page,
            key,
            module_aad(aad_prefix, aad_file_unique, DATA_PAGE, 0, col_idx, 0),
        )
        chunks.append((name, ptype, conv, chunk_start, len(out) - chunk_start, len(values)))

    schema = [[(4, 8, b"schema"), (5, 5, len(columns))]]
    for name, ptype, conv, *_ in chunks:
        el = [(1, 5, ptype), (3, 5, 0), (4, 8, name.encode())]
        if conv is not None:
            el.append((6, 5, conv))
        schema.append(el)

    cc_fields = []
    for col_idx, (name, ptype, conv, start, clen, nv) in enumerate(chunks):
        cm_triples = [
            (1, 5, ptype),
            (2, 9, (5, [0, 3])),  # encodings PLAIN + RLE
            (3, 9, (8, [name.encode()])),
            (4, 5, 0),  # codec UNCOMPRESSED
            (5, 6, nv),
            (6, 6, clen),
            (7, 6, clen),
            (9, 6, start),  # data_page_offset
        ]
        cc = [(2, 6, start)]  # file_offset
        if name in column_keys:
            enc_cm = module(
                thrift_compact_encode(cm_triples),
                column_keys[name],
                module_aad(aad_prefix, aad_file_unique, COLUMN_META, 0, col_idx),
            )
            crypto = [
                (
                    2,
                    12,
                    [(1, 9, (8, [name.encode()]))]
                    + (
                        [(2, 8, column_key_metadata[name])]
                        if name in column_key_metadata
                        else []
                    ),
                )
            ]
            cc += [(8, 12, crypto), (9, 8, enc_cm)]
        else:
            # ColumnMetaData stays plaintext inside the encrypted footer
            cc.insert(1, (3, 12, cm_triples))
            cc.append((8, 12, [(1, 12, [])]))  # ENCRYPTION_WITH_FOOTER_KEY
        cc_fields.append(cc)

    rg_struct = [
        (1, 9, (12, cc_fields)),
        (2, 6, sum(c[4] for c in chunks)),
        (3, 6, n_rows or 0),
    ]
    meta = thrift_compact_encode(
        [
            (1, 5, 1),
            (2, 9, (12, schema)),
            (3, 6, n_rows or 0),
            (4, 9, (12, [rg_struct])),
            (6, 8, b"native_sql_engine_spark parquet_crypto fixture writer"),
        ]
    )
    footer_mod = module(meta, footer_key, module_aad(aad_prefix, aad_file_unique, FOOTER))

    algo_fields = []
    if aad_prefix:
        algo_fields.append((1, 8, aad_prefix))
    algo_fields.append((2, 8, aad_file_unique))
    fcm_fields = [(1, 12, [(1, 12, algo_fields)])]
    if footer_key_metadata:
        fcm_fields.append((2, 8, footer_key_metadata))
    fcm = thrift_compact_encode(fcm_fields)

    tail = fcm + footer_mod
    out += tail
    out += struct.pack("<I", len(tail)) + b"PARE"
    return bytes(out)
