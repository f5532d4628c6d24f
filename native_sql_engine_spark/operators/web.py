"""Web-crawl preprocessing operators — HTML→text, URL normalization.

The front half of every crawl-derived LLM corpus (CommonCrawl-style):
strip markup to prose, canonicalize URLs for dedup/filtering.  All pure
DataFrame column expressions — JVM-side, codegen'd, zero Python in the
hot path — so they pipeline into the scan at 100 TB like any other
projection.  Regex patterns deliberately stay in the common subset of
Java regex (Spark) and RE2 (DuckDB oracle): inline (?is) flags,
non-greedy quantifiers, character classes — NO backreferences.

WARC container parsing lives in operators/warc.py (framed binary, not a
column expression).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["html_to_text", "url_domain", "url_normalize", "warc_records"]

#: (pattern, replacement) pipeline for markup stripping.  Order matters:
#: script/style bodies go first (their content is not prose), then
#: comments, then remaining tags.
_STRIP_PATTERNS = (
    (r"(?is)<script[^>]*>.*?</script>", " "),
    (r"(?is)<style[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"(?s)<[^>]*>", " "),
)

#: minimal HTML entity set (the ones templating engines actually emit).
#: &amp; is decoded LAST so '&amp;lt;' becomes '&lt;' (one level), never '<'.
_ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
)


def html_to_text(col: Column) -> Column:
    """Markup-stripped prose from an HTML column: remove script/style
    bodies, comments and tags; decode the common entities; collapse
    whitespace.  One codegen'd projection — the whole chain fuses into
    WholeStageCodegen with the scan."""
    out = col
    for pat, rep in _STRIP_PATTERNS:
        out = F.regexp_replace(out, pat, rep)
    for ent, ch in _ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def url_domain(col: Column) -> Column:
    """Registered host of a URL (lowercased, userinfo and port dropped).
    Pure regex — portable to the DuckDB oracle, unlike parse_url."""
    return F.lower(
        F.regexp_extract(col, r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)", 1)
    )


def url_normalize(col: Column) -> Column:
    """Canonical URL for crawl dedup: lowercase the scheme and authority
    (userinfo included — case is never significant for dedup keys), drop
    the fragment, drop default ports (:80 http / :443 https), strip
    tracking parameters (utm_*, fbclid, gclid, ref) while preserving real
    ones.  Expression-only; at 100 TB this runs inside the scan
    projection, and the canonical string is what the exact-dedup digest
    keys on."""
    # lowercase scheme://host[:port] (group 1), keep the rest (group 2) as-is
    lowered = F.concat(
        F.lower(F.regexp_extract(col, r"^([A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?[^/?#]*)", 1)),
        F.regexp_extract(col, r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?[^/?#]*(.*)$", 1),
    )
    out = F.regexp_replace(lowered, r"#.*$", "")  # fragment
    # default ports — delimiter captured instead of a lookahead so the
    # pattern stays inside the RE2-compatible subset the docstring promises
    out = F.regexp_replace(out, r"^(https://[^/:?#]+):443([/?]|$)", r"$1$2")
    out = F.regexp_replace(out, r"^(http://[^/:?#]+):80([/?]|$)", r"$1$2")
    # tracking params: '&'-joined ones vanish outright; one directly after
    # '?' hands its '?' to the next param (or drops with it at end-of-URL)
    tracked = r"(?:utm_[A-Za-z0-9_]+|fbclid|gclid|ref)=[^&#]*"
    out = F.regexp_replace(out, "&" + tracked, "")
    out = F.regexp_replace(out, r"\?" + tracked + "&", "?")
    return F.regexp_replace(out, r"\?" + tracked + "$", "")


#: schema of exploded WARC records (one row per record in the payload)
WARC_RECORD = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("rec_idx", T.IntegerType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("content_length", T.LongType()),
        T.StructField("body", T.StringType()),
    ]
)


def warc_records(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Explode WARC payloads (plain or CommonCrawl per-record-gzip) into
    one row per record — the ingestion front door of a crawl-derived
    corpus.  Response records get their embedded HTTP message split
    (status + body); other records pass their block through.  Arrow-batched
    mapInPandas; record bodies leave Python as strings for the downstream
    html_to_text projection (which is JVM-side again).  At 100 TB each
    WARC file is one row of a binary column, so parallelism is row-level —
    repartition upstream to spread multi-GB crawl segments."""
    import pandas as pd

    from .warc import iter_warc_records, parse_http

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, raw in zip(pdf[id_col], pdf[payload_col]):
                for i, (hdrs, block) in enumerate(iter_warc_records(bytes(raw))):
                    wtype = hdrs.get("WARC-Type", "")
                    status = None
                    body = block
                    if wtype == "response" and block[:5] == b"HTTP/":
                        status, _hh, body = parse_http(block)
                    rows.append(
                        {
                            "media_id": int(mid),
                            "rec_idx": i,
                            "warc_type": wtype,
                            "target_uri": hdrs.get("WARC-Target-URI"),
                            "http_status": status,
                            "content_length": len(block),
                            "body": body.decode("utf-8", "replace"),
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in WARC_RECORD.fields])

    return df.select(id_col, payload_col).mapInPandas(batches, WARC_RECORD)


#: schema of decompressed-payload rows
DECOMPRESSED = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("codec", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def decompress_text(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Transparent decompression for compressed corpus shards — the other
    ingestion front door next to WARC: gzip (\\x1f\\x8b), bzip2 (BZh),
    xz (\\xfd7zXZ), zstd (\\x28\\xb5\\x2f\\xfd), lz4 frames
    (\\x04\\x22\\x4d\\x18), raw zlib (\\x78) and plain text, dispatched by
    magic bytes per row and inflated by operators/codec.py.  Arrow
    batched.  At 100 TB, compressed shards arrive one per row from a
    binaryFile scan; decompression is CPU-parallel across rows with zero
    shuffle."""
    import pandas as pd

    from .codec import decompress

    magics = (
        (b"\x1f\x8b", "gzip"),
        (b"BZh", "bz2"),
        (b"\xfd7zXZ\x00", "xz"),
        (b"\x28\xb5\x2f\xfd", "zstd"),
        (b"\x04\x22\x4d\x18", "lz4"),
        (b"\x78", "zlib"),
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, raw in zip(pdf[id_col], pdf[payload_col]):
                buf = bytes(raw)
                codec = next((c for m, c in magics if buf.startswith(m)), "plain")
                data = buf if codec == "plain" else decompress(buf, codec)
                rows.append(
                    {
                        "media_id": int(mid),
                        "codec": codec,
                        "n_bytes": len(data),
                        "text": data.decode("utf-8", "replace"),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in DECOMPRESSED.fields])

    return df.select(id_col, payload_col).mapInPandas(batches, DECOMPRESSED)


def synthesize_compressed_corpus(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic mixed-codec shard per row: codec cycles
    gzip/bz2/xz/plain by id mod 4 over the raw document text."""
    import bz2
    import lzma
    import zlib

    import pandas as pd

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for i, txt in zip(pdf[id_col], pdf[text_col]):
                raw = str(txt).encode()
                m = int(i) % 4
                if m == 0:
                    co = zlib.compressobj(6, zlib.DEFLATED, 31)
                    payloads.append(co.compress(raw) + co.flush())
                elif m == 1:
                    payloads.append(bz2.compress(raw))
                elif m == 2:
                    payloads.append(lzma.compress(raw, format=lzma.FORMAT_XZ))
                else:
                    payloads.append(raw)
            yield pd.DataFrame({id_col: pdf[id_col].values, "payload": payloads})

    schema = T.StructType(
        [T.StructField(id_col, T.LongType()), T.StructField("payload", T.BinaryType())]
    )
    return df.select(id_col, text_col).mapInPandas(batches, schema)


#: schema of CDX index rows (one per response record)
CDX_ROW = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("rec_idx", T.IntegerType()),
        T.StructField("surt_key", T.StringType()),
        T.StructField("ts", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("mime", T.StringType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("digest", T.StringType()),
        T.StructField("body_md5", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("rec_offset", T.LongType()),
        T.StructField("rec_length", T.LongType()),
    ]
)


def warc_cdx(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """CDX(J) index generation over WARC payloads — the lookup sidecar
    every CommonCrawl-style archive ships: one row per response record
    with the SURT key, 14-digit timestamp, mime, HTTP status, payload
    digest (sha1-b32, the CDX convention), and the (offset, length) of
    the record's gzip member so a reader can fetch one page with a
    ranged read.  body_md5 doubles as the oracle-checkable digest (the
    DuckDB oracle lacks sha1).  Arrow-batched mapInPandas; at 100 TB one
    WARC file is one row, so indexing parallelizes per shard and the
    output is exactly the (small) index table — pixels and pages never
    shuffle."""
    import hashlib
    import base64

    import pandas as pd

    from .warc import iter_warc_records_indexed, parse_http, surt

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, raw in zip(pdf[id_col], pdf[payload_col]):
                for i, (hdr, block, off, ln) in enumerate(
                    iter_warc_records_indexed(bytes(raw))
                ):
                    if hdr.get("WARC-Type") != "response":
                        continue
                    status, hhdr, body = parse_http(block)
                    url = hdr.get("WARC-Target-URI", "")
                    ts = "".join(c for c in hdr.get("WARC-Date", "") if c.isdigit())
                    rows.append(
                        {
                            "media_id": int(mid),
                            "rec_idx": i,
                            "surt_key": surt(url),
                            "ts": ts,
                            "url": url,
                            "mime": hhdr.get("content-type", "").split(";")[0].strip(),
                            "status": status,
                            "digest": "sha1:"
                            + base64.b32encode(hashlib.sha1(body).digest()).decode(),
                            "body_md5": hashlib.md5(body).hexdigest(),
                            "n_bytes": len(body),
                            "rec_offset": off,
                            "rec_length": ln,
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in CDX_ROW.fields])

    return df.select(id_col, payload_col).mapInPandas(batches, CDX_ROW)


def synthesize_zstd_corpus(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-row zstd shard over the raw document text, written by pyarrow's
    bundled libzstd (one frame with its content size), so
    decompress_text's zstd arm gets real encoder output."""
    import pandas as pd
    import pyarrow as pa

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = [
                pa.compress(str(t).encode(), "zstd", asbytes=True) for t in pdf[text_col]
            ]
            yield pd.DataFrame({id_col: pdf[id_col].values, "payload": payloads})

    schema = T.StructType(
        [T.StructField(id_col, T.LongType()), T.StructField("payload", T.BinaryType())]
    )
    return df.select(id_col, text_col).mapInPandas(batches, schema)


def synthesize_brotli_corpus(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-row brotli shard over the raw document text, written by
    pyarrow's bundled libbrotli with the quality level cycling 1/5/11 by
    id — so the decoder sees the fast, balanced and max-effort code
    shapes (uncompressed meta-blocks, context maps, static-dictionary
    references) rather than one encoder mode."""
    import pandas as pd
    import pyarrow as pa

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        codecs = {q: pa.Codec("brotli", compression_level=q) for q in (1, 5, 11)}
        levels = (1, 5, 11)
        for pdf in it:
            payloads = [
                codecs[levels[int(i) % 3]].compress(str(t).encode(), asbytes=True)
                for i, t in zip(pdf[id_col], pdf[text_col])
            ]
            yield pd.DataFrame({id_col: pdf[id_col].values, "payload": payloads})

    schema = T.StructType(
        [T.StructField(id_col, T.LongType()), T.StructField("payload", T.BinaryType())]
    )
    return df.select(id_col, text_col).mapInPandas(batches, schema)


def decompress_brotli_text(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Brotli shard decompression (the `.br` ingestion door).  Brotli has
    NO magic bytes, so unlike :func:`decompress_text` the codec is keyed
    by provenance (file extension / content-encoding header), exactly as
    real crawl pipelines do — this operator is that extension-keyed path,
    decoding every payload through operators/codec.py."""
    import pandas as pd

    from .codec import decompress

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, raw in zip(pdf[id_col], pdf[payload_col]):
                data = decompress(raw, "brotli")
                rows.append(
                    {
                        "media_id": int(mid),
                        "codec": "brotli",
                        "n_bytes": len(data),
                        "text": data.decode("utf-8", "replace"),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in DECOMPRESSED.fields])

    return df.select(id_col, payload_col).mapInPandas(batches, DECOMPRESSED)


def synthesize_warc_corpus(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic CommonCrawl-shaped WARC per row (per-record gzip):
    warcinfo + request + response whose HTTP body is an HTML page titled
    'T{id}' wrapping the document text — so the full
    warc→gzip→http→html→text chain has the same closed-form oracle as
    web_html_extract."""
    import pandas as pd

    from .warc import build_warc

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for i, txt in zip(pdf[id_col], pdf[text_col]):
                uri = f"https://crawl.example/doc/{int(i)}"
                html = (
                    "<html><head><script>var x=1;</script></head>"
                    f"<body><!-- gen --><h1>T{int(i)}</h1><p>{txt}</p>"
                    "&amp; tail</body></html>"
                ).encode()
                http = (
                    b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                    + b"Content-Length: "
                    + str(len(html)).encode()
                    + b"\r\n\r\n"
                    + html
                )
                payloads.append(
                    build_warc(
                        [
                            {"warc_type": "warcinfo", "block": b"software: engine\r\n"},
                            {
                                "warc_type": "request",
                                "uri": uri,
                                "block": b"GET / HTTP/1.1\r\n\r\n",
                            },
                            {
                                "warc_type": "response",
                                "uri": uri,
                                "content_type": "application/http; msgtype=response",
                                "block": http,
                            },
                        ],
                        gzip_per_record=True,
                    )
                )
            yield pd.DataFrame({id_col: pdf[id_col].values, "payload": payloads})

    schema = T.StructType(
        [T.StructField(id_col, T.LongType()), T.StructField("payload", T.BinaryType())]
    )
    return df.select(id_col, text_col).mapInPandas(batches, schema)
