"""Property-based tests (hypothesis) — randomized inputs vs brute-force
Python reimplementations.

The reference's level-1 strategy is golden-equivalence against vanilla
Spark over the whole forked sql/core test corpus (SURVEY §5); these
property tests play that role for the operators we *added* beyond Spark's
surface, where no golden corpus exists: each example generates a random
input, runs the distributed operator, and compares against an obviously
correct sequential implementation.

Each example batches MANY generated cases into one DataFrame (disjoint
id spaces), so one Spark job checks dozens of cases — hypothesis drives
the generation, Spark round-trips stay O(examples) not O(cases).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

from tests.test_codec import CODECS, encode

_SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def _union_find(n_nodes: set[int], edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = {n: n for n in n_nodes}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-label canonical form
    return {n: find(n) for n in n_nodes}


@given(
    graphs=st.lists(
        st.lists(
            st.tuples(st.integers(0, 25), st.integers(0, 25)).filter(lambda e: e[0] != e[1]),
            min_size=1,
            max_size=40,
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(**{**_SETTINGS, "max_examples": 3})  # each example is a multi-round iterative job
def test_connected_components_matches_union_find(spark, graphs):
    """connected_components ≡ sequential union-find on arbitrary graphs,
    on BOTH execution paths (driver union-find and distributed rounds).
    Many random graphs ride in one DataFrame on disjoint id ranges."""
    from native_sql_engine_spark.operators import dedup

    all_edges: list[tuple[int, int]] = []
    want: dict[int, int] = {}
    for gi, g in enumerate(graphs):
        off = gi * 1000
        edges = [(a + off, b + off) for a, b in g]
        nodes = {x for e in edges for x in e}
        want.update(_union_find(nodes, edges))
        all_edges.extend(edges)

    pairs = spark.createDataFrame(all_edges, ["a_id", "b_id"]).coalesce(4)
    saved = dedup.SMALL_GRAPH_EDGES
    try:
        for cutoff in (saved, 0):
            dedup.SMALL_GRAPH_EDGES = cutoff
            got = {r.node: r.component for r in dedup.connected_components(pairs).collect()}
            assert got == want, f"cutoff={cutoff}"
    finally:
        dedup.SMALL_GRAPH_EDGES = saved


@given(
    cases=st.lists(
        st.tuples(
            st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=12),
            st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=12),
        ),
        min_size=1,
        max_size=50,
    )
)
@settings(**_SETTINGS)
def test_jaccard_column_matches_python(spark, cases):
    """The jaccard() column expression ≡ Python set arithmetic."""
    from native_sql_engine_spark.operators.dedup import jaccard

    rows = [(i, list(a), list(b)) for i, (a, b) in enumerate(cases)]
    # explicit schema: empty generated arrays carry no inferable element type
    df = spark.createDataFrame(rows, "i int, a array<string>, b array<string>").coalesce(2)
    got = {
        r.i: round(r.j, 6)
        for r in df.select(
            "i", jaccard(F.array_distinct("a"), F.array_distinct("b")).alias("j")
        ).collect()
    }
    for i, (a, b) in enumerate(cases):
        sa, sb = set(a), set(b)
        want = len(sa & sb) / len(sa | sb) if (sa | sb) else 0.0
        assert abs(got[i] - want) < 1e-6, (i, a, b, got[i], want)


@given(
    cases=st.lists(
        st.tuples(
            # left: probe timestamps; right: (ts, value) updates
            st.lists(st.integers(0, 100), min_size=1, max_size=10),
            st.lists(st.tuples(st.integers(0, 100), st.integers(0, 999)), min_size=0, max_size=10),
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(**_SETTINGS)
def test_asof_join_matches_python(spark, cases):
    """asof_join ≡ per-key sequential scan: latest right ts ≤ left ts wins,
    greatest tie_break among equal timestamps."""
    from native_sql_engine_spark.operators.temporal import asof_join

    lrows, rrows = [], []
    want: dict[tuple[int, int], int | None] = {}
    for k, (probes, updates) in enumerate(cases):
        for i, ts in enumerate(probes):
            lrows.append((k, ts, i))
            eligible = [(rts, v) for rts, v in updates if rts <= ts]
            want[(k, i)] = max(eligible, key=lambda t: (t[0], t[1]))[1] if eligible else None
        for rts, v in updates:
            rrows.append((k, rts, v))

    left = spark.createDataFrame(lrows, ["k", "ts", "probe_id"]).coalesce(2)
    if rrows:
        right = spark.createDataFrame(rrows, ["k", "rts", "v"]).coalesce(2)
    else:
        right = spark.createDataFrame([], "k int, rts int, v int")
    out = asof_join(left, right, "k", "ts", "rts", ["v"], tie_break="v")
    got = {(r.k, r.probe_id): r.right_v for r in out.collect()}
    assert got == want


@given(seed=st.integers(0, 2**31 - 1))
@settings(**_SETTINGS)
def test_minhash_identical_docs_always_pair(spark, seed):
    """MinHash-LSH can never miss EXACT duplicates (identical shingle sets
    → identical signatures → identical band buckets), whatever the text."""
    import random

    from native_sql_engine_spark.operators.dedup import minhash_lsh_pairs

    rng = random.Random(seed)
    words = [f"w{rng.randint(0, 50)}" for _ in range(rng.randint(5, 40))]
    text = " ".join(words)
    other = " ".join(f"x{rng.randint(100, 200)}" for _ in range(20))
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, other)], ["doc_id", "text"]
    ).coalesce(2)
    pairs = {(r.a_id, r.b_id) for r in minhash_lsh_pairs(df, "doc_id", "text").collect()}
    assert (1, 2) in pairs


@settings(**_SETTINGS)
@given(
    data=st.lists(
        st.tuples(
            st.integers(0, 3),        # key
            st.integers(0, 100),      # left ts
        ),
        min_size=1, max_size=30,
    ),
    rdata=st.lists(
        st.tuples(
            st.integers(0, 3),        # key
            st.integers(0, 100),      # right ts
            st.integers(-1000, 1000), # value
        ),
        min_size=1, max_size=30,
    ),
    direction=st.sampled_from(["backward", "forward", "nearest"]),
    tol=st.sampled_from([None, 10, 30]),
)
def test_asof_join_matches_pandas_merge_asof(spark, data, rdata, direction, tol):
    """asof_join ≡ pandas.merge_asof on random int-time series (both
    directions, with/without tolerance).  Right timestamps are deduped per
    key so tie-break order is unambiguous in both implementations."""
    import pandas as pd

    from native_sql_engine_spark.operators.temporal import asof_join

    seen = set()
    rded = []
    for k, t, v in rdata:
        if (k, t) not in seen:
            seen.add((k, t))
            rded.append((k, t, v))
    left = spark.createDataFrame(
        pd.DataFrame(data, columns=["k", "t"]).astype("int64")
    )
    right = spark.createDataFrame(
        pd.DataFrame(rded, columns=["k", "t", "v"]).astype("int64")
    )
    tol_fn = None
    if tol is not None:
        if direction == "backward":
            tol_fn = lambda lt, rt: (lt - rt) <= tol
        elif direction == "forward":
            tol_fn = lambda lt, rt: (rt - lt) <= tol
        else:
            tol_fn = lambda lt, rt: F.abs(rt - lt) <= tol
    got = asof_join(
        left, right, key="k", left_ts="t", right_ts="t",
        value_cols=["v"], direction=direction, tolerance=tol_fn,
    ).toPandas()

    lp = pd.DataFrame(data, columns=["k", "t"]).astype("int64").sort_values("t", kind="stable")
    rp = pd.DataFrame(rded, columns=["k", "t", "v"]).astype("int64").sort_values("t", kind="stable")
    kwargs = dict(on="t", by="k", direction=direction)
    if tol is not None:
        kwargs["tolerance"] = tol
    want = pd.merge_asof(lp, rp.rename(columns={"v": "right_v"}), **kwargs)

    got_s = sorted(
        (int(r.k), int(r.t), None if pd.isna(r.right_v) else int(r.right_v))
        for r in got.itertuples()
    )
    want_s = sorted(
        (int(r.k), int(r.t), None if pd.isna(r.right_v) else int(r.right_v))
        for r in want.itertuples()
    )
    assert got_s == want_s


@settings(**_SETTINGS)
@given(
    tgt=st.dictionaries(st.integers(0, 20), st.integers(-100, 100), min_size=1, max_size=15),
    ops=st.lists(
        st.tuples(st.integers(0, 25), st.integers(-100, 100), st.booleans()),
        min_size=0, max_size=10,
        unique_by=lambda t: t[0],
    ),
)
def test_merge_upsert_matches_sequential_apply(spark, tgt, ops):
    """merge_upsert ≡ sequential dict apply: upserts replace/insert,
    deletes remove, untouched keys survive."""
    import pandas as pd

    from native_sql_engine_spark.operators.cdc import merge_upsert

    target = spark.createDataFrame(
        pd.DataFrame(sorted(tgt.items()), columns=["k", "v"]).astype("int64")
    )
    src_rows = [(k, v, "D" if is_del else "U") for k, v, is_del in ops]
    if not src_rows:
        src_rows = [(999, 0, "U")]  # createDataFrame needs ≥1 row; disjoint key
    source = spark.createDataFrame(
        pd.DataFrame(src_rows, columns=["k", "v", "op"]).astype({"k": "int64", "v": "int64"})
    )
    got = {int(r.k): int(r.v) for r in merge_upsert(target, source, "k").collect()}

    want = dict(tgt)
    for k, v, op in src_rows:
        if op == "D":
            want.pop(k, None)
        else:
            want[k] = v
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=6),  # width
            st.integers(min_value=1, max_value=6),  # height
            st.randoms(use_true_random=False),
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(**_SETTINGS)
def test_bmp_encode_decode_roundtrip(cases):
    """Random 24-bit BMPs (arbitrary width → nonzero row padding, bottom-up
    BGR storage) must decode to exactly the RGB array they encode."""
    import struct

    import numpy as np

    from native_sql_engine_spark.operators.multimodal import _decode_bmp

    for w, h, rnd in cases:
        px = np.array(
            [[[rnd.randrange(256) for _ in range(3)] for _ in range(w)] for _ in range(h)],
            dtype=np.uint8,
        )  # logical top-down RGB
        stride = (w * 3 + 3) & ~3
        rows = []
        for r in range(h - 1, -1, -1):  # bottom-up storage
            row = px[r][:, ::-1].tobytes()  # RGB→BGR
            rows.append(row + b"\x00" * (stride - len(row)))
        payload = (
            b"BM"
            + struct.pack("<IHHI", 54 + stride * h, 0, 0, 54)
            + struct.pack("<Iii", 40, w, h)
            + struct.pack("<HHI", 1, 24, 0)
            + struct.pack("<IiiII", stride * h, 2835, 2835, 0, 0)
            + b"".join(rows)
        )
        dh, dw, dc, out = _decode_bmp(payload)
        assert (dh, dw, dc) == (h, w, 3)
        assert np.array_equal(out, px)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5),
            st.integers(min_value=1, max_value=5),
            st.randoms(use_true_random=False),
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(**_SETTINGS)
def test_ppm_encode_decode_roundtrip(cases):
    import numpy as np

    from native_sql_engine_spark.operators.multimodal import _decode_ppm

    for w, h, rnd in cases:
        px = np.array(
            [[[rnd.randrange(256) for _ in range(3)] for _ in range(w)] for _ in range(h)],
            dtype=np.uint8,
        )
        payload = f"P6\n# c\n{w} {h}\n255\n".encode() + px.tobytes()
        dh, dw, dc, out = _decode_ppm(payload)
        assert (dh, dw, dc) == (h, w, 3)
        assert np.array_equal(out, px)


@given(
    graphs=st.lists(
        st.lists(
            st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda e: e[0] != e[1]),
            min_size=1,
            max_size=30,
        ),
        min_size=1,
        max_size=3,
    ),
    iters=st.integers(1, 4),
)
@settings(**_SETTINGS)
def test_pagerank_matches_dense_numpy(spark, graphs, iters):
    """pagerank() on random directed graphs (disjoint id spaces batched into
    one edge DataFrame) matches a dense numpy power iteration per graph."""
    import numpy as np

    from native_sql_engine_spark.operators.graph import pagerank

    all_edges = []
    per_graph = []
    for gi, raw in enumerate(graphs):
        base = gi * 100
        edges = sorted({(base + a, base + b) for a, b in raw})
        per_graph.append(edges)
        all_edges.extend(edges)
    df = spark.createDataFrame(all_edges, ["src", "dst"])
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=iters).collect()}

    d = 0.85
    # ground truth treats the batched graphs as ONE graph (shared N), which
    # is exactly what pagerank() computes over the unioned edge list
    nodes = sorted({x for e in all_edges for x in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros((n, n))
    for a, b in all_edges:
        out[idx[a], idx[b]] = 1.0
    deg = out.sum(axis=1, keepdims=True)
    p = np.divide(out, deg, out=np.zeros_like(out), where=deg > 0)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        r = (1 - d) / n + d * (p.T @ r)
    for node in nodes:
        assert abs(got[node] - r[idx[node]]) < 1e-9, (node, got[node], r[idx[node]])


def _py_paragraph_dedup(docs: list[tuple[int, str]], w: int = 8):
    """Sequential reference: first occurrence by (id, pos) wins."""
    seen = {}
    out = {}
    for did, text in sorted(docs):
        toks = text.split(" ")
        chunks = [" ".join(toks[i : i + w]) for i in range(0, len(toks), w)]
        kept = []
        for pos, ch in enumerate(chunks):
            if ch not in seen:
                seen[ch] = (did, pos)
                kept.append(ch)
        out[did] = (len(chunks), len(kept), " ".join(kept))
    return out


@given(
    cases=st.lists(
        st.lists(
            st.integers(0, 6),  # tiny token alphabet -> frequent chunk collisions
            min_size=1,
            max_size=40,
        ),
        min_size=1,
        max_size=15,
    )
)
@settings(**_SETTINGS)
def test_paragraph_dedup_matches_sequential(spark, cases):
    from native_sql_engine_spark.operators.text import paragraph_dedup

    docs = [(i, " ".join(f"t{t}" for t in toks)) for i, toks in enumerate(cases)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["kept_text"])
        for r in paragraph_dedup(df, chunk_words=8).collect()
    }
    assert got == _py_paragraph_dedup(docs)


@given(
    cases=st.lists(
        st.lists(st.integers(0, 10**6), min_size=1, max_size=30),
        min_size=1,
        max_size=20,
    )
)
@settings(**_SETTINGS)
def test_holt_fold_matches_sequential(spark, cases):
    """The HOF aggregate() fold (analytics_holt_linear) equals the obvious
    sequential Holt recursion bit-for-bit."""
    rows = [(i, [float(v) for v in vals]) for i, vals in enumerate(cases)]
    df = spark.createDataFrame(rows, "k bigint, vals array<double>")
    from native_sql_engine_spark.queries.analytics import _HOLT_FOLD_SPARK

    got = {
        r["k"]: (r["st"]["l"], r["st"]["b"])
        for r in df.selectExpr("k", f"{_HOLT_FOLD_SPARK} AS st").collect()
    }
    for i, vals in enumerate(cases):
        l, b = float(vals[0]), 0.0
        for y in vals[1:]:
            nl = 0.5 * float(y) + 0.5 * (l + b)
            b = 0.5 * ((0.5 * float(y) + 0.5 * (l + b)) - l) + 0.5 * b
            l = nl
        assert got[i] == (l, b), (i, got[i], (l, b))


def _py_lttb(p: list[tuple[int, int]], k: int = 10):
    n = len(p)
    out = [p[0]]
    interior, ni = p[1:-1], n - 2
    buckets = [[] for _ in range(k - 2)]
    for j, pt in enumerate(interior):
        buckets[j * (k - 2) // ni].append(pt)
    prev = p[0]
    for b in range(k - 2):
        if b < k - 3:
            nxt = buckets[b + 1]
            m, St, Sv = len(nxt), sum(q[0] for q in nxt), sum(q[1] for q in nxt)
        else:
            m, St, Sv = 1, p[-1][0], p[-1][1]
        best = None
        for q in buckets[b]:
            metric = abs(
                (q[0] - prev[0]) * (Sv - m * prev[1])
                - (St - m * prev[0]) * (q[1] - prev[1])
            )
            key = (metric, -q[0])
            if best is None or key > best[0]:
                best = (key, q)
        out.append(best[1])
        prev = best[1]
    out.append(p[-1])
    return out


@given(
    cases=st.lists(
        st.lists(st.integers(-10**6, 10**6), min_size=12, max_size=60, unique=True),
        min_size=1,
        max_size=8,
    )
)
@settings(**_SETTINGS)
def test_lttb_matches_sequential(spark, cases):
    from native_sql_engine_spark.operators.temporal import lttb_downsample

    rows = []
    expected = {}
    for s, vals in enumerate(cases):
        pts = sorted((t, v) for t, v in zip(range(len(vals)), vals))
        rows += [(s, t, v) for t, v in pts]
        expected[s] = _py_lttb(pts, k=10)
    df = spark.createDataFrame(rows, "s bigint, t bigint, v bigint")
    out = lttb_downsample(df, "s", "t", "v", k=10).collect()
    got = {}
    for r in out:
        got.setdefault(r["s"], []).append((r["idx"], r["t"], r["v"]))
    for s in expected:
        pts = [(t, v) for _, t, v in sorted(got[s])]
        assert pts == expected[s], (s, pts, expected[s])


@given(data=st.binary(min_size=0, max_size=4000))
@settings(**{**_SETTINGS, "max_examples": 25})
def test_tiff_lzw_roundtrip_property(data):
    """TIFF-variant LZW (MSB-first, EarlyChange) is lossless on arbitrary
    byte strings — including empty input, long runs, and high entropy."""
    from native_sql_engine_spark.operators.tiff import lzw_decode, lzw_encode

    assert lzw_decode(lzw_encode(data)) == data


@given(data=st.binary(min_size=0, max_size=4000))
@settings(**{**_SETTINGS, "max_examples": 25})
def test_packbits_roundtrip_property(data):
    from native_sql_engine_spark.operators.tiff import packbits_decode, packbits_encode

    assert packbits_decode(packbits_encode(data)) == data


@given(
    samples=st.lists(st.integers(-32768, 32767), min_size=1, max_size=400),
    order=st.integers(0, 4),
    block=st.sampled_from([64, 256, 512]),
)
@settings(**{**_SETTINGS, "max_examples": 15})
def test_flac_roundtrip_property(samples, order, block):
    """FLAC FIXED(order) + Rice coding is lossless on arbitrary 16-bit
    signals across block boundaries and predictor orders."""
    import numpy as np

    from native_sql_engine_spark.operators.flac import decode_flac, encode_flac

    sig = np.array(samples, dtype=np.int64)[:, None]
    _, _, _, out = decode_flac(encode_flac(sig, 16000, 16, block_size=block, order=order))
    assert (out[:, 0] == sig[:, 0]).all()


@given(
    words=st.dictionaries(
        st.text(alphabet="abcdef", min_size=1, max_size=10),
        st.integers(1, 50),
        min_size=1,
        max_size=20,
    ),
    n=st.integers(1, 12),
)
@settings(**{**_SETTINGS, "max_examples": 15})
def test_bpe_merges_invariants(words, n):
    """BPE merge-loop invariants on arbitrary dictionaries: the token total
    never increases, each merge removes at least one and at most its
    recorded count (pair counts include OVERLAPS — 'eee' counts (e,e)
    twice but left-to-right merging replaces once, faithful to Sennrich's
    algorithm), and training is insensitive to dictionary order."""
    from native_sql_engine_spark.operators.bpe import train_merges

    merges, before, after = train_merges(words, n)
    assert before - sum(c for _, _, c in merges) <= after <= before - len(merges)
    assert after <= before
    # each merged pair's count is positive and ranks are deterministic
    assert all(c > 0 for _, _, c in merges)
    m2, b2, a2 = train_merges(dict(reversed(list(words.items()))), n)
    assert m2 == merges and (b2, a2) == (before, after)  # order-insensitive


@given(
    samples=st.lists(
        st.tuples(st.integers(-32768, 32767), st.integers(-32768, 32767)),
        min_size=1,
        max_size=300,
    ),
    mode=st.sampled_from(["indep", "left_side", "right_side", "mid_side"]),
    lpc=st.integers(0, 8),
    block=st.sampled_from([64, 256]),
)
@settings(**{**_SETTINGS, "max_examples": 15})
def test_flac_stereo_lpc_roundtrip_property(samples, mode, lpc, block):
    """FLAC stereo decorrelation × LPC/FIXED subframes is lossless on
    arbitrary 16-bit stereo signals — incl. odd mid/side parity and the
    side channel's bits+1 range."""
    import numpy as np

    from native_sql_engine_spark.operators.flac import decode_flac, encode_flac

    sig = np.array(samples, dtype=np.int64)
    buf = encode_flac(sig, 16000, 16, block_size=block, order=2, mode=mode, lpc_order=lpc)
    _, _, _, out = decode_flac(buf)
    assert (out == sig).all()


@given(
    rows=st.lists(
        st.tuples(
            st.integers(-(2**62), 2**62),
            st.text(max_size=30),
            st.floats(allow_nan=False, allow_infinity=False, width=64),
            st.booleans(),
            st.one_of(st.none(), st.integers(-(2**40), 2**40)),
            st.binary(max_size=20),
        ),
        max_size=60,
    ),
    codec=st.sampled_from(["null", "deflate"]),
    block=st.sampled_from([7, 1000]),
)
@settings(**{**_SETTINGS, "max_examples": 15})
def test_avro_roundtrip_property(rows, codec, block):
    """Avro OCF round-trips arbitrary rows: full-range zigzag longs,
    unicode strings, doubles, nullable unions, bytes, across block
    boundaries and codecs."""
    from native_sql_engine_spark.operators.avro import read_avro, write_avro

    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "s", "type": "string"},
            {"name": "d", "type": "double"},
            {"name": "b", "type": "boolean"},
            {"name": "o", "type": ["null", "long"]},
            {"name": "r", "type": "bytes"},
        ],
    }
    dicts = [dict(zip("ksdbor", row)) for row in rows]
    _, out = read_avro(write_avro(dicts, schema, codec=codec, block_rows=block))
    assert out == dicts


@given(recs=st.lists(st.binary(max_size=200), max_size=40))
@settings(**{**_SETTINGS, "max_examples": 15})
def test_tfrecord_roundtrip_property(recs):
    """TFRecord framing round-trips arbitrary binary records (incl. empty
    and CRC-looking payloads) with CRC verification on."""
    from native_sql_engine_spark.operators.mlformats import read_tfrecords, write_tfrecords

    assert read_tfrecords(write_tfrecords(recs)) == recs


@given(
    shape=st.tuples(st.integers(1, 8), st.integers(1, 8)),
    dtype=st.sampled_from(["<f4", "<f8", "<i8", "<i2", "u1"]),
    seed=st.integers(0, 2**16),
)
@settings(**{**_SETTINGS, "max_examples": 15})
def test_safetensors_roundtrip_property(shape, dtype, seed):
    import numpy as np

    from native_sql_engine_spark.operators.mlformats import read_safetensors, write_safetensors

    rng = np.random.default_rng(seed)
    arr = (rng.integers(-100, 100, size=shape)).astype(dtype)
    out, _ = read_safetensors(write_safetensors({"t": arr}))
    assert out["t"].shape == arr.shape and (out["t"] == arr).all()


@given(
    img=st.integers(0, 2**16),
    h=st.integers(1, 9),
    w=st.integers(1, 9),
    ch=st.sampled_from([3, 4]),
)
@settings(**{**_SETTINGS, "max_examples": 15})
def test_vp8l_literal_roundtrip_property(img, h, w, ch):
    """The VP8L fixture encoder + full decoder are lossless on arbitrary
    small RGBA images (exercises canonical code building across skewed
    value distributions)."""
    import numpy as np

    from native_sql_engine_spark.operators.vp8l import decode_webp, encode_vp8l

    rng = np.random.default_rng(img)
    # skew: half the images use a tiny alphabet (deep Huffman imbalance)
    vals = rng.integers(0, 4 if img % 2 else 256, size=(h, w, ch)).astype(np.uint8)
    _, _, out = decode_webp(encode_vp8l(vals))
    want = (
        vals
        if ch == 4
        else np.concatenate([vals, np.full((h, w, 1), 255, np.uint8)], axis=2)
    )
    assert (out == want).all()


@given(
    n_rec=st.integers(0, 6),
    gz=st.booleans(),
    body=st.binary(max_size=120),
)
@settings(**{**_SETTINGS, "max_examples": 15})
def test_warc_roundtrip_property(n_rec, gz, body):
    """WARC framing round-trips arbitrary binary blocks (incl. blocks that
    contain CRLF/WARC-like bytes) in both plain and per-record-gzip
    layouts."""
    from native_sql_engine_spark.operators.warc import build_warc, iter_warc_records

    recs = [
        {"warc_type": "resource", "uri": f"https://x/{i}", "block": body + bytes([i])}
        for i in range(n_rec)
    ]
    out = list(iter_warc_records(build_warc(recs, gzip_per_record=gz)))
    assert len(out) == n_rec
    for i, (hdrs, blk) in enumerate(out):
        assert blk == body + bytes([i])
        assert hdrs["WARC-Target-URI"] == f"https://x/{i}"


@given(
    data=st.one_of(
        st.binary(max_size=30_000),
        # highly compressible: repeated short motifs stress LZ77 sequences
        st.lists(st.binary(min_size=1, max_size=24), min_size=1, max_size=40).map(
            lambda parts: b"".join(parts * 50)
        ),
    ),
    level=st.sampled_from([1, 3, 9, 19]),
)
@settings(**{**_SETTINGS, "max_examples": 25})
def test_zstd_decode_matches_reference_compressor(data, level):
    """Any payload pyarrow's zstd emits at any level decodes byte-exactly
    through operators/codec.py, with and without the declared size."""
    import pyarrow as pa

    from native_sql_engine_spark.operators.codec import decompress

    z = pa.Codec("zstd", compression_level=level).compress(data, asbytes=True)
    assert decompress(z, "zstd") == data
    assert decompress(z, "zstd", size=len(data)) == data


@given(
    data=st.binary(max_size=100_000),
    codec=st.sampled_from(CODECS),
)
@settings(**{**_SETTINGS, "max_examples": 40})
def test_codec_roundtrip_property(data, codec):
    """Every codec arm decodes what its encoder wrote, to the declared
    size, and rejects a declared size one byte off."""
    import pytest

    from native_sql_engine_spark.operators.codec import decompress

    z = encode(codec, data)
    assert decompress(z, codec) == data
    assert decompress(z, codec, size=len(data)) == data
    with pytest.raises(ValueError):
        decompress(z, codec, size=len(data) + 1)


@given(
    vals=st.lists(
        st.one_of(st.none(), st.integers(-(2**63), 2**63 - 1)), min_size=1, max_size=700
    )
)
@settings(**{**_SETTINGS, "max_examples": 10})
def test_parquet_delta_int64_roundtrip_property(vals):
    """DELTA_BINARY_PACKED decode over arbitrary (incl. overflow-wrapping)
    int64 sequences, against pyarrow's writer + DuckDB's reader."""
    import tempfile

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from native_sql_engine_spark.operators.parquet_data import read_column

    t = pa.table({"v": pa.array(vals, type=pa.int64())})
    with tempfile.NamedTemporaryFile(suffix=".parquet") as f:
        pq.write_table(
            t,
            f.name,
            compression="none",
            use_dictionary=False,
            column_encoding={"v": "DELTA_BINARY_PACKED"},
        )
        got = read_column(open(f.name, "rb").read(), "v")
        want = [r[0] for r in duckdb.sql(f"SELECT v FROM read_parquet('{f.name}')").fetchall()]
        assert got == want
