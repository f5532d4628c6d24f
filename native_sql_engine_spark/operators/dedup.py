"""Deduplication operators: exact, fingerprint, n-gram Jaccard, MinHash-LSH,
SimHash, embedding-cosine — the LLM-pipeline surface beyond the reference.

Scale design (100 TB):
- exact/fingerprint dedup shuffle on a 128-bit digest, never on the document
  body (tiny shuffle keys, body stays columnar until the final join).
- pairwise operators NEVER do an unblocked cross join:
  * n-gram Jaccard uses **prefix filtering** (AllPairs/PPJoin): shingles are
    ranked rarest-first by global document frequency and only each doc's
    prefix is indexed — a pair with J ≥ t provably shares a prefix shingle,
    so candidates come from an equi-join on rare shingles;
  * MinHash blocks on LSH band buckets; SimHash on 8-bit signature bands
    (pigeonhole: hamming ≤ 7 ⇒ ≥ 1 identical band);
  * embedding pairs use a broadcast block matrix-product (numpy under
    mapInPandas) — at billion-row scale the same kernel runs per LSH bucket.
- signatures (MinHash mins, SimHash bit votes) are computed by exploding
  tokens and running plain codegen'd aggregates (min/sum with map-side
  partial aggregation) — NOT higher-order array lambdas, which Spark
  interprets row-at-a-time and which dominated runtime at sf0.1 (~20-400s
  per query before this layout; ~1-4s after).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..materialize import materialize, release

# Mersenne prime + deterministic affine constants for MinHash permutations.
# 31-bit (not 61-bit) so the affine mulmod is overflow-free in signed 64-bit
# arithmetic under BOTH ANSI modes: _h < 2^31, a < 2^31 ⇒ _h*a + b < 2^62 + 2^31.
# 31-bit min-hashes are ample for 64 permutations (collision P ≈ 2^-31/pair).
_MERSENNE = (1 << 31) - 1


def _perm_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs — splitmix64-style mixing of the index so
    runs are reproducible with no RNG state."""
    out = []
    for i in range(num_hashes):
        z = (i + 1) * 0x9E3779B97F4A7C15 % (1 << 64)
        z = (z ^ (z >> 30)) * 0xBF58476D1CE4E5B9 % (1 << 64)
        a = z % (_MERSENNE - 1) + 1
        b = (z >> 13) % _MERSENNE
        out.append((a, b))
    return out


def dedup_exact(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Keep one representative row (min id) per distinct value of ``cols``.

    GroupBy on the digest of the key columns → map-side combine, one shuffle
    of (digest, id) pairs; the winning rows are fetched back with a
    broadcast-able semi join at typical dup rates.
    """
    key = F.md5(F.concat_ws("\x00", *cols))
    winners = (
        df.select(key.alias("_k"), F.col(id_col))
        .groupBy("_k")
        .agg(F.min(id_col).alias(id_col))
        .drop("_k")
    )
    return df.join(winners, id_col, "left_semi")


def jaccard(a: Column, b: Column) -> Column:
    """Set Jaccard of two arrays (exact, JVM-side): |∩| / (|a|+|b|-|∩|)
    — one hash-set build per pair instead of two (no array_union)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


#: Edge-count cutoff below which connected components collapses to a single
#: driver-side union-find.  5M edges ≈ tens of MB on the driver — far under
#: any sane driver heap — while the distributed path-halving rounds cost
#: several full shuffle barriers each.  Near-dup graphs are *sparse relative
#: to the corpus* (only actual duplicates appear), so even at 100 TB most
#: runs stay under this; beyond it the O(log d) distributed rounds take over.
SMALL_GRAPH_EDGES = 5_000_000


def _union_find_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Driver-side union-find with path compression + union by size;
    labels = min node id per component (matching the distributed path)."""
    parent: dict[int, int] = {}
    size: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        for n in (a, b):
            if n not in parent:
                parent[n] = n
                size[n] = 1
        ra, rb = find(a), find(b)
        if ra != rb:
            if size[ra] < size[rb]:
                ra, rb = rb, ra
            parent[rb] = ra
            size[ra] += size[rb]
    # min id per component
    comp_min: dict[int, int] = {}
    for n in parent:
        r = find(n)
        if r not in comp_min or n < comp_min[r]:
            comp_min[r] = n
    return {n: comp_min[find(n)] for n in parent}


def connected_components(
    pairs: DataFrame, a_col: str = "a_id", b_col: str = "b_id", max_iter: int = 20
) -> DataFrame:
    """(node, component) for every node in the undirected pair graph, where
    component = the minimum node id reachable from it.

    The edge list is materialized once (it feeds every round anyway); when
    it is small (< ``SMALL_GRAPH_EDGES``) the components are solved with one
    driver-side union-find — exact same labels, none of the per-round
    shuffle barriers.  Distributed path-halving handles the big-graph case.

    Min-label propagation **with path halving**: each round every node takes
    the min of its own label, its neighbors' labels, and its label's label
    (pointer jumping) — converging in O(log diameter) rounds rather than
    O(diameter).  Near-dup graphs are unions of near-cliques (diameter ≈ 2),
    so typical runs need 2 rounds; a pathological length-d chain needs
    ~log₂ d.  Each round is two shuffle joins (labels onto the edge list,
    labels onto themselves) + one min-aggregate — map-side combinable, so a
    hub node's million edges reduce to one row per map partition before the
    shuffle; AQE handles residual skew.  Convergence is detected from
    sum(label) in the same action that materializes the round (labels only
    ever decrease, so an unchanged sum ⇔ a fixed point).

    Each round's labels are ``localCheckpoint``-ed, NOT merely persisted:
    persist truncates recomputation but not the PLAN, and because a round
    references the previous labels twice (neighbor join + pointer-jump
    self-join) the logical tree would DOUBLE per round — by round ~15 the
    2^15-node tree makes every downstream plan-string generation (Spark UI
    description, AQE explain) take minutes to hours.  localCheckpoint
    replaces the plan with a LogicalRDD leaf, keeping both lineage and plan
    O(1) per round — the same recipe graph.py's pagerank/BFS use (and
    GraphFrames' production CC).  Trade-offs, both shared with graph.py:
    superseded rounds' checkpoint blocks are reclaimed by the
    ContextCleaner as the per-round references drop (labels are O(nodes) —
    two longs per row — so even max_iter retained copies are small next to
    the edge list), and localCheckpoint is not fault-tolerant: an executor
    loss mid-loop fails the job rather than recomputing, the standard
    price of truncating lineage without a reliable checkpoint dir.
    """
    # both directions in ONE pass over pairs (a union of two selects would
    # recompute the upstream pair pipeline — often a full similarity join —
    # once per branch)
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(a_col).alias("_src"), F.col(b_col).alias("_dst")),
                    F.struct(F.col(b_col).alias("_src"), F.col(a_col).alias("_dst")),
                )
            ).alias("_e")
        )
        .select("_e._src", "_e._dst")
        .distinct()
        .persist()
    )
    n_edges = edges.count()  # materializes the persist; drives the path choice
    if n_edges <= SMALL_GRAPH_EDGES:
        try:
            import pandas as pd

            rows = edges.filter(F.col("_src") < F.col("_dst")).collect()
            labels_map = _union_find_components([(r._src, r._dst) for r in rows])
            spark = pairs.sparkSession
            # pandas → Arrow → LocalTableScan: a true local relation with
            # known (tiny) stats, so downstream joins broadcast it.  A plain
            # createDataFrame(list) builds a Python-RDD-backed plan with
            # unknown stats — no broadcast, and every execution pays a
            # Python worker round-trip.
            pdf = pd.DataFrame(
                {"node": list(labels_map.keys()), "component": list(labels_map.values())},
                dtype="int64",
            )
            return spark.createDataFrame(pdf)
        finally:
            edges.unpersist()
    labels = materialize(
        edges.select(F.col("_src").alias("_n"))
        .distinct()
        .select("_n", F.col("_n").alias("_c"))
    )
    try:
        prev_sum = None
        for _ in range(max_iter):
            nbr = (
                edges.join(labels, edges["_src"] == labels["_n"])
                .groupBy("_dst")
                .agg(F.min("_c").alias("_nc"))
            )
            half = (
                labels.join(nbr, labels["_n"] == nbr["_dst"], "left")
                .select("_n", F.least("_c", "_nc").alias("_c"))
            )
            # path halving: c ← label(c); labels form a pointer forest toward
            # the component min, so one extra self-join doubles progress/round
            ptr = labels.select(F.col("_n").alias("_pc"), F.col("_c").alias("_cc"))
            new_labels = materialize(  # plan → leaf; see docstring
                half.join(ptr, half["_c"] == ptr["_pc"], "left")
                .select("_n", F.least("_c", "_cc").alias("_c"))
            )
            cur_sum = new_labels.agg(F.sum("_c")).collect()[0][0]
            # the superseded round's blocks are dead the moment new_labels is
            # materialized; release them NOW instead of waiting for the async
            # ContextCleaner (under a tight heap ~15 rounds of dead label
            # blocks pin the storage region and the neighbor join's hash
            # build OOMs — observed at 12M edges / 6 GB in the scale probe)
            release(labels)
            labels = new_labels
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
        return labels.select(F.col("_n").alias("node"), F.col("_c").alias("component"))
    finally:
        edges.unpersist()


def dedup_clusters(
    df: DataFrame, id_col: str, pairs: DataFrame, a_col: str = "a_id", b_col: str = "b_id"
) -> DataFrame:
    """Assign every row a duplicate-cluster id: the min id of its connected
    component in the near-dup pair graph (itself when it has no duplicates),
    plus an ``is_canonical`` flag for the cluster representative.

    ``pairs`` is the output of any pairwise dedup operator above; filtering
    ``is_canonical`` materializes the deduplicated corpus."""
    comp = connected_components(pairs, a_col, b_col)
    return (
        df.select(F.col(id_col))
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("cluster_id"),
        )
        .withColumn("is_canonical", (F.col(id_col) == F.col("cluster_id")))
    )


def _shingle_base(df: DataFrame, id_col: str, text_col: str, ngram: int) -> DataFrame:
    """(_id, _sh array<long>, _sz) — distinct hashed word-n-gram shingles.

    Per-ROW layout (round 11): tokenize, slice each n-gram out of the token
    array and hash it, all inside one projection — no posexplode, no window
    sort, no collect_set aggregate.  The earlier explode → window-lead →
    collect_set form paid a per-partition sort over |tokens| rows plus an
    aggregation back to |docs| rows for what is a purely row-local
    computation; the higher-order ``transform`` here is interpreted per
    element, but it is ONE xxhash64+concat per shingle (unlike the 64-fold
    signature lambdas the module docstring warns about) — alternating A/B at
    sf0.1: 0.59 → 0.36 s per materialized build, shingle sets identical.
    Docs with fewer than ``ngram`` tokens are dropped, exactly like the
    window form (its lead-null filter removed them).

    The repartition on whole documents is kept: it moves |docs| rows once so
    tokenization runs on every core even off a single-file scan.

    Materialized (checkpoint), not persisted: the shingle table feeds 3-4
    consumers (df-freq, rank, 2 verify joins) and an eager checkpoint both
    materializes it once AND truncates the logical plan to a leaf — with
    persist() the analyzer still re-walks the tokenize/shingle subtree once
    per consumer (round-10 8-rep A/B, family median 12.17 → 11.30 s).
    Failure semantics by mode: see materialize.py."""
    return materialize(_shingle_plan(df, id_col, text_col, ngram))


def _shingle_plan(df: DataFrame, id_col: str, text_col: str, ngram: int) -> DataFrame:
    """The un-materialized shingle-table plan (see ``_shingle_base``) —
    exposed separately so plan-stability tests can golden the subtree that
    the checkpoint otherwise hides behind a leaf."""
    nparts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        df.repartition(nparts, F.col(id_col))
        .select(
            F.col(id_col).alias("_id"),
            F.expr(f"filter(split({text_col}, '\\\\s+'), t -> t <> '')").alias("_t"),
        )
        .filter(F.size("_t") >= ngram)
        .select(
            "_id",
            F.expr(
                f"array_distinct(transform(sequence(1, size(_t) - {ngram - 1}),"
                f" i -> xxhash64(concat_ws(' ', slice(_t, i, {ngram})))))"
            ).alias("_sh"),
        )
        .select("_id", "_sh", F.size("_sh").alias("_sz"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    ngram: int = 3,
    sort: bool = True,
) -> DataFrame:
    """Exact near-dup pairs by word-``ngram`` shingle Jaccard ≥ threshold,
    via **prefix filtering** (AllPairs/PPJoin family).

    Plan: hash shingles to longs → global shingle document-frequency →
    rank each doc's shingles rarest-first → index only the prefix
    (|A| - ⌈t·|A|⌉ + 1 shingles): any pair with J ≥ t must share a prefix
    shingle under the same global order, so candidates are an equi-join on
    the prefix index, then a size-ratio filter (t·|A| ≤ |B| ≤ |A|/t) and an
    exact Jaccard verification.  Every stage is a shuffle join / codegen'd
    aggregate — no O(n²) step at any data size.
    """
    t4 = int(round(threshold * 10000))  # exact integer arithmetic for ⌈t·sz⌉
    # persisted: the shingle table feeds 4 consumers (df-freq, rank, 2 verify joins)
    base = _shingle_base(df, id_col, text_col, ngram)
    ex = base.select("_id", "_sz", F.explode("_sh").alias("_s"))
    dfreq = ex.groupBy("_s").agg(F.count("*").alias("_df"))
    ranked = ex.join(dfreq, "_s").withColumn(
        "_rn", F.row_number().over(W.partitionBy("_id").orderBy("_df", "_s"))
    )
    # prefix length = sz - ceil(t*sz) + 1, computed in exact integer math.
    # Checkpointed: the prefix index feeds BOTH sides of the candidate
    # self-join; unmaterialized, the df-frequency shuffle + rank window
    # pipeline above runs once per side, and even persisted the analyzer
    # re-walks that subtree per side (localCheckpoint truncates it to a
    # leaf).  One (id, sz, shingle) row per PREFIX shingle — a fraction of
    # the posting list.
    prefix = materialize(
        ranked.filter(
            F.col("_rn") <= F.col("_sz") - ((F.lit(t4) * F.col("_sz") + 9999) / 10000).cast("long") + 1
        ).select("_id", "_sz", "_s")
    )
    a = prefix.select(F.col("_id").alias("a_id"), F.col("_sz").alias("a_sz"), "_s")
    b = prefix.select(F.col("_id").alias("b_id"), F.col("_sz").alias("b_sz"), "_s")
    cand = (
        a.join(b, "_s")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(
            (F.col("b_sz") * 10000 >= F.col("a_sz") * t4)
            & (F.col("a_sz") * 10000 >= F.col("b_sz") * t4)
        )
        .select("a_id", "b_id")
        .dropDuplicates()
    )
    pairs = cand.join(
        base.select(F.col("_id").alias("a_id"), F.col("_sh").alias("a_sh")), "a_id"
    ).join(base.select(F.col("_id").alias("b_id"), F.col("_sh").alias("b_sh")), "b_id")
    out = pairs.select(
        "a_id", "b_id", F.round(jaccard(F.col("a_sh"), F.col("b_sh")), 4).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)
    # sort=False skips the global sort when the pairs feed another operator
    # (e.g. connected components) rather than a deterministic result set
    return out.orderBy("a_id", "b_id") if sort else out


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.9,
    ngram: int = 3,
) -> DataFrame:
    """Directional containment join: pairs (contained, container) where
    |A∩B| / |A| ≥ threshold over word-``ngram`` shingles — catches a doc
    whose content sits INSIDE a larger doc (quote farms, boilerplate
    wrappers, truncated re-crawls), which symmetric Jaccard misses because
    the union is dominated by the container.

    Asymmetric prefix filter (the containment adaptation of PPJoin): only
    the CONTAINED side indexes a prefix (|A| − ⌈t·|A|⌉ + 1 rarest-first
    shingles — any pair with overlap ≥ ⌈t·|A|⌉ must collide there); the
    container side streams ALL its shingles through the equi-join, with a
    one-sided size filter |B| ≥ ⌈t·|A|⌉ (an intersection can't exceed |B|).
    Candidates then verify exactly.  Same no-O(n²) guarantee as
    ``ngram_jaccard_pairs``; both directions of a pair report separately.
    """
    t4 = int(round(threshold * 10000))
    base = _shingle_base(df, id_col, text_col, ngram)
    ex = base.select("_id", "_sz", F.explode("_sh").alias("_s"))
    dfreq = ex.groupBy("_s").agg(F.count("*").alias("_df"))
    ranked = ex.join(dfreq, "_s").withColumn(
        "_rn", F.row_number().over(W.partitionBy("_id").orderBy("_df", "_s"))
    )
    ceil_t_sz = ((F.lit(t4) * F.col("_sz") + 9999) / 10000).cast("long")
    prefix_a = ranked.filter(F.col("_rn") <= F.col("_sz") - ceil_t_sz + 1).select(
        F.col("_id").alias("a_id"), F.col("_sz").alias("a_sz"), "_s"
    )
    all_b = ex.select(F.col("_id").alias("b_id"), F.col("_sz").alias("b_sz"), "_s")
    cand = (
        prefix_a.join(all_b, "_s")
        .filter(F.col("a_id") != F.col("b_id"))
        .filter(F.col("b_sz") * 10000 >= ((F.lit(t4) * F.col("a_sz") + 9999) / 10000).cast("long") * 10000)
        .select("a_id", "b_id")
        .dropDuplicates()
    )
    pairs = cand.join(
        base.select(F.col("_id").alias("a_id"), F.col("_sh").alias("a_sh")), "a_id"
    ).join(base.select(F.col("_id").alias("b_id"), F.col("_sh").alias("b_sh")), "b_id")
    out = pairs.select(
        F.col("a_id").alias("contained_id"),
        F.col("b_id").alias("container_id"),
        F.round(
            F.size(F.array_intersect("a_sh", "b_sh")).cast("double")
            / F.size("a_sh"),
            4,
        ).alias("containment"),
    ).filter(F.col("containment") >= threshold)
    return out.orderBy("contained_id", "container_id")


def minhash_signature(tokens_or_shingles: Column, num_hashes: int = 64) -> Column:
    """MinHash signature (array<long>) of a token/shingle array, as a column
    expression: h_i(x) = (a_i · xxhash64(x) + b_i) mod M, min per row.

    NOTE: higher-order ``transform``/``array_min`` are interpreted, not
    codegen'd — fine for ad-hoc use on small arrays; the bulk path in
    ``minhash_lsh_pairs`` uses the explode+aggregate layout instead (same
    values, map-side combined)."""
    def perm_hash(a: int, b: int):
        return lambda s: F.pmod(
            F.pmod(F.xxhash64(s), F.lit(_MERSENNE)) * F.lit(a) + F.lit(b), F.lit(_MERSENNE)
        )

    sigs = []
    for a, b in _perm_constants(num_hashes):
        sigs.append(F.array_min(F.transform(tokens_or_shingles, perm_hash(a, b))))
    return F.array(*sigs)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    ngram: int = 3,
) -> DataFrame:
    """Near-dup candidate pairs via MinHash + banded LSH, verified exactly.

    Pipeline: shingle(hash to long) → explode → ``num_hashes`` codegen'd
    ``min`` aggregates (map-side partial agg; same values as
    ``minhash_signature``) → ``bands`` band hashes → candidates share ≥1
    band bucket (equi-join on (band, band_hash) — no cross product) → exact
    shingle-Jaccard verification ≥ threshold.
    """
    rows = num_hashes // bands
    perms = _perm_constants(num_hashes)
    base = _shingle_base(df, id_col, text_col, ngram)  # feeds sig build + 2 verify joins
    ex = base.select("_id", F.explode("_sh").alias("_s")).select(
        "_id", F.pmod(F.col("_s"), F.lit(_MERSENNE)).alias("_h")
    )
    # F.expr strings, not nested Column objects: building 64 aggregate trees
    # via the Column API costs hundreds of py4j round trips (~3 s of pure
    # driver-side overhead per call); one parsed SQL string per aggregate is
    # the identical plan for ~1/10th the construction cost.
    # checkpointed: the signature table feeds BOTH sides of the band-bucket
    # self-join below; unmaterialized, the explode + 64 min-aggregates
    # pipeline runs once per side, and even persisted the analyzer re-walks
    # the 64-aggregate subtree per side (~same plan-truncation win as
    # simhash_pairs).  64 longs per document.
    sig = materialize(
        ex.groupBy("_id").agg(
            *[
                F.expr(f"min(pmod(_h * {a}L + {b}L, {_MERSENNE}L)) AS _m{i}")
                for i, (a, b) in enumerate(perms)
            ]
        )
    )
    band_structs = ",".join(
        "struct({i} AS band, xxhash64(concat_ws(',', {cols})) AS bh)".format(
            i=i, cols=",".join(f"_m{i * rows + j}" for j in range(rows))
        )
        for i in range(bands)
    )
    buckets = sig.selectExpr("_id", f"explode(array({band_structs})) AS _b").selectExpr(
        "_id", "_b.band AS _band", "_b.bh AS _bh"
    )
    left = buckets.select(F.col("_id").alias("a_id"), "_band", "_bh")
    right = buckets.select(F.col("_id").alias("b_id"), "_band", "_bh")
    cand = (
        left.join(right, ["_band", "_bh"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .dropDuplicates()
    )
    pairs = cand.join(
        base.select(F.col("_id").alias("a_id"), F.col("_sh").alias("a_sh")), "a_id"
    ).join(base.select(F.col("_id").alias("b_id"), F.col("_sh").alias("b_sh")), "b_id")
    return (
        pairs.select(
            "a_id", "b_id", F.round(jaccard(F.col("a_sh"), F.col("b_sh")), 4).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("a_id", "b_id")
    )


def simhash_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash) for every row — JVM hashes the tokens (xxhash64, so the
    signature stays bit-identical to the SQL form), then one vectorized
    ``mapInArrow`` pass computes all 64 bit votes per document in numpy.

    The earlier layout exploded tokens and ran 64 codegen'd ±1-vote sum
    aggregates; even with map-side combine that is 64 aggregation-buffer
    updates per token row.  Here each Arrow batch carries (id, array<long>
    token hashes); the votes are one (tokens × 64) bit-matrix reduction per
    batch (guide §4.2 — hand whole batches to vectorized native code), and
    the explode + aggregate stage disappears from the plan.  Alternating A/B
    at sf0.1: 0.96/0.72 → 0.70/0.52 s (two interleaved rounds), signatures
    bit-identical for all docs.  Vote arithmetic is exact integers end to
    end: votes = 2·(bit count) − tokens, bit set iff votes > 0, signature
    reassembled as the same signed-64 OR (numpy uint64 shift wraps to the
    JVM's two's-complement shiftleft at bit 63).  Token-less docs keep
    signature 0 (empty bit matrix ⇒ all votes ≤ 0).

    Documents are repartitioned by id first: the shuffle moves |docs| rows
    rather than |tokens| rows and tokenization parallelizes across cores
    even off a single-file scan."""
    nparts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    hashed = df.repartition(nparts, F.col(id_col)).select(
        F.col(id_col).alias("_id"),
        F.expr(
            f"transform(filter(split({text_col}, '\\\\s+'), t -> t <> ''),"
            " t -> xxhash64(t))"
        ).alias("_hs"),
    )

    def _votes(it):
        import numpy as np
        import pyarrow as pa

        shifts = np.arange(64, dtype=np.uint64)
        for batch in it:
            ids = batch.column("_id").to_numpy(zero_copy_only=False)
            hs = batch.column("_hs")
            flat = hs.combine_chunks() if isinstance(hs, pa.ChunkedArray) else hs
            offsets = flat.offsets.to_numpy(zero_copy_only=False)
            values = flat.values.to_numpy(zero_copy_only=False).astype(np.uint64)
            n_docs = len(ids)
            starts = offsets[:-1].astype(np.int64)
            lens = (offsets[1:] - offsets[:-1]).astype(np.int64)
            counts = np.zeros((n_docs, 64), dtype=np.int64)
            if len(values):
                bits = ((values[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
                nz = lens > 0
                if nz.any():
                    # reduceat over the starts of non-empty docs: each segment
                    # runs to the next non-empty start, which is exactly that
                    # doc's token range (empty docs contribute no rows)
                    counts[nz] = np.add.reduceat(bits, starts[nz], axis=0)
            votes = 2 * counts - lens[:, None]
            sig = ((votes > 0).astype(np.uint64) << shifts).sum(axis=1, dtype=np.uint64)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.int64()), pa.array(sig.astype(np.int64))],
                names=["_id", "_sim"],
            )

    return hashed.mapInArrow(_votes, "_id long, _sim long")


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 7
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance ≤ ``max_hamming``.

    Candidate blocking by the 8 8-bit bands of the signature: hamming ≤ 7
    ⇒ at least one band identical (pigeonhole), so candidates come from 8
    equi-joins, not a cross join.  Verification via bit_count(xor).
    Short documents have thin bit-vote margins, so the hamming budget is
    wider than the classic 3.

    The signature table is localCheckpoint'd: it feeds BOTH sides of the
    band self-join, and without materialization Spark duplicates the whole
    subtree (tokenize → explode → 64 bit-vote aggregates) once per side —
    the signature pass ran twice per query (2 scans, 2 explode+agg
    shuffles).  An eager checkpoint beats persist() here because it also
    TRUNCATES the logical plan: with persist() the analyzer/optimizer still
    walks the full 64-aggregate subtree once per join side (~1.2 s of
    single-threaded driver time per build, measured via
    RuleExecutor.dumpTimeSpent — DeduplicateRelations/ResolveReferences
    dominate), while the checkpointed side is a leaf.  Honest A/B through
    the battery wrapper (fresh cache per invocation, 8 alternating reps):
    median 2.95 → 2.61 s, 7/8 reps faster.  One (id, long) row per
    document, so the materialized footprint is ~16 bytes/doc — negligible
    at any corpus size.
    """
    base = materialize(simhash_table(df, id_col, text_col))
    band_structs = ",".join(
        f"struct({i} AS band, (shiftrightunsigned(_sim, {8 * i}) & 255) AS bh)"
        for i in range(8)
    )
    bands = base.selectExpr(
        "_id", "_sim", f"explode(array({band_structs})) AS _b"
    ).selectExpr("_id", "_sim", "_b.band AS _band", "_b.bh AS _bh")
    left = bands.select(F.col("_id").alias("a_id"), F.col("_sim").alias("a_sim"), "_band", "_bh")
    right = bands.select(F.col("_id").alias("b_id"), F.col("_sim").alias("b_sim"), "_band", "_bh")
    return (
        left.join(right, ["_band", "_bh"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            F.bit_count(F.col("a_sim").bitwiseXOR(F.col("b_sim"))).cast("int").alias("hamming"),
        )
        # verify BEFORE dedup: bit_count on a long is ~free, and it shrinks
        # the dropDuplicates shuffle from every band collision to true pairs
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["a_id", "b_id"])
        .orderBy("a_id", "b_id")
    )


#: Corpus row bound under which the exact broadcast block-matmul runs — the
#: build-side discipline of a broadcast hash join (the normalized matrix is
#: collected once and shipped to every executor; 1M × 64-dim float64 ≈
#: 0.5 GB, the practical broadcast ceiling).  Above it the operator
#: automatically switches to the LSH-bucketed distributed path.
EMBED_BROADCAST_ROWS = 1_000_000


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    max_broadcast_rows: int = EMBED_BROADCAST_ROWS,
    approx_rows: int | None = None,
) -> DataFrame:
    """Near-dup pairs by embedding cosine ≥ threshold.

    Dispatch: corpora up to ``max_broadcast_rows`` use the exact broadcast
    block-matmul (below); larger corpora use the distributed LSH-bucketed
    path (``embedding_neardup_pairs_lsh``) — approximate, never collects
    the corpus anywhere.  Path choice costs at most a ``max_broadcast_rows
    + 1``-row probe (or nothing, given ``approx_rows`` / catalog stats) —
    never a full-corpus count().
    """
    from .stats import exceeds_rows

    if not exceeds_rows(df, max_broadcast_rows, approx_rows):
        return _embedding_pairs_broadcast(df, id_col, vec_col, threshold)
    return embedding_neardup_pairs_lsh(df, id_col, vec_col, threshold)


def _embedding_pairs_broadcast(
    df: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """Exact pairs via broadcast block matrix-product.

    The corpus matrix is L2-normalized once and broadcast (same contract as
    a broadcast join's build side — only legal under the
    ``EMBED_BROADCAST_ROWS`` guard); each partition multiplies its row
    block against it with one BLAS matmul and emits only pairs above
    threshold — no per-pair interpreted expressions, no shuffled cross
    join.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    pdf = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")).toPandas()
    ids = pdf["_id"].to_numpy()
    mat = np.stack([np.asarray(v, dtype="float64") for v in pdf["_v"]])
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    normed = mat / norms[:, None]
    bc = df.sparkSession.sparkContext.broadcast((ids, normed))

    schema = T.StructType(
        [
            T.StructField("a_id", T.LongType()),
            T.StructField("b_id", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )

    def block(it):
        r_ids, r_mat = bc.value
        for batch in it:
            if len(batch) == 0:
                continue
            l_ids = batch["_id"].to_numpy()
            l_mat = np.stack([np.asarray(v, dtype="float64") for v in batch["_v"]])
            l_norms = np.linalg.norm(l_mat, axis=1)
            l_norms[l_norms == 0] = 1.0
            g = (l_mat / l_norms[:, None]) @ r_mat.T
            li, ri = np.where((g >= threshold) & (l_ids[:, None] < r_ids[None, :]))
            if len(li):
                yield pd.DataFrame(
                    {
                        "a_id": l_ids[li],
                        "b_id": r_ids[ri],
                        "cos": np.round(g[li, ri], 4),
                    }
                )

    return (
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .mapInPandas(block, schema)
        .select(F.col("a_id"), F.col("b_id"), "cos")
        .orderBy("a_id", "b_id")
    )


def embedding_neardup_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Distributed embedding near-dup pairs via multi-table sign-LSH.

    Fully distributed — nothing is ever collected to the driver: rows are
    exploded into (table, bucket) with one numpy matmul per Arrow batch
    (similarity.lsh_bucket_rows), then each bucket group runs the SAME
    block-matmul pair kernel as the exact path, just scoped to its bucket
    (applyInPandas), then pairs found in several tables are deduped.

    Approximate by construction: a pair at angle θ collides with
    probability 1-(1-(1-θ/π)^n_planes)^n_tables — the defaults give ≈0.99
    recall at cos ≥ 0.95 — and every emitted pair's cosine is exact
    (verified inside the kernel), so precision is 1.0.  At 100 TB the
    bucket table is written partitioned by (table, bucket) so the group
    stage is shuffle-free.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from .similarity import lsh_bucket_rows

    buckets = lsh_bucket_rows(df, id_col, vec_col, n_planes, n_tables, seed)

    schema = T.StructType(
        [
            T.StructField("a_id", buckets.schema["_id"].dataType),
            T.StructField("b_id", buckets.schema["_id"].dataType),
            T.StructField("cos", T.DoubleType()),
        ]
    )

    def bucket_pairs(key, batch):
        if len(batch) < 2:
            return pd.DataFrame({"a_id": [], "b_id": [], "cos": []}).astype(
                {"cos": "float64"}
            )
        ids = batch["_id"].to_numpy()
        m = np.array(batch["_v"].tolist(), dtype="float64")
        nrm = np.linalg.norm(m, axis=1)
        nrm[nrm == 0] = 1.0
        g = (m / nrm[:, None]) @ (m / nrm[:, None]).T
        ai, bi = np.where((g >= threshold) & (ids[:, None] < ids[None, :]))
        return pd.DataFrame(
            {"a_id": ids[ai], "b_id": ids[bi], "cos": np.round(g[ai, bi], 4)}
        )

    return (
        buckets.groupBy("_table", "_bucket")
        .applyInPandas(bucket_pairs, schema)
        .dropDuplicates(["a_id", "b_id"])
        .orderBy("a_id", "b_id")
    )
