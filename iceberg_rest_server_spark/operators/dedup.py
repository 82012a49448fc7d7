"""Deduplication operators for large-scale training-data pipelines.

Four tiers, all shuffle-parallel with no driver-side state:

- exact:       dropDuplicates on all/subset columns (one shuffle).
- exact near-dup (n-gram Jaccard): PPJoin-style *prefix-filtered* inverted
  index join — identical output to the brute-force O(N²) pair scan, but
  candidates are generated only from each document's rarest shingles, so
  hot shingles ("the ") never explode the join. This is the exactness
  anchor the approximate tiers are verified against.
- MinHash + LSH: 64 min-hashes banded 16×4; candidate pairs must share
  ≥ `min_band_matches` band buckets (count-based banding), then are
  *exactly verified*, so precision is exact and recall is
  P[Binomial(16, j^4) ≥ k] (k=3 default: ≈0.987 at j=0.8, ≈1-2e-6 at
  j=0.9). The count filter is what keeps verify cheap on template-heavy
  corpora where plain OR-banding admits a quadratic mass of j≈0.5
  candidates.
- SimHash: 64-bit signatures; pairs within Hamming distance d found by
  pigeonhole banding (4 chunks of 16 bits — any pair with d≤3 shares a
  chunk), then exact popcount verify.

All shingling/hashing is JVM-side (F.sequence/F.transform/F.xxhash64);
SimHash uses one Arrow-batched pandas UDF (bit-level math).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType
from pyspark.sql.window import Window

from .. import materialize


def exact_dedup(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """Exact deduplication — hash shuffle on the chosen columns."""
    return df.dropDuplicates(subset) if subset else df.dropDuplicates()


def char_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, grams) rows: distinct character n-grams per document, computed
    JVM-side (sequence+transform, no Python).

    Repartitions on the id first: document corpora often arrive as few
    large files, and shingling cost must scale with cores, not input
    splits — at 100 TB the upstream layout is never trusted for
    parallelism."""
    grams = F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(length({text_col}) - {n - 1}, 0)),"
            f" i -> substring({text_col}, i, {n}))"
        )
    )
    return (
        df.repartition(F.col(id_col))
        .select(F.col(id_col).alias("id"), grams.alias("grams"))
        .filter(F.size("grams") > 0)
    )


def hashed_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, hgrams) rows: distinct xxhash64'd character n-grams per doc.

    Hashing each gram *inside* the transform and running array_distinct
    once on int64s is ~2.5× cheaper than materializing the distinct
    string array first and re-hashing it (one array pass instead of two,
    and the distinct hash-set works on longs, not strings). Downstream
    set ops only need equality, so this is exact modulo 64-bit
    collisions (~1e-13 per doc pair)."""
    grams = F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(length({text_col}) - {n - 1}, 0)),"
            f" i -> xxhash64(substring({text_col}, i, {n})))"
        )
    )
    return (
        df.repartition(F.col(id_col))
        .select(F.col(id_col).alias("id"), grams.alias("hgrams"))
        .filter(F.size("hgrams") > 0)
    )


# Above this many distinct grams exact_jaccard_pairs verifies with
# array_intersect on the gram arrays instead of the inline bitmap.
#
# The bound caps the bitmap row WIDTH in absolute terms: the inline
# verify rides ON the inverted-index self-join, so every raw candidate
# match carries n_words longs, and n_words grows with the GLOBAL
# distinct-gram count while per-doc gram sets stay fixed-size. Measured
# (tools/scaling.py, r10) at a 16x corpus (6k distinct grams -> 95-long
# bitmaps, 115M raw candidates): the verify stage cost ~360x its 1x cost
# (~21,600 CPU-s) because each match materialized ~1.5 KB of joined
# bitmap row. 1024 grams = 16 longs = 128 B keeps the inline row within
# ~4x of the narrow array-path candidate row; big-vocabulary corpora take
# the array path, whose join ships NARROW (id1, id2) rows, dedups, and
# fetches gram arrays once per surviving pair — linear at any vocabulary.
#
# Which path runs at registry scale (pinned by tests/test_operators.py::
# test_bitmap_strategy_runs_at_registry_scale): the documents corpus has
# exactly 377 distinct character trigrams at sf0.001, sf0.01 AND sf0.1
# (the generator's template alphabet saturates), so the BITMAP verify
# runs at every registry scale factor and EXPLAIN.md's q32 section is the
# live plan. Only corpora with >1024 distinct grams (e.g. the
# cipher-scaled SCALING.md corpus, vocabulary ~= 377·k) take the array
# path; tools/scaling.py sets the bound to 0 to pin the array path across
# its ladder.
_BITMAP_MAX_GRAMS = 1024


def exact_jaccard_pairs(
    docs: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.8
) -> DataFrame:
    """All pairs (id1 < id2) with Jaccard(n-gram sets) >= threshold — exact.

    Prefix filter: order each doc's grams globally by (document frequency,
    gram); a pair reaching `threshold` must share a gram among each side's
    first |A| - ceil(threshold·|A|) + 1 grams, so only that prefix feeds the
    inverted-index self-join. Equivalent to the full join, provably.

    Verify is adaptive on corpus statistics, like a join-strategy choice:
    when the corpus has few distinct grams (small alphabets, templated
    logs, CJK chars — exactly the corpora where the prefix filter prunes
    worst and candidates balloon), each doc's gram set is dictionary-
    encoded into a fixed-width bitmap and the intersection is
    bit_count(AND) over a handful of longs (~50× less work per candidate
    than hash-set array_intersect on the gram arrays, all inside
    whole-stage codegen). Large-vocabulary corpora keep the array verify
    — their bitmaps would be megabytes wide, but there the prefix filter
    already keeps candidates near-linear.
    """
    # whole pipeline runs on hashed grams (int64): document frequency,
    # prefix ordering and set intersection only need equality and *a*
    # canonical total order, so (df, hash) ordering is as correct as
    # (df, gram) — and int comparisons/intersections are far cheaper
    # than strings. 64-bit collisions are ~1e-13 per doc pair.
    #
    # Materializations (g, rp / ranked, the verify checkpoint) are read
    # by the returned plan, so they register with the caller's scope.
    g = materialize.persist(
        hashed_shingles(docs, id_col, text_col, n).withColumnRenamed("hgrams", "grams")
    )
    # sz travels with every exploded row (one array-length read) instead
    # of a second count() window pass downstream
    exploded = g.select(
        "id", F.size("grams").alias("sz"), F.explode("grams").alias("gram")
    )
    # not persisted: both consumers (the prefix ranking and, on the
    # bitmap path, the dictionary) rebuild this one cheap aggregate from
    # the cached gram sets
    df_freq = exploded.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    # one metadata-scale job to pick the verify strategy
    n_distinct_grams = df_freq.count()

    # PPJoin filters: size compatibility (j≥t bounds |A|/|B| within t) and
    # the positional upper bound on achievable overlap — both prune
    # candidates without affecting exactness.
    alpha = threshold / (1.0 + threshold)  # inter ≥ α·(|A|+|B|) ⇔ j ≥ t
    ppjoin_filter = (
        (F.col("a.id") < F.col("b.id"))
        & (F.col("a.sz") >= threshold * F.col("b.sz"))
        & (F.col("b.sz") >= threshold * F.col("a.sz"))
        & (
            1
            + F.least(F.col("a.sz") - F.col("a.pos"), F.col("b.sz") - F.col("b.pos"))
            >= F.ceil(F.lit(alpha) * (F.col("a.sz") + F.col("b.sz")))
        )
    )
    jaccard_of = lambda inter: inter.cast("double") / (  # noqa: E731
        F.col("size1") + F.col("size2") - inter
    )
    if n_distinct_grams <= _BITMAP_MAX_GRAMS:
        # Small-vocabulary corpora are exactly where the prefix filter
        # prunes worst (few distinct grams → no rare grams → candidate
        # multiplicity ~2× and candidate count near-quadratic in the hot
        # blocks). Routing those candidates through distinct() + two
        # verify joins shuffles the multi-million-row candidate set three
        # times. Instead the (tiny) bitmap rides ON the prefix rows as
        # n_words SCALAR long columns — not an array: per-element
        # bit_count(AND) over statically-indexed longs stays inside
        # whole-stage codegen, while higher-order aggregate/zip_with on
        # an array column falls out of it (measured 8.1 s → 1.8 s for
        # the verify join alone) — so the popcount(AND) verify runs
        # INLINE in the self-join's stage and only the j≥t survivors —
        # the real pairs — reach the final distinct. Measured end-to-end
        # at sf0.1 (5k docs, 377 grams, 7.2M raw candidates):
        # 15.8 s → ~7 s.
        n_words = (n_distinct_grams + 63) // 64
        # dictionary: gram -> (df, dense bit index) (tiny; single-
        # partition window is fine at <= 8192 rows, then broadcast
        # everywhere)
        idx_map = df_freq.select(
            "gram",
            "df",
            (F.row_number().over(Window.orderBy("gram")) - 1).alias("idx"),
        )
        # Fused build (r13, guide §2.3/§2.4): prefix selection, prefix
        # position AND the bitmap words are all functions of a doc's own
        # gram set plus the broadcast dictionary, so ONE id-partitioned
        # aggregate (exchange-free: hashed_shingles already repartitioned
        # on the id) computes the (df, gram) sort source and every bitmap
        # word together, and the prefix comes from an array_sort + slice
        # instead of a corpus-wide row_number window. n_words ≤ 16 here
        # (the _BITMAP_MAX_GRAMS cutover), which bounds the per-row
        # n_words-way bit_or.
        agg = exploded.join(F.broadcast(idx_map), "gram").groupBy("id").agg(
            F.first("sz").alias("sz"),
            F.collect_list(F.struct("df", "gram")).alias("pairs"),
            *[
                F.bit_or(
                    F.when(
                        F.shiftright("idx", 6) == i,
                        F.expr("shiftleft(1L, idx & 63)"),
                    ).otherwise(F.lit(0).cast("long"))
                ).alias(f"w{i}")
                for i in range(n_words)
            ],
        )
        prefix_len = (
            F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
        ).cast("int")
        # persisted: the self-join consumes rp on both sides
        rp = materialize.persist(
            agg.select(
                "id",
                "sz",
                F.posexplode(
                    F.slice(F.array_sort("pairs"), F.lit(1), prefix_len)
                ).alias("pos0", "pg"),
                *[F.col(f"w{i}") for i in range(n_words)],
            )
            .select(
                "id",
                F.col("pg.gram").alias("gram"),
                (F.col("pos0") + 1).alias("pos"),
                "sz",
                *[F.col(f"w{i}") for i in range(n_words)],
            )
        )
        inter = sum(
            [
                F.bit_count(F.col(f"a.w{i}").bitwiseAND(F.col(f"b.w{i}")))
                for i in range(1, n_words)
            ],
            F.bit_count(F.col("a.w0").bitwiseAND(F.col("b.w0"))),
        )
        verified = (
            rp.alias("a")
            .join(rp.alias("b"), "gram")
            .filter(ppjoin_filter)
            .select(
                F.col("a.id").alias("id1"),
                F.col("b.id").alias("id2"),
                inter.alias("inter"),
                F.col("a.sz").alias("size1"),
                F.col("b.sz").alias("size2"),
            )
            .withColumn("jaccard", jaccard_of(F.col("inter")))
            .filter(F.col("jaccard") >= threshold)
            .distinct()
            .select("id1", "id2", "inter", "size1", "size2", "jaccard")
        )
        return verified
    # Large-vocabulary path: gram arrays are too wide to ride the prefix
    # rows, so candidates ARE deduped first and the array_intersect
    # verify runs once per pair after two id joins.
    # global prefix ranking via a window over the exploded rows (per-doc
    # gram arrays are too wide to sort array-side); persisted: both sides
    # of the self-join consume it
    w = Window.partitionBy("id").orderBy("df", "gram")
    ranked = materialize.persist(
        exploded.join(df_freq, "gram")
        .withColumn("pos", F.row_number().over(w))
        .withColumn(
            "prefix_len", F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
        )
        .filter(F.col("pos") <= F.col("prefix_len"))
        .select("id", "gram", "pos", "sz")
    )
    cands = (
        ranked.alias("a")
        .join(ranked.alias("b"), "gram")
        .filter(ppjoin_filter)
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .distinct()
    )
    g1 = g.select(F.col("id").alias("id1"), F.col("grams").alias("g1"))
    g2 = g.select(F.col("id").alias("id2"), F.col("grams").alias("g2"))
    joined = (
        cands.join(g1, "id1")
        .join(g2, "id2")
        .select(
            "id1",
            "id2",
            F.size(F.array_intersect("g1", "g2")).alias("inter"),
            F.size("g1").alias("size1"),
            F.size("g2").alias("size2"),
        )
    )
    # Lineage barrier before the threshold filter: without it Catalyst
    # pushes the jaccard predicate into the verify join's condition while
    # the projection recomputes it — array_intersect (the dominant cost)
    # evaluates TWICE per candidate. The checkpointed rows carry only
    # (id1, id2, inter, size1, size2) — 40 B/candidate, the arrays are
    # already projected away — so the barrier is cheap at any scale.
    joined = materialize.checkpoint(joined)
    verified = (
        joined.withColumn("jaccard", jaccard_of(F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "inter", "size1", "size2", "jaccard")
    )
    return verified


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    min_band_matches: int = 3,
) -> DataFrame:
    """Near-dup pairs via MinHash+LSH candidates, exactly verified.

    Signature: h_i(doc) = min over grams of splitmix64(gram ^ seed_i).
    Banding: `bands` buckets of r = num_hashes/bands rows; a candidate
    pair must share ≥ `min_band_matches` band buckets. Verification
    recomputes exact Jaccard, so the output differs from
    exact_jaccard_pairs only by LSH recall
    P[Binomial(bands, j^r) ≥ min_band_matches]
    (defaults 16 bands, r=4, k=3: ≈0.987 at exactly j=0.8, ≈1-2e-6 at
    j=0.9; k=1 recovers classic OR-banding).

    Why count-based banding (k>1): on template-heavy corpora the j≈0.5
    similarity mass is quadratic, and OR-banding at r=4 admits ~12% of it
    — measured 3.2M candidates for 5k docs (sf0.1), with exact-verify
    dominating the runtime 24 s. Requiring 3 shared bands cuts that to
    ~130k while true near-dup pairs (j≥0.88 in this corpus) match ≥10
    bands. The band-count aggregation costs the same shuffle the
    dedup-distinct already paid.
    """
    r = num_hashes // bands
    # hashed gram sets: intersect/minhash on int64s, not strings — the
    # string payload never leaves the first projection. Persisted because
    # the set feeds both the signature pipeline and final verification
    # (otherwise Spark re-shingles the corpus once per consumer).
    g = materialize.persist(hashed_shingles(docs, id_col, text_col, n))

    # All num_hashes permutations + band buckets in ONE Arrow pass
    # (VERDICT r1 #8): permutation i = splitmix64(gram_hash ^ seed_i) —
    # full avalanche per seed (Kirsch-Mitzenmacher affine derivation was
    # measurably worse: correlated permutations cost banding recall). The
    # whole batch is one flat (total_grams × num_hashes) broadcast with a
    # segment-min (np.minimum.reduceat) — no per-doc Python loop.
    # Replaces explode → num_hashes×xxhash64 → groupBy(id) min-agg: no
    # shuffle at all — signatures are computed within the partition.
    # Memory is bounded per chunk: ≤ GRAM_CHUNK grams × num_hashes × 8 B
    # (~256 MB at defaults) regardless of Arrow batch size.
    GRAM_CHUNK = 500_000

    @F.pandas_udf("array<long>")
    def band_buckets(hgrams: pd.Series) -> pd.Series:
        def mix(z: np.ndarray) -> np.ndarray:
            z = z + np.uint64(0x9E3779B97F4A7C15)
            z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            return z ^ (z >> np.uint64(31))

        seeds = mix(np.arange(1, num_hashes + 1, dtype=np.uint64))
        if not len(hgrams):
            return pd.Series([], dtype=object)
        lens = hgrams.map(len).to_numpy(dtype=np.int64)
        # chunk boundaries: consecutive doc ranges whose gram totals stay
        # under GRAM_CHUNK (a single huge doc forms its own chunk)
        out = np.empty((len(lens), bands), dtype=np.uint64)
        start = 0
        while start < len(lens):
            end, total = start, 0
            while end < len(lens) and (end == start or total + lens[end] <= GRAM_CHUNK):
                total += lens[end]
                end += 1
            L = lens[start:end]
            flat = np.concatenate(
                [np.asarray(a, dtype=np.int64) for a in hgrams.iloc[start:end]]
            ).astype(np.uint64)
            H = mix(flat[:, None] ^ seeds[None, :])  # (total, num_hashes)
            offs = np.zeros(len(L), dtype=np.int64)
            np.cumsum(L[:-1], out=offs[1:])
            mins = np.minimum.reduceat(H, offs, axis=0)  # (docs, num_hashes)
            per_band = mins.reshape(len(L), bands, r)
            acc = np.broadcast_to(
                np.arange(bands, dtype=np.uint64), (len(L), bands)
            ).copy()
            for j in range(r):  # fold the r mins of each band into one key
                acc = mix(acc ^ per_band[:, :, j])
            out[start:end] = acc
            start = end
        return pd.Series(list(out.astype(np.int64)))

    # sz rides the bucket rows (one extra long per row) so the size-
    # compatibility prune runs straight off the banding aggregate — the
    # two sizes equi-joins the old shape paid are gone (r13, guide §2.4:
    # two operations keyed the same way share one exchange; here the
    # size attribute is functionally dependent on the id key and simply
    # travels with it).
    buckets = materialize.persist(
        g.select("id", F.size("hgrams").alias("sz"), band_buckets("hgrams").alias("bb"))
        .select("id", "sz", F.posexplode("bb").alias("band", "bucket"))
    )
    # count-based banding: the groupBy replaces the dedup-distinct (same
    # shuffle) and the count filter prunes the template-similarity mass
    # before any gram array is fetched. Size-compatibility prune before
    # fetching gram arrays: j ≥ t bounds |A|/|B| within [t, 1/t] — most
    # low-j LSH candidates die here without touching an array.
    cands = (
        buckets.alias("a")
        .join(buckets.alias("b"), ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.col("a.sz").alias("sz1"),
            F.col("b.sz").alias("sz2"),
        )
        .agg(F.count(F.lit(1)).alias("band_matches"))
        .filter(F.col("band_matches") >= min_band_matches)
        .filter(
            (F.col("sz1") >= threshold * F.col("sz2"))
            & (F.col("sz2") >= threshold * F.col("sz1"))
        )
        .select("id1", "id2")
    )
    g1 = g.select(F.col("id").alias("id1"), F.col("hgrams").alias("g1"))
    g2 = g.select(F.col("id").alias("id2"), F.col("hgrams").alias("g2"))
    joined = (
        cands.join(g1, "id1")
        .join(g2, "id2")
        .select(
            "id1",
            "id2",
            F.size(F.array_intersect("g1", "g2")).alias("inter"),
            F.size("g1").alias("size1"),
            F.size("g2").alias("size2"),
        )
    )
    # same lineage barrier as exact_jaccard_pairs: keep the threshold
    # filter from being pushed into the join condition, where the
    # array_intersect would evaluate twice per candidate
    joined = materialize.checkpoint(joined)
    return (
        joined.withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("size1") + F.col("size2") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


@F.pandas_udf(LongType())
def _simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens (Arrow-batched).

    Token hash = first 8 bytes of md5 (stable across runs/engines);
    signature bit b is the sign of the ±1 vote sum over token
    *occurrences*. Vectorized: tokens are factorized so md5 runs once
    per distinct token in the batch, the ±1 bit matrix is gathered by
    code, and per-document vote sums are one segment-sum
    (np.add.reduceat) — bounded by a token-chunk budget, no per-token
    Python in the hot loop."""
    import hashlib

    shifts = np.arange(64, dtype=np.uint64)
    TOKEN_CHUNK = 500_000
    toks = texts.fillna("").str.split()
    lens = toks.map(len).to_numpy(dtype=np.int64)
    out = np.zeros(len(lens), dtype=np.int64)  # empty docs keep sig 0
    start = 0
    while start < len(lens):
        end, total = start, 0
        while end < len(lens) and (end == start or total + lens[end] <= TOKEN_CHUNK):
            total += lens[end]
            end += 1
        flat = [t for lst in toks.iloc[start:end] for t in lst]
        if flat:
            codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
            uh = np.empty(len(uniques), dtype=np.uint64)
            for j, tok in enumerate(uniques):  # only distinct tokens hit md5
                uh[j] = np.uint64(
                    int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
                )
            pm = (((uh[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int32) * 2 - 1)
            tok_pm = pm[codes]  # (total_tokens, 64) of ±1
            L = lens[start:end]
            nz = L > 0
            offs = np.zeros(len(L), dtype=np.int64)
            np.cumsum(L[:-1], out=offs[1:])
            votes = np.add.reduceat(tok_pm, offs[nz], axis=0)  # (nz docs, 64)
            sigs = np.zeros(len(L), dtype=np.uint64)
            sigs[nz] = np.bitwise_or.reduce(
                (votes > 0).astype(np.uint64) << shifts[None, :], axis=1
            )
            out[start:end] = sigs.view(np.int64)
        start = end
    return pd.Series(out)


def simhash_pairs(
    docs: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Pairs within `max_hamming` bits of SimHash distance.

    Pigeonhole banding: split 64 bits into 4 chunks of 16; any pair with
    distance ≤ 3 matches exactly on ≥1 chunk → equi-join per chunk, then
    exact popcount verify. No O(N²) scan."""
    sig = docs.repartition(F.col(id_col)).select(
        F.col(id_col).alias("id"), _simhash64(F.col(text_col)).alias("sig")
    )
    chunks = sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned("sig", c * 16).bitwiseAND(F.lit(0xFFFF)).alias("key"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cc"),
    ).select("id", "sig", F.col("cc.chunk").alias("chunk"), F.col("cc.key").alias("key"))
    cands = (
        chunks.alias("a")
        .join(chunks.alias("b"), ["chunk", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.col("a.sig").alias("sig1"),
            F.col("b.sig").alias("sig2"),
        )
        .distinct()
    )
    return (
        cands.withColumn("hamming", F.bit_count(F.col("sig1").bitwiseXOR(F.col("sig2"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming")
    )


def connected_components(
    edges: DataFrame, src: str = "id1", dst: str = "id2", max_iter: int = 25
) -> DataFrame:
    """Resolve near-dup *pairs* into clusters: (id, component) for every
    node appearing in `edges`, component = min node id reachable.

    This is the dedup endgame — pair emission (exact_jaccard_pairs /
    minhash_lsh_pairs) only says "these two match"; keeping one canonical
    doc per group needs the transitive closure. Min-label propagation
    with pointer jumping:

      round:  l(v) ← min(l(v), min_{(u,v)∈E} l(u))   (neighbor min)
              l(v) ← min(l(v), l(l(v)))              (pointer jump)

    The neighbor step is one shuffle join on the (static, persisted) edge
    list + a groupBy min; the jump step is a self-join on the label
    table. Pointer jumping halves chain depth every round, so rounds =
    O(log diameter) even for pathological chain clusters (dense near-dup
    clusters converge in 2-3). No driver state beyond the changed-count;
    lineage is truncated with localCheckpoint every round so plans stay
    O(1) deep at any scale. 100 TB note: the label table is 16 B/node
    and the edge list dominates — both stay partitioned on node id, and
    each round's cost is bounded by one edge-list shuffle (same cost
    class as one LSH banding round, run ~log(diameter) times).
    """
    from ._iterconf import iteration_conf

    spark = edges.sparkSession
    with materialize.scope() as owned:
        # materialize the directed edge list ONCE before symmetrizing: the
        # union's two branches would otherwise each re-evaluate the
        # (possibly expensive — e.g. a full near-dup verify) upstream plan
        e0 = materialize.persist(
            edges.select(F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v"))
        )
        n_edges = e0.count()
        # r13 measured finding (guide §2.4): pre-partitioning sym on u is a
        # NO-OP here — the DAG scheduler already reuses the symmetrized
        # edge shuffle across rounds (skipped stages; verified identical
        # stage counts and shuffle bytes on a deep chain graph), so an
        # explicit repartition only adds one upfront exchange. Left as-is.
        sym = materialize.persist(
            e0.union(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        )
        # loop queries planned small when the measured edge list is small
        # (AQE off + data-sized partitions); no-op at scale
        with iteration_conf(spark, 2 * n_edges):
            ckpt = labels = materialize.checkpoint(
                sym.groupBy(F.col("u").alias("id"))
                .agg(F.least(F.min("v"), F.first("u")).alias("comp"))
                .withColumn("comp", F.least("comp", "id"))
            )
            for _ in range(max_iter):
                # neighbor min, fused (r13, guide §2.4): the node's own
                # label joins the round as |V| extra UNION rows riding
                # the same groupBy exchange — carrying its OLD label in
                # a side column — instead of the previous separate
                # labels⋈neigh left join (one join + its label-table
                # exchange per round, gone). min(comp) over the group =
                # least(own, min neighbors) exactly as before; max(own)
                # recovers the old label (each node contributes exactly
                # one self row). The round's ONE action (the changed-
                # count below) still both materializes the checkpoint
                # and decides convergence.
                contribs = (
                    sym.join(labels.withColumnRenamed("id", "u"), "u")
                    .select(
                        F.col("v").alias("id"),
                        "comp",
                        F.lit(None).cast("long").alias("own"),
                    )
                )
                stepped = (
                    contribs.unionByName(
                        labels.select("id", "comp", F.col("comp").alias("own"))
                    )
                    .groupBy("id")
                    .agg(F.min("comp").alias("comp"), F.max("own").alias("old"))
                )
                # pointer jump: follow comp one hop (comp of my comp)
                hop = labels.select(
                    F.col("id").alias("comp"), F.col("comp").alias("jcomp")
                )
                jumped = materialize.checkpoint(
                    stepped.join(hop, "comp", "left").select(
                        "id",
                        "old",
                        F.least("comp", F.coalesce("jcomp", "comp")).alias("comp"),
                    )
                )
                changed = jumped.filter(F.col("comp") != F.col("old")).count()
                materialize.release(ckpt)  # prev round's blocks
                ckpt, labels = jumped, jumped.select("id", "comp")
                if changed == 0:
                    break
        owned.keep(ckpt)  # the result: its lineage is truncated
    return labels.select(F.col("id"), F.col("comp").alias("component"))


def substring_duplicate_stats(
    docs: DataFrame, id_col: str, text_col: str, window: int = 8
) -> DataFrame:
    """Exact substring-overlap profiling: for each document, how much of
    it consists of `window`-token runs that appear more than once in the
    corpus (within OR across documents).

    This is the window-hash reformulation of suffix-array substring
    dedup (the "exact substring" tier of training-data dedup, as
    popularized for LM corpora): every length-`window` token run becomes
    a key; a run occurring >1 time anywhere marks its windows
    duplicated. Two shuffles total, both map-side combined:

      1. one partition-by-key window count (`count over (partition by
         run)`) — no self-join, no pair explosion: a run shared by K
         documents costs K rows, not K² pairs;
      2. one per-document aggregation of duplicated-window counts.

    The run key here is md5 of the joined tokens so the DuckDB oracle
    can recompute it byte-identically; a 100 TB deployment swaps it for
    xxhash64 (8-byte shuffle keys instead of 32-hex strings) — the plan
    shape is unchanged. Returns (id, n_windows, n_dup_windows,
    dup_fraction) for every doc with at least one full window.
    """
    toks = docs.select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("w")
    ).filter(F.size("w") >= window)
    runs = toks.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - (window - 1)),
                lambda i: F.md5(F.concat_ws(" ", F.slice("w", i, window))),
            )
        ).alias("h"),
    )
    occ = runs.withColumn("occ", F.count(F.lit(1)).over(Window.partitionBy("h")))
    return (
        occ.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.count_if(F.col("occ") > 1).alias("n_dup_windows"),
        )
        .withColumn(
            "dup_fraction", F.col("n_dup_windows") / F.col("n_windows")
        )
    )


def segment_dedup(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    seg_tokens: int = 10,
    min_docs: int = 3,
) -> DataFrame:
    """CCNet-style segment-hash dedup: split each document's whitespace
    tokens into fixed `seg_tokens`-token segments, mark any segment whose
    md5 occurs in >= `min_docs` distinct documents as boilerplate, and
    reassemble each document from its surviving segments in order.

    Returns (id, n_segments, n_removed, cleaned_text); cleaned_text is
    NULL when every segment was boilerplate. All JVM codegen (split /
    slice / md5 / conditional collect): the only global state is the
    per-hash document count, which map-side combines, and only hashes —
    never text — shuffle twice. A segment shared by K documents costs K
    rows (not K²), and the boilerplate 'set' is implicit in the join, so
    nothing is ever collected to the driver.
    """
    # tokenize ONCE into a column: split() referenced inside the lambda
    # re-evaluates per element access (q149's measured lesson)
    base = docs.select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("w")
    )
    segs_col = F.expr(
        f"transform(sequence(0, CAST(ceil(size(w)/{seg_tokens}.0) AS INT) - 1),"
        f" i -> array_join(slice(w, i*{seg_tokens} + 1, {seg_tokens}), ' '))"
    )
    exploded = base.select(
        "id", F.posexplode(segs_col).alias("seg_idx", "seg")
    ).withColumn("h", F.md5("seg"))
    occ = exploded.groupBy("h").agg(F.count_distinct("id").alias("n_docs"))
    flagged = exploded.join(occ, "h").withColumn("boiler", F.col("n_docs") >= min_docs)
    kept_struct = F.when(~F.col("boiler"), F.struct(F.col("seg_idx"), F.col("seg")))
    return (
        flagged.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.col("boiler").cast("long")).alias("n_removed"),
            F.array_sort(F.collect_list(kept_struct)).alias("kept"),
        )
        .select(
            "id",
            "n_segments",
            "n_removed",
            F.when(
                F.size("kept") > 0,
                F.array_join(F.transform(F.col("kept"), lambda x: x.seg), " "),
            ).alias("cleaned_text"),
        )
    )
