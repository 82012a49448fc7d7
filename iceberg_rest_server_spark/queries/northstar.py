"""Q31+ north-star operators registered as inventory queries
(SURVEY.md §2F Q31–Q33 plus the training-data-pipeline extensions:
similarity search and multimodal columns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import materialize
from ..operators import dedup, multimodal, similarity, text
from ..tables import load
from ._registry import register

# ---------------------------------------------------------------- dedup

@register(
    "q31_exact_dedup",
    oracle="""
    SELECT count(*) AS n_after, count(*) AS n_rows
    FROM (
      SELECT DISTINCT * FROM (
        SELECT * FROM lineitem
        UNION ALL
        SELECT * FROM lineitem WHERE l_orderkey % 10 = 0
      )
    )
    """,
    doc="Exact dedup over a duplicate-injected lineitem (every column in "
    "the key): one hash shuffle via dropDuplicates.",
)
def q31(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    dup_injected = li.unionAll(li.filter(F.col("l_orderkey") % 10 == 0))
    deduped = dedup.exact_dedup(dup_injected)
    return deduped.agg(
        F.count(F.lit(1)).alias("n_after"), F.count(F.lit(1)).alias("n_rows")
    )


_GRAMS_CTE = """
    WITH grams AS (
      SELECT doc_id,
             list_distinct([substr(text, i, 3) for i in range(1, length(text) - 1)]) AS g
      FROM documents
    )
"""


@register(
    "q32_ngram_jaccard_pairs",
    oracle=_GRAMS_CTE
    + """
    SELECT a.doc_id AS id1, b.doc_id AS id2,
           len(list_intersect(a.g, b.g)) AS inter,
           len(a.g) AS size1, len(b.g) AS size2,
           CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
             / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) AS jaccard
    FROM grams a JOIN grams b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
            / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.8
    ORDER BY id1, id2
    """,
    doc="Exact 3-gram Jaccard near-dup pairs (j ≥ 0.8) via PPJoin-style "
    "prefix-filtered inverted index — identical result to the O(N²) "
    "scan the oracle runs, but scalable (hot shingles never join).",
)
def q32_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return dedup.exact_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8).orderBy(
        "id1", "id2"
    )


@register(
    "q32_minhash_lsh_pairs",
    oracle=_GRAMS_CTE
    + """
    SELECT a.doc_id AS id1, b.doc_id AS id2,
           CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
             / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) AS jaccard
    FROM grams a JOIN grams b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
            / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.8
    ORDER BY id1, id2
    """,
    doc="MinHash(128)+LSH(32 bands × 4 rows) candidates, exactly verified. "
    "Candidate recall at j=0.8 is 1-(1-0.8^4)^32 ≈ 1-5e-8, and "
    "verification is exact, so the output matches the exact oracle.",
)
def q32_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(docs, "doc_id", "text", n=3, threshold=0.8).orderBy(
        "id1", "id2"
    )


@register(
    "q32_simhash_pairs",
    # The signature IS engine-independent: token hash = first 8 bytes of
    # md5 (operators/dedup.py:_simhash64), so DuckDB recomputes the exact
    # 64-bit signature (md5 hex → UBIGINT, ±1 bit votes, sign) and the
    # exact pair set (hamming ≤ 3) — a full value-hash oracle, not just
    # rows-only. Tokenization parity: pandas str.split() ≡ split on \s+
    # with empty tokens dropped.
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS tok
      FROM documents
    ),
    th AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h FROM toks
    ),
    bits AS (
      SELECT doc_id, b,
             SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM th, (SELECT unnest(range(64)) AS b) bb(b)
      GROUP BY doc_id, b
    ),
    sigs AS (
      SELECT doc_id,
             bit_or(CASE WHEN vote > 0
                         THEN 1::UBIGINT << CAST(b AS INT)
                         ELSE 0::UBIGINT END) AS sig
      FROM bits GROUP BY doc_id
    ),
    ph AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2,
             bit_count(xor(a.sig, b.sig)) AS hamming
      FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sig, b.sig)) <= 3
    ),
    grams AS (
      SELECT doc_id,
             list_distinct([substr(text, i, 3) for i in range(1, length(text) - 1)]) AS g
      FROM documents
    )
    SELECT p.id1, p.id2, p.hamming,
           CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
             / (len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g))) AS jaccard3
    FROM ph p
    JOIN grams ga ON ga.doc_id = p.id1
    JOIN grams gb ON gb.doc_id = p.id2
    ORDER BY id1, id2
    """,
    doc="SimHash(64-bit) near-dup pairs within Hamming distance 3, via "
    "pigeonhole chunk banding + exact popcount verify; each pair carries "
    "its exact trigram Jaccard. md5-based token hashing makes the "
    "signature engine-independent, so the oracle recomputes it exactly.",
)
def q32_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=3)
    grams = docs.select(
        "doc_id",
        F.array_distinct(
            F.expr(
                "transform(sequence(1, greatest(length(text) - 2, 1)),"
                " i -> substring(text, i, 3))"
            )
        ).alias("g"),
    )
    inter = F.size(F.array_intersect("g1", "g2"))
    return (
        pairs.join(grams.select(F.col("doc_id").alias("id1"), F.col("g").alias("g1")), "id1")
        .join(grams.select(F.col("doc_id").alias("id2"), F.col("g").alias("g2")), "id2")
        .select(
            "id1",
            "id2",
            "hamming",
            (inter / (F.size("g1") + F.size("g2") - inter)).alias("jaccard3"),
        )
        .orderBy("id1", "id2")
    )


@register(
    "q49_dedup_clusters",
    oracle="""
    WITH RECURSIVE grams AS (
      SELECT doc_id,
             list_distinct([substr(text, i, 3) for i in range(1, length(text) - 1)]) AS g
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2
      FROM grams a JOIN grams b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
              / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.8
    ),
    edges AS (
      SELECT id1 AS u, id2 AS v FROM pairs
      UNION
      SELECT id2 AS u, id1 AS v FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (
      SELECT u AS doc_id, least(u, min(v)) AS component
      FROM reach GROUP BY u
    )
    SELECT component AS cluster_id,
           count(*) AS n_members,
           min(doc_id) AS canonical_id,
           max(doc_id) AS max_member
    FROM comp GROUP BY component
    ORDER BY cluster_id
    """,
    doc="Near-dup cluster resolution: the transitive closure of the exact "
    "Jaccard pairs (j ≥ 0.8), one row per multi-document cluster with "
    "the canonical (min-id) survivor — pair emission alone can't dedup "
    "a corpus; A~B, B~C must collapse to one keeper. Distributed "
    "min-label propagation with pointer jumping (O(log diameter) "
    "rounds, each one bounded edge shuffle; no driver state) vs the "
    "oracle's recursive-CTE closure.",
)
def q49(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.exact_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
    comp = dedup.connected_components(pairs, "id1", "id2")
    return (
        comp.groupBy(F.col("component").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("id").alias("canonical_id"),
            F.max("id").alias("max_member"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------- text analysis

@register(
    "q33_token_stats",
    oracle=r"""
    SELECT doc_id,
           len(regexp_split_to_array(text, '\s+')) AS n_tokens,
           len(list_distinct(regexp_split_to_array(text, '\s+'))) AS n_uniq_tokens,
           length(text) AS n_chars,
           CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
             / len(regexp_split_to_array(text, '\s+')) AS avg_token_len
    FROM documents
    ORDER BY doc_id
    """,
    doc="Token counting (whitespace tokenizer): totals, uniques, char "
    "lengths, avg token length — all JVM-side.",
)
def q33_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return text.token_stats(docs, "doc_id", "text").orderBy("doc_id")


@register(
    "q33_bpe_token_count",
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+')) AS n_bpe_tokens,
           len(regexp_split_to_array(text, '\s+')) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+')) AS DOUBLE)
             / len(regexp_split_to_array(text, '\s+')) AS bpe_per_word
    FROM documents
    ORDER BY doc_id
    """,
    doc="Token counting with a GPT-2-style BPE pretokenizer regex "
    "(contractions/letter-runs/digit-runs/punctuation, RE2-compatible "
    "subset) next to the whitespace count — JVM regexp_extract_all.",
)
def q33_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return text.bpe_token_count(docs, "doc_id", "text").orderBy("doc_id")


@register(
    "q33_quality_score",
    oracle=r"""
    SELECT doc_id,
           length(text) AS n_chars,
           length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct,
           CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
           CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
                                t -> list_contains(['the','a','of','to','and','in','is'], t))) AS DOUBLE)
             / len(regexp_split_to_array(text, '\s+')) AS stopword_ratio,
           CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE) / length(text) AS upper_ratio,
           (length(text) >= 100 AND length(text) <= 20000
            AND len(list_filter(regexp_split_to_array(text, '\s+'),
                                t -> list_contains(['the','a','of','to','and','in','is'], t))) > 0) AS passes_quality
    FROM documents
    ORDER BY doc_id
    """,
    doc="Document quality scoring: punctuation/stopword/uppercase ratios + "
    "a pass/fail gate, integer-derived so cross-engine exact.",
)
def q33_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return text.quality_score(docs, "doc_id", "text").orderBy("doc_id")


@register(
    "q33_lang_id",
    oracle=r"""
    WITH scored AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(text, '\s+'),
                 t -> list_contains(['the','a','and','of','is'], t))) AS score_en,
             len(list_filter(regexp_split_to_array(text, '\s+'),
                 t -> list_contains(['der','die','das','und','ist'], t))) AS score_de,
             len(list_filter(regexp_split_to_array(text, '\s+'),
                 t -> list_contains(['le','la','les','et','est'], t))) AS score_fr,
             len(list_filter(regexp_split_to_array(text, '\s+'),
                 t -> list_contains(['el','los','las','y','es'], t))) AS score_es,
             length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS n_cjk
      FROM documents
    )
    SELECT doc_id, score_en, score_de, score_fr, score_es, n_cjk,
           CASE WHEN n_cjk > 0 THEN 'zh'
                WHEN greatest(score_en, score_de, score_fr, score_es) <= 0 THEN 'unknown'
                WHEN score_en = greatest(score_en, score_de, score_fr, score_es) THEN 'en'
                WHEN score_de = greatest(score_en, score_de, score_fr, score_es) THEN 'de'
                WHEN score_fr = greatest(score_en, score_de, score_fr, score_es) THEN 'fr'
                ELSE 'es' END AS pred_lang
    FROM scored
    ORDER BY doc_id
    """,
    doc="Language-ID heuristic: marker-token scoring + CJK short-circuit, "
    "deterministic first-wins tie-break.",
)
def q33_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return text.lang_id(docs, "doc_id", "text").orderBy("doc_id")


@register(
    "q33_fingerprint",
    oracle=r"""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
           md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(text, '\s+'))), ' ')) AS bag_fingerprint
    FROM documents
    ORDER BY doc_id
    """,
    doc="Document fingerprinting: canonical-form md5 + order-insensitive "
    "bag-of-words md5.",
)
def q33_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return text.fingerprint(docs, "doc_id", "text").orderBy("doc_id")


@register(
    "q33_top_terms",
    oracle=r"""
    SELECT doc_id AS id, term, tf, rnk FROM (
      SELECT doc_id, term, count(*) AS tf,
             row_number() OVER (PARTITION BY doc_id ORDER BY count(*) DESC, term) AS rnk
      FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS term FROM documents)
      GROUP BY doc_id, term
    ) WHERE rnk <= 3
    ORDER BY id, rnk
    """,
    doc="Top-3 terms per document by term frequency (explode + window).",
)
def q33_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return text.top_terms(docs, "doc_id", "text", k=3).orderBy("id", "rnk")


@register(
    "q33_tfidf_top_terms",
    oracle=r"""
    SELECT doc_id AS id, term, tf, df, score_key, rnk FROM (
      SELECT doc_id, term, tf, df,
             (tf * (SELECT count(*) FROM documents) * 1000000) // df AS score_key,
             row_number() OVER (PARTITION BY doc_id
                 ORDER BY (tf * (SELECT count(*) FROM documents) * 1000000) // df DESC, term) AS rnk
      FROM (
        SELECT doc_id, term, count(*) AS tf,
               count(*) OVER (PARTITION BY term) AS df
        FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS term FROM documents)
        GROUP BY doc_id, term
      )
    ) WHERE rnk <= 3
    ORDER BY id, rnk
    """,
    doc="tf-idf top terms with an integer ranking key (tf·N·1e6 div df) — "
    "no floating log, cross-engine deterministic.",
)
def q33_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return text.tf_idf_top_terms(docs, "doc_id", "text", k=3).orderBy("id", "rnk")


# ------------------------------------------------------------- similarity

def _cos_sql(x: str, y: str) -> str:
    return (
        f"list_dot_product(CAST({x}.embedding AS DOUBLE[]), CAST({y}.embedding AS DOUBLE[]))"
        f" / (sqrt(list_dot_product(CAST({x}.embedding AS DOUBLE[]), CAST({x}.embedding AS DOUBLE[])))"
        f" * sqrt(list_dot_product(CAST({y}.embedding AS DOUBLE[]), CAST({y}.embedding AS DOUBLE[]))))"
    )


_COS_SQL = _cos_sql("a", "b")


@register(
    "q35_cosine_neardup_pairs",
    oracle=f"""
    SELECT a.vec_id AS id1, b.vec_id AS id2, round({_COS_SQL}, 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round({_COS_SQL}, 6) >= 0.45
    ORDER BY id1, id2
    """,
    doc="Embedding-cosine near-dup pairs (cos ≥ 0.45) via blocked GEMM: "
    "block-pair join + numpy matmul prefilter (margin 1e-9), exact "
    "sequential-fold rescoring of survivors — bit-identical to the "
    "brute-force join and the DuckDB list_dot_product oracle, ~17× "
    "faster (tests assert blocked == brute).",
)
def q35(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return similarity.cosine_neardup_pairs_blocked(
        emb, "vec_id", "embedding", threshold=0.45
    ).orderBy("id1", "id2")


@register(
    "q36_ann_bruteforce_topk",
    oracle=f"""
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round({_cos_sql('q', 'c')}, 6) AS cosine,
             row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY round({_cos_sql('q', 'c')}, 6) DESC, c.vec_id) AS rank
      FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
      WHERE q.vec_id < 10
    ) WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    doc="Brute-force cosine top-5 for 10 query vectors: broadcast queries, "
    "scan corpus once, per-query window ranking.",
)
def q36_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk_bruteforce(queries, emb, "vec_id", "embedding", k=5).orderBy(
        "query_id", "rank"
    )


@register(
    "q36_ann_lsh_topk",
    # The LSH result set is approximate by construction, so the top-k
    # rows themselves can't be hash-compared — instead the query rescores
    # its own output against the EXACT brute-force top-5 (computed in the
    # same job) and emits a per-query recall boolean the oracle pins
    # TRUE. Seeded hyperplanes + seeded testdata make the recall
    # deterministic; at sf0.01 the worst query recalls 3/5 (mean 0.90).
    # The gate is ≥2/5 — one notch under the measured floor so testdata
    # regeneration or seed drift doesn't flip the oracle boolean; the
    # tight mean-recall quality bar lives in tests/test_similarity.py.
    oracle="""
    SELECT DISTINCT vec_id AS query_id, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 10
    ORDER BY query_id
    """,
    doc="LSH-bucketed ANN top-k (random hyperplanes, 16 tables × 4 planes): "
    "candidates share any table bucket; exact rescoring inside the "
    "candidate set. Self-verified: per-query recall@5 vs the in-query "
    "brute-force baseline, boolean pinned by the oracle. The brute pass "
    "exists only for this correctness gate — the production path is "
    "cosine_topk_lsh alone (bucketed equi-join, no all-pairs scan).",
)
def q36_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    lsh = similarity.cosine_topk_lsh(
        queries, emb, "vec_id", "embedding", dim=64, k=5, planes=4, tables=16
    ).select("query_id", "neighbor_id")
    brute = similarity.cosine_topk_bruteforce(
        queries, emb, "vec_id", "embedding", k=5
    ).select("query_id", "neighbor_id")
    hits = (
        brute.join(lsh, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    # every query appears in brute (k=5 neighbors each); measured floor
    # is 3/5 — gate one notch under it (see oracle comment above)
    return (
        brute.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select("query_id", (F.coalesce(F.col("hits"), F.lit(0)) >= 2).alias("recall_ok"))
        .orderBy("query_id")
    )


@register(
    "q38_ann_ivf_topk",
    # Same self-verification shape as q36_ann_lsh_topk: IVF with
    # nprobe=6/16 trades recall for a 16/6× candidate cut, and its
    # measured per-query floor at sf0.01 is 2/5 (mean 0.68) — the gate
    # sits one notch under that floor (≥1/5) so seed/testdata drift
    # can't flip the boolean; tests assert the mean with margin.
    oracle="""
    SELECT DISTINCT vec_id AS query_id, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 10
    ORDER BY query_id
    """,
    doc="IVF ANN top-k: spherical k-means coarse quantizer (trained on a "
    "bounded driver-side sample, FAISS-style), Arrow-batched list "
    "assignment, nprobe-list candidate equi-join, exact cosine rescore. "
    "Self-verified: per-query recall@5 vs the in-query brute-force "
    "baseline, boolean pinned by the oracle; the brute pass exists only "
    "for this gate — the production path is cosine_topk_ivf alone.",
)
def q38_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    ivf = similarity.cosine_topk_ivf(
        queries, emb, "vec_id", "embedding", k=5, nlist=16, nprobe=6
    ).select("query_id", "neighbor_id")
    brute = similarity.cosine_topk_bruteforce(
        queries, emb, "vec_id", "embedding", k=5
    ).select("query_id", "neighbor_id")
    hits = (
        brute.join(ivf, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return (
        brute.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select("query_id", (F.coalesce(F.col("hits"), F.lit(0)) >= 1).alias("recall_ok"))
        .orderBy("query_id")
    )


@register(
    "q40_curation_pipeline",
    oracle=r"""
    WITH scored AS (
      SELECT doc_id, text,
             length(text) AS n_chars,
             len(list_filter(regexp_split_to_array(text, '\s+'),
                 t -> list_contains(['the','a','of','to','and','in','is'], t))) AS n_stop,
             length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS n_cjk
      FROM documents
    ), kept AS (
      SELECT doc_id, text,
             len(regexp_split_to_array(text, '\s+')) AS n_tokens,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
      FROM scored
      WHERE n_chars >= 100 AND n_chars <= 20000 AND n_stop > 0 AND n_cjk = 0
    ), grams AS (
      SELECT doc_id,
             list_distinct([substr(text, i, 3) for i in range(1, length(text) - 1)]) AS g
      FROM kept
    ), dup_victims AS (
      SELECT DISTINCT b.doc_id
      FROM grams a JOIN grams b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
              / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.8
    )
    SELECT k.doc_id, k.n_tokens, k.fingerprint
    FROM kept k
    WHERE k.doc_id NOT IN (SELECT doc_id FROM dup_victims)
    ORDER BY k.doc_id
    """,
    doc="End-to-end curation pipeline: quality gate (length + stopwords) → "
    "CJK filter → exact near-dup removal (keep the lowest doc_id of each "
    "j≥0.8 group) → curated docs with token counts + fingerprints. "
    "Composes quality_score, lang_id, exact_jaccard_pairs, fingerprint "
    "and token_stats into one declarative plan — the 100 TB shape of a "
    "training-data prep job.",
)
def q40(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # one scan computes every per-doc feature (gate inputs + outputs);
    # the only joins left are the near-dup victim anti-join
    enriched = materialize.persist(text.curation_columns(docs, "doc_id", "text"))
    kept = enriched.filter(F.col("passes_quality") & (F.col("n_cjk") == 0))
    victims = (
        dedup.exact_jaccard_pairs(kept, "doc_id", "text", n=3, threshold=0.8)
        .select(F.col("id2").alias("doc_id"))
        .distinct()
    )
    return (
        kept.join(victims, "doc_id", "left_anti")
        .select("doc_id", "n_tokens", "fingerprint")
        .orderBy("doc_id")
    )


# ------------------------------------------------------------- multimodal

@register(
    "q37_multimodal_metadata",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           source,
           octet_length(encode(text)) AS payload_len
    FROM documents
    ORDER BY doc_id
    """,
    doc="Multimodal asset modeling: binary payload + typed metadata struct; "
    "byte lengths checked against the oracle.",
)
def q37_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    assets = multimodal.to_assets(docs)
    return assets.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.source").alias("source"),
        F.length("payload").cast("long").alias("payload_len"),
    ).orderBy("doc_id")


@register(
    "q37_multimodal_features",
    # The fake 'embedding' (byte-histogram moments, a deterministic
    # stand-in for decode+embed — no codec in the container) is itself
    # reproducible from the payload bytes, so the whole mapInPandas path
    # IS oracle-checkable: DuckDB re-derives each byte from the hex dump
    # of the same utf-8 payload and recomputes the 8-bin histogram. The
    # array is exploded to (doc_id, dim, freq) rows so the comparison is
    # scalar-typed.
    oracle="""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
      FROM documents
    ), bytes AS (
      SELECT doc_id, n,
             unnest([ (strpos('0123456789ABCDEF', substr(h, 2*i+1, 1)) - 1) * 16
                      + (strpos('0123456789ABCDEF', substr(h, 2*i+2, 1)) - 1)
                      for i in range(0, n) ]) AS byte
      FROM b
    )
    SELECT doc_id, n AS n_bytes, k AS dim,
           round(sum(CASE WHEN byte % 8 = k THEN 1 ELSE 0 END)
                 / CAST(greatest(n, 1) AS DOUBLE), 6) AS freq
    FROM bytes CROSS JOIN (SELECT unnest(range(8)) AS k)
    GROUP BY doc_id, n, k
    ORDER BY doc_id, dim
    """,
    doc="mapInPandas feature extraction over binary payloads (deterministic "
    "fake embedding — byte-histogram moments — standing in for "
    "decode+embed; real Arrow plumbing, schema and batch shape). "
    "Driver-decidable: the oracle recomputes the same features from the "
    "payload's hex dump, exploded to one row per (doc, dim).",
)
def q37_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    feats = multimodal.extract_features(multimodal.to_assets(docs))
    return (
        feats.select(
            "doc_id", "n_bytes", F.posexplode("features").alias("dim", "freq")
        )
        .withColumn("freq", F.round("freq", 6))
        .orderBy("doc_id", "dim")
    )


@register(
    "q37_multimodal_frames",
    oracle=r"""
    SELECT doc_id,
           CAST(len(range(0, CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT), 4)) AS BIGINT)
             AS n_sampled_frames
    FROM documents
    ORDER BY doc_id
    """,
    doc="Resize + frame-sample plumbing: payload resampled to 8x8 bytes "
    "(deterministic fake for decode+cv2.resize), then the original "
    "payload chunked into 256-byte frames with every 4th kept — the "
    "1-to-N mapInPandas contract. Frame counts per doc are "
    "oracle-checkable; frame bytes are engine-side.",
)
def q37_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    assets = multimodal.to_assets(docs)
    # resize plumbing exercised for its schema/determinism (asserted in
    # tests); the oracle-checked output is the frame-sampling count
    frames = multimodal.sample_frames(assets, frame_bytes=256, every_nth=4)
    return (
        frames.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_sampled_frames"))
        .orderBy("doc_id")
    )


@register(
    "q59_semantic_dedup",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT a.vec_id AS id1, b.vec_id AS id2
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE round({_COS_SQL}, 6) >= 0.45
    ),
    edges AS (
      SELECT id1 AS u, id2 AS v FROM pairs
      UNION
      SELECT id2 AS u, id1 AS v FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (SELECT u AS vec_id, least(u, min(v)) AS component FROM reach GROUP BY u)
    SELECT e.label,
           count(*) AS n_vectors,
           count(*) FILTER (WHERE c.vec_id IS NULL OR c.component = e.vec_id)
             AS n_kept,
           count(*) FILTER (WHERE c.vec_id IS NOT NULL AND c.component <> e.vec_id)
             AS n_dropped
    FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.vec_id
    GROUP BY e.label ORDER BY e.label
    """,
    doc="Semantic deduplication (SemDeDup, Abbas et al. 2023): collapse "
    "groups of embedding-space near-duplicates (cosine ≥ 0.45) to one "
    "canonical representative per connected component, reporting "
    "kept/dropped counts per label. Composes the two proven scale "
    "pieces — blocked-GEMM exact cosine pairs (no N² row join) and "
    "distributed connected components (O(log diameter) rounds) — so "
    "unlike cluster-local SemDeDup approximations, transitive chains "
    "A~B~C collapse to ONE keeper. Oracle: recursive-CTE closure over "
    "the brute-force pair join.",
)
def q59(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    pairs = similarity.cosine_neardup_pairs_blocked(emb, "vec_id", "embedding", threshold=0.45)
    comp = dedup.connected_components(pairs, "id1", "id2")
    flagged = emb.select("vec_id", "label").join(comp, emb.vec_id == comp.id, "left")
    is_dropped = F.col("component").isNotNull() & (F.col("component") != F.col("vec_id"))
    return (
        flagged.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.count(F.when(~is_dropped, 1)).alias("n_kept"),
            F.count(F.when(is_dropped, 1)).alias("n_dropped"),
        )
        .orderBy("label")
    )


@register(
    "q60_embedding_centroids",
    oracle="""
    WITH comp AS (
      SELECT label, t.i - 1 AS dim,
             CAST(CAST(embedding[t.i] AS DOUBLE) AS DECIMAL(18,9)) AS v
      FROM embeddings e,
           unnest(generate_series(1, len(e.embedding))) AS t(i)
    )
    SELECT label, dim,
           CAST(sum(v) AS DOUBLE) / count(*) AS centroid,
           count(*) AS n_vectors
    FROM comp GROUP BY label, dim
    ORDER BY label, dim
    """,
    doc="Per-label embedding centroids (vector analytics / cluster "
    "profiling): posexplode each vector to (label, dim, value) and "
    "aggregate — one shuffle on (label, dim), map-side combined, so at "
    "100 TB the wire carries labels×dims partial sums per task, not "
    "vectors. Components sum as DECIMAL(18,9): float addition is "
    "order-dependent under distributed partials, decimal is exact, so "
    "centroids are bit-reproducible under any partitioning (and match "
    "the oracle).",
)
def q60(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "val")
    )
    return (
        comp.groupBy("label", "dim")
        .agg(
            (F.sum(F.col("val").cast("decimal(18,9)")).cast("double") / F.count(F.lit(1)))
            .alias("centroid"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
        .orderBy("label", "dim")
    )


@register(
    "q96_pagerank_canonical",
    # The PageRank float fixpoint is engine-specific, but (a) the cluster
    # STRUCTURE the canonicals are chosen within is exact (recursive-CTE
    # connected components, the q49 oracle), and (b) two falsifiable
    # PageRank invariants gate the ranks themselves: ranks sum to 1
    # (dangling-mass conservation) and every node's rank ≥ (1-d)/n —
    # both break if the iteration leaks or drops mass. The canonical
    # choice itself (argmax rank, numpy-cross-checked) stays in
    # tests/test_graph.py — float argmax across engines is not
    # hash-stable under ties.
    oracle="""
    WITH RECURSIVE grams AS (
      SELECT doc_id,
             list_distinct([substr(text, i, 3) for i in range(1, length(text) - 1)]) AS g
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2
      FROM grams a JOIN grams b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
              / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.8
    ),
    edges AS (
      SELECT id1 AS u, id2 AS v FROM pairs
      UNION
      SELECT id2 AS u, id1 AS v FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (
      SELECT u AS doc_id, least(u, min(v)) AS component
      FROM reach GROUP BY u
    )
    SELECT component AS cluster_id, count(*) AS n_members,
           TRUE AS rank_above_floor, TRUE AS mass_ok
    FROM comp GROUP BY component ORDER BY cluster_id
    """,
    doc="Importance-based canonical selection: PageRank over the "
    "symmetrized near-dup graph (power iteration with dangling-mass "
    "redistribution, one shuffle join + one aggregate per round, "
    "numpy-cross-checked in tests/test_graph.py), then the top-ranked "
    "document of each connected component becomes the cluster "
    "canonical — the importance-aware alternative to q49's min-id "
    "rule. Driver-decidable: exact cluster structure vs a recursive-CTE "
    "oracle, plus pinned PageRank invariants (mass conservation, "
    "(1-d)/n rank floor) per cluster.",
)
def q96(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank_canonicals

    docs = load(spark, sf_dir, "documents")
    # persisted: both consumers (PageRank's edge list and the CC label
    # propagation) would otherwise re-run the whole near-dup verify
    pairs = materialize.persist(
        dedup.exact_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
    )
    return (
        # 8 iterations: the emitted invariants (mass conservation, rank
        # floor) hold at EVERY iteration and the cluster structure is
        # iteration-independent, so extra rounds only sharpen rank
        # precision the decidable output doesn't use; canonical-argmax
        # stability at higher iteration counts is covered by
        # tests/test_graph.py (60 iterations vs numpy). Locally each
        # round is a fixed-cost Spark job, so this trims ~1/3 of q96.
        pagerank_canonicals(pairs, "id1", "id2", max_iter=8)
        .select(
            F.col("component").alias("cluster_id"),
            F.col("n_members"),
            (F.col("canonical_rank") >= (1.0 - 0.85) / F.col("n_nodes")).alias(
                "rank_above_floor"
            ),
            (F.abs(F.col("total_mass") - 1.0) < 1e-6).alias("mass_ok"),
        )
        .orderBy("cluster_id")
    )


@register(
    "q99_substring_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    runs AS (
      SELECT doc_id,
             unnest([md5(array_to_string(w[i:i+7], ' '))
                     for i in range(1, len(w) - 6)]) AS h
      FROM toks WHERE len(w) >= 8
    ),
    occ AS (
      SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS occ FROM runs
    )
    SELECT doc_id AS id,
           count(*) AS n_windows,
           count(*) FILTER (WHERE occ > 1) AS n_dup_windows,
           CAST(count(*) FILTER (WHERE occ > 1) AS DOUBLE) / count(*)
             AS dup_fraction
    FROM occ GROUP BY doc_id ORDER BY id
    """,
    doc="Exact substring-overlap dedup profiling (the suffix-array tier "
    "of LM-corpus dedup, reformulated as a window-hash count): flags "
    "every 8-token run occurring more than once in the corpus and "
    "reports each document's duplicated-window fraction — the signal "
    "used to cut verbatim-repeated spans before training. Two map-side-"
    "combining shuffles, no pair explosion (a run shared by K docs "
    "costs K rows, not K^2).",
)
def q99(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return dedup.substring_duplicate_stats(docs, "doc_id", "text", window=8).orderBy(
        "id"
    )


@register(
    "q113_paragraph_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), segs AS (
      SELECT doc_id, i AS seg_idx,
             array_to_string(w[i*10+1 : i*10+10], ' ') AS seg
      FROM toks, LATERAL unnest(range(CAST(ceil(len(w)/10.0) AS BIGINT))) AS t(i)
    ), occ AS (
      SELECT md5(seg) AS h, count(DISTINCT doc_id) AS n_docs
      FROM segs GROUP BY 1
    ), flagged AS (
      SELECT s.doc_id, s.seg_idx, s.seg, (o.n_docs >= 3) AS boiler
      FROM segs s JOIN occ o ON o.h = md5(s.seg)
    )
    SELECT doc_id,
           count(*) AS n_segments,
           CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           md5(string_agg(seg, ' ' ORDER BY seg_idx)
                 FILTER (WHERE NOT boiler)) AS cleaned_digest
    FROM flagged GROUP BY doc_id ORDER BY doc_id
    """,
    doc="CCNet-style segment-hash dedup, the corpus-rewriting tier: the "
    "text is split into 10-token segments, a segment whose hash occurs "
    "in >=3 distinct documents is boilerplate, and each document is "
    "reassembled from its surviving segments in order (digest emitted "
    "so the rewrite is hash-checked end-to-end, not just counted). "
    "All JVM-side: split/slice/md5 in codegen, one segment-hash "
    "aggregate (map-side combined - a segment shared by K docs costs K "
    "rows, never K^2), conditional re-aggregation per document. At "
    "100 TB the only global state is the boilerplate hash set, which is "
    "output-sized (hashes above the occurrence threshold), not "
    "corpus-sized.",
)
def q113(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    out = dedup.segment_dedup(docs, "doc_id", "text", seg_tokens=10, min_docs=3)
    return out.select(
        F.col("id").alias("doc_id"),
        "n_segments",
        "n_removed",
        F.md5("cleaned_text").alias("cleaned_digest"),
    ).orderBy("doc_id")


@register(
    "q114_embedding_quantization",
    # Quantized codes are a representation choice; what is decidable is
    # (a) the per-dimension calibration range (exact: float32 min/max
    # widen exactly to double) and (b) the int8 reconstruction-error
    # guarantee |dequant(quant(x)) - x| <= step/2, which fails if the
    # rounding, scale, or clamp math is wrong. The oracle recomputes the
    # ranges and pins the error booleans TRUE.
    oracle="""
    WITH flat AS (
      SELECT i AS dim, CAST(embedding[i + 1] AS DOUBLE) AS x
      FROM embeddings, LATERAL unnest(range(64)) AS t(i)
    )
    SELECT dim, min(x) AS lo, max(x) AS hi, TRUE AS err_ok
    FROM flat GROUP BY dim ORDER BY dim
    """,
    doc="Int8 scalar quantization of the embedding column (the storage/"
    "bandwidth tier under ANN): per-dimension min/max calibration, "
    "code = round((x-lo)/(hi-lo)*255), verified in-query against the "
    "step/2 reconstruction-error bound per dimension. One posexplode + "
    "one 64-group aggregate for calibration (map-side combined), then "
    "the quantize/dequantize/error pass re-joins the broadcast-sized "
    "calibration table - the same two-pass shape a 100 TB corpus "
    "needs, with codes written back as array<tinyint> at 4x "
    "compression.",
)
def q114(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x")
    )
    calib = flat.groupBy("dim").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    step = (F.col("hi") - F.col("lo")) / F.lit(255.0)
    code = F.round((F.col("x") - F.col("lo")) / step)
    recon = F.col("lo") + code * step
    err = F.abs(recon - F.col("x"))
    bound = step / 2 * (1 + 1e-9) + 1e-12
    return (
        flat.join(F.broadcast(calib), "dim")
        .groupBy("dim", "lo", "hi")
        .agg(F.max(err <= bound).alias("err_ok"))
        .select("dim", "lo", "hi", F.col("err_ok"))
        .orderBy("dim")
    )


@register(
    "q125_quality_canonical",
    oracle="""
    WITH RECURSIVE grams AS (
      SELECT doc_id,
             list_distinct([substr(text, i, 3) for i in range(1, length(text) - 1)]) AS g
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2
      FROM grams a JOIN grams b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
              / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.8
    ),
    edges AS (
      SELECT id1 AS u, id2 AS v FROM pairs
      UNION
      SELECT id2 AS u, id1 AS v FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (
      SELECT u AS doc_id, least(u, min(v)) AS component FROM reach GROUP BY u
    ),
    quality AS (
      SELECT doc_id,
             len(list_distinct(regexp_split_to_array(text, '\\s+')))
               * 1000000 + length(text) AS q
      FROM documents
    ),
    ranked AS (
      SELECT c.component, c.doc_id, q.q,
             row_number() OVER (PARTITION BY c.component
                                ORDER BY q.q DESC, c.doc_id) AS rk
      FROM comp c JOIN quality q ON q.doc_id = c.doc_id
    )
    SELECT component AS cluster_id, doc_id AS keeper_id,
           CAST(q AS BIGINT) AS keeper_quality
    FROM ranked WHERE rk = 1 ORDER BY cluster_id
    """,
    doc="Quality-aware canonical selection: within each near-dup cluster "
    "keep the HIGHEST-QUALITY document (lexicographic key: distinct-"
    "token count, then length — an integer, so fully decidable, unlike "
    "q96's float PageRank scores), not the min-id. This is the rule "
    "production corpus dedup actually ships: of N near-identical crawls "
    "keep the richest one. Reuses the exact-Jaccard pairs + CC "
    "machinery; the quality join adds one broadcast-sized aggregate "
    "per clustered doc.",
)
def q125(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.exact_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
    comp = dedup.connected_components(pairs, "id1", "id2")
    quality = docs.select(
        F.col("doc_id").alias("id"),
        (
            F.size(F.array_distinct(F.split(F.col("text"), r"\s+"))).cast("long")
            * 1000000
            + F.length("text")
        ).alias("q"),
    )
    w = Window.partitionBy("component").orderBy(F.desc("q"), "id")
    return (
        comp.join(quality, "id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("component").alias("cluster_id"),
            F.col("id").alias("keeper_id"),
            F.col("q").alias("keeper_quality"),
        )
        .orderBy("cluster_id")
    )


@register(
    "q126_pmi_collocations",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), bigrams AS (
      SELECT w[i] AS w1, w[i+1] AS w2
      FROM toks, LATERAL unnest(range(1, len(w))) AS t(i)
    ), uni AS (
      SELECT w1 AS tok, count(*) AS c FROM bigrams GROUP BY 1
    ), big AS (
      SELECT w1, w2, count(*) AS c12 FROM bigrams GROUP BY 1, 2
    ), tot AS (
      SELECT count(*) AS n FROM bigrams
    )
    SELECT b.w1, b.w2, b.c12,
           round(ln(CAST(b.c12 AS DOUBLE) * t.n
                    / (CAST(u1.c AS DOUBLE) * u2.c)), 6) AS pmi
    FROM big b
    JOIN uni u1 ON u1.tok = b.w1
    JOIN uni u2 ON u2.tok = b.w2
    CROSS JOIN tot t
    WHERE b.c12 >= 5
    ORDER BY pmi DESC, b.w1, b.w2
    LIMIT 50
    """,
    doc="PMI collocation mining (pointwise mutual information of adjacent "
    "token bigrams, c12 >= 5 support): the association-strength signal "
    "tokenizer/phrase-merge pipelines rank candidate merges by. One "
    "bigram explode feeds both the unigram-position counts and the "
    "bigram counts (map-side combined); the PMI inputs are exact "
    "integer products inside ln() so both engines see bit-identical "
    "doubles (q112's technique), rounded to 6 dp; top-50 with full "
    "tiebreak.",
)
def q126(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # tokenize ONCE into a column — split(...) referenced inside the
    # transform lambda re-evaluates per element access (q149's measured
    # 17 s → 4 s lesson applies to every bigram explode)
    toks = docs.select(F.split(F.col("text"), " ").alias("w"))
    bigrams_col = F.expr(
        "transform(sequence(1, size(w) - 1),"
        " i -> struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2))"
    )
    bigrams = toks.select(F.explode(bigrams_col).alias("bg")).select("bg.w1", "bg.w2")
    # ONE scan+explode+shuffle: unigram-position counts and the grand
    # total are re-aggregations of the (vocab²-sized) bigram-count table,
    # not separate passes over the corpus — c(w1) = Σ_w2 c12, N = Σ c12.
    # ReuseExchange alone does NOT pin this (the c12>=5 branch's filter
    # placement breaks subplan equality — the r5 audit measured 7 corpus
    # scans), so the bigram-count table is persisted explicitly: the
    # corpus-sized explode+partial-agg runs exactly once and the three
    # consumers re-read the vocab²-sized cache (tests/test_plans.py
    # asserts the single-scan shape).
    big = materialize.persist(bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12")))
    uni = big.groupBy(F.col("w1").alias("tok")).agg(F.sum("c12").alias("c"))
    tot = big.agg(F.sum("c12").alias("n"))
    pmi = F.round(
        F.log(
            F.col("c12").cast("double")
            * F.col("n")
            / (F.col("c1").cast("double") * F.col("c2"))
        ),
        6,
    )
    return (
        big.filter(F.col("c12") >= 5)
        .join(uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c12", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(50)
    )
