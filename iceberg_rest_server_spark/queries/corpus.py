"""Q146–Q149: corpus modeling round — the statistical-language-model
side of a training-data pipeline (SURVEY.md §2F extensions).

- Q146: bigram-LM perplexity scoring (the classic LM-based quality
  filter: rank documents by how "surprising" a corpus-trained bigram
  model finds them).
- Q147: BM25 top-k retrieval (full-text relevance over the corpus with
  corpus-derived query terms — the retrieval primitive behind dedup-by-
  query and eval-set mining).
- Q148: vocabulary-growth (Heaps' law) curve (corpus health statistic:
  sublinear vocab growth distinguishes natural text from templated or
  degenerate corpora).
- Q149: skip-gram association mining (windowed PMI, the word2vec-style
  context that catches non-adjacent collocations).

(Q150, winsorized robust moments, lives with the other distributional
statistics in stats.py.)

Determinism (driver hash-match contract): every libm call (ln) takes an
exact-integer-derived double and is rounded to 6 dp on BOTH engines
BEFORE any cross-row summation; per-document accumulations sum those
rounded values as decimal(28,6) (exact, order-independent) and convert
to double once at the end — the same technique as q112/q126.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import materialize
from ..tables import load
from ._registry import register

# ---------------------------------------------------------------- Q146


@register(
    "q146_bigram_lm_perplexity",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), doc_bigrams AS (
      SELECT doc_id, w[i] AS w1, w[i+1] AS w2
      FROM toks, LATERAL unnest(range(1, len(w))) AS t(i)
    ), big AS (
      SELECT w1, w2, count(*) AS c12 FROM doc_bigrams GROUP BY 1, 2
    ), uni AS (
      SELECT w1, sum(c12) AS c1 FROM big GROUP BY 1
    ), vocab AS (
      SELECT count(*) AS v FROM uni
    ), scored AS (
      SELECT d.doc_id,
             round(ln(CAST(b.c12 + 1 AS DOUBLE) / (u.c1 + v.v)), 6) AS logp
      FROM doc_bigrams d
      JOIN big b ON b.w1 = d.w1 AND b.w2 = d.w2
      JOIN uni u ON u.w1 = d.w1
      CROSS JOIN vocab v
    )
    SELECT doc_id,
           count(*) AS n_bigrams,
           round(CAST(-sum(CAST(logp AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6)
             AS avg_nll
    FROM scored
    GROUP BY doc_id
    ORDER BY avg_nll DESC, doc_id
    LIMIT 50
    """,
    doc="Bigram-LM perplexity scoring — the LM-based quality filter: "
    "train add-one-smoothed bigram probabilities ON the corpus (c12/c1 "
    "re-aggregated from one explode, q126's derivation), score every "
    "document's mean negative log-likelihood, surface the 50 most "
    "surprising docs. Per-bigram ln() on exact integer ratios rounded "
    "to 6 dp, then decimal-summed per doc (order-independent). 100 TB: "
    "the count tables are vocab²-sized (broadcastable for small vocabs, "
    "shuffle join on w1 otherwise); the per-doc aggregate map-side "
    "combines; two corpus passes total (count build + score join).",
)
def q146(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # tokenize ONCE into a column (q149's lesson: split() inside the
    # lambda re-evaluates per element access)
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("w"))
    bigrams_col = F.expr(
        "transform(sequence(1, size(w) - 1),"
        " i -> struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2))"
    )
    doc_bigrams = toks.select(
        "doc_id", F.explode(bigrams_col).alias("bg")
    ).select("doc_id", "bg.w1", "bg.w2")
    # model tables re-aggregate from the bigram counts — vocab²-sized,
    # persisted so the corpus explode that builds them runs once
    big = materialize.persist(doc_bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12")))
    uni = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))
    logp = F.round(
        F.log((F.col("c12") + 1).cast("double") / (F.col("c1") + F.col("v"))), 6
    )
    # ln() runs once per DISTINCT bigram (vocab²-sized model table), not
    # once per corpus occurrence — the corpus join then carries only the
    # precomputed logp (measured ~40% off q146 at sf0.1: 2.3M ln calls
    # → 142k)
    model = (
        big.join(uni, "w1")
        .crossJoin(F.broadcast(vocab))
        .select("w1", "w2", logp.alias("logp"))
    )
    scored = doc_bigrams.join(model, ["w1", "w2"]).select("doc_id", "logp")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                (-F.sum(F.col("logp").cast("decimal(28,6)"))).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_nll"),
        )
        .orderBy(F.desc("avg_nll"), "doc_id")
        .limit(50)
    )


# ---------------------------------------------------------------- Q147

_K1 = 1.2
_B = 0.75


@register(
    "q147_bm25_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
    ), dl AS (
      SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1
    ), stats AS (
      SELECT count(*) AS n_docs, sum(dl) AS total_tokens FROM dl
    ), df AS (
      SELECT tok, count(*) AS df FROM tf GROUP BY 1
    ), qterms AS (
      SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT 5
    ), scored AS (
      SELECT t.doc_id,
             round(
               round(ln((s.n_docs - q.df + 0.5) / (q.df + 0.5) + 1), 6)
               * (t.tf * ({_K1} + 1))
               / (t.tf + {_K1} * (1 - {_B} + {_B} * (d.dl * s.n_docs)
                                               / CAST(s.total_tokens AS DOUBLE))),
               6) AS score
      FROM tf t
      JOIN qterms q ON q.tok = t.tok
      JOIN dl d ON d.doc_id = t.doc_id
      CROSS JOIN stats s
    )
    SELECT doc_id,
           count(*) AS matched_terms,
           round(CAST(sum(CAST(score AS DECIMAL(28,6))) AS DOUBLE), 6) AS bm25
    FROM scored
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """,
    doc="BM25 top-k retrieval (k1=1.2, b=0.75, Lucene +1 idf): query "
    "terms are corpus-derived (top-5 document frequency, tie on token) "
    "so the query is deterministic on any testdata. Per-(doc, term) "
    "scores round at 6 dp then decimal-sum per doc. 100 TB: the tf "
    "table shuffles once on token, the 5 query terms + the 2 scalars "
    "broadcast, and the per-doc aggregate map-side combines — the "
    "inverted-index probe pattern, never a corpus² scan.",
)
def q147(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    tf = materialize.persist(toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf")))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_tokens")
    )
    df_tbl = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    qterms = df_tbl.orderBy(F.desc("df"), "tok").limit(5)
    idf = F.round(
        F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
        ),
        6,
    )
    tfc = (F.col("tf") * (_K1 + 1)) / (
        F.col("tf")
        + _K1
        * (
            1
            - _B
            + _B
            * (F.col("dl") * F.col("n_docs"))
            / F.col("total_tokens").cast("double")
        )
    )
    scored = (
        tf.join(F.broadcast(qterms), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.round(idf * tfc, 6).alias("score"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("matched_terms"),
            F.round(
                F.sum(F.col("score").cast("decimal(28,6)")).cast("double"), 6
            ).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------- Q148


@register(
    "q148_vocab_growth",
    oracle="""
    WITH n AS (
      SELECT count(*) AS n_docs FROM documents
    ), toks AS (
      SELECT CAST(least(9, floor(doc_id * 10.0 / n.n_docs)) AS BIGINT) + 1
               AS decile,
             unnest(string_split(text, ' ')) AS tok
      FROM documents, n
    ), per_decile AS (
      SELECT decile, count(*) AS n_tokens FROM toks GROUP BY 1
    ), first_seen AS (
      SELECT tok, min(decile) AS first_decile FROM toks GROUP BY 1
    ), new_types AS (
      SELECT first_decile AS decile, count(*) AS n_new FROM first_seen GROUP BY 1
    )
    SELECT p.decile,
           CAST(sum(p.n_tokens) OVER (ORDER BY p.decile) AS BIGINT) AS cum_tokens,
           CAST(sum(COALESCE(nt.n_new, 0)) OVER (ORDER BY p.decile) AS BIGINT)
             AS cum_types,
           round(ln(CAST(sum(COALESCE(nt.n_new, 0)) OVER (ORDER BY p.decile) AS DOUBLE))
                 / ln(CAST(sum(p.n_tokens) OVER (ORDER BY p.decile) AS DOUBLE)), 6)
             AS heaps_exponent
    FROM per_decile p LEFT JOIN new_types nt ON nt.decile = p.decile
    ORDER BY p.decile
    """,
    doc="Vocabulary-growth (Heaps' law) curve: cumulative distinct token "
    "types vs cumulative tokens across 10 id-order corpus slices, plus "
    "the empirical Heaps exponent ln(V)/ln(N) per slice — sublinear "
    "growth is the health signature of natural text (templated/looped "
    "corpora flatline). Slices come from arithmetic on doc_id (dense "
    "from the generator; a non-dense corpus would row_number first), "
    "NOT a global ntile window; each token type's first slice is one "
    "map-side-combining min-aggregate, and only the 10 slice rows reach "
    "the running-sum window — scales to any corpus size.",
)
def q148(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    toks = materialize.persist(
        docs.crossJoin(F.broadcast(n_docs))
        .select(
            (
                F.least(
                    F.lit(9),
                    F.floor(F.col("doc_id") * 10.0 / F.col("n_docs")),
                )
                + 1
            ).alias("decile"),
            F.explode(F.split(F.col("text"), " ")).alias("tok"),
        )
    )
    per_decile = toks.groupBy("decile").agg(F.count(F.lit(1)).alias("n_tokens"))
    new_types = (
        toks.groupBy("tok")
        .agg(F.min("decile").alias("decile"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    joined = per_decile.join(new_types, "decile", "left").select(
        "decile",
        "n_tokens",
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )
    cum_tokens = F.sum("n_tokens").over(w)
    cum_types = F.sum("n_new").over(w)
    return joined.select(
        "decile",
        cum_tokens.alias("cum_tokens"),
        cum_types.alias("cum_types"),
        F.round(
            F.log(cum_types.cast("double")) / F.log(cum_tokens.cast("double")), 6
        ).alias("heaps_exponent"),
    ).orderBy("decile")


# ---------------------------------------------------------------- Q149


@register(
    "q149_skipgram_associations",
    oracle="""
    WITH toks AS (
      SELECT string_split(text, ' ') AS w FROM documents
    ), pairs AS (
      SELECT w[i] AS w1, w[j] AS w2
      FROM toks,
           LATERAL unnest(range(1, len(w))) AS t(i),
           LATERAL unnest(range(i + 1, least(i + 4, len(w)) + 1)) AS u(j)
    ), pc AS (
      SELECT w1, w2, count(*) AS c FROM pairs GROUP BY 1, 2
    ), lc AS (
      SELECT w1, sum(c) AS cl FROM pc GROUP BY 1
    ), rc AS (
      SELECT w2, sum(c) AS cr FROM pc GROUP BY 1
    ), tot AS (
      SELECT sum(c) AS t FROM pc
    )
    SELECT p.w1, p.w2, p.c,
           round(ln(CAST(p.c AS DOUBLE) * tot.t
                    / (CAST(lc.cl AS DOUBLE) * rc.cr)), 6) AS pmi
    FROM pc p
    JOIN lc ON lc.w1 = p.w1
    JOIN rc ON rc.w2 = p.w2
    CROSS JOIN tot
    WHERE p.c >= 10
    ORDER BY pmi DESC, p.w1, p.w2
    LIMIT 50
    """,
    doc="Skip-gram association mining: PMI over ORDERED token pairs "
    "within a 4-token forward window (the word2vec-style context, vs "
    "q126's adjacent bigrams) — surfaces collocations that tokenizer "
    "merges and phrase dictionaries miss because the words aren't "
    "adjacent. One corpus explode (positions × ≤4 offsets) feeds a "
    "persisted pair-count table; left/right marginals and the grand "
    "total re-aggregate from it (q126's derivation), so the corpus is "
    "never re-read. PMI inputs are exact integer products inside ln(), "
    "rounded at 6 dp. 100 TB: pair counts are vocab²-bounded; the "
    "explode fans out ≤4× the token count, map-side combined before "
    "the one shuffle.",
)
def q149(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # tokenize ONCE into a column — referencing split(...) inside the
    # nested pair lambdas re-evaluates the split per element access
    # (measured 17 s → 4 s at sf0.1)
    toks = docs.select(F.split(F.col("text"), " ").alias("w"))
    pairs_col = F.expr(
        "flatten(transform(sequence(1, size(w) - 1),"
        " i -> transform(sequence(i + 1, least(i + 4, size(w))),"
        "      j -> struct(element_at(w, i) AS w1,"
        "                 element_at(w, j) AS w2))))"
    )
    pairs = toks.select(F.explode(pairs_col).alias("p")).select("p.w1", "p.w2")
    pc = materialize.persist(pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c")))
    lc = pc.groupBy("w1").agg(F.sum("c").alias("cl"))
    rc = pc.groupBy("w2").agg(F.sum("c").alias("cr"))
    tot = pc.agg(F.sum("c").alias("t"))
    pmi = F.round(
        F.log(
            F.col("c").cast("double")
            * F.col("t")
            / (F.col("cl").cast("double") * F.col("cr"))
        ),
        6,
    )
    return (
        pc.filter(F.col("c") >= 10)
        .join(lc, "w1")
        .join(rc, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(50)
    )


# ---------------------------------------------------------------- Q187


@register(
    "q187_reciprocal_rank_fusion",
    oracle="""
    WITH per_doc AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), t -> t = 'data'))
               AS tf_term,
             len(list_distinct(string_split(text, ' '))) AS nd,
             len(string_split(text, ' ')) AS nt
      FROM documents
    ),
    ranked AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY tf_term DESC, doc_id) AS rank_tf,
             row_number() OVER (
               ORDER BY CAST(nd AS DOUBLE) / nt DESC, doc_id) AS rank_div
      FROM per_doc
    )
    SELECT doc_id, CAST(rank_tf AS BIGINT) AS rank_tf,
           CAST(rank_div AS BIGINT) AS rank_div,
           round(1.0 / (60 + rank_tf) + 1.0 / (60 + rank_div), 9) AS rrf
    FROM ranked
    ORDER BY rrf DESC, doc_id
    LIMIT 20
    """,
    doc="Reciprocal-rank fusion (k=60, the TREC-standard hybrid-search "
    "combiner): two independent document rankings — query-term "
    "frequency (the lexical/BM25 axis) and lexical diversity (the "
    "quality axis) — fused by Σ 1/(k+rank). Ranks are exact integers "
    "(row_number with doc_id tiebreak), so each 1/(k+r) is an exact-"
    "integer ratio and the two-term sum is a fixed-order expression — "
    "bit-identical across engines; this is how a production pipeline "
    "fuses BM25 (q147) with ANN (q36) candidates without score "
    "calibration. Plan: the corpus collapses to one doc-level stats "
    "row per doc (map-only split/aggregate expressions), then two "
    "windows + TakeOrdered(20). 100 TB: global row_number becomes the "
    "per-shard rank + offset pattern (or rank only the per-shard "
    "top-k, which RRF provably tolerates); the fuse join stays "
    "doc-keyed.",
)
def q187(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    per_doc = docs.select(
        "doc_id",
        F.size(F.filter(toks, lambda t: t == F.lit("data"))).alias("tf_term"),
        F.size(F.array_distinct(toks)).alias("nd"),
        F.size(toks).alias("nt"),
    )
    ranked = per_doc.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("tf_term"), "doc_id"))
        .alias("rank_tf"),
        F.row_number()
        .over(
            Window.orderBy(
                F.desc(F.col("nd").cast("double") / F.col("nt")), "doc_id"
            )
        )
        .alias("rank_div"),
    )
    return (
        ranked.select(
            "doc_id",
            F.col("rank_tf").cast("bigint").alias("rank_tf"),
            F.col("rank_div").cast("bigint").alias("rank_div"),
            F.round(
                1.0 / (60 + F.col("rank_tf")) + 1.0 / (60 + F.col("rank_div")), 9
            ).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(20)
    )
