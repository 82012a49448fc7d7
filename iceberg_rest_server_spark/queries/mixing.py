"""Q43–Q48: corpus-hygiene and data-mixing operators for a training-data
pipeline (batch sessionization, pivot profiling, deterministic hash
sampling, stratified per-group top-k selection, fuzzy key matching, and
benchmark decontamination).

These extend the SURVEY.md §2F inventory with the operations a 100 TB
curation pipeline runs between dedup and export. Every query is a pure
DataFrame plan (no Python in the hot path) with a DuckDB oracle; scale
notes are on each function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import materialize
from ..tables import load
from ._exact import dec
from ._registry import register

# ------------------------------------------------------------ sessionize

_SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min in microseconds


@register(
    "q43_sessionize_batch",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       <= INTERVAL 30 MINUTE
                  THEN 0 ELSE 1 END AS new_sess
      FROM events
    ), sess AS (
      SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM sess GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="Batch sessionization: events split into sessions at >30 min "
    "inactivity gaps per user (lag + running sum of boundary flags — the "
    "batch mirror of q30's session_window). One shuffle on user_id for "
    "the window; the per-session aggregate then map-side combines before "
    "its own shuffle, so event rows cross the wire once at full width.",
)
def q43(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    flagged = ev.withColumn(
        "new_sess",
        F.when(us - F.lag(us).over(w) <= F.lit(_SESSION_GAP_US), F.lit(0)).otherwise(
            F.lit(1)  # lag NULL (first event) → new session
        ),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_sess")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint"),
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .orderBy("user_id", "session_id")
    )


# ------------------------------------------------------------ pivot

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@register(
    "q44_pivot_profile",
    oracle="""
    SELECT c_mktsegment,
           count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
           count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS n_high,
           count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS n_medium,
           count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS n_notspec,
           count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS n_low
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    doc="Pivot profiling: order counts per (market segment × priority) as a "
    "wide table via `pivot` with an explicit value list (fixed output "
    "schema — no extra pass to discover values, which at 100 TB would be "
    "a full scan). Compiles to a single hash aggregate after the join.",
)
def q44(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    wide = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderpriority", _PRIORITIES)
        .count()
    )
    aliases = ["n_urgent", "n_high", "n_medium", "n_notspec", "n_low"]
    return wide.select(
        "c_mktsegment",
        *[
            F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(a)
            for p, a in zip(_PRIORITIES, aliases)
        ],
    ).orderBy("c_mktsegment")


# ------------------------------------------------------------ sampling

@register(
    "q45_hash_sample",
    oracle="""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_total
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
    GROUP BY lang ORDER BY lang
    """,
    doc="Deterministic hash sampling: keep documents whose md5(doc_id) falls "
    "in a fixed 1/8 slice of hash space — reproducible across engines and "
    "runs, unlike `sample()`. The filter is a pure scan predicate: no "
    "shuffle, prunes before the aggregate, and at 100 TB the sample rate "
    "is changed by widening the hex-prefix set, not re-hashing.",
)
def q45(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return (
        docs.filter(bucket.isin("0", "1"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars_total"),
        )
        .orderBy("lang")
    )


@register(
    "q46_stratified_topk",
    oracle="""
    SELECT lang, rk, doc_id, n_chars FROM (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents
    ) WHERE rk <= 5
    ORDER BY lang, rk
    """,
    doc="Stratified top-k selection (data mixing): the k longest documents "
    "per language via a ranking window — one shuffle on the stratum key. "
    "At scale, skewed strata are handled by AQE; k rows per group leave "
    "the window, so output is tiny regardless of input size.",
)
def q46(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        docs.select("lang", "doc_id", "n_chars", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 5)
        .select("lang", "rk", "doc_id", "n_chars")
        .orderBy("lang", "rk")
    )


# ------------------------------------------------------------ fuzzy match

@register(
    "q47_fuzzy_brand_pairs",
    oracle="""
    WITH b AS (SELECT DISTINCT p_brand FROM part)
    SELECT a.p_brand AS brand1, c.p_brand AS brand2,
           levenshtein(a.p_brand, c.p_brand) AS dist
    FROM b a JOIN b c ON a.p_brand < c.p_brand
    WHERE levenshtein(a.p_brand, c.p_brand) <= 1
    ORDER BY brand1, brand2
    """,
    doc="Fuzzy key matching: near-identical dimension values by edit "
    "distance ≤ 1 (entity-resolution building block). Distinct first "
    "collapses the fact table to its key domain (25 values here; bounded "
    "by domain size, not row count, at any scale), so the quadratic "
    "levenshtein join runs on a broadcast-sized set.",
)
def q47(spark: SparkSession, sf_dir: str) -> DataFrame:
    brands = load(spark, sf_dir, "part").select("p_brand").distinct()
    a = brands.alias("a")
    c = brands.alias("c")
    pair = a.join(
        F.broadcast(c), F.col("a.p_brand") < F.col("c.p_brand")
    ).select(
        F.col("a.p_brand").alias("brand1"),
        F.col("c.p_brand").alias("brand2"),
        F.levenshtein(F.col("a.p_brand"), F.col("c.p_brand")).alias("dist"),
    )
    return pair.filter(F.col("dist") <= 1).orderBy("brand1", "brand2")


# ------------------------------------------------------------ decontamination

@register(
    "q48_decontamination",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    grams AS (
      SELECT doc_id,
             list_distinct([array_to_string(w[i:i+3], ' ')
                            for i in range(1, len(w) - 2)]) AS g
      FROM toks
    ),
    bench AS (SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id % 20 = 0),
    contaminated AS (
      SELECT DISTINCT doc_id
      FROM (SELECT doc_id, unnest(g) AS gram FROM grams WHERE doc_id % 20 <> 0)
      WHERE gram IN (SELECT gram FROM bench)
    )
    SELECT d.lang,
           count(*) FILTER (WHERE c.doc_id IS NOT NULL) AS n_contaminated,
           count(*) FILTER (WHERE c.doc_id IS NULL) AS n_clean
    FROM documents d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
    WHERE d.doc_id % 20 <> 0
    GROUP BY d.lang ORDER BY d.lang
    """,
    doc="Benchmark decontamination: flag corpus documents sharing any word "
    "4-gram with a held-out benchmark set (doc_id % 20 = 0 stands in for "
    "the eval suite). The benchmark gram set is bounded by the benchmark "
    "size — a few MB even when the corpus is 100 TB — so it broadcasts: "
    "the corpus side explodes grams and LEFT SEMI joins against the "
    "broadcast with NO shuffle of corpus data, then collapses to distinct "
    "doc ids. Word n-grams, not char n-grams, to match how eval-overlap "
    "filtering is actually done. Since r13 membership compares xxhash64 "
    "gram keys (8-byte longs, not ~25-char strings): collision odds "
    "~1e-9 here; at ~1e12 distinct grams a birthday collision only adds "
    "a spurious flagged doc — acceptable for contamination flagging, "
    "and the string oracle still hash-matches at every registry SF.",
)
def q48(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "lang", F.split("text", " ").alias("w"))
    # r13 (guide §2.3, narrower types): the gram only ever feeds set
    # membership (bench-set semi join + distincts), so hash it to int64
    # INSIDE the transform — array_distinct, the explodes, the distinct
    # shuffle and the broadcast-set probe all run on longs instead of
    # ~25-char strings (same hashed-shingle discipline as
    # operators/dedup.py; collisions ~1e-9 for this corpus). Output
    # counts unchanged, same oracle.
    grams = toks.select(
        "doc_id",
        F.when(
            F.size("w") >= 4,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - 3),
                    lambda i: F.xxhash64(F.concat_ws(" ", F.slice("w", i, 4))),
                )
            ),
        )
        .otherwise(F.array().cast("array<long>"))
        .alias("g"),
    )
    is_bench = F.col("doc_id") % 20 == 0
    bench_grams = (
        grams.filter(is_bench).select(F.explode("g").alias("gram")).distinct()
    )
    contaminated = (
        grams.filter(~is_bench)
        .select("doc_id", F.explode("g").alias("gram"))
        .join(F.broadcast(bench_grams), "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    corpus = docs.filter(~is_bench).select("doc_id", "lang")
    flagged = corpus.join(
        contaminated.withColumn("is_cont", F.lit(1)), "doc_id", "left"
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count(F.col("is_cont")).alias("n_contaminated"),
            F.count(F.when(F.col("is_cont").isNull(), 1)).alias("n_clean"),
        )
        .orderBy("lang")
    )


# ------------------------------------------------------ repetition quality

@register(
    "q50_repetition_quality",
    oracle="""
    WITH w AS (
      SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
    ),
    big AS (
      SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
      FROM w WHERE len(w) >= 2
    ),
    cnt AS (SELECT doc_id, bg, count(*) AS c FROM big GROUP BY 1, 2),
    top AS (
      SELECT doc_id, max(c) AS top_bigram_n, CAST(sum(c) AS BIGINT) AS n_bigrams
      FROM cnt GROUP BY 1
    )
    SELECT w.doc_id,
           len(w.w) AS n_words,
           len(list_distinct(w.w)) AS n_distinct_words,
           CAST(1.0 - len(list_distinct(w.w)) / CAST(len(w.w) AS DOUBLE) AS DOUBLE)
             AS dup_word_frac,
           coalesce(top.top_bigram_n, 0) AS top_bigram_n,
           CAST(coalesce(top.top_bigram_n, 0)
                / CAST(greatest(coalesce(top.n_bigrams, 1), 1) AS DOUBLE) AS DOUBLE)
             AS top_bigram_frac,
           CAST(coalesce(top.top_bigram_n, 0)
                  / CAST(greatest(coalesce(top.n_bigrams, 1), 1) AS DOUBLE) > 0.2
                OR 1.0 - len(list_distinct(w.w)) / CAST(len(w.w) AS DOUBLE) > 0.3
             AS BOOLEAN) AS flagged
    FROM w LEFT JOIN top ON w.doc_id = top.doc_id
    ORDER BY w.doc_id
    """,
    doc="Repetition-based quality filter (Gopher-style: Rae et al. 2021 "
    "use duplicate-n-gram mass thresholds): per-doc duplicate-word "
    "fraction and most-frequent-bigram mass, with a flag at "
    "top-bigram > 20% or dup-words > 30%. The bigram count runs as "
    "explode → two map-side-combining aggregates keyed on doc_id — no "
    "per-doc Python, no window sort; fractions are int/int divisions so "
    "they bit-match the oracle.",
)
def q50(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").repartition(F.col("doc_id"))
    w = docs.select("doc_id", F.split("text", " ").alias("w"))
    base = w.select(
        "doc_id",
        F.size("w").alias("n_words"),
        F.size(F.array_distinct("w")).alias("n_distinct_words"),
    )
    bigrams = w.filter(F.size("w") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("w", i), F.element_at("w", i + 1)
                ),
            )
        ).alias("bg"),
    )
    top = (
        bigrams.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bigram_n"), F.sum("c").alias("n_bigrams"))
    )
    joined = base.join(top, "doc_id", "left")
    top_n = F.coalesce("top_bigram_n", F.lit(0))
    top_frac = top_n / F.greatest(F.coalesce("n_bigrams", F.lit(1)), F.lit(1)).cast(
        "double"
    )
    dup_frac = F.lit(1.0) - F.col("n_distinct_words") / F.col("n_words").cast("double")
    return joined.select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        dup_frac.cast("double").alias("dup_word_frac"),
        top_n.alias("top_bigram_n"),
        top_frac.cast("double").alias("top_bigram_frac"),
        ((top_frac > 0.2) | (dup_frac > 0.3)).alias("flagged"),
    ).orderBy("doc_id")


# ------------------------------------------------------------ range join

@register(
    "q51_range_join",
    oracle="""
    WITH iv AS (
      SELECT user_id AS iv_id,
             min(ts) AS iv_start,
             min(ts) + to_hours(CAST(user_id % 7 + 1 AS BIGINT)) AS iv_end
      FROM events
      WHERE user_id % 20 = 0
      GROUP BY user_id
    )
    SELECT iv.iv_id, count(*) AS n_events,
           count(DISTINCT e.user_id) AS n_users,
           CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM iv JOIN events e ON e.ts >= iv.iv_start AND e.ts < iv.iv_end
    GROUP BY iv.iv_id ORDER BY iv.iv_id
    """,
    doc="Interval (range) join: every event falling inside irregular "
    "per-incident time windows — the non-equi join Spark would "
    "otherwise plan as BroadcastNestedLoop over every (event × "
    "interval) pair. Implemented as a *bucketed* range join: intervals "
    "explode to the hour buckets they cover (bounded: ≤ 8 h each), "
    "events map to their single bucket, and the join becomes an "
    "equi-join on bucket + exact boundary filter. At 100 TB the join "
    "key is (bucket), shuffle-partitioned; cost scales with overlap "
    "density, never |events| × |intervals|.",
)
def q51(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    bucket_us = 3600 * 1_000_000  # 1 h
    iv = (
        ev.filter(F.col("user_id") % 20 == 0)
        .groupBy(F.col("user_id").alias("iv_id"))
        .agg(F.min("ts").alias("iv_start"))
        .withColumn(
            "iv_end",
            F.expr("timestampadd(HOUR, CAST(iv_id % 7 + 1 AS INT), iv_start)"),
        )
    )
    from ..operators.range_join import bucketed_interval_join

    joined = bucketed_interval_join(
        ev, "ts", iv, "iv_start", "iv_end", bucket_us=bucket_us
    )
    return (
        joined.groupBy("iv_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .orderBy("iv_id")
    )


# ------------------------------------------------------ CDC compaction

@register(
    "q52_latest_by_key",
    oracle="""
    SELECT user_id, event_type, ts AS latest_ts, event_id AS latest_event_id,
           CAST(value AS DOUBLE) AS latest_value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) AS rk
      FROM events
    ) WHERE rk = 1
    ORDER BY user_id, event_type
    """,
    doc="CDC upsert compaction: the latest record per (user_id, "
    "event_type) key. Implemented as max(struct(ts, event_id, value)) — "
    "a single hash aggregate with map-side partial combine, NOT a "
    "row_number window: no per-key sort, no full-width shuffle, and at "
    "100 TB the partial aggregate collapses each map partition to one "
    "row per key before the wire. event_id breaks ts ties "
    "deterministically.",
)
def q52(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    latest = F.max(F.struct("ts", "event_id", "value")).alias("m")
    return (
        ev.groupBy("user_id", "event_type")
        .agg(latest)
        .select(
            "user_id",
            "event_type",
            F.col("m.ts").alias("latest_ts"),
            F.col("m.event_id").alias("latest_event_id"),
            F.col("m.value").cast("double").alias("latest_value"),
        )
        .orderBy("user_id", "event_type")
    )


# ---------------------------------------------------- temperature mixing

@register(
    "q53_domain_mixture",
    oracle="""
    WITH src AS (
      SELECT source, CAST(sum(n_chars) AS DOUBLE) AS chars_s
      FROM documents GROUP BY source
    ),
    tot AS (SELECT min(chars_s) AS chars_min FROM src),
    rates AS (
      SELECT source, chars_s,
             least(1.0, sqrt(chars_min / chars_s)) AS rate
      FROM src, tot
    ),
    kept AS (
      SELECT d.source, d.doc_id, d.n_chars, r.rate
      FROM documents d JOIN rates r ON d.source = r.source
      WHERE r.rate >= 1.0
         OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)
              < lpad(lower(hex(CAST(floor(r.rate * 16777216.0) AS BIGINT))), 6, '0')
    )
    SELECT source,
           count(*) AS n_docs_kept,
           CAST(sum(n_chars) AS BIGINT) AS chars_kept,
           CAST(max(rate) AS DOUBLE) AS rate
    FROM kept GROUP BY source ORDER BY source
    """,
    doc="Temperature-scaled domain mixture (τ=2 sampling, the standard "
    "multilingual-corpus reweighting): per-source keep-rate ∝ "
    "1/sqrt(chars_s), anchored so the smallest source keeps everything, "
    "applied as a DETERMINISTIC md5(doc_id) threshold so the sample is "
    "reproducible across engines and runs (unlike sample()). The rate "
    "table is per-source (20 rows — broadcast), the keep test is a pure "
    "scan predicate, and the hex-string compare avoids engine-specific "
    "hash-to-int conversions. Rate math uses only order-independent "
    "reductions (integer sums, min) + IEEE sqrt/div, so thresholds "
    "bit-match the oracle under any partitioning.",
)
def q53(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(F.sum("n_chars").cast("double").alias("chars_s"))
    tot = src.agg(F.min("chars_s").alias("chars_min"))
    rates = src.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(F.lit(1.0), F.sqrt(F.col("chars_min") / F.col("chars_s"))).alias("rate"),
    )
    thr = F.lpad(
        F.lower(F.hex(F.floor(F.col("rate") * 16777216.0).cast("bigint"))), 6, "0"
    )
    kept = (
        docs.join(F.broadcast(rates), "source")
        .filter(
            (F.col("rate") >= 1.0)
            | (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6) < thr)
        )
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_chars").alias("chars_kept"),
            F.max("rate").cast("double").alias("rate"),
        )
        .orderBy("source")
    )


# ------------------------------------------------------------- unpivot

@register(
    "q56_unpivot",
    oracle="""
    SELECT p_partkey, attr, val FROM (
      SELECT p_partkey, 'size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
      UNION ALL
      SELECT p_partkey, 'retail' AS attr, CAST(p_retailprice AS DOUBLE) AS val FROM part
    ) ORDER BY p_partkey, attr
    """,
    doc="UNPIVOT (wide → long reshaping, the inverse of q44's pivot): "
    "numeric part attributes melt into (attr, val) rows via "
    "DataFrame.unpivot — a narrow, shuffle-free Expand node (each input "
    "row emits k rows in place; no join, no union re-scan of the "
    "table, which is what the oracle's UNION ALL formulation would "
    "cost at 100 TB).",
)
def q56(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").cast("double").alias("retail"),
    )
    return (
        part.unpivot("p_partkey", ["size", "retail"], "attr", "val")
        .orderBy("p_partkey", "attr")
    )


# ---------------------------------------------------------------- skew

@register(
    "q84_skewed_distinct_agg",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="Two-stage distinct aggregation: count(DISTINCT user_id) per "
    "event_type (5 values — every row of a type funnels through one "
    "reducer in the naive plan). Stage 1 dedups on the evenly-"
    "distributed (type, user) pair, stage 2 counts the shrunken "
    "groups — same answer, no hot reducer at any scale.",
)
def q84(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import two_stage_distinct_agg

    events = load(spark, sf_dir, "events")
    return two_stage_distinct_agg(events, "event_type", "user_id", "n_users").orderBy(
        "event_type"
    )


@register(
    "q85_salted_join",
    oracle="""
    SELECT c.c_mktsegment,
           count(*) AS n_events,
           CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """,
    doc="Salted shuffle join: events carry a skewed foreign key (few "
    "hundred distinct users across millions of events at scale); the "
    "customer side is replicated once per salt so each hot key spreads "
    "over salt_factor reducers. Result provably equals the unsalted "
    "join (the oracle); only the physical distribution changes. Used "
    "when the dim side is too large to broadcast and AQE's runtime "
    "splitting isn't available (e.g. storage-partitioned inputs).",
)
def q85(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    events = load(spark, sf_dir, "events").select("user_id", "value")
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(events, cust, on="user_id", salt_factor=8)
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "q87_skyline",
    oracle="""
    SELECT p.p_partkey, p.p_brand, p.p_size,
           CAST(p.p_retailprice AS DOUBLE) AS p_retailprice
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_size >= p.p_size AND q.p_retailprice <= p.p_retailprice
        AND (q.p_size > p.p_size OR q.p_retailprice < p.p_retailprice)
    )
    ORDER BY p.p_partkey
    """,
    doc="Skyline (Pareto frontier): parts maximizing size while "
    "minimizing retail price, no row dominated by another. Two-phase "
    "distributed scheme (local Arrow-batched sweep per partition, then "
    "one final sweep over the tiny candidate union — see "
    "operators/skyline.py and the EDBT'23 Spark-skyline line in "
    "PAPERS.md) vs the oracle's O(N^2) NOT EXISTS formulation.",
)
def q87(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skyline import skyline

    part = load(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size", F.col("p_retailprice").cast("double").alias("p_retailprice")
    )
    return skyline(part, maximize="p_size", minimize="p_retailprice").orderBy(
        "p_partkey"
    )


@register(
    "q93_data_quality_checks",
    oracle="""
    SELECT 'orders_null_custkey' AS check_name,
           (SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS violations
    UNION ALL
    SELECT 'orders_dup_orderkey',
           (SELECT count(*) FROM (
              SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1))
    UNION ALL
    SELECT 'lineitem_fk_orders',
           (SELECT count(*) FROM lineitem l ANTI JOIN orders o
            ON l.l_orderkey = o.o_orderkey)
    UNION ALL
    SELECT 'lineitem_qty_range',
           (SELECT count(*) FROM lineitem WHERE l_quantity < 0 OR l_quantity > 50)
    UNION ALL
    SELECT 'customer_fk_nation',
           (SELECT count(*) FROM customer c ANTI JOIN nation n
            ON c.c_nationkey = n.n_nationkey)
    ORDER BY check_name
    """,
    doc="Data-quality gate: null-rate, key-uniqueness, referential-"
    "integrity and domain-range checks as one declarative plan — the "
    "validation pass a pipeline runs before promoting a snapshot. Each "
    "check is a scan-local aggregate or an anti join on the natural "
    "key; violations (not passing rows) are counted so the output stays "
    "metadata-sized at any scale.",
)
def q93(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).alias("violations"),
        )

    checks = [
        one("orders_null_custkey", orders.filter(F.col("o_custkey").isNull())),
        one(
            "orders_dup_orderkey",
            orders.groupBy("o_orderkey")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") > 1),
        ),
        one("lineitem_fk_orders", li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti")),
        one(
            "lineitem_qty_range",
            li.filter((F.col("l_quantity") < 0) | (F.col("l_quantity") > 50)),
        ),
        one(
            "customer_fk_nation",
            cust.join(nation, cust.c_nationkey == nation.n_nationkey, "left_anti"),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.orderBy("check_name")


@register(
    "q100_bloom_decontaminate",
    oracle="""
    WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
    grams AS (
      SELECT doc_id, lang,
             CASE WHEN len(w) >= 3
                  THEN list_distinct([array_to_string(w[i:i+2], ' ')
                                      for i in range(1, len(w) - 1)])
                  ELSE [] END AS g
      FROM toks
    ),
    bench AS (SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id % 10 = 1),
    contaminated AS (
      SELECT DISTINCT doc_id
      FROM (SELECT doc_id, unnest(g) AS gram FROM grams WHERE doc_id % 10 <> 1)
      WHERE gram IN (SELECT gram FROM bench)
    )
    SELECT d.lang,
           count(*) FILTER (WHERE c.doc_id IS NOT NULL) AS n_contaminated,
           count(*) FILTER (WHERE c.doc_id IS NULL) AS n_clean
    FROM documents d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
    WHERE d.doc_id % 10 <> 1
    GROUP BY d.lang ORDER BY d.lang
    """,
    doc="Decontamination with a Bloom prefilter: the benchmark 3-gram set "
    "is folded into a 16 KiB bloom (distributed bit_or build, no driver "
    "funnel) that prefilters the corpus gram stream BEFORE the exact "
    "semi join — only bloom-positive grams (true matches + the tiny FP "
    "rate) reach the shuffle. The semi join removes the bloom's false "
    "positives, so the output is exact modulo xxhash64 gram-key "
    "collisions (since r13 both sides compare 64-bit gram hashes, not "
    "strings: odds ~1e-9 at this corpus's vocabulary; at a literal "
    "100 TB / ~1e12 distinct grams, birthday collisions become "
    "expected-nonzero — acceptable for a contamination FLAG, which "
    "only gains a spurious member, and the same discipline "
    "operators/dedup.py has used for membership pruning since r10). "
    "The DuckDB oracle is the plain exact string formulation and "
    "hash-matches at every registry SF. "
    "This is the 100 TB shape of q48: there the benchmark set broadcast "
    "raw (fine while it fits); here the broadcast is O(bits) no matter "
    "how large the benchmark grows, and the shuffle carries only the "
    "contaminated sliver of the corpus.",
)
def q100(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import bloom_filter_words, bloom_probe

    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "lang", F.split("text", " ").alias("w"))
    # r13 (guide §2.3, narrower types — the q48/dedup hashed-shingle
    # discipline): the gram only ever feeds set membership (bloom build,
    # bloom probe, exact semi join, distincts), so hash it to int64
    # INSIDE the transform — array_distinct, both explodes, the 5
    # per-probe xxhash64 calls, the distinct shuffle and the semi join
    # all run on longs instead of ~25-char strings (collisions ~1e-9
    # for this corpus). Output counts unchanged, same oracle.
    grams = toks.select(
        "doc_id",
        "lang",
        F.when(
            F.size("w") >= 3,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - 2),
                    lambda i: F.xxhash64(F.concat_ws(" ", F.slice("w", i, 3))),
                )
            ),
        )
        .otherwise(F.array().cast("array<long>"))
        .alias("g"),
    )
    is_bench = F.col("doc_id") % 10 == 1
    # persisted (r13, guide §2.4/§5): the benchmark gram set has TWO
    # consumers — the bloom build and the exact FP-killing semi join —
    # and without the persist each one re-runs the benchmark slice's
    # split+3-gram+distinct pipeline from the scan. The set is
    # benchmark-sized (bounded by the eval suite, not the corpus), so
    # caching it is metadata-scale at any corpus size.
    bench_grams = materialize.persist(
        grams.filter(is_bench).select(F.explode("g").alias("gram")).distinct()
    )
    bloom = bloom_filter_words(bench_grams, "gram")
    corpus_grams = grams.filter(~is_bench).select("doc_id", F.explode("g").alias("gram"))
    prefiltered = corpus_grams.crossJoin(F.broadcast(bloom)).filter(
        bloom_probe("gram")
    )
    contaminated = (
        prefiltered.join(bench_grams, "gram", "left_semi")  # exact: kills bloom FPs
        .select("doc_id")
        .distinct()
    )
    corpus = docs.filter(~is_bench).select("doc_id", "lang")
    flagged = corpus.join(contaminated.withColumn("is_cont", F.lit(1)), "doc_id", "left")
    return (
        flagged.groupBy("lang")
        .agg(
            F.count(F.col("is_cont")).alias("n_contaminated"),
            F.count(F.when(F.col("is_cont").isNull(), 1)).alias("n_clean"),
        )
        .orderBy("lang")
    )


@register(
    "q108_event_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click'
        AND e.ts > v.t_view AND e.ts <= v.t_view + INTERVAL 7 DAY
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id
      FROM events e
      JOIN c ON c.user_id = e.user_id
      JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts > c.t_click AND e.ts <= v.t_view + INTERVAL 7 DAY
      GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_click,
           (SELECT count(*) FROM p) AS n_purchase
    """,
    doc="Ordered funnel analysis (view -> click -> purchase within 7 days "
    "of the first view): per-user stage timestamps via three conditional "
    "MIN windows over ONE user_id partitioning — a single shuffle, no "
    "self-joins, no row explosion; the oracle states the same semantics "
    "as staged join CTEs. Strictly-after ordering between stages, "
    "deadline anchored at the first view.",
)
def q108(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import ordered_funnel

    ev = load(spark, sf_dir, "events")
    per_user = ordered_funnel(
        ev, "user_id", "ts", "event_type",
        stages=["view", "click", "purchase"],
        within=F.expr("INTERVAL 7 DAYS"),
    )
    return per_user.agg(
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_click"),
        F.count("t_purchase").alias("n_purchase"),
    )


@register(
    "q109_cohort_retention",
    oracle="""
    WITH fw AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ), act AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.wk) // 7 AS INTEGER) AS week_offset,
           count(*) AS n_users
    FROM fw f JOIN act a ON a.user_id = f.user_id
    GROUP BY f.cohort_week, week_offset
    ORDER BY f.cohort_week, week_offset
    """,
    doc="Weekly cohort retention: users grouped by first-activity week, "
    "counted in every subsequent week they were active — the classic "
    "retention triangle. Two aggregations share the user_id shuffle "
    "(first-week agg + distinct active weeks), then a join on user_id "
    "and a small regroup; both engines truncate weeks to Monday so "
    "offsets are exact integers.",
)
def q109(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    fw = ev.groupBy("user_id").agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    act = ev.select("user_id", F.date_trunc("week", F.col("ts")).alias("wk")).distinct()
    return (
        fw.join(act, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


from ..operators.sampling import hex6_sql as _hex6_sql  # noqa: E402


@register(
    "q110_weighted_sample",
    # the oracle's uniform deviate uses the operator's own SQL fragment,
    # so the Spark predicate and the oracle predicate cannot drift apart
    oracle=f"""
    WITH w AS (SELECT sum(n_chars) AS total FROM documents)
    SELECT doc_id, lang, n_chars
    FROM documents, w
    WHERE {_hex6_sql("doc_id")} * w.total < 100 * n_chars * 16777216
    ORDER BY doc_id
    """,
    doc="Weighted Bernoulli (Poisson) sampling, inclusion probability "
    "proportional to document length with expected sample size 100: "
    "include iff u < k*w/W, evaluated as the EXACT integer comparison "
    "u6*W < k*w*16^6 with u6 = first 6 hex digits of md5(doc_id) — "
    "deterministic, engine-identical, and reproducible. No sort, no "
    "shuffle: a broadcast scalar total + a scan predicate, which is why "
    "this (not exp-key reservoir ordering) is the 100 TB design — "
    "changing k is a constant change, not a re-hash.",
)
def q110(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import weighted_bernoulli_sample

    docs = load(spark, sf_dir, "documents")
    return (
        weighted_bernoulli_sample(docs, "doc_id", "n_chars", expected_k=100)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


@register(
    "q112_domain_kl_drift",
    oracle="""
    WITH per AS (
      SELECT source, lang, count(*) AS c FROM documents GROUP BY source, lang
    ), src AS (
      SELECT source, sum(c) AS n FROM per GROUP BY source
    ), corpus AS (
      SELECT lang, sum(c) AS m FROM per GROUP BY lang
    ), tot AS (
      SELECT sum(c) AS big_n FROM per
    )
    SELECT p.source,
           round(sum((CAST(p.c AS DOUBLE) / s.n)
                     * ln((CAST(p.c AS DOUBLE) * t.big_n) / (CAST(s.n AS DOUBLE) * c.m))), 6)
             AS kl_nats
    FROM per p
    JOIN src s ON s.source = p.source
    JOIN corpus c ON c.lang = p.lang
    CROSS JOIN tot t
    GROUP BY p.source
    ORDER BY p.source
    """,
    doc="Language-mixture drift per source: KL(P_source || P_corpus) over "
    "the language distribution — the rebalancing signal a curation "
    "pipeline watches when one crawl source skews the corpus mix. One "
    "(source, lang) aggregate feeds every distribution via window-free "
    "re-aggregations of the tiny post-agg frame; ratios are exact-"
    "integer quotients so both engines feed ln() bit-identical inputs "
    "(rounded to 6 dp to absorb libm ulp differences).",
)
def q112(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    per = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    src = per.groupBy("source").agg(F.sum("c").alias("n"))
    corpus = per.groupBy("lang").agg(F.sum("c").alias("m"))
    tot = per.agg(F.sum("c").alias("big_n"))
    term = (F.col("c").cast("double") / F.col("n")) * F.log(
        (F.col("c").cast("double") * F.col("big_n"))
        / (F.col("n").cast("double") * F.col("m"))
    )
    return (
        per.join(src, "source")
        .join(corpus, "lang")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(F.round(F.sum(term), 6).alias("kl_nats"))
        .orderBy("source")
    )


# Shared Morton-code fragment: interleave the low 8 bits of {a} (even
# positions) and {b} (odd positions) into a 16-bit z-value. Pure &|<<>>
# integer ops — identical text evaluates identically in Spark SQL and
# DuckDB, so the curve order cannot drift between query and oracle.
_ZINTERLEAVE = " | ".join(
    f"((({{a}} >> {i}) & 1) << {2 * i}) | ((({{b}} >> {i}) & 1) << {2 * i + 1})"
    for i in range(8)
)
_Z_A = "(p_size * 5)"  # 1..50 -> 5..250, fills the 8-bit range
_Z_B = "least(CAST(floor((p_retailprice - 900.0) * 2.56) AS BIGINT), 255)"
_ZVAL = _ZINTERLEAVE.format(a=_Z_A, b=_Z_B)


@register(
    "q116_zorder_clustering",
    oracle=f"""
    WITH z AS (
      SELECT p_partkey, p_size, p_retailprice, {_ZVAL} AS zval
      FROM part
    ), buck AS (
      SELECT *, ntile(16) OVER (ORDER BY zval, p_partkey) AS bucket FROM z
    )
    SELECT bucket, count(*) AS n_parts,
           max(p_size) - min(p_size) AS size_extent,
           CAST(max(p_retailprice) - min(p_retailprice) AS DOUBLE) AS price_extent
    FROM buck GROUP BY bucket ORDER BY bucket
    """,
    doc="Z-order (Morton-curve) clustering for multi-dimension data "
    "skipping — the lakehouse write-optimization that makes min/max "
    "file pruning work on TWO filter columns at once: both dims are "
    "mapped to 8-bit ranges, bit-interleaved into a 16-bit z-value in "
    "pure codegen integer ops, and the table is range-bucketed along "
    "the curve. The emitted per-bucket extents (max-min of each "
    "dimension) ARE the pruning quality: under z-order every bucket "
    "covers a small rectangle of (size, price) space, where a "
    "single-column sort leaves the second dimension's extent at full "
    "range. At 100 TB the ntile becomes repartitionByRange(zval) "
    "before the file write — same curve, same skipping.",
)
def q116(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    z = part.select(
        "p_partkey", "p_size", "p_retailprice", F.expr(_ZVAL).alias("zval")
    )
    w = Window.orderBy("zval", "p_partkey")
    return (
        z.withColumn("bucket", F.ntile(16).over(w))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            (F.max("p_size") - F.min("p_size")).alias("size_extent"),
            (F.max("p_retailprice") - F.min("p_retailprice"))
            .cast("double")
            .alias("price_extent"),
        )
        .orderBy("bucket")
    )


# ------------------------------------------------------------------ Q153


@register(
    "q153_join_key_skew_profile",
    oracle="""
    WITH counts AS (
      SELECT user_id AS key, count(*) AS cnt FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT key, cnt,
             row_number() OVER (ORDER BY cnt, key) AS rk,
             count(*) OVER () AS n
      FROM counts
    ),
    stats AS (
      SELECT max(n) AS n_keys,
             CAST(sum(cnt) AS BIGINT) AS total_rows,
             max(cnt) AS max_cnt,
             sum(CAST(rk AS DECIMAL(38,0)) * cnt) AS s1,
             max(CASE WHEN rk = greatest(1, CAST(ceil(0.99 * n) AS BIGINT))
                      THEN cnt END) AS p99_cnt
      FROM ranked
    ),
    top10 AS (
      SELECT key, cnt FROM counts ORDER BY cnt DESC, key LIMIT 10
    ),
    t AS (
      SELECT row_number() OVER (ORDER BY cnt DESC, key) AS rank, key, cnt
      FROM top10
    )
    SELECT t.rank, t.key, t.cnt,
           round(CAST(t.cnt AS DOUBLE) / CAST(s.total_rows AS DOUBLE), 6)
             AS share,
           s.n_keys, s.total_rows, s.p99_cnt,
           round((2.0 * CAST(s.s1 AS DOUBLE))
                   / (CAST(s.n_keys AS DOUBLE) * CAST(s.total_rows AS DOUBLE))
                 - (CAST(s.n_keys AS DOUBLE) + 1.0) / CAST(s.n_keys AS DOUBLE),
                 6) AS gini,
           round((CAST(s.max_cnt AS DOUBLE) * CAST(s.n_keys AS DOUBLE))
                   / CAST(s.total_rows AS DOUBLE), 6) AS max_over_mean
    FROM t CROSS JOIN stats s ORDER BY t.rank
    """,
    doc="Join-key skew profiler — the diagnostic that DECIDES q85's "
    "salting factor before the join runs: per-key frequency profile of "
    "the events fact's foreign key with top-10 heavy hitters (share of "
    "total), exact Gini coefficient over the sorted count distribution, "
    "the p99 key count (discrete selection, q151's rank arithmetic) and "
    "max/mean ratio. All inputs to the rounded doubles are exact "
    "integers (decimal rank*count sums), so the hash is stable. Scale "
    "note: every global window/sort here runs over the KEY table (one "
    "row per distinct key — orders of magnitude smaller than the fact "
    "table whose skew it measures); the fact table itself is touched by "
    "exactly one map-side-combining groupBy.",
)
def q153(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id")
    counts = ev.groupBy(F.col("user_id").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wr = Window.orderBy("cnt", "key")  # key-table-sized; see scale note
    ranked = counts.select(
        "key",
        "cnt",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    k99 = F.greatest(
        F.lit(1).cast("long"), F.ceil(F.lit(0.99) * F.col("n")).cast("long")
    )
    stats = ranked.agg(
        F.max("n").alias("n_keys"),
        F.sum("cnt").alias("total_rows"),
        F.max("cnt").alias("max_cnt"),
        F.sum(F.col("rk").cast("decimal(38,0)") * F.col("cnt")).alias("s1"),
        F.max(F.when(F.col("rk") == k99, F.col("cnt"))).alias("p99_cnt"),
    )
    top10 = counts.orderBy(F.desc("cnt"), "key").limit(10)
    t = top10.select(
        F.row_number().over(Window.orderBy(F.desc("cnt"), "key")).cast("long").alias("rank"),
        "key",
        "cnt",
    )
    nd = F.col("n_keys").cast("double")
    td = F.col("total_rows").cast("double")
    return (
        t.crossJoin(F.broadcast(stats))
        .select(
            "rank",
            "key",
            "cnt",
            F.round(F.col("cnt").cast("double") / td, 6).alias("share"),
            "n_keys",
            "total_rows",
            "p99_cnt",
            F.round(
                (F.lit(2.0) * F.col("s1").cast("double")) / (nd * td)
                - (nd + F.lit(1.0)) / nd,
                6,
            ).alias("gini"),
            F.round((F.col("max_cnt").cast("double") * nd) / td, 6).alias(
                "max_over_mean"
            ),
        )
        .orderBy("rank")
    )


# ------------------------------------------------------------------ Q154


@register(
    "q154_eval_quota_sample",
    oracle="""
    WITH lc AS (
      SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM lc),
    quotas AS (
      SELECT lang, n_docs,
             CAST((100 * n_docs) // t.total AS BIGINT) AS q_floor,
             CAST((100 * n_docs) % t.total AS BIGINT) AS remainder
      FROM lc CROSS JOIN tot t
    ),
    ranked AS (
      SELECT quotas.*,
             row_number() OVER (ORDER BY remainder DESC, lang) AS rem_rank,
             CAST(100 - sum(q_floor) OVER () AS BIGINT) AS leftover
      FROM quotas
    ),
    alloc AS (
      SELECT lang, n_docs,
             q_floor + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END AS quota
      FROM ranked
    ),
    picked AS (
      SELECT d.lang, d.doc_id,
             row_number() OVER (PARTITION BY d.lang
                                ORDER BY md5(CAST(d.doc_id AS VARCHAR)),
                                         d.doc_id) AS pick_rank
      FROM documents d
    )
    SELECT a.lang, a.n_docs, a.quota,
           CAST(count(p.doc_id) AS BIGINT) AS n_picked,
           CAST(COALESCE(sum(p.doc_id), 0) AS BIGINT) AS picked_id_sum
    FROM alloc a
    LEFT JOIN picked p ON p.lang = a.lang AND p.pick_rank <= a.quota
    GROUP BY a.lang, a.n_docs, a.quota
    ORDER BY a.lang
    """,
    doc="Evaluation-set quota sampler: allocate a fixed budget (100 "
    "docs) across languages by EXACT largest-remainder apportionment "
    "(Hamilton's method — floor quotas, leftover seats to the largest "
    "integer remainders; pure int arithmetic so the allocation is "
    "reproducible and sums to the budget exactly, unlike independent "
    "per-group Bernoulli sampling), then pick each language's quota "
    "deterministically by md5(doc_id) order (q45's hash-sample "
    "technique — stable across reruns and engines). Emits per-language "
    "quota, picked count and the exact picked-id checksum. Scale: the "
    "apportionment runs over the language table (tiny); the pick is one "
    "per-lang window rank over the corpus — same cost class as any "
    "top-k per key.",
)
def q154(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    budget = 100
    lc = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = lc.agg(F.sum("n_docs").cast("long").alias("total"))
    quotas = lc.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        # pure INTEGER floor-division + modulo on both engines (DuckDB's
        # `/` on ints yields a double whose BIGINT cast ROUNDS — `//`
        # there, `div` here)
        F.expr(f"({budget} * n_docs) div total").cast("long").alias("q_floor"),
        ((F.lit(budget) * F.col("n_docs")) % F.col("total"))
        .cast("long")
        .alias("remainder"),
    )
    ranked = quotas.select(
        "lang",
        "n_docs",
        "q_floor",
        "remainder",
        F.row_number()
        .over(Window.orderBy(F.desc("remainder"), "lang"))
        .cast("long")
        .alias("rem_rank"),
        (F.lit(budget) - F.sum("q_floor").over(Window.partitionBy()))
        .cast("long")
        .alias("leftover"),
    )
    alloc = ranked.select(
        "lang",
        "n_docs",
        (
            F.col("q_floor")
            + F.when(F.col("rem_rank") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("quota"),
    )
    picked = docs.select(
        "lang",
        "doc_id",
        F.row_number()
        .over(
            Window.partitionBy("lang").orderBy(
                F.md5(F.col("doc_id").cast("string")), "doc_id"
            )
        )
        .alias("pick_rank"),
    )
    return (
        alloc.alias("a")
        .join(
            picked.alias("p"),
            (F.col("p.lang") == F.col("a.lang"))
            & (F.col("p.pick_rank") <= F.col("a.quota")),
            "left",
        )
        .groupBy(F.col("a.lang").alias("lang"), F.col("a.n_docs").alias("n_docs"), F.col("a.quota").alias("quota"))
        .agg(
            F.count(F.col("p.doc_id")).alias("n_picked"),
            F.coalesce(F.sum(F.col("p.doc_id")), F.lit(0)).cast("long").alias(
                "picked_id_sum"
            ),
        )
        .orderBy("lang")
    )
