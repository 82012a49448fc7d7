"""Q127–Q143 (minus Q134/Q139/Q140/Q141, which live in streaming/,
sources, and catalog_e2e): round-5 additions — corpus clustering,
edit-distance similarity join, SCD2/gaps-and-islands, interval
concurrency, Markov transitions, RFM segmentation + quantile
bucketing, hard-negative mining, time-weighted averages, item-item
co-occurrence similarity, observed pipeline metrics, z-score outliers,
and market-basket affinity.

These extend the training-data-pipeline and lakehouse-analytics tiers
beyond the reference's own query surface (reference has no clustering /
fuzzy-join / temporal operators; its inventory stops at the catalog
plane — see SURVEY.md §2F note), re-expressed Spark-first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import materialize
from ..operators import similarity
from ..tables import load
from ._exact import dec
from ._registry import register
from .northstar import _cos_sql


@register(
    "q127_kmeans_clustering",
    # Cluster ids/sizes are engine-specific (they depend on the
    # assignment of every vector), so the oracle pins the invariants the
    # algorithm guarantees: every vector is assigned exactly once
    # (n_points carries the hash), Lloyd's inertia is non-increasing,
    # and the fit actually improved over the deterministic init.
    oracle="""
    SELECT count(*) AS n_points,
           8 AS k,
           TRUE AS inertia_monotone,
           TRUE AS inertia_improved
    FROM embeddings
    """,
    doc="Distributed k-means (Lloyd's) over the embedding corpus: "
    "Arrow-batched GEMM assignment, per-partition partial (sum, count, "
    "inertia) rows — map-side combine at the vector level — and a "
    "k×dim driver-side finalize per iteration (metadata scale, "
    "independent of corpus size). Deterministic init = first k vectors "
    "by id. Self-verified: inertia history non-increasing (Lloyd's "
    "invariant) and strictly improved vs init; the exact corpus count "
    "carries the hash. operators/clustering.py.",
)
def q127(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import kmeans_fit_assign

    emb = load(spark, sf_dir, "embeddings")
    assignments, history, _ = kmeans_fit_assign(
        emb, "vec_id", "embedding", k=8, max_iter=6
    )
    n_points = assignments.count()
    monotone = all(
        history[i + 1] <= history[i] * (1 + 1e-9) for i in range(len(history) - 1)
    )
    improved = len(history) >= 2 and history[-1] < history[0]
    return spark.createDataFrame(
        [(n_points, 8, bool(monotone), bool(improved))],
        "n_points long, k int, inertia_monotone boolean, inertia_improved boolean",
    )


@register(
    "q128_edit_distance_join",
    # Multi-pass blocking: candidate name pairs share their first OR
    # their second token (two blocking passes unioned, then deduped) —
    # DuckDB split_part is 1-indexed, Spark's split array is 0-indexed.
    oracle="""
    WITH names AS (
      SELECT p_name, count(*) AS n_parts FROM part GROUP BY p_name
    ), pairs AS (
      SELECT DISTINCT a.p_name AS n1, b.p_name AS n2,
             levenshtein(a.p_name, b.p_name) AS dist,
             a.n_parts AS n_parts1, b.n_parts AS n_parts2
      FROM names a JOIN names b
        ON a.p_name < b.p_name
       AND (split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
         OR split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2))
    )
    SELECT n1, n2, dist, n_parts1, n_parts2
    FROM pairs WHERE dist BETWEEN 1 AND 4
    ORDER BY n1, n2
    """,
    doc="Edit-distance similarity join for entity resolution, done at "
    "the right cardinality: the fact table first COLLAPSES to its "
    "distinct key vocabulary (name + member count — one map-side-"
    "combining aggregate), and only the vocabulary enters the quadratic "
    "step. Candidates come from two blocking passes (share first token "
    "OR share second token) unioned and deduped — never a cross join — "
    "then exact Levenshtein ∈ [1,4] runs JVM-side in whole-stage "
    "codegen. Joining the fuzzy pairs back to entities stays an "
    "aggregate (member counts), never a pair explosion: at 100 TB the "
    "cost scales with vocabulary², not corpus².",
)
def q128(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    toks = F.split(F.col("p_name"), " ")
    names = part.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_parts")).select(
        F.col("p_name").alias("name"),
        "n_parts",
        toks.getItem(0).alias("t1"),
        # single-token names: Spark getItem(1) yields NULL (never joins)
        # while DuckDB split_part(..,2) yields '' (all block together) —
        # coalesce to '' so both engines block one-token names identically
        F.coalesce(toks.getItem(1), F.lit("")).alias("t2"),
    )
    a = names.select(
        F.col("name").alias("n1"), F.col("n_parts").alias("n_parts1"),
        F.col("t1").alias("a_t1"), F.col("t2").alias("a_t2"),
    )
    b = names.select(
        F.col("name").alias("n2"), F.col("n_parts").alias("n_parts2"),
        F.col("t1").alias("b_t1"), F.col("t2").alias("b_t2"),
    )
    # two single-key blocking passes, unioned then deduped: each pass is
    # an equi-join (hash-partitionable); OR inside one join condition
    # would degrade to a cross product
    pass1 = a.join(b, F.col("a_t1") == F.col("b_t1"))
    pass2 = a.join(b, F.col("a_t2") == F.col("b_t2"))
    cands = (
        pass1.unionByName(pass2)
        .filter(F.col("n1") < F.col("n2"))
        .select("n1", "n2", "n_parts1", "n_parts2")
        .distinct()
    )
    return (
        cands.withColumn("dist", F.levenshtein("n1", "n2"))
        .filter(F.col("dist").between(1, 4))
        .select("n1", "n2", "dist", "n_parts1", "n_parts2")
        .orderBy("n1", "n2")
    )


@register(
    "q129_scd2_reconstruction",
    oracle="""
    WITH numbered AS (
      SELECT user_id, event_type, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn_all,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn_type
      FROM events
    ), islands AS (
      SELECT user_id, event_type, rn_all - rn_type AS grp,
             min(ts) AS valid_from, min(rn_all) AS island_ord,
             count(*) AS n_events
      FROM numbered
      GROUP BY user_id, event_type, rn_all - rn_type
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY island_ord) AS valid_to,
           n_events,
           (lead(valid_from) OVER (PARTITION BY user_id
                                   ORDER BY island_ord) IS NULL) AS is_current
    FROM islands
    ORDER BY user_id, valid_from, event_type
    """,
    doc="SCD2 (slowly-changing-dimension type 2) reconstruction from a "
    "change-event stream via gaps-and-islands: consecutive same-value "
    "runs per key collapse to one versioned row (the row_number "
    "difference trick), valid_to chains from the next island's "
    "valid_from, open-ended row flagged is_current. One shuffle on "
    "user_id serves both window passes and the island aggregate "
    "map-side combines — the CDC-log → dimension-table pattern every "
    "lakehouse needs.",
)
def q129(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import scd2_islands

    ev = load(spark, sf_dir, "events")
    return scd2_islands(
        ev, "user_id", "event_type", ["ts", "event_id"], ts_col="ts"
    ).orderBy("user_id", "valid_from", "event_type")


@register(
    "q130_interval_concurrency",
    oracle="""
    WITH deltas AS (
      SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS delta
      FROM orders GROUP BY 1
      UNION ALL
      SELECT CAST(o_orderdate AS DATE) + 30 AS d, -count(*) AS delta
      FROM orders GROUP BY 1
    ), daily AS (
      SELECT d, sum(delta) AS delta FROM deltas GROUP BY d
    ), running AS (
      SELECT d, sum(delta) OVER (ORDER BY d
                                 ROWS UNBOUNDED PRECEDING) AS open_orders
      FROM daily
    )
    SELECT CAST(year(d) AS INT) AS yr,
           CAST(max(open_orders) AS BIGINT) AS peak_open
    FROM running GROUP BY 1 ORDER BY yr
    """,
    doc="Interval-overlap concurrency (max simultaneously-open orders, "
    "30-day lifetime) via the sweep-line recipe: ±1 deltas at interval "
    "endpoints, PRE-AGGREGATED per day before the running sum — the "
    "cumulative window then runs over ~date-cardinality rows (thousands) "
    "instead of 2N raw endpoints, so the one inherently-serial prefix "
    "scan is metadata-scale no matter how many intervals the fact table "
    "holds. The alternative (self-join on overlap) is O(N²) and never "
    "viable at 100 TB.",
)
def q130(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    starts = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("delta")
    )
    ends = orders.groupBy(F.date_add(F.to_date("o_orderdate"), 30).alias("d")).agg(
        (-F.count(F.lit(1))).alias("delta")
    )
    daily = (
        starts.unionByName(ends)
        .groupBy("d")
        .agg(F.sum("delta").alias("delta"))
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    running = daily.withColumn("open_orders", F.sum("delta").over(w))
    return (
        running.groupBy(F.year("d").cast("int").alias("yr"))
        .agg(F.max("open_orders").cast("long").alias("peak_open"))
        .orderBy("yr")
    )


@register(
    "q131_markov_transitions",
    oracle="""
    WITH pairs AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    ), counts AS (
      SELECT from_type, to_type, count(*) AS n
      FROM pairs WHERE to_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           round(CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY from_type), 6) AS p
    FROM counts
    ORDER BY from_type, to_type
    """,
    doc="First-order Markov transition matrix over per-user event "
    "sequences: lead() pairs adjacent events (one shuffle on user_id), "
    "the pair aggregate map-side combines, and row-normalization runs "
    "as a window over the tiny (types × types) count matrix. The "
    "behavioral-model summary that drives next-event prediction and "
    "anomalous-flow detection; all O(N) work is a single pass over the "
    "fact table.",
)
def q131(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    w_norm = Window.partitionBy("from_type")
    return (
        counts.withColumn(
            "p", F.round(F.col("n").cast("double") / F.sum("n").over(w_norm), 6)
        )
        .orderBy("from_type", "to_type")
    )


@register(
    "q132_rfm_segmentation",
    oracle="""
    WITH rfm AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             count(*) AS freq,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
      FROM orders GROUP BY o_custkey
    ), scored AS (
      SELECT o_custkey, monetary,
             ntile(5) OVER (ORDER BY last_order DESC, o_custkey) AS r,
             ntile(5) OVER (ORDER BY freq DESC, o_custkey) AS f,
             ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m
      FROM rfm
    )
    SELECT r * 100 + f * 10 + m AS segment,
           count(*) AS n_customers,
           CAST(sum(monetary) AS DOUBLE) AS total_monetary
    FROM scored GROUP BY 1 ORDER BY segment
    """,
    doc="RFM (recency/frequency/monetary) customer segmentation: one "
    "aggregate over orders builds the per-customer profile, three "
    "ntile(5) quintile scores (deterministic: unique custkey tiebreak) "
    "label each dimension, and segments aggregate the quintile cube. "
    "The ntile windows sort only the customer-level profile (orders "
    "cardinality already collapsed), and monetary stays exact decimal "
    "until the final cast — bit-stable under repartitioning. ntile's "
    "equal-count contract forces a single-partition sort of the "
    "profile; when even the PROFILE outgrows one task, switch to "
    "quantile-boundary bucketing (q138) — boundaries broadcast, rows "
    "never leave their partitions.",
)
def q132(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    rfm = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(dec("o_totalprice")).alias("monetary"),
    )
    scored = rfm.select(
        "o_custkey",
        "monetary",
        F.ntile(5).over(Window.orderBy(F.desc("last_order"), "o_custkey")).alias("r"),
        F.ntile(5).over(Window.orderBy(F.desc("freq"), "o_custkey")).alias("f"),
        F.ntile(5).over(Window.orderBy(F.desc("monetary"), "o_custkey")).alias("m"),
    )
    return (
        scored.groupBy(
            (F.col("r") * 100 + F.col("f") * 10 + F.col("m")).alias("segment")
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("monetary").cast("double").alias("total_monetary"),
        )
        .orderBy("segment")
    )


@register(
    "q133_hard_negative_mining",
    oracle=f"""
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round({_cos_sql('q', 'c')}, 6) AS cosine,
             row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY round({_cos_sql('q', 'c')}, 6) DESC, c.vec_id) AS rank
      FROM embeddings q JOIN embeddings c ON q.label != c.label
      WHERE q.vec_id < 10
    ) t WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    doc="Hard-negative mining for contrastive training: per query, the "
    "top-5 most-similar vectors with a DIFFERENT label — the pairs that "
    "sit closest to the decision boundary. Query side is broadcast "
    "(corpus never shuffles), cosines run JVM-side with the "
    "sequential-fold dot product (bit-identical to the oracle), and the "
    "label inequality prunes in the join condition before any scoring. "
    "At 100 TB the exact pass swaps for the LSH/IVF candidate "
    "generators (operators/similarity.py) with the same label filter.",
)
def q133(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    prep = emb.select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
        similarity.norm(F.col("embedding")).alias("nrm"),
    )
    q = (
        prep.filter(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("qlabel"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
        )
    )
    scored = (
        prep.join(F.broadcast(q), F.col("qlabel") != F.col("label"))
        .withColumn(
            "cosine",
            F.round(
                similarity.dot_d(F.col("qv"), F.col("v"))
                / (F.col("qnrm") * F.col("nrm")),
                6,
            ),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    )


@register(
    "q135_time_weighted_average",
    oracle="""
    WITH spans AS (
      SELECT user_id, value,
             date_diff('second', ts,
                       lead(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)) AS dt
      FROM events
    ), agg AS (
      SELECT user_id,
             sum(CAST(value AS DECIMAL(18,2)) * dt) AS wsum,
             sum(dt) AS tsum,
             count(*) AS n_spans
      FROM spans WHERE dt IS NOT NULL GROUP BY user_id
    )
    SELECT user_id,
           round(CAST(wsum AS DOUBLE) / tsum, 6) AS twap,
           CAST(n_spans AS BIGINT) AS n_spans
    FROM agg WHERE tsum > 0
    ORDER BY user_id
    """,
    doc="Time-weighted average (TWAP) per user: each reading is weighted "
    "by how long it was in effect (seconds until the next event, lead() "
    "over one user_id shuffle). The weighted sum stays exact — "
    "decimal(18,2) value × integer seconds — and converts to double "
    "once after aggregation, so the result is bit-stable under "
    "repartitioning. The sensor/price-feed aggregation where a plain "
    "AVG is simply wrong (irregular sampling), shaped as one window + "
    "one map-side-combining aggregate.",
)
def q135(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import time_weighted_avg

    ev = load(spark, sf_dir, "events")
    return time_weighted_avg(
        ev, "user_id", "ts", dec("value"), ["ts", "event_id"]
    ).orderBy("user_id")


@register(
    "q136_cooccurrence_similarity",
    oracle="""
    WITH m AS (
      SELECT user_id, event_type, count(*) AS c
      FROM events GROUP BY 1, 2
    ), norms AS (
      SELECT event_type, sum(c * c) AS ss FROM m GROUP BY 1
    ), dots AS (
      SELECT a.event_type AS t1, b.event_type AS t2,
             sum(a.c * b.c) AS dot
      FROM m a JOIN m b ON a.user_id = b.user_id
                       AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT t1, t2, CAST(dot AS BIGINT) AS dot,
           round(CAST(dot AS DOUBLE)
                 / (sqrt(CAST(n1.ss AS DOUBLE)) * sqrt(CAST(n2.ss AS DOUBLE))),
                 6) AS cosine
    FROM dots JOIN norms n1 ON n1.event_type = t1
              JOIN norms n2 ON n2.event_type = t2
    ORDER BY t1, t2
    """,
    doc="Item-item co-occurrence (collaborative-filtering) similarity: "
    "cosine between event types over per-user count vectors. The "
    "(user, item) matrix aggregates once; pair dot products come from "
    "a per-user self-join whose fan-out is bounded by items-per-user "
    "(never corpus²) and pre-aggregates map-side; norms re-aggregate "
    "the same matrix. All dot/norm inputs are exact integers, so the "
    "final doubles are bit-identical across engines. At 100 TB the "
    "standard refinement is capping each user's item list (top-T by "
    "count) before the self-join — the shape is unchanged.",
)
def q136(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    m = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    norms = m.groupBy("event_type").agg(F.sum(F.col("c") * F.col("c")).alias("ss"))
    a = m.select("user_id", F.col("event_type").alias("t1"), F.col("c").alias("c1"))
    b = m.select("user_id", F.col("event_type").alias("t2"), F.col("c").alias("c2"))
    dots = (
        a.join(b, "user_id")
        .filter(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(F.sum(F.col("c1") * F.col("c2")).alias("dot"))
    )
    n1 = norms.select(F.col("event_type").alias("t1"), F.col("ss").alias("ss1"))
    n2 = norms.select(F.col("event_type").alias("t2"), F.col("ss").alias("ss2"))
    return (
        dots.join(F.broadcast(n1), "t1")
        .join(F.broadcast(n2), "t2")
        .select(
            "t1",
            "t2",
            "dot",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("ss1").cast("double"))
                    * F.sqrt(F.col("ss2").cast("double"))
                ),
                6,
            ).alias("cosine"),
        )
        .orderBy("t1", "t2")
    )


@register(
    "q137_observed_metrics",
    # The observation rides the SAME job as the aggregate (no second
    # scan); the oracle pins the cross-check booleans TRUE and the
    # per-group aggregate carries the hash.
    oracle="""
    SELECT l_returnflag, count(*) AS cnt,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           TRUE AS metrics_rows_ok, TRUE AS metrics_qty_ok
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="Pipeline observability via df.observe(): row-count and exact "
    "decimal quantity-sum metrics are collected ON the scan that feeds "
    "the per-flag aggregate — one pass, no audit re-scan. The driver "
    "then cross-checks the observed totals against the aggregate's own "
    "group sums (exact decimal equality) and emits the verdict "
    "booleans. At 100 TB this is how a pipeline gets its "
    "rows-in/rows-out accounting for free; the alternative (a separate "
    "COUNT(*) job) doubles the scan cost.",
)
def q137(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    li = load(spark, sf_dir, "lineitem")
    obs = Observation("q137")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(dec("l_quantity")).alias("qty_sum"),
    )
    agg = (
        observed.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(dec("l_quantity")).alias("sum_qty_dec"),
        )
        .orderBy("l_returnflag")
    )
    rows = agg.collect()  # action fills the observation
    metrics = obs.get
    rows_ok = metrics["rows_seen"] == sum(r["cnt"] for r in rows)
    qty_ok = metrics["qty_sum"] == sum(r["sum_qty_dec"] for r in rows)
    out = spark.createDataFrame(
        [
            (r["l_returnflag"], r["cnt"], r["sum_qty_dec"], bool(rows_ok), bool(qty_ok))
            for r in rows
        ],
        "l_returnflag string, cnt long, sum_qty_dec decimal(28,2), "
        "metrics_rows_ok boolean, metrics_qty_ok boolean",
    )
    return out.select(
        "l_returnflag",
        "cnt",
        F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        "metrics_rows_ok",
        "metrics_qty_ok",
    ).orderBy("l_returnflag")


@register(
    "q138_quantile_bucket_scores",
    oracle="""
    WITH profile AS (
      SELECT o_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
      FROM orders GROUP BY o_custkey
    ), bounds AS (
      SELECT quantile_cont(monetary, 0.2) AS b1,
             quantile_cont(monetary, 0.4) AS b2,
             quantile_cont(monetary, 0.6) AS b3,
             quantile_cont(monetary, 0.8) AS b4
      FROM profile
    )
    SELECT 1 + CAST(monetary > b1 AS INT) + CAST(monetary > b2 AS INT)
             + CAST(monetary > b3 AS INT) + CAST(monetary > b4 AS INT) AS m_score,
           count(*) AS n_customers,
           round(sum(monetary), 2) AS total_monetary
    FROM profile, bounds
    GROUP BY 1 ORDER BY m_score
    """,
    doc="Quantile bucketing WITHOUT a global window — the 100 TB "
    "alternative to q132's ntile: quintile BOUNDARIES come from one "
    "percentile aggregate (exact interpolated, ≡ quantile_cont), "
    "broadcast back as a 1-row cross join, and every row scores itself "
    "with four comparisons in codegen. ntile must funnel all rows "
    "through a single-partition sort to assign equal-COUNT buckets; "
    "value-boundary buckets need only the boundary row, so the fact "
    "side never leaves its partitions. (Bucket populations differ from "
    "ntile only at boundary ties.)",
)
def q138(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    profile = orders.groupBy("o_custkey").agg(
        F.sum(dec("o_totalprice")).cast("double").alias("monetary")
    )
    bounds = profile.agg(
        F.percentile(
            "monetary", F.array(F.lit(0.2), F.lit(0.4), F.lit(0.6), F.lit(0.8))
        ).alias("bs")
    ).select(
        F.col("bs")[0].alias("b1"),
        F.col("bs")[1].alias("b2"),
        F.col("bs")[2].alias("b3"),
        F.col("bs")[3].alias("b4"),
    )
    score = (
        F.lit(1)
        + (F.col("monetary") > F.col("b1")).cast("int")
        + (F.col("monetary") > F.col("b2")).cast("int")
        + (F.col("monetary") > F.col("b3")).cast("int")
        + (F.col("monetary") > F.col("b4")).cast("int")
    )
    return (
        profile.crossJoin(F.broadcast(bounds))
        .select(score.alias("m_score"), "monetary")
        .groupBy("m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("monetary"), 2).alias("total_monetary"),
        )
        .orderBy("m_score")
    )


@register(
    "q142_zscore_outliers",
    oracle="""
    WITH per_user AS (
      SELECT user_id, event_type,
             sum(CAST(value AS DECIMAL(18,2))) AS total_dec
      FROM events GROUP BY user_id, event_type
    ), stats AS (
      SELECT event_type, count(*) AS n,
             CAST(sum(total_dec) AS DOUBLE) AS sx,
             CAST(sum(total_dec * total_dec) AS DOUBLE) AS sxx
      FROM per_user GROUP BY event_type
    )
    SELECT p.event_type, p.user_id,
           CAST(p.total_dec AS DOUBLE) AS total,
           round((CAST(p.total_dec AS DOUBLE) - s.sx / s.n)
                 / sqrt(greatest(1e-12, (s.sxx - s.sx * s.sx / s.n) / (s.n - 1))),
                 4) AS z
    FROM per_user p JOIN stats s ON p.event_type = s.event_type
    WHERE abs((CAST(p.total_dec AS DOUBLE) - s.sx / s.n)
              / sqrt(greatest(1e-12, (s.sxx - s.sx * s.sx / s.n) / (s.n - 1)))) > 3
    ORDER BY p.event_type, p.user_id
    """,
    doc="Per-group z-score outlier detection (|z| > 3 on per-user value "
    "totals): the anomaly-flagging pass every metrics pipeline runs. "
    "Totals stay exact decimal until one double cast; group mean and "
    "variance come from exact power sums computed ONCE per group (the "
    "q62 technique — native stddev accumulates doubles in partition "
    "order and is not reproducible at scale), then broadcast back via "
    "a tiny stats join. Two map-side-combining aggregates + one "
    "broadcast join; nothing funnels through a single partition.",
)
def q142(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    # power sums stay EXACT decimal until one double cast per group —
    # summing doubles would make z depend on partition combine order
    per_user = ev.groupBy("user_id", "event_type").agg(
        F.sum(dec("value")).alias("total_dec")
    )
    stats = per_user.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("total_dec").cast("double").alias("sx"),
        F.sum(F.col("total_dec") * F.col("total_dec")).cast("double").alias("sxx"),
    )
    total = F.col("total_dec").cast("double")
    z = (total - F.col("sx") / F.col("n")) / F.sqrt(
        F.greatest(
            F.lit(1e-12),
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
            / (F.col("n") - 1),
        )
    )
    return (
        per_user.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 3)
        .select(
            "event_type",
            "user_id",
            total.alias("total"),
            F.round(z, 4).alias("z"),
        )
        .orderBy("event_type", "user_id")
    )


@register(
    "q143_basket_affinity",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n_orders AS (
      SELECT count(DISTINCT l_orderkey) AS n FROM lineitem
    ), item AS (
      SELECT l_partkey, count(*) AS c FROM baskets GROUP BY l_partkey
    ), pair AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS c12
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 3
    )
    SELECT p1, p2, c12,
           round(CAST(c12 AS DOUBLE) * t.n
                 / (CAST(i1.c AS DOUBLE) * i2.c), 6) AS lift
    FROM pair JOIN item i1 ON i1.l_partkey = p1
              JOIN item i2 ON i2.l_partkey = p2
              CROSS JOIN n_orders t
    ORDER BY lift DESC, p1, p2
    LIMIT 100
    """,
    doc="Market-basket affinity (co-occurrence lift of part pairs within "
    "orders, support ≥ 3): pairs come from an equi-join on the ORDER "
    "key, so the expansion is Σ(basket size²) — bounded by the ~7-item "
    "TPC-H basket, never corpus² — and the pair aggregate map-side "
    "combines. Item supports and the order total re-aggregate the same "
    "deduped basket relation; lift's inputs are exact integers inside "
    "one double expression, so both engines emit identical values. "
    "Top-100 by lift with full tiebreak.",
)
def q143(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    # r13 (guide §2.4): ONE exchange builds the per-order basket sets —
    # collect_set dedups, folding the old distinct's (orderkey, partkey)
    # exchange into the same shuffle — and the n_orders count, the item
    # counts and the co-occurrence pairs all derive from the cached sets
    # ARRAY-SIDE, so the o-keyed basket self-join and its exchanges are
    # gone; only the final (p1, p2) support count still shuffles.
    # Baskets are lineitems-per-order-bounded (≤7 at any TPC-H scale).
    # persisted: three consumers (count action, item counts, pairs).
    sets = materialize.persist(
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
    )
    n_orders = sets.count()
    item = (
        sets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pair = (
        sets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ps",
                        lambda x, i: F.transform(
                            F.slice("ps", i + F.lit(2), F.size("ps")),
                            lambda y: F.struct(x.alias("p1"), y.alias("p2")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.p1", "p.p2")
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= 3)
    )
    i1 = item.select(F.col("l_partkey").alias("p1"), F.col("c").alias("c1"))
    i2 = item.select(F.col("l_partkey").alias("p2"), F.col("c").alias("c2"))
    lift = F.round(
        F.col("c12").cast("double")
        * F.lit(n_orders)
        / (F.col("c1").cast("double") * F.col("c2")),
        6,
    )
    return (
        pair.join(i1, "p1")
        .join(i2, "p2")
        .select("p1", "p2", "c12", lift.alias("lift"))
        .orderBy(F.desc("lift"), "p1", "p2")
        .limit(100)
    )
