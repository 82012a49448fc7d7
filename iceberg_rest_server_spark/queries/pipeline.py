"""Q155–Q159: round-7 tier — pipeline hygiene and engine statistics
(SURVEY.md §2F extensions).

- Q155: intra-document repeat collapse — run-length dedup of consecutive
  repeated tokens WITHIN each document (the within-doc complement of the
  cross-doc dedup family q31/q99/q113; CCNet-style inline cleanup).
  Implemented as a single higher-order-function expression — zero
  shuffles, zero UDFs, pure map-side whole-stage codegen.
- Q156: ANALYZE-style column statistics — per-column row/null/NDV/
  min/max profile of a table in one pass, the stats a cost-based
  optimizer (or a data-quality gate) collects before planning.
- Q157: triangle counting over the co-supply graph — the classic
  distributed graph kernel, implemented with degree orientation
  (node-iterator++) so the wedge join fans out from the LOW-degree
  endpoint; the oracle re-counts with an independent ordered
  triple-join derivation.
- Q158: linear-interpolation resampling — per-user hourly grid where
  missing hours are linearly interpolated between the nearest observed
  values (the interpolation complement of q86's ffill gap-fill).
- Q159: BPE merge candidates — the first merge iteration of
  byte-pair-encoding tokenizer training: frequency-weighted adjacent
  character-pair counts, computed on the (tiny) distinct-word vocabulary
  rather than the raw corpus.

Determinism (driver hash-match contract): Q155/Q156/Q157/Q159 emit only
integers, input strings, and md5 digests. Q158 emits doubles, but every
double is either an exact DECIMAL sum divided by an integer count or the
identically-shaped interpolation expression evaluated on those — IEEE
double ops on identical inputs are bit-deterministic, and both engines
compute the same expression tree (no reduction-order-dependent float
sums anywhere).

100 TB notes: Q155 is map-only — scales trivially. Q156's exact
multi-distinct agg expands the scan ×ncols (Spark's Expand); at petabyte
scale you'd swap exact NDV for the mergeable HLL-sketch rollup (q111
pattern) and keep min/max/null counts exact — noted in the docstring,
and the exact form stays the oracle-checkable contract here. Q157 never
materializes wedges at high-degree hubs: degree orientation bounds each
node's fan-out by O(sqrt(|E|)) arboricity, the standard bound. Q158's
grid explode is per-user-bounded (sequence between that user's own
min/max hour); state never exceeds the observed span. Q159 aggregates
the corpus to its vocabulary FIRST (one shuffle on the word), then
explodes character pairs on the vocab — corpus-size-independent
fan-out.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import materialize
from ..tables import load
from ._registry import register

# ---------------------------------------------------------------- Q155


@register(
    "q155_intradoc_repeat_collapse",
    oracle="""
    WITH s AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    c AS (
      SELECT doc_id, w,
             list_filter(w, (x, i) -> i = 1 OR x <> w[i - 1]) AS kept
      FROM s
    )
    SELECT doc_id,
           CAST(len(w) AS BIGINT)            AS n_words,
           CAST(len(kept) AS BIGINT)         AS n_kept,
           CAST(len(w) - len(kept) AS BIGINT) AS n_collapsed,
           md5(array_to_string(kept, ' '))   AS collapsed_md5
    FROM c
    ORDER BY doc_id
    """,
    doc="Intra-document repeat collapse: remove CONSECUTIVE duplicate "
    "tokens inside each document (run-length dedup), keeping the first "
    "of each run — inline cleanup of stutter artifacts, the within-doc "
    "complement of cross-doc dedup (q31/q99/q113). One higher-order "
    "filter((x,i) -> i = 0 OR x != w[i-1]) expression per row: no "
    "shuffle, no UDF, whole-stage codegen end to end; the collapsed "
    "text is emitted as an md5 digest so rows stay narrow.",
)
def q155(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    s = docs.select("doc_id", F.split(F.col("text"), " ").alias("w"))
    c = s.withColumn("kept", F.expr("filter(w, (x, i) -> i = 0 OR x != w[i - 1])"))
    return c.select(
        "doc_id",
        F.size("w").cast("long").alias("n_words"),
        F.size("kept").cast("long").alias("n_kept"),
        (F.size("w") - F.size("kept")).cast("long").alias("n_collapsed"),
        F.md5(F.array_join("kept", " ")).alias("collapsed_md5"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------- Q156

# (column, kind) — kind drives which stat slots are populated:
#   num: min/max as DOUBLE (raw input values, hash-exact)
#   str: min/max as VARCHAR + total_len
#   ts:  min/max as epoch seconds (BIGINT→DOUBLE; UTC both engines)
_Q156_COLS = (
    ("l_orderkey", "num"),
    ("l_partkey", "num"),
    ("l_quantity", "num"),
    ("l_extendedprice", "num"),
    ("l_returnflag", "str"),
    ("l_shipdate", "ts"),
)


def _q156_oracle() -> str:
    parts = []
    for col, kind in _Q156_COLS:
        if kind == "num":
            mn, mx, ms, xs, tl = (
                f"CAST(min({col}) AS DOUBLE)",
                f"CAST(max({col}) AS DOUBLE)",
                "NULL",
                "NULL",
                "NULL",
            )
        elif kind == "ts":
            mn, mx, ms, xs, tl = (
                f"CAST(epoch(min({col})) AS DOUBLE)",
                f"CAST(epoch(max({col})) AS DOUBLE)",
                "NULL",
                "NULL",
                "NULL",
            )
        else:
            mn, mx, ms, xs, tl = (
                "NULL",
                "NULL",
                f"min({col})",
                f"max({col})",
                f"CAST(sum(length({col})) AS BIGINT)",
            )
        parts.append(
            f"""
            SELECT '{col}' AS col_name,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(*) - count({col}) AS BIGINT) AS n_null,
                   CAST(count(DISTINCT {col}) AS BIGINT) AS ndv,
                   CAST({mn} AS DOUBLE) AS min_num,
                   CAST({mx} AS DOUBLE) AS max_num,
                   CAST({ms} AS VARCHAR) AS min_str,
                   CAST({xs} AS VARCHAR) AS max_str,
                   CAST({tl} AS BIGINT) AS total_len
            FROM lineitem
            """
        )
        parts.append("UNION ALL")
    return "\n".join(parts[:-1]) + "\nORDER BY col_name"


@register(
    "q156_analyze_column_stats",
    oracle=_q156_oracle(),
    doc="ANALYZE-style column statistics: one row per profiled lineitem "
    "column with row count, null count, exact NDV, min/max (doubles and "
    "epoch seconds in min_num/max_num, strings in min_str/max_str), and "
    "total string length — the stats a cost-based optimizer collects "
    "before join reordering, and a data-quality gate checks per "
    "snapshot. One independent branch per column: groupBy(value) with "
    "map-side combine collapses each column to its distinct values "
    "(cnt per value), then a global re-aggregate derives every stat "
    "from the value table — NO Expand, no multi-distinct plan (the "
    "naive countDistinct-x6 agg measured 5x slower: Expand multiplies "
    "the scan x6 before the shuffle, here only distinct values shuffle "
    "and each branch scans ONE parquet column, so total I/O equals one "
    "full-width scan). 100 TB: swap exact NDV for mergeable HLL "
    "partials (q111 pattern) to make each branch shuffle-free; min/max/"
    "null stay exact either way. Oracle is an independent per-column "
    "UNION ALL derivation.",
)
def q156(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    branches = []
    for col, kind in _Q156_COLS:
        c = F.col(col)
        # distinct-value table: one narrow column shuffles, map-side
        # combined; null values form their own group (null count).
        vals = li.select(c).groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        if kind == "num":
            mn = F.min(c).cast("double")
            mx = F.max(c).cast("double")
        elif kind == "ts":
            mn = F.unix_timestamp(F.min(c)).cast("double")
            mx = F.unix_timestamp(F.max(c)).cast("double")
        else:
            mn = F.lit(None).cast("double")
            mx = F.lit(None).cast("double")
        if kind == "str":
            ms, xs = F.min(c), F.max(c)
            tl = F.sum(F.length(c) * F.col("cnt")).cast("long")
        else:
            ms = F.lit(None).cast("string")
            xs = F.lit(None).cast("string")
            tl = F.lit(None).cast("long")
        branches.append(
            vals.agg(
                F.lit(col).alias("col_name"),
                F.sum("cnt").cast("long").alias("n_rows"),
                F.coalesce(
                    F.sum(F.when(c.isNull(), F.col("cnt"))), F.lit(0)
                ).cast("long").alias("n_null"),
                F.count(c).cast("long").alias("ndv"),
                mn.alias("min_num"),
                mx.alias("max_num"),
                ms.alias("min_str"),
                xs.alias("max_str"),
                tl.alias("total_len"),
            )
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionAll(b)
    return out.orderBy("col_name")


# ---------------------------------------------------------------- Q157

_Q157_SUPPORT = 25  # minimum co-occurrence count for a co-supply edge


def _cosupply_edges(li: DataFrame) -> DataFrame:
    """Co-supply edges (u < v suppliers sharing ≥ _Q157_SUPPORT orders).

    r13 (guide §2.4): ONE exchange instead of three. The old shape —
    distinct (Exchange on (o, s)) feeding an o-keyed self-join (Exchange
    on o) whose pair mass then shuffles to groupBy(u, v) — is replaced
    by groupBy(o).collect_set(s) (collect_set dedups, so the distinct's
    exchange folds into this one; partial map-side collection applies)
    with the u<v pairs generated ARRAY-SIDE from the sorted supplier
    set, so only the final (u, v) support count shuffles. Per-order
    supplier sets are lineitems-per-order-bounded (≤7 at any TPC-H
    scale), so the array fan-out is constant-bounded per row.
    """
    sets = (
        li.select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s"))
        .groupBy("o")
        .agg(F.array_sort(F.collect_set("s")).alias("ss"))
    )
    pairs = sets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ss",
                    lambda x, i: F.transform(
                        F.slice("ss", i + F.lit(2), F.size("ss")),
                        lambda y: F.struct(x.alias("u"), y.alias("v")),
                    ),
                )
            )
        ).alias("p")
    )
    return (
        pairs.select("p.u", "p.v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= _Q157_SUPPORT)
        .select("u", "v")
    )


@register(
    "q157_triangle_count",
    oracle=f"""
    WITH os AS (
      SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem
    ),
    pair AS (
      SELECT a.s AS u, b.s AS v
      FROM os a JOIN os b ON a.o = b.o AND a.s < b.s
    ),
    edges AS (
      SELECT u, v FROM pair GROUP BY u, v HAVING count(*) >= {_Q157_SUPPORT}
    ),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e2.u = e1.v
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT CAST((SELECT count(DISTINCT n)
                 FROM (SELECT u AS n FROM edges
                       UNION ALL SELECT v FROM edges)) AS BIGINT) AS n_nodes,
           CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
           CAST((SELECT n_triangles FROM tri) AS BIGINT) AS n_triangles
    """,
    doc="Triangle counting on the co-supply graph (suppliers that "
    "co-occur in >= 25 orders share an edge). Spark side uses degree "
    "orientation (node-iterator++): every edge is re-oriented from its "
    "lower-(degree,id) endpoint, wedges fan out only from low-degree "
    "sources (fan-out bounded by graph arboricity ~ sqrt(|E|)), and a "
    "final join closes the wedge — hub-skew-proof where a naive "
    "adjacency self-join is quadratic in the hub degree. The oracle "
    "re-counts with an independent a<b<c ordered triple-join.",
)
def q157(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    with materialize.scope() as owned:  # edges; the result is kept
        edges = materialize.persist(_cosupply_edges(li))

        # Degree orientation: orient each undirected edge from the endpoint
        # with the smaller (degree, id) pair. Wedge fan-out is then bounded
        # by the graph's arboricity instead of its max degree.
        deg = (
            edges.select(F.col("u").alias("n"))
            .unionAll(edges.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
        dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
        ranked = edges.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
        lower_first = (F.col("du") < F.col("dv")) | (
            (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
        )
        oriented = ranked.select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(lower_first, F.col("du")).otherwise(F.col("dv")).alias("dsrc"),
            F.when(lower_first, F.col("dv")).otherwise(F.col("du")).alias("ddst"),
        )

        # Wedges from a common low-degree source; keep one ordering per pair
        # (by the same (degree, id) rank) so each triangle closes exactly once.
        e1, e2 = oriented.alias("e1"), oriented.alias("e2")
        wedges = e1.join(e2, F.col("e1.src") == F.col("e2.src")).filter(
            (F.col("e1.ddst") < F.col("e2.ddst"))
            | ((F.col("e1.ddst") == F.col("e2.ddst")) & (F.col("e1.dst") < F.col("e2.dst")))
        )
        closing = oriented.select(F.col("src").alias("x"), F.col("dst").alias("y"))
        tri = wedges.join(
            closing,
            (F.col("e1.dst") == F.col("x")) & (F.col("e2.dst") == F.col("y")),
            "left_semi",
        )

        n_tri = tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        n_edges = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
        n_nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        out = n_nodes.crossJoin(n_edges).crossJoin(n_tri)
        result = owned.keep(materialize.checkpoint(out, eager=True))
    return result


# ---------------------------------------------------------------- Q158

_Q158_USERS = 30  # user_id bound: keeps the per-user grids oracle-sized


@register(
    "q158_linear_interpolation",
    oracle=f"""
    WITH hourly AS (
      SELECT user_id,
             CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS h,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               / count(*) AS v
      FROM events
      WHERE user_id < {_Q158_USERS}
      GROUP BY 1, 2
    ),
    bounds AS (
      SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1
    ),
    grid AS (
      SELECT user_id, CAST(h0 + unnest(range(h1 - h0 + 1)) AS BIGINT) AS h
      FROM bounds
    ),
    j AS (
      SELECT g.user_id, g.h, hv.v
      FROM grid g LEFT JOIN hourly hv
        ON g.user_id = hv.user_id AND g.h = hv.h
    ),
    filled AS (
      SELECT user_id, h, v,
             last_value(v IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY h
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_prev,
             last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY h
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS h_prev,
             first_value(v IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY h
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_next,
             first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY h
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS h_next
      FROM j
    )
    SELECT user_id, h,
           CASE WHEN v IS NOT NULL THEN v
                ELSE v_prev + (v_next - v_prev) * (h - h_prev)
                              / (h_next - h_prev) END AS v_filled,
           v IS NULL AS interpolated
    FROM filled
    ORDER BY user_id, h
    """,
    doc="Linear-interpolation resampling: each user's event values are "
    "averaged to an hourly series, the series is expanded to a dense "
    "per-user hour grid (sequence between that user's own min/max hour "
    "— state bounded by the observed span, never a global calendar "
    "explode), and missing hours are linearly interpolated between the "
    "nearest observed neighbours via IGNORE NULLS window scans. The "
    "interpolation complement of q86's forward-fill. Hourly means are "
    "exact DECIMAL sums / integer counts; the interpolation expression "
    "tree is identical in both engines, so doubles hash-match.",
)
def q158(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < _Q158_USERS)
    hourly = ev.groupBy(
        "user_id",
        (F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600)
        .cast("long")
        .alias("h"),
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("v")
    )
    bounds = hourly.groupBy("user_id").agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = bounds.select(
        "user_id", F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h")
    )
    j = grid.join(hourly, ["user_id", "h"], "left")
    w_back = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    h_if_v = F.when(F.col("v").isNotNull(), F.col("h"))
    filled = j.select(
        "user_id",
        "h",
        "v",
        F.last("v", ignorenulls=True).over(w_back).alias("v_prev"),
        F.last(h_if_v, ignorenulls=True).over(w_back).alias("h_prev"),
        F.first("v", ignorenulls=True).over(w_fwd).alias("v_next"),
        F.first(h_if_v, ignorenulls=True).over(w_fwd).alias("h_next"),
    )
    return filled.select(
        "user_id",
        "h",
        F.when(F.col("v").isNotNull(), F.col("v"))
        .otherwise(
            F.col("v_prev")
            + (F.col("v_next") - F.col("v_prev"))
            * (F.col("h") - F.col("h_prev"))
            / (F.col("h_next") - F.col("h_prev"))
        )
        .alias("v_filled"),
        F.col("v").isNull().alias("interpolated"),
    ).orderBy("user_id", "h")


# ---------------------------------------------------------------- Q159


@register(
    "q159_bpe_merge_candidates",
    oracle="""
    WITH words AS (
      SELECT w, CAST(count(*) AS BIGINT) AS wc
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE length(w) >= 2
      GROUP BY w
    ),
    pairs AS (
      SELECT unnest([substr(w, i, 2) FOR i IN range(1, length(w))]) AS pair,
             wc
      FROM words
    )
    SELECT pair, CAST(sum(wc) AS BIGINT) AS cnt
    FROM pairs
    GROUP BY pair
    ORDER BY cnt DESC, pair
    LIMIT 20
    """,
    doc="BPE merge candidates: the first merge iteration of byte-pair-"
    "encoding tokenizer training — frequency-weighted counts of "
    "adjacent character pairs, top-20 merge candidates. The corpus is "
    "first aggregated to its distinct-word vocabulary (one shuffle on "
    "the word, map-side combined), and the character-pair explode runs "
    "on the VOCABULARY weighted by word frequency — fan-out is "
    "vocab-sized, independent of corpus size; this is exactly how "
    "production BPE trainers scale. transform(sequence(...)) keeps the "
    "pair extraction in codegen, no UDF.",
)
def q159(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wc"))
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "wc",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(20)
    )


# ---------------------------------------------------------------- Q176


@register(
    "q176_bfs_levels",
    # DuckDB side: recursive CTE with UNION-DISTINCT recursion, so the
    # working set is bounded by nodes × (max_depth+1) rows — never walk
    # enumeration (UNION ALL would enumerate exponentially many walks on
    # a cyclic graph); min(dist) per node afterwards = BFS level.
    oracle=f"""
    WITH RECURSIVE os AS (
      SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem
    ),
    pair AS (
      SELECT a.s AS u, b.s AS v
      FROM os a JOIN os b ON a.o = b.o AND a.s < b.s
    ),
    e0 AS (SELECT u, v FROM pair GROUP BY u, v HAVING count(*) >= {_Q157_SUPPORT}),
    edges AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
    src AS (SELECT min(u) AS s FROM edges),
    bfs AS (
      -- empty graph => empty seed => empty result (matches Spark side)
      SELECT s AS node, 0 AS dist FROM src WHERE s IS NOT NULL
      UNION
      SELECT e.v, b.dist + 1
      FROM bfs b JOIN edges e ON e.u = b.node
      WHERE b.dist < 8
    ),
    dmin AS (SELECT node, min(dist) AS dist FROM bfs GROUP BY node)
    SELECT CAST(dist AS INT) AS dist,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(node) AS BIGINT) AS sum_keys
    FROM dmin GROUP BY dist ORDER BY dist
    """,
    doc="BFS levels (single-source shortest hop distance, depth ≤ 8) "
    "over q157's co-supply graph from its minimum-key node — the "
    "reachability/radius probe of the graph family (CC q49, PageRank "
    "q96, triangles q157). Spark side is the production shape: one "
    "frontier equi-join + LEFT ANTI visited-dedup per level, frontier "
    "localCheckpoint'ed each round (the q49/q96 bounded-round "
    "discipline — lineage stays flat, ONE count action per level that "
    "also materializes the lazy checkpoint; the visited set is the "
    "union of the cached per-level frontiers, never re-materialized; "
    "early exit on an exhausted frontier). The oracle re-derives the "
    "same levels with a UNION-distinct recursive CTE. 100 TB: frontier "
    "and visited set are distributed DataFrames, the per-level cost is "
    "one shuffle join — no adjacency ever collects to the driver.",
)
def q176(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    e0 = _cosupply_edges(li)
    schema = "node long, dist int"
    with materialize.scope() as owned:  # edges; every level is kept
        edges = materialize.persist(
            e0.unionByName(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        )
        src = edges.agg(F.min("u")).collect()[0][0]
        if src is None:  # no edge reaches the support threshold at this sf
            return spark.createDataFrame([], schema).groupBy("dist").agg(
                F.count(F.lit(1)).cast("long").alias("n_nodes"),
                F.sum("node").cast("long").alias("sum_keys"),
            )
        # r13 (guide §1.2/§5): ONE action per level instead of three. The
        # new frontier is checkpointed lazily and materialized by the same
        # count() that drives the exit test (previously: eager checkpoint
        # job + isEmpty job), and the visited set is kept as the list of
        # per-level checkpointed frontiers — the anti-join unions the
        # cached pieces instead of re-materializing a growing visited
        # table every level (previously: one more full pass over visited
        # per level).
        first = spark.createDataFrame([(int(src), 0)], schema)
        levels = [owned.keep(materialize.checkpoint(first, eager=True))]
        frontier = levels[0].select("node")
        for level in range(1, 9):
            visited_nodes = reduce(DataFrame.unionByName, levels).select("node")
            nxt = materialize.checkpoint(
                frontier.join(edges, frontier["node"] == edges["u"])
                .select(F.col("v").alias("node"))
                .distinct()
                .join(visited_nodes, "node", "left_anti")
                .withColumn("dist", F.lit(level))
            )
            if nxt.count() == 0:
                break
            levels.append(owned.keep(nxt))
            frontier = nxt.select("node")
    return (
        reduce(DataFrame.unionByName, levels)
        .groupBy("dist")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("node").cast("long").alias("sum_keys"),
        )
        .orderBy("dist")
    )
