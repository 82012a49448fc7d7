"""Q27–Q28: the Python boundary (SURVEY.md §2F).

Q27 recomputes the Q20 string kernel with a row-at-a-time Python UDF and
an Arrow-batched pandas UDF and proves both equal the JVM built-ins —
the equality flags are part of the checked output.

Q28 is a grouped-map UDAF (``applyInPandas``): per-nation trimmed mean.
Money is converted to integer cents inside the UDF so the result is
deterministic (no float summation-order dependence), matching an
integer-exact SQL oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType

from .. import materialize
from ..tables import load
from ._registry import register


@register(
    "q27_udf_parity",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS u_builtin,
           upper(p_name) AS u_py,
           length(p_name) AS len_pd,
           true AS py_matches,
           true AS pd_matches
    FROM part
    ORDER BY p_partkey
    """,
    doc="Python UDF + pandas UDF re-deriving built-in upper/length; the "
    "match flags are literally checked against the oracle's `true`.",
)
def q27(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")

    @F.udf(returnType=StringType())
    def py_upper(s):
        return s.upper() if s is not None else None

    @F.pandas_udf(IntegerType())
    def pd_len(s: pd.Series) -> pd.Series:
        return s.str.len().astype("int32")

    return (
        part.select(
            "p_partkey",
            F.upper("p_name").alias("u_builtin"),
            py_upper("p_name").alias("u_py"),
            pd_len("p_name").alias("len_pd"),
        )
        .withColumn("py_matches", F.col("u_py") == F.col("u_builtin"))
        .withColumn("pd_matches", F.col("len_pd") == F.length(F.col("u_builtin")))
        .orderBy("p_partkey")
    )


@register(
    "q28_grouped_pandas_udaf",
    oracle="""
    WITH joined AS (
      SELECT n.n_name, CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
    ), ranked AS (
      SELECT n_name, cents,
             row_number() OVER (PARTITION BY n_name ORDER BY cents) AS rn,
             count(*)     OVER (PARTITION BY n_name) AS n
      FROM joined
    )
    SELECT n_name,
           count(*) AS n_used,
           CAST(sum(cents) AS DOUBLE) / count(*) / 100.0 AS trimmed_mean
    FROM ranked
    WHERE rn > CAST(floor(n * 0.1) AS BIGINT)
      AND rn <= n - CAST(floor(n * 0.1) AS BIGINT)
    GROUP BY n_name
    ORDER BY n_name
    """,
    doc="applyInPandas UDAF: 10%-trimmed mean of order totals per nation. "
    "Arrow-batched, one shuffle on the group key; integer-cents math "
    "keeps it deterministic. Groups are nation-sized — at 100 TB the "
    "group payload (not count) grows, which a sort within the pandas "
    "batch handles as long as a group fits an executor; for wider keys "
    "this same shape scales to millions of groups.",
)
def q28(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")

    joined = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(
            "n_name",
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
        )
    )

    def trimmed_mean(pdf: pd.DataFrame) -> pd.DataFrame:
        v = np.sort(pdf["cents"].to_numpy())
        k = int(len(v) * 0.1)  # same floor(double) as the SQL oracle
        used = v[k : len(v) - k]
        return pd.DataFrame(
            {
                "n_name": [pdf["n_name"].iloc[0]],
                "n_used": [np.int64(len(used))],
                "trimmed_mean": [float(used.sum()) / len(used) / 100.0],
            }
        )

    return (
        joined.groupBy("n_name")
        .applyInPandas(trimmed_mean, schema="n_name string, n_used long, trimmed_mean double")
        .orderBy("n_name")
    )


@register(
    "q118_python_udtf",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents WHERE doc_id < 50
    )
    SELECT doc_id, token, count(*) AS cnt
    FROM toks
    WHERE length(token) >= 6
    GROUP BY doc_id, token
    ORDER BY doc_id, token
    """,
    doc="Python user-defined TABLE function (Spark 3.5+ @udtf API): a "
    "1-row -> N-rows tokenizer exposed through LATERAL join SQL — the "
    "remaining Python-extension surface after scalar UDFs (q27), "
    "grouped UDAFs (q28), and mapInPandas (q37). UDTFs run "
    "row-at-a-time in the Python worker, so this tier is for logic "
    "that genuinely needs per-row generators; the oracle (and the "
    "100 TB path) is the codegen explode the planner uses everywhere "
    "else in this repo — the entry proves API parity, not a "
    "performance recommendation.",
)
def q118(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="token: string")
    class Tokenize:
        def eval(self, text: str):
            for tok in (text or "").split(" "):
                if len(tok) >= 6:
                    yield (tok,)

    materialize.temp_function(spark, "q118_tokenize", Tokenize)
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    materialize.temp_view(docs, "q118_docs")
    return spark.sql(
        """
        SELECT d.doc_id, t.token, count(*) AS cnt
        FROM q118_docs d, LATERAL q118_tokenize(d.text) t
        GROUP BY d.doc_id, t.token
        ORDER BY d.doc_id, t.token
        """
    )
