"""Shuffle-partition-count invariance for float-emitting queries.

The q145 lesson (r6): a result that depends on partition MERGE ORDER
(float summation order, sketch merge order) can pass the DuckDB oracle
on one box and flake on another, because `spark.sql.shuffle.partitions`
changes which partials meet first. Every query's determinism discipline
(decimal sums, exact-integer-derived libm inputs, selection-only
quantiles, rank-band sketch gates) exists precisely to make results
partition-count independent — this suite pins that property directly:
each float-emitting query must produce BIT-IDENTICAL results at 32 and
at 7 shuffle partitions.
"""

from __future__ import annotations

import pytest

from iceberg_rest_server_spark import materialize
from iceberg_rest_server_spark.oracle import compare_frames
from iceberg_rest_server_spark.queries._registry import REGISTRY

# The queries whose outputs carry doubles derived through aggregation —
# the ones partition-order nondeterminism could bite. Selection-only and
# integer-count queries are structurally immune; spot-check a few anyway.
FLOAT_EMITTERS = [
    "q41_percentiles",
    "q62_stats_moments",
    "q112_domain_kl_drift",
    "q122_grouped_ols_trend",
    "q126_pmi_collocations",
    "q146_bigram_lm_perplexity",
    "q149_skipgram_associations",
    "q150_winsorized_stats",
    "q151_embedding_dim_audit",
    "q153_join_key_skew_profile",
    "q158_linear_interpolation",
    # r7 model-eval tier: AUC's exact-integer ratio, chi2's DECIMAL cell
    # sum, EWMA's DECIMAL power-of-two weighted sum, calibration's
    # DECIMAL mean-score — each claims order-independence; pin it.
    "q164_auc_rank_sum",
    "q165_chi_squared_independence",
    "q167_ewma_bounded",
    "q168_spatial_grid_join",
    "q170_calibration_bins",
    "q185_bootstrap_ci",
    "q188_seasonality_strength",
    # r8 warehouse tier: OHLC's DECIMAL volume sum, Benford's int-ratio
    # rates, KS's exact-integer ECDF ratios, Gini's DECIMAL(38,0) rank
    # sums, entropy's DECIMAL-quantized c·ln(c) terms.
    "q190_ohlc_bars",
    "q191_benford_deviation",
    "q194_ks_two_sample",
    "q195_gini_concentration",
    "q198_char_entropy",
    "q199_multitouch_attribution",
    "q203_sliding_distinct_users",
    "q204_array_fold_kernels",
]


@pytest.mark.parametrize("name", FLOAT_EMITTERS)
def test_partition_count_invariance(spark, sf_dir, name):
    with materialize.scope():
        base = REGISTRY[name].fn(spark, sf_dir).toPandas()
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        with materialize.scope():
            alt = REGISTRY[name].fn(spark, sf_dir).toPandas()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    r = compare_frames(name, base, alt)
    assert r.ok, f"{name} varies with partition count: {r.detail} {r.diffs[:3]}"
