"""``query-mix`` workload: a fixed subset of registry queries on
``local[nproc]``, each materialized with ``toPandas``, over generated
sf0.01 tables. One untimed warm pass, then timed passes while another
whole pass fits in the window. The timed passes involve no catalog.

Groups (two queries each):
- scan: TPC-H Q1 and Q3 shapes, one or two jobs over lineitem scans;
- multi-job: the recursive CTE hierarchy and the foreign-key integrity
  audit, among the highest job counts in the registry (the scheduler
  floor);
- operator: the bigram language-model perplexity (which leaves a
  persisted RDD behind) and the UDF parity query, Python UDF work;
- stream: the tumbling-window replay and the CDC upsert sink, the
  micro-batch and state-store path.

The traced run adds one iteration of the lakehouse DML script
(``lakehouse_dml.py``) after the traced pass, against a catalog server
of its own, for the ``catalog.spark_table`` and ``catalog.datasource``
per-layer metrics.
"""

from __future__ import annotations

import time
from collections import defaultdict
from pathlib import Path

import datagen
import lakehouse_dml

from common import median, metric, peak_rss_mb, percentile
from spark_env import jvm_pid, start_spark, stop_spark
from spark_probe import SparkProbe, mean_layers

SF = 0.01
GROUPS = {
    "scan": ("q63_tpch_q1", "q64_tpch_q3"),
    "multi-job": ("q161_recursive_cte_hierarchy", "q192_fk_integrity_audit"),
    "operator": ("q146_bigram_lm_perplexity", "q27_udf_parity"),
    "stream": ("q29_stream_tumbling_window", "q134_stream_cdc_upsert"),
}
ORDER = [q for names in GROUPS.values() for q in names]


def run_pass(spark, sf_dir: str, measure=None) -> tuple[dict, dict, dict]:
    """One pass over ORDER: wall seconds and the pandas result per query,
    plus per-query counters when ``measure`` is a SparkProbe."""
    from iceberg_rest_server_spark.queries import REGISTRY

    walls, results, layers = {}, {}, {}
    for name in ORDER:
        fn = REGISTRY[name].fn

        def materialize(fn=fn):
            return fn(spark, sf_dir).toPandas()

        if measure is None:
            t0 = time.perf_counter()
            results[name] = materialize()
            walls[name] = time.perf_counter() - t0
        else:
            results[name], walls[name], layers[name] = measure.measure(materialize)
    return walls, results, layers


def check_results(results: dict, sf_dir: str) -> list[str]:
    """Each result against its DuckDB oracle over the same files."""
    from iceberg_rest_server_spark.oracle import compare_frames, duck_connect
    from iceberg_rest_server_spark.queries import REGISTRY

    con = duck_connect(sf_dir)
    try:
        problems = []
        for name, pdf in results.items():
            r = compare_frames(name, pdf, con.sql(REGISTRY[name].oracle).df())
            if not r.ok:
                problems.append(f"{name}: {r.detail}")
        return problems
    finally:
        con.close()


def summarize(samples: dict[str, list[float]]) -> tuple[dict, dict]:
    """End-to-end metrics from each query's median wall time, so that
    they do not depend on how many passes fit in the window."""
    per_query = {q: median(v) for q, v in samples.items()}
    walls_ms = [w * 1000 for w in per_query.values()]

    def group_p50(group: str) -> float:
        return median([per_query[q] * 1000 for q in GROUPS[group]])

    metrics = {
        "ops_per_s": len(per_query) / sum(per_query.values()),
        "op_p50_ms": median(walls_ms),
        "op_p90_ms": percentile(walls_ms, 90),
        "read_p50_ms": group_p50("scan"),
        "write_p50_ms": group_p50("stream"),
        "multi_p50_ms": group_p50("multi-job"),
    }
    detail = {
        "query_wall_sum_s": sum(per_query.values()),
        "query_wall_p50_s": median(walls_ms) / 1000,
        "group_wall_sum_s": {
            g: sum(per_query[q] for q in names) for g, names in GROUPS.items()},
        "query_wall_s": per_query,
    }
    return metrics, detail


def run(work: Path, seed: int, seconds: float, trace: bool, scale: float = 1.0) -> dict:
    spark = None
    try:
        sf_dir = str(datagen.write(seed, SF * scale, work / "data"))
        t0 = time.perf_counter()
        spark = start_spark(work, ui=trace)
        run_pass(spark, sf_dir)  # untimed warm pass
        setup_s = time.perf_counter() - t0

        samples: dict[str, list[float]] = defaultdict(list)
        start = time.perf_counter()
        while True:
            p0 = time.perf_counter()
            walls, results, _ = run_pass(spark, sf_dir)
            for q, w in walls.items():
                samples[q].append(w)
            now = time.perf_counter()
            if now - start + (now - p0) > seconds:
                break
        rss = peak_rss_mb(jvm_pid(spark))
        problems = check_results(results, sf_dir)
        metrics, detail = summarize(samples)
        passes = len(samples[ORDER[0]])
        out = {
            "attempted": passes * len(ORDER),
            "failed": len(problems),
            "correct": not problems,
            "metrics": {
                "setup_s": metric(setup_s, "s"),
                "peak_rss_mb": metric(rss, "MB"),
                **{k: metric(v, "1/s" if k == "ops_per_s" else "ms") for k, v in metrics.items()},
            },
            "detail": {**detail, "passes": passes, "correctness_problems": problems},
        }
        if trace:
            probe = SparkProbe(spark)
            out["layers"], out["detail"]["trace"] = traced_pass(probe, sf_dir, metrics)
            dml = lakehouse_dml.traced_script(spark, probe, work, seed, scale)
            out["layers"].update(dml["layers"])
            out["detail"]["trace"]["dml"] = {**dml["detail"], "problems": dml["problems"]}
            out["attempted"] += dml["steps"]
            out["failed"] += len(dml["problems"])
            out["correct"] = out["failed"] == 0
        return out
    finally:
        if spark is not None:
            stop_spark(spark)


def traced_pass(probe, sf_dir: str, untraced: dict) -> tuple[dict, dict]:
    """One more pass with every query measured by the Spark probe:
    per-query means overall (the per-layer metrics), per-group
    means, and the tracing overhead on the pass's end-to-end figures."""
    walls, _, layers = run_pass(probe.spark, sf_dir, measure=probe)
    traced, _ = summarize({q: [w] for q, w in walls.items()})
    per_group = {
        g: mean_layers([layers[q] for q in names]) for g, names in GROUPS.items()}
    return mean_layers(list(layers.values())), {
        "per_group": per_group,
        "per_query": layers,
        "overhead_traced_minus_untraced": {k: traced[k] - untraced[k] for k in untraced},
    }
