"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is fully executed and its complete result materialized to the
driver (Arrow-batched toPandas) so the wall time covers the whole plan,
not just plan construction. The full record — every execution and one
box-health row per pass — goes to BENCH_FULL.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd


def _warm_fn(s: pd.Series) -> pd.Series:
    import numpy  # noqa: F401 — force the heavy imports in every worker

    return s


HEADLINE = [
    "q01_scan_projection",
    "q02_filter",
    "q03_hash_aggregate",
    "q04_global_aggregate",
    "q05_distinct_aggregate",
    "q06_approx_distinct",
]

# The iterative/GEMM family runs ISOLATED, one fresh JVM each (r8
# verdict #1). Root cause (established r7/r8, kept for the record): a
# shared session that has executed 200+ distinct query shapes
# accumulates hundreds of generated whole-stage-codegen classes; the
# JIT's shared dispatch sites go megamorphic and can no longer inline
# these queries' per-iteration generated stages — q96 recorded 15.2 s
# in the r8 shared session vs a root-caused 6.3 s fresh-JVM steady
# state, and the same mechanism produced 3.5x rerun swings on
# untouched code (q32_minhash +18% in r8, q141 [6.9, 1.95]). A
# production executor serving one pipeline never accumulates 200 query
# shapes in one JVM, so the fresh-JVM steady state is the honest
# per-query cost — and now it is also the RECORDED number, not a
# footnote.
#
# r9 re-measurement caveat: the steady state itself is box-dependent.
# An 8-run fresh-JVM q96 profile on the r9 box gave
# [26.3, 12.6, 13.3, 11.7, 11.4, 11.6, 11.7, 16.0] — steady ~11.4-11.7 s
# vs r8's quiet-box 6.3 s on identical code (split measured at steady:
# ~7.0 s PPJoin candidate generation + ~5.8 s for 8 PageRank rounds +
# CC over the resulting 256-edge graph, i.e. ~14 fixed-cost Spark jobs
# — scheduler floor, amortized at real scale). The invariant the
# harness CAN hold box-independently is: recorded minimum == this
# box's fresh-JVM steady state, which run_single's convergence rule
# (keep running while still improving >15%, max 7) enforces.
ISOLATED = {
    "q96_pagerank_canonical",
    "q49_dedup_clusters",
    "q152_cluster_safe_split",
    "q35_cosine_neardup_pairs",
    "q40_curation_pipeline",
    "q32_minhash_lsh_pairs",
    "q32_ngram_jaccard_pairs",
    "q32_simhash_pairs",
    "q125_quality_canonical",
    # joined r9 after the same signature appeared in back-to-back full
    # runs on an idle box: 2.83 s in one session, a SUSTAINED 18.8 s
    # (two reruns agreeing) in the next — session-level codegen
    # pollution luck, not noise; fresh-JVM runs converge tightly.
    "q59_semantic_dedup",
    # r8 verdict #6: q100's rerun spread (6.59 vs 10.74 on identical
    # code) is the same shared-JVM mechanism, not plan instability —
    # fresh-JVM r9 runs converge immediately ([12.10, 5.07, 5.04] at
    # sf0.1: runs 2-3 agree to 0.6%), so it joins the family rather
    # than earning a plan pin.
    "q100_bloom_decontaminate",
}



# The measurement scheme. Every sample set is spread over SEPARATED
# passes, because this box's hypervisor-steal bursts are minutes wide
# and would cover back-to-back reps together (r11/r12 same-code runs):
# - the ISOLATED family runs ISO_PASSES fresh-JVM subprocess passes;
# - a shared-loop query whose first run takes >= RERUN_SEC gets one
#   back-to-back rerun, and one whose best stays under 2 * RERUN_SEC
#   joins the fast set;
# - the fast set gets FAST_PASSES separated passes in all, and each
#   streaming query FAST_PASSES back-to-back reps.
ISO_PASSES = 2
RERUN_SEC = 3.0
FAST_PASSES = 3


def _box_health() -> dict:
    """Fixed CPU and memory microprobes, one row per bench pass, so a
    record shows what state the box was in while each pass ran. numpy
    GEMM exercises the multi-threaded CPU capacity Spark executors see
    (two untimed warm-up multiplies, then min-of-5); the pure-python
    loop is the single-core baseline; the first-touch probe times
    faulting a fresh 256 MB buffer, which this VM's hypervisor backs
    lazily and which in its cold phase (~37-60 MB/s, r13) stalls every
    new JVM heap page while GEMM still reads the box as fast. ~2 s."""
    import numpy as np

    rng = np.random.default_rng(42)
    a = rng.standard_normal((1024, 1024))
    b = rng.standard_normal((1024, 1024))
    a @ b  # untimed: BLAS thread-pool spin-up
    a @ b  # untimed: second rep — caches + governor ramp
    reps = []
    for _ in range(5):
        t0 = time.perf_counter()
        a @ b
        reps.append(time.perf_counter() - t0)
    loops = []
    for _ in range(3):
        t0 = time.perf_counter()
        s = 0
        for i in range(2_000_000):
            s += i * i
        loops.append(time.perf_counter() - t0)
    n = 256 << 20
    t0 = time.perf_counter()
    buf = bytearray(n)
    for i in range(0, n, 4096):
        buf[i] = 1
    fault_sec = time.perf_counter() - t0
    del buf
    return {
        "numpy_gemm_1024_sec": round(min(reps), 4),
        "python_loop_2m_sec": round(min(loops), 4),
        "memfault_256m_mb_s": round(256 / fault_sec, 1),
    }


class _RunLog:
    """Everything one bench run measures: every execution as
    [pass_label, sec, t_mid] per query, the error of each failed query,
    and one box-health row per pass. t_mid is time.monotonic(), which is
    system-wide on Linux, so subprocess samples share the clock of the
    parent's health rows. A query is in `samples` or in `errors`, never
    both: a failure on any pass drops every sample it had, so flakiness
    surfaces as an error instead of a half-measured number."""

    def __init__(self) -> None:
        self.samples: dict[str, list[list]] = {}
        self.errors: dict[str, str] = {}
        self.health: list[dict] = []

    def sample(self, name: str, label: str, sec: float, t_mid: float) -> None:
        self.samples.setdefault(name, []).append(
            [label, round(sec, 4), round(t_mid, 2)]
        )

    def fail(self, name: str, error: str) -> None:
        self.errors[name] = error[:300]
        self.samples.pop(name, None)

    def best(self, name: str) -> float:
        return min(s[1] for s in self.samples[name])

    def health_row(self, label: str) -> None:
        self.health.append(
            {"label": label, "t": round(time.monotonic(), 2), **_box_health()}
        )


def run_single(name: str, min_runs: int = 3) -> None:
    """--single NAME [MIN_RUNS]: run one query in THIS fresh process
    until the timing converges (at least MIN_RUNS, at most 7 executions,
    cache-drop + GC between), print one JSON line with the raw timings.
    The first run absorbs the query's own C2 compilation and
    Python-worker pool spawn (real, but one-time per pipeline); later
    runs are the steady state a dedicated executor would see. q96's
    per-iteration stages JIT across ~5 executions ([23.4, 19.6, 12.4,
    ...] still descending at run 3), so keep going while the latest run
    still improves the best by >15%. The isolated family's later passes
    ask for 2: they exist to sample the steady state in another box
    phase, so warm-up + one steady run suffices when it stops
    improving."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    min_runs = max(2, min_runs)
    from iceberg_rest_server_spark.queries import REGISTRY
    from iceberg_rest_server_spark.session import get_spark

    spark = get_spark(f"bench-iso-{name}")
    q = REGISTRY[name]
    runs: list[float] = []
    samples: list[list[float]] = []  # [sec, t_mid] per execution
    while True:
        m0 = time.monotonic()
        t0 = time.perf_counter()
        q.fn(spark, sf_dir).toPandas()
        dt = round(time.perf_counter() - t0, 4)
        runs.append(dt)
        samples.append([dt, round((m0 + time.monotonic()) / 2, 2)])
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        if len(runs) >= min_runs and (
            len(runs) >= 7 or runs[-1] > 0.85 * min(runs[:-1])
        ):
            break
    print(json.dumps({"name": name, "runs": runs, "samples": samples}), flush=True)
    spark.stop()


def _run_isolated(names: list[str], log: _RunLog) -> None:
    """Spawn one fresh interpreter+JVM per query, sequentially (never
    concurrently — two JVMs would contend for the same cores and
    contaminate each other's timings), in ISO_PASSES separated passes.
    All of a query's pass-1 runs execute inside ONE subprocess window
    (~30-60 s), so a steal burst can cover every rep at once (r12: q59
    4.41 s in run A vs 2.81 s in run B on the same code). Pass 2
    revisits each query about the family's whole duration later in a
    new JVM, so min-of-both escapes a single burst."""
    import subprocess

    here = os.path.abspath(__file__)
    for p in range(ISO_PASSES):
        label = f"iso{p + 1}"
        log.health_row(label)
        for name in names:
            if name in log.errors:
                continue
            try:
                proc = subprocess.run(
                    [sys.executable, here, "--single", name, "2" if p else "3"],
                    capture_output=True,
                    text=True,
                    timeout=900,
                    cwd=os.path.dirname(here),
                )
                rec = json.loads(proc.stdout.strip().splitlines()[-1])
                if rec["name"] != name or not rec["samples"]:
                    raise ValueError(f"unexpected --single output for {name}: {rec}")
                for sec, t_mid in rec["samples"]:
                    log.sample(name, label, sec, t_mid)
                print(
                    f"[bench] {name} (fresh JVM pass {p + 1}): "
                    f"{min(rec['runs']):.2f}s (best so far "
                    f"{log.best(name):.2f}s) runs={rec['runs']}",
                    file=sys.stderr,
                    flush=True,
                )
            except Exception as exc:
                log.fail(name, f"isolated p{p + 1}: {type(exc).__name__}: {exc}")
                print(f"[bench] {name}: ISOLATED FAILED {log.errors[name]}", file=sys.stderr, flush=True)


def _shared_loop_order(
    registry: set[str], iso_runs: dict, iso_errors: dict
) -> list[str]:
    """Order of the shared-session loop: headline first, then batch
    alphabetical, streaming last (state-store residue inflates whatever
    runs next). Excluded entirely: queries with a recorded fresh-JVM
    number AND queries whose isolated run FAILED (ADVICE r9, medium) —
    re-running an isolation-family query in the shared session would
    record exactly the JIT-polluted number the isolation exists to
    avoid, and the stale isolated error + fallback time double-booked
    the query in both `queries` and `errors`, nulling the headline
    while still summing the contaminated number. The error stands and
    the fix is rerunning the bench, not trusting the fallback."""
    streaming = {n for n in registry if "_stream" in n}
    done = set(iso_runs) | set(iso_errors)
    names = [n for n in HEADLINE if n in registry and n not in done]
    names += [
        n
        for n in sorted(registry)
        if n not in HEADLINE and n not in streaming and n not in done
    ]
    names += sorted(streaming - done)
    return names


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from iceberg_rest_server_spark.queries import REGISTRY
    from iceberg_rest_server_spark.session import get_spark

    log = _RunLog()
    log.health_row("start")

    # Fresh-JVM family first, BEFORE the shared session exists, so the
    # subprocess JVMs never share the box with a second live JVM.
    iso_names = sorted(n for n in ISOLATED if n in REGISTRY)
    _run_isolated(iso_names, log)

    spark = get_spark("bench")

    # Warm the JVM + parquet footers once so per-query times measure the
    # query, not session startup.
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    # Absorb first-use C2 compilation of the big codegen families
    # (hash aggregate with decimal sums, window, broadcast join) on a
    # small slice — otherwise whichever query runs each family first
    # pays 2-4 s of JIT that says nothing about the plan.
    from pyspark.sql import Window as _W
    from pyspark.sql import functions as _F

    _li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).limit(20000)
    _li.groupBy("l_returnflag").agg(
        _F.sum(_F.col("l_quantity").cast("decimal(18,2)")).cast("double"),
        # decimal×decimal product sums codegen differently (38,6 overflow
        # checks) from the plain decimal sum — warm both, or the first
        # money-math query (q03) absorbs its JIT
        _F.sum(
            _F.col("l_extendedprice").cast("decimal(18,2)")
            * (_F.lit(1) - _F.col("l_discount")).cast("decimal(18,2)")
        ).cast("double"),
        _F.count(_F.lit(1)),
    ).collect()
    _li.select(
        _F.row_number().over(_W.partitionBy("l_returnflag").orderBy("l_orderkey"))
    ).count()
    _nat = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    _li.join(_F.broadcast(_nat), _li.l_suppkey % 25 == _nat.n_nationkey).count()

    # Warm the Python worker pool across all cores: the first pandas-UDF
    # stage in a session otherwise pays 32 × (interpreter spawn + numpy/
    # pandas import) inside whichever query happens to run it first
    # (measured: +10-25 s on that query's wall time).
    _warm = _F.pandas_udf(_warm_fn, "long")
    spark.range(256, numPartitions=int(os.environ.get("SPARK_GRAFT_CPUS", "32"))).select(
        _warm("id")
    ).count()

    names = _shared_loop_order(set(REGISTRY), log.samples, log.errors)

    def _quiesce() -> None:
        # queries persist intermediates (shingles, signatures, buckets);
        # drop them so 164 queries' caches don't accumulate into executor
        # memory pressure that distorts later timings
        spark.catalog.clearCache()
        # ... and force a full GC so one query's heap garbage (collect_list
        # buffers, codegen classes) isn't paid for by whoever runs next:
        # measured 3x distortion on q126 when it follows the document-heavy
        # q125 without this (10.8 s vs 3.2 s after System.gc()). The GC
        # runs between the timers, so it costs the bench wall-clock but
        # never a query's reported time.
        spark.sparkContext._jvm.System.gc()

    def _run_once(name: str, label: str) -> float:
        """One full execution, recorded as a sample; returns its sec."""
        m0 = time.monotonic()
        t0 = time.perf_counter()
        df = REGISTRY[name].fn(spark, sf_dir)
        # Arrow-batched materialization: same full execution + full result
        # on the driver as collect(), minus per-row Python object cost
        # (3-4x less harness overhead on wide outputs, measured on q22)
        df.toPandas()
        sec = round(time.perf_counter() - t0, 4)
        log.sample(name, label, sec, (m0 + time.monotonic()) / 2)
        return sec

    # Run-to-run noise on this box concentrates in the expensive tail
    # (r5: q126 measured 5 s in one run and 49 s in another on
    # identical code), and sub-threshold single shots differed ±40-80%
    # between same-code r10 runs; see the scheme above. Streaming
    # entries rerun too (each drain uses a fresh uuid memory sink, so a
    # rerun is just another replay): single shots swung ±30-60% on
    # q162/q172. Without the borderline rule, a burst-inflated first
    # sample >= RERUN_SEC traps a fast query in the back-to-back path,
    # where the same burst covers both reps (r12: q63_tpch_q1 [3.28,
    # 3.92] vs 1.65 from separated passes). The fast passes run BEFORE the
    # streaming section (state-store residue inflates batch queries,
    # ~+30%) with clearCache but no System.gc between samples (sub-second
    # queries leave little garbage and the GC would triple the added
    # wall-clock); streaming noise is micro-batch scheduling, not box
    # bursts, so its reps stay back-to-back.
    streaming_names = {n for n in names if "_stream" in n}
    fast_batch: list[str] = []

    def _measure(name: str) -> None:
        try:
            t1 = _run_once(name, "p1")
            if t1 >= RERUN_SEC:
                _quiesce()
                _run_once(name, "rerun")
                if name not in streaming_names and log.best(name) < 2 * RERUN_SEC:
                    fast_batch.append(name)
            elif name in streaming_names:
                for _ in range(FAST_PASSES - 1):
                    spark.catalog.clearCache()
                    _run_once(name, "rep")
            else:
                fast_batch.append(name)
            print(f"[bench] {name}: {log.best(name):.2f}s", file=sys.stderr, flush=True)
        except Exception as exc:  # one bad query must not zero the bench
            log.fail(name, f"{type(exc).__name__}: {exc}")
            print(f"[bench] {name}: FAILED {log.errors[name]}", file=sys.stderr, flush=True)
        _quiesce()

    log.health_row("shared")
    for name in names:
        if name not in streaming_names:
            _measure(name)
    for p in range(2, FAST_PASSES + 1):
        log.health_row(f"fast{p}")
        for name in fast_batch:
            if name in log.errors:
                continue
            try:
                _run_once(name, f"fast{p}")
            except Exception as exc:
                log.fail(name, f"fastpass: {type(exc).__name__}: {exc}")
            spark.catalog.clearCache()
        print(f"[bench] fast pass {p}/{FAST_PASSES} done ({len(fast_batch)} queries)",
              file=sys.stderr, flush=True)
        _quiesce()
    for name in names:
        if name in streaming_names:
            _measure(name)

    log.health_row("end")
    out = build_artifact(log, iso_names, sf_dir)
    # Full per-query record for inspection across rounds.
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"), "w") as fh:
            json.dump(out, fh, indent=1)
    except OSError:
        pass
    print(summary_line(out))
    spark.stop()


def build_artifact(log: _RunLog, iso_names: list[str], sf_dir: str) -> dict:
    """Assemble the round artifact from the run log. Pure of Spark so
    the failure shapes are unit-testable (VERDICT r10 #5): each query's
    value is the min of its samples; with ANY error — isolated
    subprocess or shared loop — the headline `value` is null (a crashed
    expensive query must never read as a speedup), the error recorded,
    the partial sum only under `sum_succeeded_sec`, and the failed query
    absent from `queries`."""
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    times = {n: log.best(n) for n in log.samples}
    out = {
        "metric": "sum_query_wall_sec",
        "value": round(sum(times.values()), 4) if not log.errors else None,
        "unit": "sec",
        "queries": times,
        "n_queries": len(times),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    isolated = [n for n in iso_names if n in times]
    if isolated:
        # which numbers are fresh-JVM (vs shared-session): on the line
        # too, so a recorded BENCH_r{N}.json says how it was measured
        out["isolated"] = sorted(isolated)
    if log.errors:
        out["errors"] = log.errors
        out["sum_succeeded_sec"] = round(sum(times.values()), 4)
    # BENCH_FULL only: every execution ({name: [[pass_label, sec,
    # t_mid], ...]}), so `tools/bench_compare.py --ab` judges a
    # cross-round delta against the query's own within-run spread, and
    # the per-pass box-health rows
    if log.samples:
        out["samples"] = log.samples
    if log.health:
        out["box_health"] = log.health
    return out


def summary_line(out: dict, budget: int = 1700) -> str:
    """Final stdout line, guaranteed to fit the driver's tail capture.

    The driver keeps only the LAST 2000 chars of stdout and json-parses
    the final line — with 150+ queries the full dict blows past that and
    the headline metric is lost (BENCH_r03/r04 both recorded parsed:
    null). Keep the summary fields but greedily trim the per-query dict
    slowest-first to a `budget`-char line (full record is in
    BENCH_FULL.json).
    """
    # samples and box-health rows are full-record only
    line_out = {k: v for k, v in out.items() if k not in ("samples", "box_health")}
    times = out.get("queries", {})
    errors = out.get("errors")
    if errors:
        line_out["errors"] = {k: v[:80] for k, v in list(errors.items())[:5]}
    kept: dict[str, float] = {}
    line_out["queries"] = kept
    line_out["queries_shown"] = 0
    for name in sorted(times, key=times.get, reverse=True):
        kept[name] = round(times[name], 2)
        line_out["queries_shown"] = len(kept)
        if len(json.dumps(line_out)) > budget:
            del kept[name]
            line_out["queries_shown"] = len(kept)
            break
    return json.dumps(line_out)


if __name__ == "__main__":
    if len(sys.argv) in (3, 4) and sys.argv[1] == "--single":
        run_single(sys.argv[2], int(sys.argv[3]) if len(sys.argv) == 4 else 3)
    else:
        main()
