"""Measured scaling curve for the heavy dedup/graph/ANN family
(VERDICT r9 #3): build scaled corpora in /tmp by deterministic
self-union, run each heavy query at its ladder in one fresh JVM,
record wall seconds AND shuffle-write bytes (public Spark monitoring
REST API), fit the growth exponent, and regenerate SCALING.md.

Corpus construction — the part that makes the curve honest:
a naive k-fold self-union makes every document an exact twin of its
k-1 copies, so the *answer itself* (near-dup pairs) grows
quadratically in k and no engine could look sub-quadratic. Instead
each copy i:

- documents: the text goes through a per-copy BIJECTIVE character
  cipher (rot-i over a-z and A-Z, an affine permutation over 0-9;
  space and punctuation fixed). A bijection on characters maps every doc's
  3-gram shingle set bijectively, so the Jaccard similarity of ANY
  two docs within a copy is EXACTLY its x1 value — cluster sizes,
  candidate mass, gram frequencies and text lengths are all
  preserved — while any cross-copy shingle containing an
  alphanumeric character cannot collide, so no near-dup pair forms
  across copies and the ideal output scales exactly x k. Any
  super-linear growth we measure is the ENGINE's, not the data's.
  (The first r10 attempt suffixed every TOKEN with ``_c3`` instead:
  disjoint across copies, but the shared suffix shingles inflated
  every within-copy pairwise Jaccard, ballooning the true candidate
  mass quadratically — the x16 LSH run OOM-spilled and died. The
  cipher keeps the similarity geometry untouched by construction.)
  doc_id offsets keep the mod-10 bench/corpus split of q100/q48
  proportionally identical.
- embeddings: the vector is rotated by i positions (norm-preserving,
  decorrelates copies) and vec_id offset; the q36 query set
  (vec_id < 10) stays fixed while the corpus grows — the realistic
  ANN setup.
- lineitem: l_orderkey offset by a multiple of 10 (preserves q31's
  %10 dup-injection class proportions), everything else verbatim.

All scales (including x1) are written through the same parquet
writer so encoding/row-group differences never masquerade as engine
scaling. /root/testdata is read-only (TESTDATA.md) — corpora live
under /tmp and are regenerated on demand.

Usage:
  python tools/scaling.py                # gen + measure all + SCALING.md
  python tools/scaling.py --gen          # corpora only
  python tools/scaling.py --measure Q    # subprocess: one query, all scales
  python tools/scaling.py --only A,B     # re-measure a subset, merge cache
  python tools/scaling.py --report       # SCALING.md from the cache only
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ROOT = os.environ.get("SPARK_GRAFT_SCALING_DIR", "/tmp/scaling_corpus")
SCALES = [
    int(x)
    for x in os.environ.get("SPARK_GRAFT_SCALING_LADDER", "1,2,4,16").split(",")
]
UI_PORT = 4099

# stride is a multiple of 10 so doc_id/l_orderkey %-10 splits keep
# their proportions in every copy (q100's bench split, q31's dup class)
STRIDE = 10_000_000

# The measured family (VERDICT r9 #3). Every tier here is bucketed /
# prefix-filtered — sub-quadratic BY DESIGN — so each gets a growth
# assertion. The exact-GEMM family (q35_cosine_neardup_pairs,
# q59_semantic_dedup) is all-pairs by spec and documented quadratic;
# both are measured as CONTROLS so the table shows what quadratic
# looks like on the same box, but are excluded from the assertion.
BUCKETED = [
    "q31_exact_dedup",
    "q32_minhash_lsh_pairs",
    "q32_ngram_jaccard_pairs",
    "q49_dedup_clusters",
    "q96_pagerank_canonical",
    "q100_bloom_decontaminate",
    "q36_ann_lsh_topk",
]
CONTROL = ["q35_cosine_neardup_pairs", "q59_semantic_dedup"]
# The control must actually EXHIBIT quadratic wall growth (VERDICT r10
# #2: the old [1, 4] ladder at 2k-8k vectors measured a=0.64 — pure
# scheduler floor). Quadratic compute only dominates the ~2 s fixed
# floor once the GEMM task count saturates the cores for many waves,
# which at dim 64 with the r11 score-matrix cap (5792-row blocks)
# means >=100k vectors. So the control rides DEDICATED embeddings-only
# corpora ("more vectors, fewer docs"): ctl_x{k} scales ONLY the
# embeddings table (x64 = 128k vectors -> 23 blocks/276 GEMM tasks,
# x256 = 512k -> 89 blocks/4005 tasks); documents/lineitem symlink to
# the 1x base — the control queries never read them, and cipher-scaling
# 256 document copies would break the letter cipher's 26-rotation
# injectivity anyway. Vector rotations repeat every 64 copies, so
# x128/x256 contain cross-copy EXACT-dup pairs (rotation classes of
# 2/4 copies: ~128k/768k cos=1.0 pairs) — linear in k per class pair,
# acceptable noise for a control row that carries no sub-quadratic
# assertion. q35 (pairs only) is the clean quadratic control; q59
# (pairs + connected components) rides the same ladder to show the
# full-pipeline shape.
CONTROL_SCALES = [64, 128, 256]

# The EXACT near-dup tier (PPJoin verify) is candidate-mass bound: this
# corpus carries ~4.5M j>=0.5 template-similar pairs per 5k-doc copy
# (measured with DuckDB; true j>=0.8 pairs are ~35/copy), every one of
# which any EXACT verifier must touch. Candidates scale linearly
# (x16 -> ~50M pairs) but each array-verify pair ships both gram
# arrays (~2.2 KB at avg 142 grams/doc) => >100 GB of verify traffic
# at x16 — beyond this box's disk, and honestly so: the 100 TB answer
# for template-heavy corpora is the LSH count-banding tier (it REJECTS
# the j~0.5 mass before any verify; measured at the full ladder), or
# the inline-bitmap verify when the gram vocabulary is bounded (real
# char-trigram corpora saturate; the cipher corpus inflates vocabulary
# x k by construction — the price of keeping copies disjoint). So the
# exact tier runs EXACT_SCALES with the ARRAY strategy pinned
# (dedup._BITMAP_MAX_GRAMS = 0): ONE strategy across the ladder, or the
# bitmap/array cutover's flip between points would read as fake
# super-linearity.
EXACT_TIER = {
    "q32_ngram_jaccard_pairs",
    "q49_dedup_clusters",
    "q96_pagerank_canonical",
}
# r11 (VERDICT r10 #2): third rung at x2 — x16 stays beyond the disk
# ceiling, but [1, 2, 4] makes the exponent a 3-point least-squares
# fit instead of a 2-point anecdote. r14 (VERDICT r13 #5): fourth rung
# at x8 — ~40-50 GB of array-verify traffic, inside this box's disk,
# and the rung that shows whether the x2→x4 step keeps growing or
# flattens into the fixed-floor amortization the LSH tier showed.
EXACT_SCALES = [1, 2, 4, 8]


_LOWER = "abcdefghijklmnopqrstuvwxyz"
_UPPER = _LOWER.upper()
_DIGIT = "0123456789"


def _cipher_maps(i: int) -> tuple[str, str]:
    """Per-copy bijection: rot-i over the letter classes plus an AFFINE
    permutation d -> (m*d + i) mod 10 over digits, everything else
    (space, punctuation) fixed so tokenization boundaries and
    whitespace statistics are untouched.

    The digit map must be affine rather than rot-(i % 10) (ADVICE r10):
    with a plain rotation, copies i and i+10 share the digit mapping,
    so at the x16 ladder pure-digit shingles/tokens of copy 10 collide
    with copy 0's (both identity), breaking the cross-copy
    disjointness the curve rests on. The multiplier m cycles the four
    units mod 10, so maps repeat only at i == j (mod 20) — distinct for
    every pair on any ladder up to x20. i=0 stays the identity
    (m=1, shift 0)."""
    lo, up = i % 26, i % 26
    m = (1, 3, 7, 9)[i % 4]
    src = _LOWER + _UPPER + _DIGIT
    dst = (
        _LOWER[lo:] + _LOWER[:lo]
        + _UPPER[up:] + _UPPER[:up]
        + "".join(str((m * d + i) % 10) for d in range(10))
    )
    return src, dst


def _scaled_documents_sql(i: int) -> str:
    if i == 0:
        return f"SELECT * FROM read_parquet('{BASE_SF}/documents.parquet')"
    src, dst = _cipher_maps(i)
    # translate() is a character bijection: length (and so n_chars) is
    # preserved exactly, as is every within-copy pairwise similarity
    return f"""
    SELECT doc_id + {i * STRIDE} AS doc_id,
           translate(text, '{src}', '{dst}') AS text,
           lang, source, n_chars
    FROM read_parquet('{BASE_SF}/documents.parquet')
    """


def _scaled_embeddings_sql(i: int) -> str:
    if i == 0:
        return f"SELECT * FROM read_parquet('{BASE_SF}/embeddings.parquet')"
    r = i % 64  # 64-dim vectors; rotate by copy index
    return f"""
    SELECT vec_id + {i * STRIDE} AS vec_id,
           list_slice(embedding, {r + 1}, 64) || list_slice(embedding, 1, {r})
             AS embedding,
           label
    FROM read_parquet('{BASE_SF}/embeddings.parquet')
    """


def _scaled_lineitem_sql(i: int) -> str:
    if i == 0:
        return f"SELECT * FROM read_parquet('{BASE_SF}/lineitem.parquet')"
    return (
        f"SELECT * REPLACE (l_orderkey + {i * STRIDE} AS l_orderkey) "
        f"FROM read_parquet('{BASE_SF}/lineitem.parquet')"
    )


def generate(scales: list[int] | None = None, base_sf: str | None = None,
             root: str | None = None, control_scales: list[int] | None = None) -> None:
    import duckdb

    global BASE_SF  # noqa: PLW0603 — test override
    if base_sf:
        BASE_SF = base_sf
    root = root or ROOT
    con = duckdb.connect()

    def _symlink_rest(d: str, skip: tuple[str, ...]) -> None:
        # never read by the measured queries, but symlinks keep every
        # scaled dir a complete, loadable sf-dir
        for other in (
            "region", "nation", "customer", "supplier", "part",
            "orders", "events", "documents", "lineitem",
        ):
            if other in skip:
                continue
            src = os.path.join(BASE_SF, f"{other}.parquet")
            if os.path.exists(src):
                os.symlink(src, os.path.join(d, f"{other}.parquet"))

    for k in scales or SCALES:
        d = os.path.join(root, f"x{k}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        for table, sql_fn in (
            ("documents", _scaled_documents_sql),
            ("embeddings", _scaled_embeddings_sql),
            ("lineitem", _scaled_lineitem_sql),
        ):
            union = " UNION ALL ".join(f"({sql_fn(i)})" for i in range(k))
            con.execute(
                f"COPY ({union}) TO '{d}/{table}.parquet' (FORMAT PARQUET)"
            )
        _symlink_rest(d, skip=("documents", "lineitem"))
        print(f"[scaling] generated {d}", file=sys.stderr, flush=True)
    # control corpora: embeddings-only scaling (see CONTROL_SCALES) —
    # documents/lineitem stay at 1x via symlink
    for k in (control_scales if control_scales is not None else CONTROL_SCALES):
        d = os.path.join(root, f"ctl_x{k}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        union = " UNION ALL ".join(f"({_scaled_embeddings_sql(i)})" for i in range(k))
        con.execute(f"COPY ({union}) TO '{d}/embeddings.parquet' (FORMAT PARQUET)")
        _symlink_rest(d, skip=())
        print(f"[scaling] generated {d}", file=sys.stderr, flush=True)


# ------------------------------------------------------------- measure

def _completed_stages(port: int) -> dict[str, dict]:
    """All COMPLETE stages keyed by stageId.attemptId, via the public
    monitoring REST API (the only JVM-metrics surface PySpark exposes
    without py4j internals). Deltas around a run isolate that run's
    stages."""
    base = f"http://127.0.0.1:{port}/api/v1"
    with urllib.request.urlopen(f"{base}/applications") as r:
        app = json.load(r)[0]["id"]
    with urllib.request.urlopen(f"{base}/applications/{app}/stages?status=COMPLETE") as r:
        stages = json.load(r)
    return {f"{s['stageId']}.{s.get('attemptId', 0)}": s for s in stages}


def _shuffle_write_bytes(port: int) -> int:
    """Total shuffle-write bytes across all completed stages."""
    return sum(
        s.get("shuffleWriteBytes", 0) for s in _completed_stages(port).values()
    )


def _top_stages(before: dict[str, dict], after: dict[str, dict], n: int = 6) -> list[dict]:
    """The run's heaviest stages (by total executor run time) — the
    attribution channel VERDICT r12 #5 asked for: a super-linear rung
    jump names WHICH stage grew instead of leaving the wall number
    unexplained. Names are the stage's first line (the operator +
    callsite), truncated."""
    new = [s for k, s in after.items() if k not in before]
    top = sorted(new, key=lambda s: -s.get("executorRunTime", 0))[:n]
    return [
        {
            "name": " ".join(str(s.get("name", "")).split())[:90],
            "run_ms": s.get("executorRunTime", 0),
            "tasks": s.get("numCompleteTasks", s.get("numTasks", 0)),
            "shuffle_w_mb": round(s.get("shuffleWriteBytes", 0) / 2**20, 1),
            "input_mb": round(s.get("inputBytes", 0) / 2**20, 1),
        }
        for s in top
    ]


def measure(name: str) -> None:
    """Subprocess mode: one query, every scale, ONE fresh JVM. The x1
    warm-up run absorbs C2 compilation + Python-worker spawn for this
    query's plan shapes; plan shapes are scale-invariant, so later
    scales run JIT-warm and the growth ratio is clean."""
    from iceberg_rest_server_spark import materialize
    from iceberg_rest_server_spark.operators import dedup
    from iceberg_rest_server_spark.queries import REGISTRY
    from iceberg_rest_server_spark.session import get_spark

    is_control = name in CONTROL
    if is_control:
        scales = CONTROL_SCALES
    elif name in EXACT_TIER:
        scales = EXACT_SCALES
        # pin ONE verify strategy across the ladder (see EXACT_TIER)
        dedup._BITMAP_MAX_GRAMS = 0
    else:
        scales = SCALES
    extra_conf = {
        "spark.ui.enabled": "true",
        "spark.ui.port": str(UI_PORT),
        # the whole ladder must stay in the status store or the
        # before/after shuffle deltas corrupt mid-run
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedJobs": "100000",
    }
    if is_control:
        # pin ONE join strategy across the control ladder, mirroring
        # the exact tier's pinned verify: measured (r11, .explain at
        # ctl_x64 vs ctl_x128) Catalyst broadcasts the ~130 MB vector
        # table at x64 (BroadcastHashJoin + BroadcastNestedLoopJoin)
        # and flips to SortMergeJoin/CartesianProduct at x128 — the
        # x64 rung then measures the broadcast build, not the growth,
        # making q35's wall NON-monotone (216 s at x64 vs 174 s at
        # x128 across two independent runs). A ladder must hold one
        # strategy or the flip reads as fake sub/super-linearity.
        extra_conf["spark.sql.autoBroadcastJoinThreshold"] = "-1"
    spark = get_spark(f"scaling-{name}", extra_conf=extra_conf)
    q = REGISTRY[name]

    def run(sf_dir: str) -> float:
        t0 = time.perf_counter()
        with materialize.scope():
            q.fn(spark, sf_dir).toPandas()
            dt = time.perf_counter() - t0
        spark.sparkContext._jvm.System.gc()
        return dt

    run(os.path.join(ROOT, "x1"))  # warm-up, untimed (plan shapes are scale-invariant)
    rec: dict = {"name": name, "scales": {}}
    for k in scales:
        # control rows ride the embeddings-only ctl corpora
        sf_dir = os.path.join(ROOT, f"ctl_x{k}" if is_control else f"x{k}")
        before = _completed_stages(UI_PORT)
        s0 = sum(s.get("shuffleWriteBytes", 0) for s in before.values())
        t1 = run(sf_dir)
        after = _completed_stages(UI_PORT)
        shuffle = sum(s.get("shuffleWriteBytes", 0) for s in after.values()) - s0
        # second timed run at the two cheap scales; by x16 the JVM is
        # fully warm and one run suffices
        wall = min(t1, run(sf_dir)) if k < max(scales) else t1
        rec["scales"][str(k)] = {
            "wall_sec": round(wall, 3),
            "shuffle_write_bytes": shuffle,
            # per-rung stage attribution (VERDICT r12 #5) — from the
            # FIRST timed run (the same window as the shuffle delta)
            "top_stages": _top_stages(before, after),
        }
        print(f"[scaling] {name} x{k}: {wall:.2f}s shuffle={shuffle}", file=sys.stderr, flush=True)
    print(json.dumps(rec), flush=True)
    spark.stop()


def fit_exponent(scales: list[int], costs: list[float]) -> float | None:
    """Growth exponent a in cost ~ scale^a: least-squares slope of
    log(cost) on log(scale) over ALL ladder points (VERDICT r10 #2 —
    an endpoint-only fit on a 2-point ladder is an anecdote; with 3+
    rungs the middle points constrain the fit). Degrades gracefully:
    2 points = the endpoint fit; None when any cost is ~0 or the
    ladder is degenerate."""
    if len(scales) < 2 or any(c <= 0 for c in costs) or any(s <= 0 for s in scales):
        return None
    xs = [math.log(s) for s in scales]
    ys = [math.log(c) for c in costs]
    mx = sum(xs) / len(xs)
    my = sum(ys) / len(ys)
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return None
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx


def _exponents(rec: dict) -> tuple[float | None, float | None]:
    ks = sorted(int(k) for k in rec["scales"])
    walls = [rec["scales"][str(k)]["wall_sec"] for k in ks]
    shuffles = [rec["scales"][str(k)]["shuffle_write_bytes"] for k in ks]
    return fit_exponent(ks, walls), fit_exponent(ks, shuffles)


RESULTS_CACHE = os.path.join(ROOT, "results.json")


def _load_cache() -> tuple[list[dict], list[str]]:
    """Read the results cache, accepting both the current
    {"results": [...], "failures": [...]} shape and the legacy bare
    list (pre-r12 caches persisted rows only — ADVICE r11: a report
    regenerated from such a cache silently dropped the Failures
    section of the run that produced it)."""
    with open(RESULTS_CACHE) as fh:
        data = json.load(fh)
    if isinstance(data, list):
        return data, []
    return data.get("results", []), data.get("failures", [])


def _gate(results: list[dict]) -> list[str]:
    """The gate: every bucketed tier must grow sub-quadratically in
    BOTH wall time and shuffle volume. ADVICE r11: a None fit (any
    zero-cost rung) is NOT evidence of sub-quadratic growth — an
    unfittable bucketed tier fails the gate rather than passing it."""
    bad: list[str] = []
    for rec in results:
        if rec["name"] in CONTROL:
            continue
        a_t, a_s = _exponents(rec)
        if a_t is None:
            bad.append(f"{rec['name']}: time exponent unfittable "
                       "(degenerate rung) — not measured sub-quadratic")
        elif a_t >= 2.0:
            bad.append(f"{rec['name']}: time exponent {a_t:.2f} >= 2")
        if a_s is None:
            bad.append(f"{rec['name']}: shuffle exponent unfittable "
                       "(degenerate rung) — not measured sub-quadratic")
        elif a_s >= 2.0:
            bad.append(f"{rec['name']}: shuffle exponent {a_s:.2f} >= 2")
    return bad


def orchestrate(only: list[str] | None = None) -> int:
    """Full run, or — with `only` — re-measure a subset and merge with
    the cached rows of the previous run (the corpora are regenerated
    either way; measurements are per-query subprocesses, so a noisy
    rung can be re-taken without paying for the whole family)."""
    if only:
        # ADVICE r11: a typo'd --only name used to produce a report
        # silently missing that row; unknown names are an error
        known = set(BUCKETED + CONTROL)
        unknown = [n for n in only if n not in known]
        if unknown:
            print(f"[scaling] unknown --only names {unknown}; "
                  f"known: {sorted(known)}", file=sys.stderr, flush=True)
            return 2
    generate()
    here = os.path.abspath(__file__)
    cached: dict[str, dict] = {}
    cached_failures: list[str] = []
    if only:
        try:
            rows, cached_failures = _load_cache()
            cached = {r["name"]: r for r in rows}
        except (OSError, ValueError):
            print("[scaling] --only without a results cache; measuring "
                  "the subset fresh, other rows will be missing",
                  file=sys.stderr, flush=True)
    results: list[dict] = []
    # replay cached failures for rows NOT being re-measured (a failure
    # belongs to the run that produced the cache until it is retaken)
    failures: list[str] = [
        f for f in cached_failures
        if only and f.split(":", 1)[0] not in only
    ]
    for name in BUCKETED + CONTROL:
        if only and name not in only:
            if name in cached:
                results.append(cached[name])
            continue
        print(f"[scaling] measuring {name} ...", file=sys.stderr, flush=True)
        try:
            proc = subprocess.run(
                [sys.executable, here, "--measure", name],
                capture_output=True, text=True, timeout=2400, cwd=REPO,
            )
            lines = proc.stdout.strip().splitlines()
            if not lines:
                # subprocess died before printing: surface its stderr
                # tail, or the failure is undiagnosable after the fact
                raise RuntimeError(
                    f"exit {proc.returncode}, stderr tail: "
                    + " | ".join(proc.stderr.strip().splitlines()[-6:])
                )
            rec = json.loads(lines[-1])
            results.append(rec)
        except Exception as exc:
            failures.append(f"{name}: {type(exc).__name__}: {exc}"[:600])
            print(f"[scaling] {name} FAILED: {failures[-1]}", file=sys.stderr, flush=True)
    try:
        with open(RESULTS_CACHE, "w") as fh:
            json.dump({"results": results, "failures": failures}, fh, indent=1)
    except OSError:
        pass
    write_report(results, failures)
    bad = _gate(results)
    for b in bad:
        print(f"[scaling] QUADRATIC: {b}", file=sys.stderr, flush=True)
    summary = {
        "measured": len(results),
        "failures": failures,
        "quadratic_bucketed_tiers": bad,
    }
    print(json.dumps(summary))
    return 1 if (failures or bad) else 0


def _table(rows: list[dict], scales: list[int]) -> list[str]:
    # r13: columns come from the rungs the rows actually carry (union),
    # so an extra rung measured on one query (e.g. the q32_minhash x8
    # probe) shows up instead of being silently dropped; `scales` is the
    # fallback for empty rows. Missing cells print "—".
    measured = sorted({int(k) for r in rows for k in r.get("scales", {})})
    scales = measured or scales
    lines = [
        "| query | " + " | ".join(
            f"x{k} wall s / shuffle MiB" for k in scales
        ) + " | a(time) | a(shuffle) | verdict |",
        "|---|" + "---|" * (len(scales) + 3),
    ]
    for rec in rows:
        cells = []
        for k in scales:
            s = rec["scales"].get(str(k))
            cells.append(
                "—" if s is None else
                f"{s['wall_sec']:.2f} / {s['shuffle_write_bytes'] / 2**20:.1f}"
            )
        a_t, a_s = _exponents(rec)
        if rec["name"] in CONTROL:
            verdict = "quadratic control"
        elif a_t is None or a_s is None:
            # ADVICE r11: a None fit must not read as sub-quadratic
            verdict = "NO FIT (gate failure)"
        elif a_t < 2.0 and a_s < 2.0:
            verdict = "SUB-QUADRATIC"
        else:
            verdict = "FAIL"
        lines.append(
            f"| {rec['name']} | " + " | ".join(cells)
            + " | " + (f"{a_t:.2f}" if a_t is not None else "n/a")
            + " | " + (f"{a_s:.2f}" if a_s is not None else "n/a")
            + f" | {verdict} |"
        )
    return lines


def write_report(results: list[dict], failures: list[str]) -> None:
    lines = [
        "# SCALING — measured growth of the heavy family",
        "",
        f"Regenerate: `python tools/scaling.py` (corpora under `{ROOT}`,",
        f"base `{BASE_SF}`; ladder x{', x'.join(map(str, SCALES))} by",
        "content-disjoint self-union — see tools/scaling.py docstring for",
        "why naive duplication would make the *answer* quadratic and the",
        "curve meaningless).",
        "",
        "Each query runs its whole ladder in ONE fresh JVM (x1 warm-up",
        "absorbs JIT; plan shapes are scale-invariant). Shuffle bytes are",
        "per-run deltas of completed-stage `shuffleWriteBytes` from the",
        "Spark monitoring REST API. Exponent a: cost ~ scale^a, the",
        "least-squares slope of log(cost) on log(scale) over ALL ladder",
        "rungs (r11; 2-point rows degrade to the endpoint fit); a=1",
        "linear, a=2 quadratic. Gate: every bucketed tier sub-quadratic",
        "(a < 2) in both wall time and shuffle volume. Wall exponents",
        "below ~1 on the cheap tiers mean fixed per-job overhead",
        "amortizing as data grows. Shuffle-byte exponents are the",
        "cleaner signal (no scheduler floor): every bucketed tier",
        "measures ~1.0 — the data volume the engine moves grows",
        "linearly with corpus scale.",
        "",
        "The EXACT near-dup tier (q32_ngram/q49/q96) runs a [1, 2, 4]",
        "ladder (3-point fit since r11) with the array verify strategy",
        "pinned (dedup._BITMAP_MAX_GRAMS = 0): its cost driver is",
        "the corpus's ~4.5M-per-copy j>=0.5 template-similar candidate",
        "mass (linear in scale, every pair touched by ANY exact",
        "verifier, each shipping ~2.2 KB of gram arrays), which exceeds",
        "this box's disk at x16 (>100 GB verify traffic). That ceiling",
        "is a property of exact verification on template-heavy corpora,",
        "not of the plan shape — the 100 TB tier for this workload is",
        "LSH count-banding (q32_minhash, full ladder: it rejects the",
        "j~0.5 mass before any verify), or the inline-bitmap verify",
        "where the gram vocabulary is bounded (operators/dedup.py",
        "_BITMAP_MAX_GRAMS; the registry corpora measure 377 grams, so",
        "the bitmap path runs at every registry sf).",
        "",
        "q32_minhash's steep x2->x4 middle (VERDICT r12 #5) is settled",
        "by the x8 rung as a STEP, not a growing exponent: the 5-rung",
        "ladder is monotone with x4->x8 FLAT (60.4 -> 61.0 s) and the",
        "fit reads a(time)=1.00. Stage attribution (below) shows the",
        "dominant candidate-join/verify stage's CPU-seconds growing",
        "linearly per copy (~650 -> ~1385 -> ~2256 at x2/x4/x8) and",
        "shuffle identical across re-runs — the jump is where the",
        "fixed floors (JVM/plan/localCheckpoint rounds, x1-x2",
        "wall-dominant) stop amortizing and 32-thread compute becomes",
        "wall-dominant, after which wall tracks data linearly. At",
        "1000-executor scale the floor shrinks relative to work, so",
        "the linear regime is the one that matters.",
        "",
    ]
    bucketed = [r for r in results if r["name"] not in CONTROL]
    control = [r for r in results if r["name"] in CONTROL]
    lines += _table(bucketed, SCALES)
    if control:
        lines += [
            "",
            "## Quadratic control (all-pairs GEMM family, documented",
            "quadratic by spec)",
            "",
            "Embeddings-only ctl_x{k} corpora sized so quadratic compute",
            "actually dominates the ~2 s fixed floor (VERDICT r10 #2: the",
            "old 2k-8k-vector ladder measured a=0.64 of pure scheduler",
            "floor; at x64-x256 = 128k-512k vectors the blocked GEMM runs",
            "hundreds-to-thousands of tasks and the true pair count grows",
            "~720k -> ~11.6M, so GEMM, candidate volume and result",
            "materialization are all genuinely quadratic). The control",
            "ladder pins ONE join strategy across its rungs",
            "(autoBroadcastJoinThreshold=-1), mirroring the exact tier's",
            "pinned verify: unpinned, Catalyst broadcast the ~130 MB",
            "vector table at x64 and flipped to SortMergeJoin/",
            "CartesianProduct at x128, making q35's wall NON-monotone",
            "(216 s at x64 vs 174 s at x128 across two independent runs",
            "— the rung measured the broadcast build, not growth).",
            "q35 is the designated clean control: pairs-only, every pair",
            "materialized, wall a >= 1.8 measured. q59 runs the same",
            "pairs but only aggregates per-label counts after connected",
            "components, so a larger share of its wall is the",
            "linear-scaling prep (collect_list, per-block Arrow",
            "deserialization ~ N·d) and its fitted wall exponent reads",
            "lower; its top-pair slope (x128 -> x256) and its shuffle",
            "exponent ~1.8 carry the quadratic signal. x128/x256 contain",
            "cross-copy exact-dup pairs from 64-period vector-rotation",
            "classes — linear per class pair, acceptable for rows",
            "carrying no sub-quadratic assertion.",
            "",
        ]
        lines += _table(control, CONTROL_SCALES)
    attributed = [
        r for r in results
        if any(s.get("top_stages") for s in r.get("scales", {}).values())
    ]
    if attributed:
        lines += [
            "",
            "## Stage-level attribution (per-rung top stages)",
            "",
            "Rows measured with the r13 stage capture record each rung's",
            "heaviest stages (total executor run time across tasks, from",
            "the monitoring REST API, same window as the shuffle delta) —",
            "a super-linear rung jump names WHICH stage grew instead of",
            "leaving the wall number unexplained. `run s` is task-seconds",
            "summed over 32 threads, not wall — and executorRunTime is",
            "task WALL time, so a hypervisor-steal burst inflates it",
            "coherently with the rung's wall (measured during this",
            "capture: q96's x4 count stage read 5399 task-s in a burst,",
            "1878 on re-measure — judge rung-over-rung ratios on a",
            "re-measured-clean ladder, not absolute values). The x1 rung",
            "additionally carries the fresh JVM's JIT warm-up in its",
            "stage numbers even though its WALL is min-of-two runs.",
            "",
        ]
        for rec in attributed:
            lines.append(f"### {rec['name']}")
            lines.append("")
            lines.append("| rung | stage | run s | tasks | shuffle W MiB | input MiB |")
            lines.append("|---|---|---|---|---|---|")
            for k in sorted(rec["scales"], key=int):
                for s in rec["scales"][k].get("top_stages", [])[:4]:
                    lines.append(
                        f"| x{k} | {s['name']} | {s['run_ms'] / 1000:.1f} "
                        f"| {s['tasks']} | {s['shuffle_w_mb']} | {s['input_mb']} |"
                    )
            lines.append("")
    if failures:
        lines += ["", "## Failures", ""] + [f"- {f}" for f in failures]
    lines.append("")
    with open(os.path.join(REPO, "SCALING.md"), "w") as fh:
        fh.write("\n".join(lines))
    print(f"[scaling] wrote SCALING.md ({len(results)} rows)", file=sys.stderr, flush=True)


if __name__ == "__main__":
    if len(sys.argv) == 2 and sys.argv[1] == "--gen":
        generate()
    elif len(sys.argv) == 3 and sys.argv[1] == "--measure":
        measure(sys.argv[2])
    elif len(sys.argv) == 3 and sys.argv[1] == "--only":
        sys.exit(orchestrate(only=sys.argv[2].split(",")))
    elif len(sys.argv) == 2 and sys.argv[1] == "--report":
        # rebuild SCALING.md from the results cache, no re-measurement;
        # failures are persisted alongside results (ADVICE r11) so the
        # regenerated report keeps the Failures section of the run that
        # produced the cache
        rows, fails = _load_cache()
        write_report(rows, failures=fails)
    else:
        sys.exit(orchestrate())
