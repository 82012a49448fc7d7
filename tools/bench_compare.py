"""Same-code A/B reproducibility between two bench records.

Usage: python tools/bench_compare.py --ab A_JSON B_JSON
       (both paths are REQUIRED — a defaulted B side would compare
       against non-same-code data)

Prints one JSON line: the share of per-query values agreeing within
±10%, split at the 2 s fast/slow boundary, and the biggest movers. With
per-execution `samples` vectors in the records (BENCH_FULL since r13),
each mover is also judged against its own within-run spread: a mover
whose A/B delta is covered by that spread is measurement noise,
classified from the committed records alone, no rerun needed.
"""

from __future__ import annotations

import argparse
import json
import statistics


def load_record(path: str) -> dict:
    """Read a bench record; committed per-round files are wrappers
    ({n, rc, tail, parsed}) whose `parsed` is the TRIMMED stdout line
    (slowest-queries-only, no samples) — descend so comparisons
    against them work, but they carry less than a BENCH_FULL record."""
    with open(path) as fh:
        data = json.load(fh)
    if "queries" not in data and isinstance(data.get("parsed"), dict):
        return data["parsed"]
    return data


def _steady_secs(samples: list[list]) -> list[float]:
    """Per-execution seconds with each fresh-JVM pass's FIRST sample
    (label `iso*` — the cold-JVM warm-up run, routinely 2-4x steady
    state) dropped when that pass produced more samples. The recorded
    per-query value is a min and mins land in steady state, so a
    cross-round delta must be judged against the STEADY spread — the
    raw max-min is warm-up-dominated for every isolated-family query
    and would read `covered` trivially."""
    by_label: dict[str, list[float]] = {}
    for label, sec, _mid in samples:
        by_label.setdefault(label, []).append(sec)
    out: list[float] = []
    for label, secs in by_label.items():
        if label.startswith("iso") and len(secs) > 1:
            secs = secs[1:]
        out.extend(secs)
    return out


def _spread_sec(rec: dict, name: str) -> float | None:
    """Steady within-run spread (max-min over the per-execution samples,
    cold-JVM warm-up runs excluded) — None when the record predates r13
    sample vectors."""
    ss = (rec.get("samples") or {}).get(name)
    if not ss:
        return None
    secs = _steady_secs(ss)
    return round(max(secs) - min(secs), 4)


def compare_same_code(a: dict, b: dict) -> dict:
    """Same-code A/B reproducibility (VERDICT r10 #3 / r11 #2): given
    two records from IDENTICAL code, report the share of per-query
    values agreeing within ±10%, split by the fast(<2 s)/slow boundary,
    plus the biggest movers — the MEASUREMENT's stability, not code
    deltas.

    Spread lens: when either record carries per-execution `samples`
    vectors, each mover is annotated with both sides' STEADY within-run
    spreads (see _steady_secs) and whether the A/B delta is COVERED by
    the larger one — covered means the two records' own sampling
    already spans the delta, i.e. noise classified without a rerun. The
    summary share `miss_covered_by_spread` is computed over all queries
    OUTSIDE the ±10% band (the misses are what need attributing)."""
    qa, qb = a.get("queries", {}), b.get("queries", {})
    rel = {
        n: (qb[n] - qa[n]) / qa[n]
        for n in set(qa) & set(qb)
        if qa[n] and qa[n] > 0
    }
    totals = {"a": a.get("value"), "b": b.get("value")}
    if not rel:
        return {"compared": 0, "totals": totals}
    fast = {n for n in rel if max(qa[n], qb[n]) < 2.0}
    slow = [n for n in rel if n not in fast]
    vals = sorted(abs(v) for v in rel.values())
    movers = sorted(rel.items(), key=lambda kv: -abs(kv[1]))[:8]
    out = {
        "compared": len(rel),
        "within_10pct": sum(1 for v in rel.values() if abs(v) <= 0.10),
        "within_10pct_share": round(
            sum(1 for v in rel.values() if abs(v) <= 0.10) / len(rel), 3
        ),
        # the tracking lens that acknowledges the box's absolute
        # noise floor: most queries run sub-second, where +-10% is
        # +-30-150 ms — under the scheduler/steal floor regardless
        # of sampling scheme. 0.2 s = the measured floor (r12).
        "within_10pct_or_200ms_share": round(
            sum(
                1 for n, v in rel.items()
                if abs(v) <= 0.10 or abs(qb[n] - qa[n]) <= 0.2
            ) / len(rel), 3,
        ),
        "fast_within_10pct_share": round(
            sum(1 for n in fast if abs(rel[n]) <= 0.10) / len(fast), 3
        ) if fast else None,
        # ADVICE r12: mirror the fast-share handling — an all-fast
        # A/B has no slow cohort and must read None, not 0%
        "slow_within_10pct_share": round(
            sum(1 for n in slow if abs(rel[n]) <= 0.10) / len(slow), 3
        ) if slow else None,
        "median_abs_delta_pct": round(100 * statistics.median(vals), 1),
        "movers": {n: round(100 * v, 1) for n, v in movers},
    }
    if a.get("samples") or b.get("samples"):
        detail = {}
        for n, v in movers:
            sa, sb = _spread_sec(a, n), _spread_sec(b, n)
            delta = abs(qb[n] - qa[n])
            detail[n] = {
                "delta_sec": round(delta, 3),
                "a_spread_sec": sa,
                "b_spread_sec": sb,
                "covered": (
                    None if sa is None and sb is None
                    else delta <= max(sa or 0.0, sb or 0.0)
                ),
            }
        out["movers_spread"] = detail
        misses = [n for n, v in rel.items() if abs(v) > 0.10]
        covered = [
            n for n in misses
            if (s := max(_spread_sec(a, n) or 0.0, _spread_sec(b, n) or 0.0))
            and abs(qb[n] - qa[n]) <= s
        ]
        out["miss_covered_by_spread"] = (
            round(len(covered) / len(misses), 3) if misses else None
        )
    out["totals"] = totals
    return out


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Same-code A/B reproducibility between two bench records."
    )
    ap.add_argument("paths", nargs="*", help="the two record paths, A then B")
    ap.add_argument(
        "--ab", action="store_true", required=True,
        help="same-code A/B reproducibility between two records of "
        "IDENTICAL code (both paths required)",
    )
    args = ap.parse_args()
    # ADVICE r12: a defaulted B side would silently compare against
    # non-same-code data — --ab takes exactly two explicit paths
    if len(args.paths) != 2:
        ap.error("--ab requires exactly two record paths (same-code A/B)")
    a, b = (load_record(p) for p in args.paths)
    print(json.dumps(compare_same_code(a, b)))


if __name__ == "__main__":
    main()
