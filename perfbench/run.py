"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog-rest --seed 1 --seconds 25 --trace 0

Runs one workload against the program in this checkout and prints, as
its last line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``. A detail
line before it records the environment and the workload's own named
figures. Exits non-zero, printing no result, when the program is
missing or a workload cannot run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback
from pathlib import Path

import spark_env

from common import (
    ROOT,
    ProgramMissing,
    check_program,
    emit_detail,
    environment,
    fresh_dir,
    nproc,
    remove_dir,
    steal_ticks,
)

WORKLOADS = ("catalog-rest", "query-mix")


def benchmark_spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as fh:
        return json.load(fh)


def pin_environment(work: Path) -> None:
    """Keep every file the run writes inside the run's directory, size
    Spark to this machine, and keep loopback requests off any proxy."""
    tmp = work / "tmp"
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = spark_env.DRIVER_MEM
    os.environ["no_proxy"] = os.environ["NO_PROXY"] = "127.0.0.1,localhost"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, str(ROOT))


def run_workload(name: str, work: Path, seed: int, seconds: float, trace: bool,
                 scale: float) -> dict:
    if name == "catalog-rest":
        import catalog_rest

        return catalog_rest.run(work, seed, seconds, trace, scale)
    import query_mix

    return query_mix.run(work, seed, seconds, trace, scale)


def result_line(out: dict, spec: dict, trace: bool) -> dict:
    """The result line: every metric BENCHMARK.json names for this
    mode. Per-layer metrics of layers a workload does not exercise read 0."""
    if trace:
        metrics = {
            m["name"]: {"value": float(out["layers"].get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        metrics = {m["name"]: out["metrics"][m["name"]] for m in spec["end_to_end"]}
    return {
        "correct": bool(out["correct"]),
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="shrink factor for the workload's data (tests use < 1)")
    args = ap.parse_args(argv)
    try:
        check_program()
    except ProgramMissing as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    spec = benchmark_spec()
    work = fresh_dir(args.workload)
    pin_environment(work)
    env = environment(args.seed)
    try:
        out = run_workload(args.workload, work, args.seed, args.seconds, bool(args.trace),
                           args.scale)
    except Exception:  # noqa: BLE001 — report and fail the run without a result line
        traceback.print_exc()
        return 1
    finally:
        remove_dir(work)
    env["steal_ticks_during_run"] = steal_ticks() - env.pop("steal_ticks_start")
    emit_detail(args.workload, {"env": env, "detail": out.get("detail", {})})
    print(json.dumps(result_line(out, spec, bool(args.trace))), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
