"""Shared helpers for the benchmark: statistics, the per-run work
directory, process memory and CPU readings from /proc, and the run's
environment record."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
WORK_ROOT = ROOT / ".perfbench_work"


class ProgramMissing(RuntimeError):
    """The checkout does not hold the program the benchmark drives."""


def check_program() -> None:
    if not (ROOT / "iceberg_rest_server_spark" / "__init__.py").is_file():
        raise ProgramMissing(f"no iceberg_rest_server_spark package under {ROOT}")


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * q // 100))
    return ordered[int(rank) - 1]


def median(values: list[float]) -> float:
    return statistics.median(values)


def fresh_dir(name: str) -> Path:
    """A new empty directory for one run's warehouses, SQLite files,
    generated inputs and temporary files, under the checkout."""
    path = WORK_ROOT / f"{name}-{os.getpid()}-{time.monotonic_ns()}"
    path.mkdir(parents=True)
    (path / "tmp").mkdir()
    return path


def remove_dir(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)


def peak_rss_mb(pid: int) -> float:
    """High-water resident set size of a live process (VmHWM)."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_seconds(pid: int) -> float:
    """User plus system CPU time a process has used."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def steal_ticks() -> int:
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) if len(cpu) > 8 else 0


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def environment(seed: int) -> dict:
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return {
        "seed": seed,
        "nproc": nproc(),
        "mem_total_gib": round(total_kb / 1024 / 1024, 1),
        "steal_ticks_start": steal_ticks(),
    }


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def emit_detail(workload: str, payload: dict) -> None:
    """One human-readable detail line ahead of the result line."""
    print(json.dumps({"workload": workload, **payload}, default=str), flush=True)
