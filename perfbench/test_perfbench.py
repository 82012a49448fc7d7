"""Tests of the benchmark itself: a tiny run of every workload in both
modes, the printed metric names against BENCHMARK.json, the refusal to
run without the program, and each correctness check rejecting a planted
wrong result.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
sys.path.insert(0, str(ROOT))


def run_bench(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, str(cwd / "perfbench" / "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_prints_the_benchmark_metrics(workload, trace):
    out = run_bench("--workload", workload, "--seed", "5", "--seconds", "1",
                    "--trace", str(trace), "--scale", "0.1")
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in spec]
    for m in spec:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = run_bench("--workload", "catalog-rest", "--seed", "1", "--seconds", "1",
                    "--trace", "0", cwd=tmp_path)
    assert out.returncode != 0
    assert "metrics" not in out.stdout


def test_catalog_check_rejects_a_dropped_acknowledged_commit():
    from catalog_rest import Ledger, check_ledger

    ledger = Ledger()
    ledger.ack([("t0000", 11, [])], 1)
    ledger.ack([("t0000", 12, [1])], 2)  # expires the seeded snapshot 1
    kept = {
        "snapshots": [{"snapshot-id": 11, "parent-snapshot-id": 1},
                      {"snapshot-id": 12, "parent-snapshot-id": 11}],
        "refs": {"main": {"snapshot-id": 12}},
    }
    assert check_ledger(ledger, {"t0000": kept}) == []
    dropped = {
        "snapshots": [{"snapshot-id": 12, "parent-snapshot-id": 1}],
        "refs": {"main": {"snapshot-id": 12}},
    }
    assert check_ledger(ledger, {"t0000": dropped}) == [
        "t0000: acknowledged snapshot 11 is lost"]


def test_query_check_rejects_a_perturbed_result(tmp_path):
    import datagen
    from query_mix import check_results

    from iceberg_rest_server_spark.oracle import duck_connect
    from iceberg_rest_server_spark.queries import REGISTRY

    name = "q63_tpch_q1"
    sf_dir = str(datagen.write(3, 0.001, tmp_path))
    con = duck_connect(sf_dir)
    good = con.sql(REGISTRY[name].oracle).df()
    con.close()
    assert check_results({name: good}, sf_dir) == []
    bad = good.copy()
    column = bad.select_dtypes("number").columns[0]
    bad.loc[0, column] = bad.loc[0, column] + 1
    assert len(check_results({name: bad}, sf_dir)) == 1


def test_lakehouse_check_rejects_a_wrong_final_table(tmp_path):
    from lakehouse_dml import check_table, script_inputs

    final = script_inputs(3, 0.001, tmp_path)["expected"]["final"]
    assert check_table(final.sample(frac=1.0, random_state=1), final) == []
    changed = final.copy()
    changed.loc[0, "l_quantity"] += 1.0
    assert len(check_table(changed, final)) == 1
    assert len(check_table(final.iloc[1:], final)) == 1


def test_generated_inputs_follow_the_seed():
    import datagen

    a, b, c = datagen.tables(7, 0.001), datagen.tables(7, 0.001), datagen.tables(8, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
