"""The bench's final stdout line must fit the driver's 2000-char tail
capture AND stay valid JSON with the headline fields intact — otherwise
the round record shows parsed: null and the metric is lost."""

from __future__ import annotations

import json

from bench import summary_line


def _out(n_queries: int, with_errors: bool = False) -> dict:
    times = {f"q{i:03d}_some_descriptive_query_name": 1.2345 + i for i in range(n_queries)}
    out = {
        "metric": "sum_query_wall_sec",
        "value": round(sum(times.values()), 4),
        "unit": "sec",
        "queries": times,
        "n_queries": len(times),
        "sf": 0.1,
    }
    if with_errors:
        out["errors"] = {f"q{i}_bad": "SomeError: " + "x" * 300 for i in range(8)}
        out["value"] = None
    return out


def test_line_fits_tail_capture():
    for n in (0, 5, 146, 400):
        line = summary_line(_out(n))
        assert len(line) <= 1900, (n, len(line))
        parsed = json.loads(line)
        assert parsed["metric"] == "sum_query_wall_sec"
        assert parsed["n_queries"] == n
        assert parsed["value"] is not None
        assert parsed["queries_shown"] <= n


def test_slowest_queries_kept():
    parsed = json.loads(summary_line(_out(300)))
    kept = parsed["queries"]
    # the slowest entries (highest index in the synthetic data) survive
    assert "q299_some_descriptive_query_name" in kept
    assert "q000_some_descriptive_query_name" not in kept


def test_errors_truncated_but_present():
    line = summary_line(_out(146, with_errors=True))
    assert len(line) <= 1900
    parsed = json.loads(line)
    assert parsed["value"] is None
    assert parsed["errors"]
    assert all(len(v) <= 80 for v in parsed["errors"].values())


def test_isolated_failure_never_falls_back_to_shared_session():
    """ADVICE r9 (medium): a query that failed its fresh-JVM run must
    NOT re-run in the shared loop — that records the JIT-polluted
    number the isolation exists to avoid and double-books the query in
    both `queries` and `errors`."""
    from bench import _shared_loop_order

    registry = {"q96_pagerank_canonical", "q01_scan_projection", "q29_stream_x"}
    names = _shared_loop_order(registry, {}, {"q96_pagerank_canonical": "isolated: boom"})
    assert "q96_pagerank_canonical" not in names
    assert names == ["q01_scan_projection", "q29_stream_x"]
    # with a recorded fresh-JVM number it is equally excluded
    names = _shared_loop_order(registry, {"q96_pagerank_canonical": [1.0]}, {})
    assert "q96_pagerank_canonical" not in names


def test_isolated_failure_artifact_shape():
    """VERDICT r10 #5: a round with ONE isolated-subprocess failure must
    still ship a well-formed artifact — error recorded, headline null,
    failed query absent from `queries` (no double-booking), partial sum
    only under sum_succeeded_sec — and the summary line must parse and
    carry all of it."""
    from bench import _RunLog, _shared_loop_order, build_artifact

    registry = {"q96_pagerank_canonical", "q49_dedup_clusters", "q01_scan_projection"}
    log = _RunLog()
    for sec in (2.4, 1.9, 2.0):
        log.sample("q49_dedup_clusters", "iso1", sec, 10.0)
    log.sample("q96_pagerank_canonical", "iso1", 7.0, 20.0)
    log.fail("q96_pagerank_canonical", "isolated p2: RuntimeError: boom")
    # the iso-failed query never re-enters the shared loop (ADVICE r9)
    shared = _shared_loop_order(registry, log.samples, log.errors)
    assert shared == ["q01_scan_projection"]
    log.sample("q01_scan_projection", "p1", 0.42, 30.0)  # the shared loop's one result
    out = build_artifact(
        log, ["q49_dedup_clusters", "q96_pagerank_canonical"], "testdata/sf0.1"
    )
    assert out["value"] is None
    assert out["errors"] == {"q96_pagerank_canonical": "isolated p2: RuntimeError: boom"}
    assert "q96_pagerank_canonical" not in out["queries"]
    assert "q96_pagerank_canonical" not in out["samples"]
    assert out["queries"] == {"q49_dedup_clusters": 1.9, "q01_scan_projection": 0.42}
    assert out["sum_succeeded_sec"] == round(1.9 + 0.42, 4)
    assert out["isolated"] == ["q49_dedup_clusters"]
    assert out["n_queries"] == 2
    line = summary_line(out)
    parsed = json.loads(line)
    assert parsed["value"] is None
    assert parsed["errors"]["q96_pagerank_canonical"].startswith("isolated")
    assert parsed["sum_succeeded_sec"] == out["sum_succeeded_sec"]


def test_samples_ride_full_artifact_not_the_line():
    """VERDICT r12 #2: build_artifact carries the per-execution sample
    vectors ({name: [[pass_label, sec, t_mid], ...]}) so within-run
    spread is attributable from ONE committed record; the stdout line
    drops them (they would blow the 2000-char tail capture)."""
    from bench import _RunLog, build_artifact, summary_line

    log = _RunLog()
    log.sample("q_x", "p1", 1.23, 100.0)
    log.sample("q_x", "fast2", 1.11, 300.5)
    log.sample("q_y", "iso1", 5.5, 50.0)
    out = build_artifact(log, ["q_y"], "testdata/sf0.1")
    assert out["samples"] == {
        "q_x": [["p1", 1.23, 100.0], ["fast2", 1.11, 300.5]],
        "q_y": [["iso1", 5.5, 50.0]],
    }
    # each query's value is the min over its samples
    assert out["queries"] == {"q_x": 1.11, "q_y": 5.5}
    parsed = json.loads(summary_line(out))
    assert "samples" not in parsed
    # rounding discipline: sample() rounds sec to 4 and t_mid to 2
    log2 = _RunLog()
    log2.sample("q_z", "p1", 1.234567, 99.12345)
    assert log2.samples["q_z"] == [["p1", 1.2346, 99.12]]


def test_clean_run_artifact_has_no_error_keys():
    from bench import _RunLog, build_artifact

    log = _RunLog()
    log.sample("q01_scan_projection", "p1", 1.0, 1.0)
    out = build_artifact(log, [], "testdata/sf0.1")
    assert out["value"] == 1.0
    assert "errors" not in out and "sum_succeeded_sec" not in out
    assert "isolated" not in out


def test_line_key_set_is_pinned():
    """The stdout line carries exactly the one-line summary fields:
    nothing of the full record (samples, box-health rows) and none of
    the retired calibration fields, and it fits the tail capture at 400
    queries with every full-record field populated."""
    from bench import _RunLog, build_artifact

    log = _RunLog()
    for i in range(400):
        name = f"q{i:03d}_some_descriptive_query_name"
        for label in ("p1", "fast2", "fast3"):
            log.sample(name, label, 1.2345 + i, 100.0 + i)
    for label in ("start", "iso1", "iso2", "shared", "fast2", "fast3", "end"):
        log.health.append({"label": label, "t": 1.0, "numpy_gemm_1024_sec": 0.01,
                           "python_loop_2m_sec": 0.1, "memfault_256m_mb_s": 900.0})
    base = {"metric", "value", "unit", "queries", "n_queries", "sf", "queries_shown"}
    out = build_artifact(log, ["q000_some_descriptive_query_name"], "testdata/sf0.1")
    assert {"samples", "box_health"} <= set(out)
    line = summary_line(out)
    assert len(line) <= 1900
    parsed = json.loads(line)
    assert set(parsed) == base | {"isolated"}
    assert parsed["value"] is not None and parsed["n_queries"] == 400
    log.fail("q001_some_descriptive_query_name", "RuntimeError: boom")
    line = summary_line(build_artifact(log, [], "testdata/sf0.1"))
    assert len(line) <= 1900
    parsed = json.loads(line)
    assert set(parsed) == base | {"errors", "sum_succeeded_sec"}
    assert parsed["value"] is None


def _load_tool(name):
    import importlib.util
    import os

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(here, "tools", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_bench_compare_same_code_ab():
    """tools/bench_compare.py --ab: same-code reproducibility stats —
    within-10% shares split at the 2 s fast/slow boundary, movers
    ranked by |delta|, totals carried through verbatim."""
    bc = _load_tool("bench_compare")
    a = {
        "value": 10.0,
        "queries": {"fast_ok": 1.0, "fast_bad": 1.0, "slow_ok": 5.0, "slow_bad": 4.0},
    }
    b = {
        "value": 11.0,
        "queries": {"fast_ok": 1.05, "fast_bad": 1.5, "slow_ok": 5.2, "slow_bad": 8.0},
    }
    out = bc.compare_same_code(a, b)
    assert out["compared"] == 4 and out["within_10pct"] == 2
    assert out["within_10pct_share"] == 0.5
    assert out["fast_within_10pct_share"] == 0.5  # fast_ok yes, fast_bad no
    assert out["slow_within_10pct_share"] == 0.5
    # absolute-floor lens: slow_ok (+4%) and fast_ok (+50ms) pass both
    # ways; fast_bad (+0.5s, +50%) and slow_bad (+4s, +100%) fail both
    assert out["within_10pct_or_200ms_share"] == 0.5
    assert list(out["movers"])[0] == "slow_bad"  # +100% is the top mover
    assert out["totals"] == {"a": 10.0, "b": 11.0}


def test_isolated_two_pass_merges_runs_and_marks_winning_pass(monkeypatch):
    """r12 two-pass isolated scheme: each query's runs accumulate across
    both subprocess passes as iso1/iso2 samples, the recorded time is
    the min over both whichever pass produced it, pass-2 subprocesses
    are asked for 2 minimum runs on the command line, and a pass-2
    failure drops the query entirely (flakiness surfaces, never
    averages away)."""
    import subprocess
    import types

    import bench

    calls = []

    def fake_run(cmd, **kw):
        assert cmd[-3] == "--single"
        name, min_runs = cmd[-2], cmd[-1]
        p = len([c for c in calls if c[0] == name])  # 0-based pass idx
        calls.append((name, min_runs))
        if name == "q_flaky" and p == 1:
            raise RuntimeError("jvm died")
        runs = {"q_a": [[10.0, 4.0, 3.5], [9.0, 2.5]],     # pass 2 wins
                "q_b": [[8.0, 2.0], [7.0, 2.9]],           # pass 1 wins
                "q_flaky": [[5.0, 1.0], None]}[name][p]
        # the subprocess stamps [sec, t_mid] per execution (r13)
        samples = [[r, 1000.0 * (p + 1) + i] for i, r in enumerate(runs)]
        return types.SimpleNamespace(
            stdout=json.dumps({"name": name, "runs": runs, "samples": samples}) + "\n",
            stderr="", returncode=0,
        )

    monkeypatch.setattr(subprocess, "run", fake_run)
    monkeypatch.setattr(bench, "_box_health", lambda: {"numpy_gemm_1024_sec": 0.01})
    log = bench._RunLog()
    bench._run_isolated(["q_a", "q_b", "q_flaky"], log)

    assert [s[1] for s in log.samples["q_a"]] == [10.0, 4.0, 3.5, 9.0, 2.5]
    assert log.best("q_a") == 2.5 and log.best("q_b") == 2.0
    # flaky: pass-1 success + pass-2 failure -> error recorded, samples dropped
    assert "q_flaky" not in log.samples and "isolated p2" in log.errors["q_flaky"]
    # VERDICT r12 #2: every subprocess execution lands in the sample
    # vector as [pass_label, sec, t_mid]
    assert log.samples["q_a"] == [
        ["iso1", 10.0, 1000.0], ["iso1", 4.0, 1001.0], ["iso1", 3.5, 1002.0],
        ["iso2", 9.0, 2000.0], ["iso2", 2.5, 2001.0],
    ]
    assert [s[0] for s in log.samples["q_b"]] == ["iso1", "iso1", "iso2", "iso2"]
    # pass 1 asks for 3 minimum runs, pass 2 for 2
    by_pass = {}
    for name, min_runs in calls:
        by_pass.setdefault(name, []).append(min_runs)
    assert by_pass["q_a"] == ["3", "2"]
    # one box-health row before each pass
    assert [h["label"] for h in log.health] == ["iso1", "iso2"]


def test_bench_compare_all_fast_slow_share_is_none():
    """ADVICE r12: an all-fast A/B has no slow cohort —
    slow_within_10pct_share must read None (mirroring the fast-share
    handling), not 0%."""
    bc = _load_tool("bench_compare")
    out = bc.compare_same_code({"queries": {"f1": 0.5, "f2": 0.8}},
                               {"queries": {"f1": 0.51, "f2": 0.82}})
    assert out["slow_within_10pct_share"] is None
    assert out["fast_within_10pct_share"] == 1.0
    # and symmetrically: an all-slow A/B reads fast=None
    out2 = bc.compare_same_code({"queries": {"s1": 5.0}}, {"queries": {"s1": 5.2}})
    assert out2["fast_within_10pct_share"] is None
    assert out2["slow_within_10pct_share"] == 1.0


def test_bench_compare_spread_lens():
    """r13: with per-execution sample vectors in the records, --ab
    annotates each mover with both sides' within-run spreads and
    whether the delta is COVERED (noise classified from the committed
    records alone), plus the share of ±10% misses covered by spread."""
    bc = _load_tool("bench_compare")
    a = {
        "queries": {"q_cov": 4.0, "q_real": 4.0, "q_ok": 1.0},
        "samples": {
            # q_cov's own pass-to-pass spread (4.0..5.1) spans the +1s delta
            "q_cov": [["iso1", 5.1, 10.0], ["iso2", 4.0, 500.0]],
            "q_real": [["iso1", 4.05, 20.0], ["iso2", 4.0, 600.0]],
            "q_ok": [["p1", 1.0, 30.0]],
        },
    }
    b = {
        "queries": {"q_cov": 5.0, "q_real": 5.0, "q_ok": 1.02},
        "samples": {
            "q_cov": [["iso1", 5.0, 10.0], ["iso2", 5.05, 500.0]],
            "q_real": [["iso1", 5.0, 20.0], ["iso2", 5.02, 600.0]],
            "q_ok": [["p1", 1.02, 30.0]],
        },
    }
    out = bc.compare_same_code(a, b)
    ms = out["movers_spread"]
    assert ms["q_cov"]["covered"] is True and ms["q_cov"]["a_spread_sec"] == 1.1
    assert ms["q_real"]["covered"] is False  # tight samples both sides: real
    # misses = q_cov and q_real (+25%); exactly one is spread-covered
    assert out["miss_covered_by_spread"] == 0.5
    # the spread is STEADY-state: a fresh-JVM pass's first sample (the
    # cold warm-up run, routinely 2-4x steady) must not make a delta
    # read `covered` — with it excluded, q_warm's tight steady samples
    # (4.0..4.1 vs 5.0..5.1) leave the +1s delta uncovered
    aw = {
        "queries": {"q_warm": 4.0},
        "samples": {"q_warm": [
            ["iso1", 16.0, 10.0], ["iso1", 4.1, 20.0], ["iso1", 4.0, 30.0],
            ["iso2", 15.0, 500.0], ["iso2", 4.05, 510.0],
        ]},
    }
    bw = {
        "queries": {"q_warm": 5.0},
        "samples": {"q_warm": [
            ["iso1", 17.0, 10.0], ["iso1", 5.1, 20.0], ["iso2", 5.0, 500.0]
        ]},
    }
    msw = bc.compare_same_code(aw, bw)["movers_spread"]["q_warm"]
    assert msw["a_spread_sec"] == 0.1 and msw["covered"] is False
    # _steady_secs keeps singleton warm-JVM labels (p1/rerun/fast*) as-is
    assert bc._steady_secs([["p1", 3.0, 1.0], ["fast2", 2.8, 2.0]]) == [3.0, 2.8]
    # records without samples: no spread keys, no crash
    out_nosamp = bc.compare_same_code({"queries": {"q": 4.0}}, {"queries": {"q": 5.0}})
    assert "movers_spread" not in out_nosamp


def test_bench_compare_cli_contract(tmp_path):
    """ADVICE r12 tool-UX: --help exits 0 (flags are not file paths),
    --ab with fewer than two paths errors out, and a command line
    without --ab (the retired calibrated mode) errors instead of
    comparing anything."""
    import os
    import subprocess
    import sys

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tool = os.path.join(here, "tools", "bench_compare.py")
    r = subprocess.run([sys.executable, tool, "--help"], capture_output=True, text=True)
    assert r.returncode == 0 and "usage" in r.stdout.lower()
    r = subprocess.run([sys.executable, tool, "--ab"], capture_output=True, text=True)
    assert r.returncode != 0 and "two record paths" in r.stderr
    a = tmp_path / "a.json"
    a.write_text(json.dumps({"queries": {"q": 1.0}, "value": 1.0}))
    r = subprocess.run([sys.executable, tool, "--ab", str(a)], capture_output=True, text=True)
    assert r.returncode != 0 and "two record paths" in r.stderr
    r = subprocess.run([sys.executable, tool, str(a), str(a)], capture_output=True, text=True)
    assert r.returncode != 0 and "--ab" in r.stderr
    r = subprocess.run([sys.executable, tool, "--ab", str(a), str(a)],
                       capture_output=True, text=True)
    assert r.returncode == 0
    assert json.loads(r.stdout)["within_10pct_share"] == 1.0


def test_record_loaders_descend_committed_wrappers(tmp_path):
    """Committed per-round records are wrappers ({n, rc, tail, parsed});
    bench_compare must descend into `parsed` so `--ab` runs against
    them as well as against a full BENCH_FULL record."""
    bc = _load_tool("bench_compare")
    inner = {"queries": {"q": 1.5}, "value": 1.5}
    p = tmp_path / "BENCH_rXX.json"
    p.write_text(json.dumps({"n": 1, "rc": 0, "tail": "...", "parsed": inner}))
    assert bc.load_record(str(p))["queries"] == {"q": 1.5}
    # a full record passes through untouched
    f = tmp_path / "BENCH_FULL.json"
    f.write_text(json.dumps({"queries": {"q": 2.0}, "samples": {}}))
    assert bc.load_record(str(f))["queries"] == {"q": 2.0}
