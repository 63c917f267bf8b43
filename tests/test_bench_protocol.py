"""Unit tests for bench.py's scaling-evidence protocol helpers — the
pure arithmetic the judge-facing artifact depends on (steal-clean run
selection, pooled-median efficiency, never-max selection). No Spark.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import bench

# Explicit core counts: the protocol arithmetic takes them as
# parameters, so these tests do not depend on the host's CPU count.
LO, HI = 4, 16


def _level(runs_sec, steal_pct, cores):
    import statistics

    clean = [t for t, s in zip(runs_sec, steal_pct) if s <= bench.STEAL_CLEAN_PCT]
    basis = clean if len(clean) >= bench.MIN_CLEAN_RUNS else list(runs_sec)
    med = statistics.median(basis)
    return {
        "sec": round(med, 3),
        "all_runs_sec": list(runs_sec),
        "run_steal_pct": list(steal_pct),
        "clean_runs": len(clean),
        "steal_contaminated": len(clean) < bench.MIN_CLEAN_RUNS,
        "turns_per_sec": round(1000.0 / med, 1),
        "cores": cores,
    }


def _attempt(lo_runs, lo_steal, hi_runs, hi_steal):
    return {
        "lo": _level(lo_runs, lo_steal, LO),
        "hi": _level(hi_runs, hi_steal, HI),
    }


def test_pooled_efficiency_uses_only_steal_clean_runs():
    # lo has one contaminated run that is SLOWER; if it leaked into the
    # pool it would inflate lo_median and therefore the efficiency.
    a = _attempt([20.0, 20.0, 40.0], [1.0, 2.0, 20.0],
                 [5.0, 5.0, 5.0], [0.0, 0.0, 0.0])
    out = bench._pooled_efficiency([a], rows=1000, lo=LO, hi=HI)
    assert out["lo_median_sec"] == 20.0  # 40s run excluded
    assert out["efficiency"] == round((20.0 / 5.0) / 4, 3)
    assert out["n_clean_runs_pooled"] == {"lo": 2, "hi": 3}


def test_pooled_efficiency_is_median_not_max_across_attempts():
    # two attempts with different efficiencies: the pool must combine
    # their runs (median), never pick the better attempt.
    a1 = _attempt([20.0, 20.0, 20.0], [0, 0, 0], [6.0, 6.0, 6.0], [0, 0, 0])
    a2 = _attempt([24.0, 24.0, 24.0], [0, 0, 0], [5.0, 5.0, 5.0], [0, 0, 0])
    out = bench._pooled_efficiency([a1, a2], rows=1000, lo=LO, hi=HI)
    assert out["lo_median_sec"] == 22.0  # median of pooled [20x3, 24x3]
    assert out["hi_median_sec"] == 5.5
    e1 = (20.0 / 6.0) / 4
    e2 = (24.0 / 5.0) / 4
    assert min(e1, e2) < out["efficiency"] < max(e1, e2)


def test_pooled_efficiency_falls_back_to_all_runs_when_nothing_clean():
    a = _attempt([20.0, 22.0, 21.0], [9, 9, 9], [5.0, 5.0, 5.0], [0, 0, 0])
    out = bench._pooled_efficiency([a], rows=1000, lo=LO, hi=HI)
    assert out["lo_median_sec"] == 21.0  # all-runs fallback


def test_sane_hw_band_brackets_observed_probe_noise():
    # quiet-state probe readings observed while building the protocol
    observed = [0.989, 0.914, 0.934, 0.866, 0.871, 1.017, 0.87,
                0.902, 0.936, 0.967, 0.822, 0.945, 0.917, 0.798]
    lo, hi = bench.SANE_HW
    assert all(lo <= x <= hi for x in observed)
    # and the gross-window readings it exists to catch stay OUTSIDE
    for pathological in (3.765, 0.5):
        assert not (lo <= pathological <= hi)


def test_prev_round_loader_parses_driver_wrapper(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    (tmp_path / "BENCH_r02.json").write_text(
        json.dumps({"parsed": {"queries": {"q": 1.5}}})
    )
    (tmp_path / "BENCH_r03.json").write_text(
        json.dumps({"queries": {"q": 2.0}})  # bare shape, higher round
    )
    name, prev = bench._load_prev_queries()
    assert name == "r03"
    assert prev == {"q": 2.0}


def test_prev_round_loader_handles_missing_artifacts(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    assert bench._load_prev_queries() == ("", {})


# ---- final-line budget (round 5: driver tail capture is 2000 chars) --

def _worst_case_compact():
    """A compact dict at least as large as any real round produces:
    80 long-named queries, a full extract block, regressions, and
    maximal warnings."""
    queries = {
        f"winnow_containment_documents_variant_{i:02d}": round(
            0.11 * (i + 1), 3
        )
        for i in range(80)
    }
    return {
        "sf": 0.1,
        "unit": "sec",
        "extract": {
            "rows": 3400000,
            "cores": {"lo": 4, "hi": 16},
            "scaling_efficiency": 0.865,
            "window_valid": False,
            "lo_turns_per_sec": 31092.8,
            "hi_turns_per_sec": 107549.6,
            "skew": {
                "salt1_spread": 19.68,
                "salt8_spread": 4.77,
                "salt1_task_ms_max": 6593,
                "salt8_task_ms_max": 1399,
            },
        },
        "metric": "headline_queries_total",
        "queries": queries,
        "value": 123.456,
        "headline_rounds": 3,
        "query_regressions": {
            "vs": "r04",
            **{
                f"winnow_containment_documents_variant_{i:02d}": {
                    "r04_sec": 1.0,
                    "median_sec": 2.0,
                    "min_sec": 1.9,
                }
                for i in range(10)
            },
        },
        "warnings": [
            "second scaling attempt skipped: budget projection (210s "
            "elapsed + ~140s retry would starve the skew/headline "
            "reserve)",
            "no window-valid scaling attempt: headline pooled over all "
            "attempts; treat as measurement failure, not an engine "
            "number",
            "coverage tier truncated at 12 queries: driver-kill guard",
        ],
        "detail_file": "BENCH_DETAIL_r05.json",
    }


def test_fit_line_worst_case_fits_driver_tail_capture():
    compact = _worst_case_compact()
    line = bench._fit_line(compact)
    assert len(line) <= bench.LINE_BUDGET
    parsed = json.loads(line)
    # the never-shed core survives
    assert parsed["metric"] == "headline_queries_total"
    assert parsed["value"] == 123.456
    assert parsed["extract"]["scaling_efficiency"] == 0.865
    assert parsed["extract"]["skew"]["salt8_spread"] == 4.77
    assert parsed["detail_file"] == "BENCH_DETAIL_r05.json"


def test_fit_line_sheds_fastest_queries_first():
    compact = _worst_case_compact()
    line = bench._fit_line(compact)
    parsed = json.loads(line)
    q = parsed.get("queries", {})
    if q:
        # survivors must be the SLOWEST ones
        kept = min(q.values())
        assert kept >= 0.11 * (parsed["queries_omitted"])


def test_fit_line_small_compact_untouched():
    compact = {"metric": "m", "value": 1.0, "queries": {"a": 1.0}}
    line = bench._fit_line(compact)
    assert json.loads(line) == {
        "metric": "m", "value": 1.0, "queries": {"a": 1.0}
    }


def test_fit_line_real_r05_shape_keeps_most_queries():
    # the REAL round shape (the actual HEADLINE list, one warning):
    # must fit the budget while keeping (nearly) all per-query medians
    # — shedding a few fastest entries is fine, losing the dict is not
    compact = _worst_case_compact()
    compact["queries"] = {n: 12.345 for n in bench.HEADLINE}
    compact.pop("query_regressions")
    compact["warnings"] = compact["warnings"][:1]
    line = bench._fit_line(compact)
    assert len(line) <= bench.LINE_BUDGET
    kept = json.loads(line).get("queries", {})
    assert len(kept) >= len(bench.HEADLINE) - 6


# ---- regression min-guard (round 5) ----------------------------------

def test_regression_needs_median_and_min():
    prev = {"q_noise": 2.6, "q_real": 1.0, "q_fine": 1.0}
    qtimes = {"q_noise": 7.0, "q_real": 2.0, "q_fine": 1.1}
    qmins = {"q_noise": 1.7, "q_real": 1.8, "q_fine": 1.0}
    out = bench._flag_regressions(qtimes, qmins, prev, "r04")
    # q_noise: median regressed 2.7x but min is FASTER -> not flagged
    # (the exact r4 minhash_lsh_candidates false positive)
    assert "q_noise" not in out
    # q_real: both median (2x) and min (1.8x) regressed -> flagged
    assert out["q_real"] == {
        "r04_sec": 1.0, "median_sec": 2.0, "min_sec": 1.8
    }
    assert "q_fine" not in out


def test_prev_round_loader_falls_back_to_detail_file(tmp_path, monkeypatch):
    # r4's driver line was tail-clipped (parsed null) but its committed
    # DETAIL side file has the medians — the loader must use them
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    (tmp_path / "BENCH_r04.json").write_text(json.dumps({"parsed": None}))
    (tmp_path / "BENCH_DETAIL_r04.json").write_text(
        json.dumps({"query_spread": {"q": {"runs": [2.0, 1.0, 3.0]}}})
    )
    name, prev = bench._load_prev_queries()
    assert name == "r04"
    assert prev == {"q": 2.0}


def test_prev_round_loader_prefers_queries_median_key(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    (tmp_path / "BENCH_r05.json").write_text(json.dumps({"parsed": None}))
    (tmp_path / "BENCH_DETAIL_r05.json").write_text(
        json.dumps({"queries_median": {"q": 1.25},
                    "query_spread": {"q": {"runs": [9.0]}}})
    )
    assert bench._load_prev_queries() == ("r05", {"q": 1.25})


# ------------------------------------------------- A-B-A level schedule


def _arm(runs_sec, steal_pct, cores, rows=1000.0):
    import statistics

    clean = [t for t, s in zip(runs_sec, steal_pct) if s <= bench.STEAL_CLEAN_PCT]
    basis = clean if len(clean) >= bench.MIN_CLEAN_RUNS else list(runs_sec)
    med = statistics.median(basis)
    return {
        "sec": round(med, 3),
        "best_sec": round(min(runs_sec), 3),
        "all_runs_sec": list(runs_sec),
        "run_steal_pct": list(steal_pct),
        "clean_runs": len(clean),
        "steal_contaminated": len(clean) < bench.MIN_CLEAN_RUNS,
        "turns_per_sec": round(rows / med, 1),
        "best_turns_per_sec": round(rows / min(runs_sec), 1),
        "cores": cores,
    }


def test_merge_levels_recomputes_union_median_and_clean_flag():
    # arm A: one clean + one steal-dirty run; arm B: one clean run.
    a = _arm([10.0, 30.0], [0.5, 9.9], 4)
    b = _arm([12.0], [0.4], 4)
    m = bench._merge_levels(a, b, rows=1000.0)
    # union clean basis = [10.0, 12.0] -> median 11.0; dirty run kept
    # in the lists but out of the basis
    assert m["all_runs_sec"] == [10.0, 30.0, 12.0]
    assert m["clean_runs"] == 2
    assert m["steal_contaminated"] is False
    assert m["sec"] == 11.0
    assert m["turns_per_sec"] == round(1000.0 / 11.0, 1)
    assert m["best_sec"] == 10.0
    assert m["cores"] == 4


def test_merge_levels_contaminated_union_falls_back_to_all_runs():
    a = _arm([10.0], [9.9], 4)
    b = _arm([20.0], [9.8], 4)
    m = bench._merge_levels(a, b, rows=1000.0)
    assert m["steal_contaminated"] is True
    assert m["sec"] == 15.0  # median over ALL runs when nothing clean


def test_aba_schedule_cancels_linear_drift_where_sequential_does_not():
    """Property: under a linear machine-RATE drift, the
    mirror-symmetric lo×2 → hi×3 → lo×2 schedule's raw efficiency
    (median over the merged lo runs vs median over hi runs) stays
    within 0.5% of truth, while the sequential lo-block → hi-block
    schedule is biased an order of magnitude further. Continuous-time
    simulation: each run's duration solves ∫ rate(t) dt = work, so
    later runs really are shorter AND shift every subsequent start."""
    import statistics

    work_lo, work_hi = 24.0, 7.5   # seconds of work at rate 1.0
    slope = 0.002                  # rate(t) = 1 + slope * t  (per sec)

    def simulate(schedule):
        # duration d from ∫_T^{T+d} (1 + s·t) dt = W:
        #   d = (sqrt((1+s·T)^2 + 2·s·W) - (1+s·T)) / s
        t, out = 0.0, {"lo": [], "hi": []}
        for which in schedule:
            w = work_lo if which == "lo" else work_hi
            a = 1.0 + slope * t
            d = ((a * a + 2 * slope * w) ** 0.5 - a) / slope
            out[which].append(d)
            t += d
        return out

    def eff(r):
        return (statistics.median(r["lo"]) / statistics.median(r["hi"])) / (
            work_lo / work_hi
        )

    err_seq = abs(eff(simulate(["lo"] * 3 + ["hi"] * 3)) - 1.0)
    err_aba = abs(
        eff(simulate(["lo", "lo", "hi", "hi", "hi", "lo", "lo"])) - 1.0
    )
    assert err_aba < 0.005, err_aba
    assert err_seq > 10.0 * err_aba, (err_seq, err_aba)


def test_coverage_cost_hints_merge_and_unknown_first(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    (tmp_path / "BENCH_DETAIL_r04.json").write_text(json.dumps(
        {"coverage_timings": {"secs": {"a": 5.0, "b": 1.0, "dead": None}}}
    ))
    (tmp_path / "BENCH_DETAIL_r05.json").write_text(json.dumps(
        {"coverage_timings": {"secs": {"a": 2.0}}}  # later round wins
    ))
    hints = bench._coverage_cost_hints()
    assert hints == {"a": 2.0, "b": 1.0}
    # ordering rule used by the coverage tier: unknown first, then cheap
    names = ["a", "b", "new_query"]
    ordered = sorted(names, key=lambda n: hints.get(n, -1.0))
    assert ordered == ["new_query", "b", "a"]


def _fake_levels(monkeypatch, lo_arms, hi_runs=(5.5, 5.5, 5.5)):
    """Fake the level subprocesses: lo arms are served in order from
    ``lo_arms`` ((runs_sec, steal_pct) pairs; ``None`` = steal-free
    20 s runs, as many as the call asks for), hi gets ``hi_runs``.
    Returns the recorded subprocess argument lists."""
    calls = []
    arms = iter(lo_arms)

    def fake_subprocess(args):
        calls.append(args)
        cores = int(args[2])
        if cores == HI:
            return _arm(list(hi_runs), [0.0] * len(hi_runs), cores)
        spec = next(arms)
        if spec is None:
            n = int(args[4])
            spec = ([20.0] * n, [0.0] * n)
        return _arm(*spec, cores)

    monkeypatch.setattr(bench, "_subprocess_json", fake_subprocess)
    monkeypatch.setattr(
        bench, "_hardware_ceiling",
        lambda lo, hi: {"efficiency": 0.95, "lo_rows_per_sec": 100,
                        "hi_rows_per_sec": 380},
    )
    monkeypatch.setattr(bench, "_elapsed", lambda: 0.0)
    return calls


def test_scaling_attempt_aba_plumbing(monkeypatch):
    """The A-B-A attempt must: call lo/hi/lo with the right runs and
    min-clean args, merge the lo arms, and stamp the schedule."""
    calls = _fake_levels(monkeypatch, [None] * 4)
    monkeypatch.setenv("BENCH_HEADLINE", "0")  # scaling-only: arm=2
    att = bench._scaling_attempt(runs=3, rows=1000, idx=1, lo=LO, hi=HI)
    lo_calls = [c for c in calls if int(c[2]) == LO]
    assert [int(c[4]) for c in lo_calls] == [2, 2]   # mirror arms
    assert int(lo_calls[0][6]) == 2  # arm A clean quota = min(2, arm)
    assert int(lo_calls[1][6]) == 1  # arm B tops up what A left: 2-2
    assert len(att["lo"]["all_runs_sec"]) == 4  # merged 2+2
    assert att["lo"]["cores"] == LO and att["hi"]["cores"] == HI
    assert "A-B-A" in att["schedule"]
    assert att["schedule_asymmetric"] is False
    assert att["window_valid"] is True
    # eff = (1000/5.5) / (1000/20) / 4
    assert abs(att["efficiency"] - (20.0 / 5.5) / 4) < 0.01

    monkeypatch.setenv("BENCH_HEADLINE", "1")  # full bench: arm=1
    calls.clear()
    bench._scaling_attempt(runs=3, rows=1000, idx=1, lo=LO, hi=HI)
    lo_calls = [c for c in calls if int(c[2]) == LO]
    assert [int(c[4]) for c in lo_calls] == [1, 1]
    assert int(lo_calls[0][6]) == 1


def test_scaling_attempt_flags_asymmetric_when_arm_a_has_no_clean_run(
    monkeypatch,
):
    """Arm A all steal-dirty: arm B's top-up puts every clean lo run
    after the hi block, so the merged level reads clean but the mirror
    cancellation is lost — flagged, and never window-valid."""
    monkeypatch.setenv("BENCH_HEADLINE", "0")
    _fake_levels(monkeypatch, [
        ([20.0, 20.0], [9.0, 9.0]),                 # arm A: dirty
        ([20.0, 20.0, 20.0], [0.0, 0.0, 0.0]),      # arm B: tops up
    ])
    att = bench._scaling_attempt(runs=3, rows=1000, idx=1, lo=LO, hi=HI)
    assert att["lo"]["steal_contaminated"] is False  # merged looks clean
    assert att["schedule_asymmetric"] is True
    assert att["window_valid"] is False
    # every other gate passes: the asymmetry alone voids the window
    assert att["hw_window_sane"] and att["steal_clean"]
    assert att["run_spread_sane"] and 0 < att["efficiency"] <= bench.MAX_EFF


def test_spread_gate_uses_raw_clean_seconds(monkeypatch):
    """The run-spread gate reads raw steal-clean seconds: lo arms that
    drift 50% apart (median over 4 = 30 s vs min 24 s = 1.25) void
    the window; a steal-dirty slow run does not enter the spread."""
    monkeypatch.setenv("BENCH_HEADLINE", "0")
    _fake_levels(monkeypatch, [
        ([24.0, 24.0], [0.0, 0.0]),
        ([36.0, 36.0], [0.0, 0.0]),
    ])
    att = bench._scaling_attempt(runs=3, rows=1000, idx=1, lo=LO, hi=HI)
    assert att["run_spread"] == 1.25
    assert att["run_spread_sane"] is False
    assert att["window_valid"] is False

    _fake_levels(monkeypatch, [
        ([24.0, 24.0], [0.0, 0.0]),
        ([24.0, 60.0], [0.0, 20.0]),  # slow run is steal-dirty
    ])
    att = bench._scaling_attempt(runs=3, rows=1000, idx=1, lo=LO, hi=HI)
    assert att["run_spread"] == 1.0
    assert att["run_spread_sane"] is True


def test_main_reports_no_efficiency_when_hi_not_above_lo(
    monkeypatch, tmp_path, capsys,
):
    """On a host where hi <= lo (4 CPUs: 4 vs 4) main must not time
    4 against 4: no scaling attempt, no efficiency, and the warning
    survives into the parseable final line."""
    def no_attempt(*a, **k):
        raise AssertionError("scaling attempt on an unmeasurable host")

    monkeypatch.setattr(bench, "CPUS", 4)
    monkeypatch.setattr(bench, "LO_CORES", 4)
    monkeypatch.setattr(bench, "HI_CORES", 4)
    monkeypatch.setattr(bench, "_scaling_attempt", no_attempt)
    monkeypatch.setattr(bench, "_ensure_corpus", lambda: 1000)
    monkeypatch.setattr(
        bench, "_detail_path", lambda: str(tmp_path / "BENCH_DETAIL_r99.json")
    )
    monkeypatch.setattr(sys, "argv", ["bench.py"])
    monkeypatch.setenv("BENCH_SKEW", "0")
    monkeypatch.setenv("BENCH_HEADLINE", "0")
    assert bench.main() == 0
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert len(line) <= bench.LINE_BUDGET
    out = json.loads(line)
    assert out["warnings"][0].startswith("scaling not measurable on this host")
    assert out["extract"] == {"rows": 1000, "cores": {"lo": 4, "hi": 4}}
    detail = json.loads((tmp_path / "BENCH_DETAIL_r99.json").read_text())
    assert "scaling_efficiency" not in detail["extract"]
    assert "attempts" not in detail["extract"]
