#!/usr/bin/env python
"""Benchmark harness (driver contract + north-rule scaling evidence).

Prints ONE **compact** JSON line (VERDICT r3 item 1: the r3 line
carried every attempt's run/steal series and outgrew the driver's
tail capture, so BENCH_r03 recorded ``parsed: null`` — an artifact
the driver can't parse is an artifact that doesn't exist):

    {"metric": "headline_queries_total", "value": <sec>, "unit": "sec",
     "queries": {<name>: median_sec, ...}, "sf": 0.1,
     "headline_rounds": R,
     "extract": {"rows": N, "scaling_efficiency": e, "window_valid":
                 true, "skew": {"salt1_spread": s1, "salt8_spread": s8}},
     "detail_file": "BENCH_DETAIL_r{N}.json"}

The full evidence — every attempt with its run/steal series and
bracketing hw probes, per-query spreads, phase wall-clocks, the
complete skew harvest — goes to ``BENCH_DETAIL_r{N}.json`` next to
this file (committed by the round's final commit), where N is one
past the highest recorded ``BENCH_r*.json``.

Three parts:

1. **Scaling evidence** (BASELINE.md protocol — the sandbox stand-in
   for N vs 4N executors): the identical extraction job (bucket shuffle
   → streaming mapInArrow kernels → sortWithinPartitions → noop sink)
   over the same cached synthetic transcript corpus (Zipf-skewed with
   forced mega-conversations) at ``local[4]`` then ``local[16]``;
   reports turns/sec at both and
   ``eff = (thr_hi / thr_lo) / (cpus_hi / cpus_lo)``. The 4→16 pair is
   the N-vs-4N comparison inside this VM's linear region: at 8→32 the
   bare-kernel multiprocessing ceiling is itself ~0.75 (one shared
   memory bus + frequency scaling), so no engine could show 0.8 there
   (BASELINE.md has both pairs' numbers).

   **Acceptance protocol (round 3 — replaces round 2's one-sided
   retry, VERDICT r2 item 1):** every scaling pass is *bracketed* by
   its own hardware-ceiling probes (the same kernels via bare
   multiprocessing at 4 vs 16 processes, immediately before AND after
   the two Spark levels). A pass is **window-valid** iff both probes
   land inside ``SANE_HW`` = [0.78, 1.10] (the probe's own pool-ratio
   noise spans 0.80-1.02 across quiet states, so the band sits just
   below its noise floor and exists to catch GROSS windows — 3.765-
   or 0.5-style readings; fine-grained contamination is the steal
   counter's job), AND each level has at
   least MIN_CLEAN_RUNS runs whose *measured host CPU-steal* was ≤
   5% — this guest exposes steal in /proc/stat, and run time tracks
   it directly (8.2s at 6% steal vs 9.6s at 14% in back-to-back
   identical runs), so each timed run records the steal it suffered
   and level medians are computed over CLEAN runs only (selection on
   an independent contamination covariate, never on the timing
   itself, applied identically at both levels; up to 2 extra runs
   top up a level short on clean runs), AND each level's clean-run
   spread (median/min) is ≤ 1.2 (residual contention the steal
   counter didn't see; quiet median/min is 1.0-1.1, and median/min
   rather than max/min keeps one slow outlier from voiding a
   trustworthy median), AND the first lo arm of the A-B-A schedule
   (below) contributed at least one clean run (otherwise every clean
   lo run lands after the hi block and the mirror symmetry is lost —
   the attempt is stamped ``schedule_asymmetric``), AND the measured
   efficiency is in (0, 1.05] (super-unit 4→16 scaling is physically
   implausible — a low level poisoned by steal, not a fast engine).
   A SECOND bounded attempt runs **unconditionally whenever the
   wall-clock budget projection allows** (ADVICE r3: retrying only on
   low/invalid first readings is one-sided resampling; firing on a
   budget projection — made before looking at the first attempt's
   efficiency — is symmetric), and NEVER at the expense of the skew
   evidence or a ≥2-round headline (VERDICT r3 items 1-2: the r3
   retry overran the budget by 46 s and starved both). The recorded
   headline is the **median over all per-level runs pooled from
   window-valid attempts** — NEVER max-of-attempts — and every
   attempt plus both its probes is in the detail file. If no attempt
   is window-valid the artifact says so (``window_valid: false``)
   instead of laundering a noisy number.

   Measured necessities retained from round 2 (details in BASELINE.md):
   full-job untimed warm runs; the SAME number of timed runs at both
   levels; efficiency from MEDIANS; forced double full-GCs between
   timed runs (ContextCleaner reclaims shuffle state only on full GC);
   each level in its own SUBPROCESS (fresh JVM); shuffle dir on tmpfs +
   shuffle compression off (local mode has no network); fixed
   num_buckets across levels (byte-identical plan).

   **One drift correction: the A-B-A schedule.** This VM drifts in a
   way the steal counter cannot see (few-active-core frequency boost
   decaying or recovering under sustained load). The lo level is
   split into equal arms around the hi level (lo×m → hi×runs → lo×m,
   each arm a fresh JVM with its own warms), so the lo median over the
   merged runs sits at the hi block's time-center and a LINEAR clock
   drift cancels exactly in the raw ratio. Together with the per-run
   steal filter it is the only correction applied to the timings; the
   bracketing probes above are a validity gate, never a divisor. See
   ``_scaling_attempt``.

   The level pair is LO_CORES=4 vs HI_CORES=min(16, CPUS). When
   hi ≤ lo (a host with 4 or fewer CPUs) the scaling attempts are
   skipped: the artifact carries the warning "scaling not measurable
   on this host" and no efficiency. The protocol arithmetic takes the
   two core counts as parameters, so it is testable on any host.

2. **Skew/straggler evidence** (VERDICT r2 item 6): the same job at
   ``salt_buckets`` 1 vs 8 on the Zipf corpus (3 forced 50k-turn
   mega-conversations), per-task executor run times harvested from the
   Spark event log; reports max/median task-time spread at both salts —
   the number that shows the salting machinery actually bounding the
   mega-conversation straggler, not just preserving results.

3. **Headline catalog queries** at ``$SPARK_GRAFT_SF_DIR`` (default
   /root/testdata/sf0.1): each timed to full materialization via the
   noop sink, **median of 3 interleaved rounds** (VERDICT r2 item 2;
   single-shot timings made r1→r2 regressions indistinguishable from
   steal windows), with per-query spread reported and any query whose
   median AND min both regress >1.5× vs the last parseable round
   flagged (min-guard: a one-burst outlier median cannot flag alone).

4. **Coverage tier**: one timed run at sf0.01 for every catalog query
   without headline history (timings in the DETAIL file), so no
   catalog query is ever fully untimed.

The final stdout line is budgeted to ≤1800 bytes (the driver records
only the last 2000 chars; r2-r4 artifacts were ``parsed: null`` from
head-clipped oversized lines) — full evidence always lands in the
committed ``BENCH_DETAIL_r{N}.json`` side file.

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default 32),
BENCH_SCALING=0 / BENCH_SKEW=0 / BENCH_HEADLINE=0 / BENCH_COVERAGE=0
to skip parts, BENCH_COVERAGE_SF_DIR (see COVERAGE_SF_DIR below).
Everything else is a constant below (corpus size, runs per level,
query rounds, core counts, wall-clock budget and kill guard).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPO = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# ≈ 0.62M turns incl. the mega tail — short runs × more of them beats
# long runs × few on this noise profile, and the bench MUST finish
# inside its caller's ~10-min kill even with steal-induced top-ups.
N_CONVS = 100000
RUNS = 3  # timed runs per level (same at both levels)
QUERY_RUNS = 3  # headline rounds: 2 guaranteed, the 3rd budget-gated
LO_CORES = 4
HI_CORES = min(16, CPUS)
BUDGET_S = 500.0  # soft wall-clock budget (the bench is killed at ~10 min)
SEED = 42
MEGA, MEGA_TURNS = 3, 50000  # forced skew: salting must earn its keep
NUM_BUCKETS, SALT_BUCKETS = 256, 8
# Sane band for the bracketing hw-ceiling probes. The probe's own
# pool-ratio noise spans 0.80-1.02 across quiet states (14
# observations recorded while building round 3), so the band sits
# just below that noise floor — it exists to catch GROSS steal
# windows (0.5- or 3.8-style readings), while fine-grained
# contamination is caught by the per-run steal counter, which is the
# primary signal.
SANE_HW = (0.78, 1.10)
MAX_EFF = 1.05  # super-unit lo→hi scaling = a poisoned lo level
MAX_RUN_SPREAD = 1.2  # within-level median/min run ratio (quiet ~1.0-1.1)
CACHE = os.path.join(REPO, ".bench", f"transcripts-v1-{N_CONVS}")

# Budget reserves (seconds) for the phases that must NEVER be starved
# by scaling work (VERDICT r3 items 1-2). Sized from measured clean
# passes (BASELINE.md: skew 43-60 s; headline 51 s/round at 24
# queries, ~65 s at the widened 30-query list; session+warm ~25 s).
SKEW_COST_S = 75.0
HEADLINE_ROUND_S = 105.0  # reserve estimate (r5 pass 8 measured ~105 s cold rounds); the loop itself is self-measuring
HEADLINE_FIXED_S = 30.0
# A runs=2 retry attempt costs ~this fraction of the measured runs=3
# first attempt (fixed costs — warms, session starts, probes —
# dominate; one timed run per level is saved).
RETRY_COST_FRACTION = 0.85
# The driver kills the bench process at ~10 min; a killed bench records
# NO artifact, which is strictly worse than a 1-round flagged one, so
# every phase-start decision also respects this hard wall.
KILL_GUARD_S = 585.0

T_START = time.time()

# Hard cap for the FINAL printed JSON line. The driver records only the
# last 2000 chars of stdout (BENCH_r04.json: tail is exactly 2000,
# head-clipped → parsed null three rounds running); 1800 leaves margin
# for any trailing newline/log interleave. Everything that doesn't fit
# lives in BENCH_DETAIL_r{N}.json, always.
LINE_BUDGET = 1800

# Coverage tier: single-run timings at this (cheap) scale for every
# catalog query with no headline history, so a regression in them is
# visible at all (VERDICT r4 item 4). Timings land in the DETAIL file.
COVERAGE_SF_DIR = os.environ.get(
    "BENCH_COVERAGE_SF_DIR", "/root/testdata/sf0.01"
)

HEADLINE = [
    "flagship_extract",
    "p1_payload_kind",
    "tokens_documents",
    "quality_documents",
    "fingerprint_documents",
    "langid_documents",
    "dedup_exact_documents",
    "minhash_signatures_documents",
    "simhash_documents",
    "ngram_jaccard_pairs_documents",
    "ann_cosine_topk",
    "ann_lsh_buckets",
    "minhash_lsh_candidates",
    "winnow_fingerprints_documents",
    "ann_ivf_assignments",
    # round-3/4 operators (VERDICT r3 item 4: without timings here a
    # perf regression in them is invisible round-over-round)
    "ann_lsh_multiprobe_topk",
    "ann_pq_adc_topk",
    "winnow_containment_documents",
    "near_dup_scale_path",
    "simhash_near_pairs_documents",
    "ann_ivf_pq_topk",
    "curation_decontaminate",
    "curation_shuffle_permutation",
    "vocab_pair_counts",
    "kmeans_update_step",
    "asof_click_view_events",
    "session_stats_events",
    # round-5: the three-tier composition (extraction → audit rollup →
    # as-of → sessionization) — the flagship story end-to-end
    "flagship_sessions_asof",
]


def _elapsed() -> float:
    return time.time() - T_START


def _fit_line(compact: dict) -> str:
    """Serialize ``compact`` to ONE JSON line guaranteed to fit
    ``LINE_BUDGET`` bytes (the driver's stdout tail capture is 2000
    chars; an oversized line is head-clipped → ``parsed: null``, the
    r2-r4 failure mode). Sheds in a fixed priority order, mutating
    ``compact`` in place — the full data is already in the DETAIL file
    before this runs:

    1. truncate warnings to the first 2, 90 chars each;
    2. drop per-query medians FASTEST-first (the slow ones carry the
       signal), counting the drops in ``queries_omitted``;
    3. drop query_regressions / warnings / queries wholesale.

    Never sheds: metric, value, unit, sf, extract (scaling + skew
    evidence), headline_rounds, detail_file.
    """
    line = json.dumps(compact)
    if len(line) <= LINE_BUDGET:
        return line
    if compact.get("warnings"):
        compact["warnings"] = [w[:90] for w in compact["warnings"][:2]]
        line = json.dumps(compact)
    q = compact.get("queries")
    if q and len(line) > LINE_BUDGET:
        for name in sorted(q, key=q.get):  # fastest first
            if len(line) <= LINE_BUDGET:
                break
            q.pop(name)
            compact["queries_omitted"] = compact.get("queries_omitted", 0) + 1
            line = json.dumps(compact)
    for k in ("query_regressions", "warnings", "queries", "queries_omitted"):
        if len(line) <= LINE_BUDGET:
            break
        compact.pop(k, None)
        line = json.dumps(compact)
    return line


def _local_bench_extras() -> dict:
    extras = {"spark.ui.showConsoleProgress": "false"}
    if os.path.isdir("/dev/shm"):
        d = "/dev/shm/spark-local"
        os.makedirs(d, exist_ok=True)
        extras["spark.local.dir"] = d
    # Local mode: shuffle never crosses a network, compression is pure
    # CPU overhead (measured ~200 core-s on the 3.4M-turn corpus). A
    # real cluster keeps the lz4 default.
    extras["spark.shuffle.compress"] = "false"
    extras["spark.shuffle.spill.compress"] = "false"
    # One shared JVM hosts every task slot in local mode, and on a
    # 32-core box its service pools default machine-sized (G1 parallel
    # GC ~23 threads, JIT compiler threads etc.) — their bursts
    # oversubscribe the cores the task slots are using. A real
    # cluster's 4-8-core executor JVMs size these pools small by
    # default; cap them to match (IDENTICAL at both scaling levels).
    # Measured at local[16]: 7.8-8.3s runs → 5.9-7.0s, steal 5-8% →
    # ~0%, scaling eff 0.68 → 0.87-0.92.
    extras["spark.driver.extraJavaOptions"] = (
        "-XX:ParallelGCThreads=8 -XX:ConcGCThreads=2 -XX:CICompilerCount=4"
    )
    return extras


def _noop(df) -> None:
    """Force full computation without result-materialization cost."""
    df.write.format("noop").mode("overwrite").save()


def _session(master: str, shuffle_partitions: int, extra: dict | None = None):
    from ocr_engine_spark.session import build_session

    extras = _local_bench_extras()
    if extra:
        extras.update(extra)
    return build_session(
        app_name=f"bench-{master}", master=master,
        shuffle_partitions=shuffle_partitions, extra=extras,
    )


def _double_gc(spark) -> None:
    """One pass queues ContextCleaner weak-ref cleanups, the second
    actually reclaims the shuffle state (without this, identical reruns
    degrade 2.5s → 43s — BASELINE.md protocol notes)."""
    spark.sparkContext._jvm.System.gc()
    time.sleep(1.0)
    spark.sparkContext._jvm.System.gc()
    time.sleep(1.0)


def _ensure_corpus() -> int:
    """Generate (distributed) + cache the synthetic corpus; returns row
    count. Generation is executor-side (tableio.generate_transcripts_
    distributed) so even cold-cache cost is ~1-2 min, not ~10."""
    from ocr_engine_spark.sources import tableio

    marker = os.path.join(CACHE, "_ROWS")
    if os.path.exists(marker):
        with open(marker) as f:
            return int(f.read().strip())
    if os.path.exists(CACHE):
        shutil.rmtree(CACHE)
    spark = _session(f"local[{CPUS}]", shuffle_partitions=CPUS * 2)
    try:
        df = tableio.generate_transcripts_distributed(
            spark, N_CONVS, seed=SEED, mega=MEGA, mega_turns=MEGA_TURNS,
            partitions=CPUS * 4,
        )
        df.write.mode("overwrite").parquet(CACHE)
        n = spark.read.parquet(CACHE).count()
    finally:
        spark.stop()
    with open(marker, "w") as f:
        f.write(str(n))
    return n


def _steal_counters() -> tuple:
    """(total, steal) jiffies from /proc/stat — this guest exposes
    host CPU-steal time, the direct covariate of every slow-run
    anomaly measured on this VM (run time tracks steal%: 8.2s at 6%
    steal → 9.6s at 14% in back-to-back identical runs)."""
    v = list(map(int, open("/proc/stat").readline().split()[1:]))
    return sum(v), v[7] if len(v) > 7 else 0


STEAL_CLEAN_PCT = 5.0  # runs above this measured steal% are contaminated
MIN_CLEAN_RUNS = 2
MAX_EXTRA_RUNS = 2


def _level_stats(times: list, rows: int, cores: int,
                 min_clean: int = MIN_CLEAN_RUNS) -> dict:
    """One parallelism level's dict from its ``(sec, steal_pct)`` runs:
    the median over steal-clean runs, or over all runs (flagged
    ``steal_contaminated``) when fewer than ``min_clean`` are clean."""
    clean = [t for t, s in times if s <= STEAL_CLEAN_PCT]
    contaminated = len(clean) < min_clean
    med = statistics.median(clean if not contaminated else [t for t, _ in times])
    best = min(t for t, _ in times)
    return {
        "sec": round(med, 3),
        "best_sec": round(best, 3),
        "all_runs_sec": [round(t, 2) for t, _ in times],
        "run_steal_pct": [s for _, s in times],
        "clean_runs": len(clean),
        "steal_contaminated": contaminated,
        "turns_per_sec": round(rows / med, 1),
        "best_turns_per_sec": round(rows / best, 1),
        "cores": cores,
    }


def _clean_runs(levels: list) -> list:
    """Steal-clean run seconds pooled over ``levels`` (all runs when
    nothing is clean)."""
    clean = [
        t
        for lv in levels
        for t, s in zip(lv["all_runs_sec"], lv["run_steal_pct"])
        if s <= STEAL_CLEAN_PCT
    ]
    return clean or [t for lv in levels for t in lv["all_runs_sec"]]


def _time_extract(master: str, cores: int, rows: int, runs: int,
                  max_extra: int = MAX_EXTRA_RUNS,
                  min_clean: int = MIN_CLEAN_RUNS) -> dict:
    """Steady-state timing of the full extraction job at one
    parallelism level: untimed warm runs of the FULL job (spawns
    workers, JITs the whole plan), then ``runs`` timed runs with forced
    full GCs between them (see module docstring).

    Every timed run measures the host CPU-steal% it suffered
    (/proc/stat). The level's headline is the median over CLEAN runs
    (steal ≤ STEAL_CLEAN_PCT) — selection on an independent
    contamination covariate, never on the timing itself, applied
    identically at both levels. If fewer than MIN_CLEAN_RUNS are
    clean, up to MAX_EXTRA_RUNS more are attempted; if still short,
    the median over all runs is used and flagged."""
    from ocr_engine_spark.plans.extract_plan import build_extracted
    from ocr_engine_spark.sources import tableio

    spark = _session(master, shuffle_partitions=max(64, cores * 2))
    try:
        df = tableio.read_transcripts(spark, CACHE)
        out = build_extracted(df, num_buckets=NUM_BUCKETS, salt_buckets=SALT_BUCKETS)
        # warmup: full untimed runs of the exact job — python workers
        # + imports + JIT. At high parallelism timed sequences were
        # still DESCENDING after two warms (measured 15.0 → 11.7 →
        # 10.8 at 16 cores), i.e. JIT/GC convergence takes ~4-5 full
        # executions there; warm three times where runs are cheap.
        _noop(out)
        if cores >= 8:
            _noop(out)
            _noop(out)
        times: list = []  # (sec, steal_pct)
        budget_runs = runs + max_extra
        while len(times) < runs or (
            sum(1 for _, s in times if s <= STEAL_CLEAN_PCT) < min_clean
            and len(times) < budget_runs
        ):
            _double_gc(spark)
            j0, s0 = _steal_counters()
            t0 = time.time()
            _noop(out)
            dt = time.time() - t0
            j1, s1 = _steal_counters()
            steal = 100.0 * (s1 - s0) / max(j1 - j0, 1)
            times.append((dt, round(steal, 1)))
    finally:
        spark.stop()
    return _level_stats(times, rows, cores, min_clean)


def _hw_work(seed_ix: int) -> float:
    """Per-process unit of the hardware-ceiling measurement (module
    level: multiprocessing must pickle it). Generation is untimed; only
    the kernel loop is measured."""
    from ocr_engine_spark.kernel.dispatch import extract_turn
    from ocr_engine_spark.sources.synth import gen_conversation

    rows = []
    for c in range(60):
        rows.extend(gen_conversation(SEED, f"hw-{seed_ix}-{c}", 40))
    t0 = time.time()
    for r in rows:
        extract_turn(r["role"], r["text"])
    return len(rows) / (time.time() - t0)


def _hardware_ceiling(lo: int, hi: int) -> dict:
    """lo-vs-hi-process scaling of the bare kernels via multiprocessing
    — no Spark, no JVM: this VM's upper bound for any lo→hi speedup.
    Best-of-2 pool rounds per level: the probe measures the MACHINE's
    capability ratio, so steal noise inside the probe can only lower a
    reading; the faster round is closer to capability, and the SANE_HW
    acceptance band rejects whatever poison remains."""
    import multiprocessing as mp

    out = {}
    for procs in (lo, hi):
        totals = []
        # 2 pool rounds, a 3rd only when they disagree >10% (probe
        # noise): best-of — a ceiling is a capability bound, steal can
        # only lower a reading.
        for _ in range(2):
            with mp.Pool(procs) as pool:
                totals.append(sum(pool.map(_hw_work, range(procs))))
        if max(totals) > 1.1 * min(totals):
            with mp.Pool(procs) as pool:
                totals.append(sum(pool.map(_hw_work, range(procs))))
        out[procs] = round(max(totals))
    return {
        f"rows_per_sec_{lo}p": out[lo],
        f"rows_per_sec_{hi}p": out[hi],
        "efficiency": round((out[hi] / out[lo]) / (hi / lo), 3),
    }


def _subprocess_json(args: list) -> dict:
    """Run a bench sub-mode in a FRESH python process (its own JVM).
    Measuring multiple Spark phases in one process poisons the later
    ones: the shared JVM carries earlier heap debt and runs trend
    1.5-2x slow until enough full GCs compact (measured repeatedly —
    BASELINE.md protocol notes)."""
    import subprocess

    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__)] + args,
        capture_output=True, text=True,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{args[0]} failed: {proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _merge_levels(a: dict, b: dict, rows: int) -> dict:
    """Merge two timed sub-levels of the SAME parallelism (the two lo
    arms of the A-B-A schedule) into one level dict: run lists
    concatenate, and the clean/contaminated decision and the median
    basis are recomputed over the union."""
    times = [
        (t, s)
        for lv in (a, b)
        for t, s in zip(lv["all_runs_sec"], lv["run_steal_pct"])
    ]
    return _level_stats(times, rows, a["cores"])


def _scaling_attempt(runs: int, rows: int, idx: int, lo: int, hi: int) -> dict:
    """One bracketed scaling pass at ``lo`` vs ``hi`` cores: hw probe →
    lo×m → hi×runs → lo×m → hw probe, each Spark level arm in its own
    subprocess (see the module docstring for the gates). Extra top-up
    runs are granted only while the global wall-clock budget allows —
    a killed bench records NO artifact.

    Why A-B-A: with ALL lo runs before ALL hi runs, this VM's monotone
    clock drift lands asymmetrically and biases raw efficiency. With
    equal lo arms around a centered hi block, the lo median over the
    merged 2m runs sits at the hi block's time-center, so a linear
    drift shifts both level medians by the SAME factor and cancels in
    the ratio (pinned by unit test; the residual is second-order). The
    arm size adapts to the budget: m=1 inside a full bench (protecting
    the headline and coverage tiers from the kill guard), m=ceil(runs/2)
    in a scaling-only pass. If arm A yields no clean run, every clean lo
    run lands after the hi block: the attempt is stamped
    ``schedule_asymmetric`` and is not window-valid."""
    def extra_allowance() -> int:
        return MAX_EXTRA_RUNS if _elapsed() < BUDGET_S * 0.55 else 0

    def level(cores: int, n: int, extra: int,
              min_clean: int = MIN_CLEAN_RUNS) -> dict:
        return _subprocess_json(
            ["--time-level", f"local[{cores}]", str(cores), str(rows),
             str(n), str(extra), str(min_clean)]
        )

    headline_on = os.environ.get("BENCH_HEADLINE", "1") != "0"
    hw_pre = _hardware_ceiling(lo, hi)
    arm = 1 if headline_on else max(1, (runs + 1) // 2)
    # Per-arm clean quota: the MIN_CLEAN_RUNS=2 requirement applies to
    # the MERGED lo level (recomputed in _merge_levels), so a 1-run arm
    # must not top itself up to 2 — that cost ~22 s/pass and left the
    # arms 1-vs-2 asymmetric. Arm A runs its exact count; arm B tops up
    # only what the merged level still needs given arm A's clean runs.
    lo_a = level(lo, arm, 0, min(MIN_CLEAN_RUNS, arm))
    hi_lv = level(hi, runs, extra_allowance())
    lo_b = level(lo, arm, extra_allowance(),
                 max(1, MIN_CLEAN_RUNS - lo_a["clean_runs"]))
    lo_lv = _merge_levels(lo_a, lo_b, rows)
    hw_post = _hardware_ceiling(lo, hi)
    eff = (hi_lv["turns_per_sec"] / lo_lv["turns_per_sec"]) / (hi / lo)
    hw_ok = all(
        SANE_HW[0] <= p["efficiency"] <= SANE_HW[1] for p in (hw_pre, hw_post)
    )
    steal_ok = not (lo_lv["steal_contaminated"] or hi_lv["steal_contaminated"])
    asymmetric = lo_a["clean_runs"] == 0
    # Residual-spread gate over each level's raw steal-clean seconds,
    # MEDIAN/MIN (not max/min): one slow outlier among 4 runs leaves
    # the median trustworthy and should not void the attempt, but a
    # clean-run median pulled >20% above the fastest run means
    # something the steal counter didn't see contaminated the middle
    # of the distribution (quiet-window median/min is 1.0-1.1).
    spread = max(
        statistics.median(c) / max(min(c), 1e-9)
        for c in (_clean_runs([lo_lv]), _clean_runs([hi_lv]))
    )
    spread_ok = spread <= MAX_RUN_SPREAD
    return {
        "attempt": idx,
        "runs_per_level": runs,
        "schedule": f"lo×{arm} → hi×{runs} → lo×{arm}"
                    " (A-B-A, mirror-symmetric)",
        "schedule_asymmetric": asymmetric,
        "lo": lo_lv,
        "hi": hi_lv,
        "hw_probe_before": hw_pre,
        "hw_probe_after": hw_post,
        "efficiency": round(eff, 3),
        "hw_window_sane": hw_ok,
        "steal_clean": steal_ok,
        "run_spread": round(spread, 2),
        "run_spread_sane": spread_ok,
        "window_valid": bool(
            hw_ok and steal_ok and spread_ok and not asymmetric
            and 0 < eff <= MAX_EFF
        ),
    }


def _pooled_efficiency(attempts: list, rows: int, lo: int, hi: int) -> dict:
    """Headline from the MEDIAN over per-level CLEAN (steal-filtered)
    runs pooled across the given attempts (ADVICE r2: never promote
    max-of-attempts; falls back to all runs when nothing is clean)."""
    lo_all = _clean_runs([a["lo"] for a in attempts])
    hi_all = _clean_runs([a["hi"] for a in attempts])
    lo_med, hi_med = statistics.median(lo_all), statistics.median(hi_all)
    eff = (lo_med / hi_med) / (hi / lo)
    return {
        "lo_median_sec": round(lo_med, 3),
        "hi_median_sec": round(hi_med, 3),
        "lo_turns_per_sec": round(rows / lo_med, 1),
        "hi_turns_per_sec": round(rows / hi_med, 1),
        "efficiency": round(eff, 3),
        "n_clean_runs_pooled": {"lo": len(lo_all), "hi": len(hi_all)},
    }


def _skew_evidence(rows: int) -> dict:
    """Straggler-bound evidence for the salting machinery (VERDICT r2
    item 6): the identical extraction job at salt_buckets 1 vs 8 over
    the Zipf corpus (3 forced 50k-turn mega-conversations), per-task
    executor run times harvested from the Spark event log. At salt=1 a
    mega-conversation pins one bucket (task time ~10x the median); at
    salt=8 its turns spread over 8 buckets. Runs at HI_CORES in one
    session (warm pass first, double-GC between jobs); task-time
    *ratios* within a job are robust to absolute-speed noise."""
    import tempfile

    from ocr_engine_spark.plans.extract_plan import build_extracted
    from ocr_engine_spark.sources import tableio
    from perfbench.eventlog import stages_by_group

    evdir = tempfile.mkdtemp(prefix="bench-eventlog-")
    spark = _session(
        f"local[{HI_CORES}]", shuffle_partitions=max(64, HI_CORES * 2),
        extra={"spark.eventLog.enabled": "true",
               "spark.eventLog.dir": "file://" + evdir,
               # Spark 4 v2 event logs zstd-compress by default;
               # perfbench.eventlog reads plain JSONL
               "spark.eventLog.compress": "false"},
    )
    wall = {}
    try:
        df = tableio.read_transcripts(spark, CACHE)
        # warm: python workers + JIT (plan shape is salt-independent)
        _noop(build_extracted(df, num_buckets=NUM_BUCKETS, salt_buckets=8))
        for salt in (1, 8):
            _double_gc(spark)
            t0 = time.time()
            _noop(build_extracted(df, num_buckets=NUM_BUCKETS, salt_buckets=salt))
            wall[salt] = time.time() - t0
    finally:
        spark.stop()

    # the extract stage is the one stage that runs Python; submission
    # order of those stages is [warm(salt8), salt1, salt8]
    stages = {key: st for group in stages_by_group(evdir).values()
              for key, st in group.items()}
    extract = [stages[key]["tasks"] for key in sorted(stages) if stages[key]["python"]]
    out = {"cores": HI_CORES, "num_buckets": NUM_BUCKETS, "rows": rows,
           "mega_conversations": MEGA, "mega_turns": MEGA_TURNS}
    if len(extract) < 3:
        out["error"] = f"expected 3 Python stages, got {len(extract)}"
        return out
    for salt, tasks in zip((1, 8), extract[-2:]):
        ts = sorted(t["run_ms"] for t in tasks if t["ok"])
        med = statistics.median(ts)
        out[f"salt{salt}"] = {
            "wall_sec": round(wall[salt], 2),
            "task_ms_median": round(med, 1),
            "task_ms_p99": round(ts[int(0.99 * (len(ts) - 1))], 1),
            "task_ms_max": round(ts[-1], 1),
            "straggler_spread_max_over_median": round(ts[-1] / max(med, 1e-9), 2),
        }
    return out


def _recorded_rounds() -> list:
    """[(N, path)] of the driver's BENCH_r{N}.json artifacts, descending N."""
    import glob as _glob
    import re as _re

    out = []
    for p in _glob.glob(os.path.join(REPO, "BENCH_r*.json")):
        m = _re.search(r"BENCH_r(\d+)\.json$", p)
        if m:
            out.append((int(m.group(1)), p))
    return sorted(out, reverse=True)


def _detail_path() -> str:
    """BENCH_DETAIL_r{N}.json for the round the driver will record
    next (one past the highest recorded BENCH_r*.json)."""
    rounds = _recorded_rounds()
    n = (rounds[0][0] + 1) if rounds else 1
    return os.path.join(REPO, f"BENCH_DETAIL_r{n:02d}.json")


def _coverage_cost_hints() -> dict:
    """Last-known coverage-tier cost per query, merged across every
    committed BENCH_DETAIL_r*.json (later rounds win). Queries absent
    from every artifact get no hint and sort FIRST in the coverage
    order — a never-timed query must not be starved by the truncation
    guard."""
    import glob as _glob

    hints: dict = {}
    for p in sorted(_glob.glob(os.path.join(REPO, "BENCH_DETAIL_r*.json"))):
        try:
            with open(p) as f:
                d = json.load(f)
        except Exception:
            continue
        secs = (d.get("coverage_timings") or {}).get("secs") or {}
        for k, v in secs.items():
            if v is not None:
                hints[k] = v
    return hints


def _load_prev_queries() -> tuple:
    """Per-query timings from the latest round with ANY parseable
    evidence, for the regression flags: the driver's BENCH_r{N}.json
    line if it parsed, else the committed BENCH_DETAIL_r{N}.json side
    file (r3/r4's driver lines were tail-clipped but their detail
    files carry full per-query evidence). Returns
    (round_name, {query: median_sec})."""
    for n, path in _recorded_rounds():
        try:
            with open(path) as f:
                d = json.load(f)
            q = (d.get("parsed") or d).get("queries") or {}
        except Exception:
            q = {}
        if not q:
            detail = os.path.join(REPO, f"BENCH_DETAIL_r{n:02d}.json")
            try:
                with open(detail) as f:
                    dd = json.load(f)
                q = dd.get("queries_median") or {
                    name: round(statistics.median(s["runs"]), 3)
                    for name, s in (dd.get("query_spread") or {}).items()
                    if s.get("runs")
                }
            except Exception:
                q = {}
        if q:
            return f"r{n:02d}", q
    return "", {}


def _flag_regressions(
    qtimes: dict, qmins: dict, prev: dict, prev_round: str
) -> dict:
    """A query is flagged as a regression only when its median AND its
    min both regress ≥1.5× vs the last parseable round's median
    (VERDICT r4 item 3: with 2 headline rounds, the median is a single
    steal-burst outlier's hostage — r4 flagged 3 zero-code-change
    queries whose MIN was actually faster). Publishes both numbers so
    the judge can see which bound fired."""
    return {
        n: {
            f"{prev_round}_sec": prev[n],
            "median_sec": qtimes[n],
            "min_sec": qmins[n],
        }
        for n in qtimes
        if n in prev
        and prev[n] > 0
        and qtimes[n] > 1.5 * prev[n]
        and qmins[n] > 1.5 * prev[n]
    }


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--time-level":
        master, cores, rows, runs = (
            sys.argv[2], int(sys.argv[3]), int(sys.argv[4]), int(sys.argv[5])
        )
        extra = int(sys.argv[6]) if len(sys.argv) > 6 else MAX_EXTRA_RUNS
        min_clean = int(sys.argv[7]) if len(sys.argv) > 7 else MIN_CLEAN_RUNS
        print(json.dumps(
            _time_extract(master, cores, rows, runs, extra, min_clean)
        ))
        return 0
    if len(sys.argv) > 1 and sys.argv[1] == "--skew":
        print(json.dumps(_skew_evidence(int(sys.argv[2]))))
        return 0

    from ocr_engine_spark.catalog import queries

    compact: dict = {"sf": 0.1, "unit": "sec"}
    detail: dict = {"sf": 0.1, "unit": "sec", "budget_s": BUDGET_S}
    warnings: list = []
    phases: dict = {}
    detail_path = _detail_path()

    def headline_reserve(rounds: int) -> float:
        return HEADLINE_FIXED_S + rounds * HEADLINE_ROUND_S

    def finish() -> int:
        """Write the full-evidence side file, print the COMPACT line."""
        phases["total"] = round(_elapsed(), 1)
        detail["phase_elapsed_sec"] = phases
        if warnings:
            compact["warnings"] = warnings
            detail["warnings"] = warnings
        try:
            with open(detail_path, "w") as f:
                json.dump(detail, f, indent=1)
            compact["detail_file"] = os.path.basename(detail_path)
        except Exception as e:
            compact["detail_file_error"] = str(e)[:120]
        # The r2-r4 failure mode was an oversized final line clipped by
        # the driver's 2000-char tail capture; _fit_line guarantees the
        # budget (unit-tested incl. a worst-case synthetic compact).
        print(_fit_line(compact))
        return 0

    # ---- parts 1-2: corpus → skew → scaling attempts -----------------
    if os.environ.get("BENCH_SCALING", "1") != "0":
        measurable = HI_CORES > LO_CORES
        if not measurable:
            # appended first: _fit_line keeps the first two warnings
            warnings.append(
                f"scaling not measurable on this host ({CPUS} CPUs: "
                f"lo {LO_CORES} vs hi {HI_CORES} cores)"
            )
        rows = _ensure_corpus()
        phases["corpus"] = round(_elapsed(), 1)

        # ---- part 2 FIRST: skew evidence (VERDICT r3 item 2: in r3
        # the scaling attempt+retry overran the whole budget and skew
        # was starved for the second round running — so skew now runs
        # BEFORE any scaling attempt; at ~60 s it cannot meaningfully
        # starve them, and the kill-guard condition below is only ever
        # false if corpus generation itself ate the round)
        if os.environ.get("BENCH_SKEW", "1") != "0":
            if _elapsed() + SKEW_COST_S + headline_reserve(1) <= KILL_GUARD_S:
                try:
                    detail["skew_evidence"] = _subprocess_json(
                        ["--skew", str(rows)]
                    )
                except Exception as e:  # evidence, not the gate — degrade
                    warnings.append(f"skew_evidence failed: {e}")
            else:
                warnings.append("skew_evidence skipped: wall-clock budget")
        phases["skew_done_at"] = round(_elapsed(), 1)

        cores = {"lo": LO_CORES, "hi": HI_CORES}
        detail["extract"] = {"rows": rows, "cores": cores}
        # Compact carries only the headline scaling numbers + validity
        # flags; attempts and per-run evidence are in the DETAIL file
        # (the final line must fit LINE_BUDGET).
        compact["extract"] = {"rows": rows, "cores": cores}
        if measurable:
            # ---- part 1a: first scaling attempt ----------------------
            t_a1 = time.time()
            attempts = [_scaling_attempt(RUNS, rows, 1, LO_CORES, HI_CORES)]
            attempt1_sec = time.time() - t_a1
            phases["attempt1_done_at"] = round(_elapsed(), 1)

            # ---- part 1b: symmetric second attempt, budget-projected -
            # Fires on a projection made WITHOUT reading attempt 1's
            # efficiency (ADVICE r3: a retry conditioned on a low first
            # reading is one-sided resampling), and only if a 2-round
            # headline still fits afterwards (VERDICT r3 item 1: the
            # cap includes the retry; skew already ran above). At the
            # default 500 s budget a cold round typically cannot afford
            # it — the warning records that the skip was budget-driven,
            # not reading-driven.
            projected_retry = attempt1_sec * RETRY_COST_FRACTION
            if _elapsed() + projected_retry <= BUDGET_S - headline_reserve(2):
                attempts.append(
                    _scaling_attempt(2, rows, 2, LO_CORES, HI_CORES)
                )
            else:
                warnings.append(
                    "second scaling attempt skipped: budget projection "
                    f"({round(_elapsed())}s elapsed + "
                    f"~{round(projected_retry)}s retry would starve the "
                    "skew/headline reserve)"
                )
            phases["scaling_done_at"] = round(_elapsed(), 1)

            valid = [a for a in attempts if a["window_valid"]]
            pooled = _pooled_efficiency(
                valid or attempts, rows, LO_CORES, HI_CORES
            )
            if not valid:
                warnings.append(
                    "no window-valid scaling attempt: headline pooled over "
                    "all attempts; treat as measurement failure, not an "
                    "engine number"
                )
            detail["extract"].update({
                "scaling_efficiency": pooled["efficiency"],
                "window_valid": bool(valid),
                "first_attempt_efficiency": attempts[0]["efficiency"],
                "pooled": pooled,
                "attempts": attempts,
                "selection_rule": (
                    "headline = median over steal-clean per-level runs "
                    "pooled from window-valid attempts (both bracketing "
                    f"hw probes in [{SANE_HW[0]}, {SANE_HW[1]}], "
                    f">= {MIN_CLEAN_RUNS} clean runs per level, clean-run "
                    f"median/min <= {MAX_RUN_SPREAD}, symmetric A-B-A "
                    f"arms, eff in (0, {MAX_EFF}]); never max-of-attempts; "
                    "all attempts recorded; second attempt fires on "
                    "budget projection alone (symmetric)"
                ),
            })
            compact["extract"].update({
                "scaling_efficiency": pooled["efficiency"],
                "window_valid": bool(valid),
                "lo_turns_per_sec": pooled["lo_turns_per_sec"],
                "hi_turns_per_sec": pooled["hi_turns_per_sec"],
            })
        skew = detail.get("skew_evidence") or {}
        if "salt1" in skew and "salt8" in skew:
            compact["extract"]["skew"] = {
                "salt1_spread": skew["salt1"]["straggler_spread_max_over_median"],
                "salt8_spread": skew["salt8"]["straggler_spread_max_over_median"],
                "salt1_task_ms_max": skew["salt1"]["task_ms_max"],
                "salt8_task_ms_max": skew["salt8"]["task_ms_max"],
            }

    # ---- part 3: headline catalog queries at SF_DIR ------------------
    compact["metric"] = "headline_queries_total"
    if os.environ.get("BENCH_HEADLINE", "1") == "0":
        compact["queries"] = {}
        compact["value"] = 0.0
        return finish()
    runs_by_query: dict = {name: [] for name in HEADLINE}
    round_secs: list = []
    spark = _session(f"local[{CPUS}]", shuffle_partitions=CPUS)
    try:
        qs = queries()
        # Warmup: spawn python workers + JIT/codegen once, untimed.
        _noop(qs["flagship_extract"](spark, SF_DIR))

        # ---- part 4 (runs FIRST): coverage tier (VERDICT r4 item 4) --
        # One timed run at sf0.01 for every catalog query with no
        # headline history (streaming ones included — they are
        # availableNow-bounded), so a regression in them is visible at
        # all. Runs BEFORE the headline rounds since round 5: the
        # A-B-A scaling schedule costs one extra JVM, and with
        # coverage last that squeeze landed entirely on coverage (a
        # live pass recorded 4 of 43 queries). The headline's
        # guaranteed 2 rounds are protected by reserving their
        # projected cost in the coverage guard; the headline's own
        # 3rd-round budget gate absorbs the rest. Evidence lives in
        # the DETAIL file only; guarded per query so an overrun
        # degrades to a shorter list, never a killed (artifact-less)
        # bench.
        if os.environ.get("BENCH_COVERAGE", "1") != "0" and os.path.isdir(
            COVERAGE_SF_DIR
        ):
            cov: dict = {}
            cov_skipped: list = []
            cov_wall = KILL_GUARD_S - 25 - headline_reserve(2)
            # Cost-ordered: never-timed queries first (they are the
            # rotation's whole point), then cheapest-first from prior
            # BENCH_DETAIL evidence — truncation sheds the
            # known-expensive tail instead of an arbitrary suffix of
            # the catalog dict.
            hints = _coverage_cost_hints()
            ordered = sorted(
                (n for n in qs if n not in HEADLINE),
                key=lambda n: hints.get(n, -1.0),
            )
            for name in ordered:
                if _elapsed() > cov_wall:
                    cov_skipped = [
                        n for n in qs if n not in HEADLINE and n not in cov
                    ]
                    warnings.append(
                        f"coverage tier truncated at {len(cov)} queries: "
                        "headline reserve"
                    )
                    break
                t0 = time.time()
                try:
                    _noop(qs[name](spark, COVERAGE_SF_DIR))
                    cov[name] = round(time.time() - t0, 3)
                except Exception as e:
                    cov[name] = None
                    warnings.append(f"coverage {name} failed: {e}"[:120])
            detail["coverage_timings"] = {
                "sf_dir": COVERAGE_SF_DIR,
                "runs": 1,
                "order": "never-timed first, then cheapest-first "
                         "(prior BENCH_DETAIL cost hints)",
                "secs": cov,
                "skipped": cov_skipped,
            }

        # Interleaved rounds: a steal window hits one ROUND of every
        # query instead of every run of a few queries, so per-query
        # medians stay comparable round-over-round. ALWAYS >=2 rounds
        # (VERDICT r3 item 2 — single-shot timings are
        # indistinguishable from steal windows); a 3rd only when the
        # measured round time projects inside the budget.
        guaranteed = min(2, QUERY_RUNS)
        for rnd in range(QUERY_RUNS):
            # guaranteed rounds yield only to the hard kill wall (a
            # killed bench records nothing); optional rounds also
            # respect the soft budget
            if rnd and _elapsed() + round_secs[-1] > KILL_GUARD_S - 5:
                warnings.append(
                    f"headline rounds capped at {rnd}: driver-kill guard"
                )
                break
            if (
                rnd >= guaranteed
                and _elapsed() + round_secs[-1] > BUDGET_S - 10
            ):
                warnings.append(f"headline rounds capped at {rnd}: budget")
                break
            if rnd:
                _double_gc(spark)
            t_r = time.time()
            for name in HEADLINE:
                t0 = time.time()
                _noop(qs[name](spark, SF_DIR))
                runs_by_query[name].append(round(time.time() - t0, 3))
            round_secs.append(time.time() - t_r)

    finally:
        spark.stop()

    qtimes = {n: round(statistics.median(ts), 3) for n, ts in runs_by_query.items()}
    qmins = {n: round(min(ts), 3) for n, ts in runs_by_query.items()}
    # copy: _fit_line may shed entries from the compact dict, and the
    # detail file must keep the full medians
    compact["queries"] = dict(qtimes)
    compact["value"] = round(sum(qtimes.values()), 3)
    compact["headline_rounds"] = len(round_secs)
    # Full medians + mins ALWAYS in the detail file — the compact line
    # may shed per-query entries to fit the driver's tail capture.
    detail["queries_median"] = qtimes
    detail["queries_min"] = qmins
    detail["query_spread"] = {
        n: {"min": min(ts), "max": max(ts), "runs": ts}
        for n, ts in runs_by_query.items()
    }
    prev_round, prev = _load_prev_queries()
    regressions = _flag_regressions(qtimes, qmins, prev, prev_round)
    if regressions:
        compact["query_regressions"] = {"vs": prev_round, **regressions}
        detail["query_regressions"] = {"vs": prev_round, **regressions}
    return finish()


if __name__ == "__main__":
    raise SystemExit(main())
