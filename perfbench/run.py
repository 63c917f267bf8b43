#!/usr/bin/env python3
"""Benchmark of the extraction job (``jobs/extract.py``'s shape).

    python3 perfbench/run.py --workload bulk-32 --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The load is a closed loop with one
client: the production ``run_extract`` (scan, bucket, shuffle,
``mapInArrow`` kernels, sort, partitioned dynamic-overwrite write,
audit) runs on ``local[N]`` with N the host's usable cores, and each
run starts only after the previous one returned and its output was
checked against the sequential oracle.

``--trace 0`` times runs with tracing off and reports the end-to-end
metrics: ``setup_s`` is ``build_session`` in a fresh JVM plus the
warm-up run; ``wall_s``, ``turns_per_s`` and ``peak_rss_mb`` are medians
over the timed runs that follow, at least ``MIN_RUNS`` of them. ``--trace 1`` runs the layer ladder with Spark's event log on
and reports the per-layer metrics (see ``ladder.py``). Either way the
last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

and the spans, per-run records (with host CPU steal) and metrics are
written to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# A run must end well inside the 180 s a caller allows it.
DEADLINE_S = 165.0
# Timed runs per benchmark run, at least: the median of three outlasts
# one run slowed by a noisy host.
MIN_RUNS = 3


def _env() -> None:
    """Keep every file Spark and its workers write inside the checkout,
    and make the package and this directory importable by workers."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(os.path.join(tmp, "py"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # the job's default storage format, whatever the caller's shell says
    os.environ.pop("OCR_ENGINE_TABLE_FORMAT", None)
    sys.path[:0] = [ROOT, HERE]


def _cores() -> int:
    return len(os.sched_getaffinity(0))


class Watchdog:
    """Cancels the running Spark jobs once the run's deadline passes,
    so a hung run fails instead of overrunning."""

    def __init__(self, deadline: float):
        self.deadline = deadline
        self.job = None
        self.fired = False
        self._timer = threading.Timer(max(0.0, deadline - time.monotonic()), self._fire)
        self._timer.daemon = True
        self._timer.start()

    def _fire(self) -> None:
        self.fired = True
        if self.job is not None and self.job.spark is not None:
            self.job.spark.sparkContext.cancelAllJobs()

    def left(self) -> float:
        return self.deadline - time.monotonic()

    def cancel(self) -> None:
        self._timer.cancel()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def measure(job, tracer, seconds: float, dog: Watchdog) -> dict:
    """Set up, then time runs back to back until ``MIN_RUNS`` are done
    and the next one would end after ``seconds``."""
    setup = job.setup(tracer)
    res = {"setup_s": setup["setup_s"]}
    if not all(r["ok"] for r in setup["runs"]):  # nothing after a failed warm-up counts
        return {**res, "runs": setup["runs"]}
    runs = []
    t0 = time.perf_counter()
    while True:
        rec = job.timed_run(tracer, f"run{len(runs)}")
        runs.append(rec)
        spent = time.perf_counter() - t0
        per_run = spent / len(runs)
        if dog.fired or dog.left() < 2 * per_run + 10:
            break
        if len(runs) >= MIN_RUNS and spent + per_run > seconds:
            break
    return {**res, "runs": runs}


def end_to_end(job, res: dict) -> dict:
    ok = [r for r in res["runs"] if r["ok"] and "wall_s" in r] or \
         [r for r in res["runs"] if "wall_s" in r]
    walls = [r["wall_s"] for r in ok]
    _, out_bytes = job.output_files()
    return {
        "turns_per_s": {"value": _median([job.turns_written / w for w in walls]), "unit": "turns/s"},
        "wall_s": {"value": _median(walls), "unit": "s"},
        "setup_s": {"value": res["setup_s"], "unit": "s"},
        "peak_rss_mb": {"value": _median([r["peak_rss_mb"] for r in ok]), "unit": "MB"},
        "out_bytes_per_in_byte": {"value": out_bytes / job.inputs.in_bytes, "unit": "ratio"},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help="a workload, or all of them in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    dog = Watchdog(time.monotonic() + DEADLINE_S)
    if not os.path.isdir(os.path.join(ROOT, "ocr_engine_spark")):
        print(f"perfbench: no ocr_engine_spark package under {ROOT}", file=sys.stderr)
        return 2
    _env()
    try:
        import gen
        import job as job_mod
        import ladder
        from spans import Tracer
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if args.workload == "all":
        dog.cancel()
        rc = 0
        for name in gen.WORKLOADS:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(args.trace)]
            print(f"== {name}", flush=True)
            rc = max(rc, subprocess.run(cmd).returncode)
        return rc
    if args.workload not in gen.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(gen.WORKLOADS)} or all", file=sys.stderr)
        return 2

    w = gen.WORKLOADS[args.workload]
    cores = _cores()
    tag = f"{w.name}-s{args.seed}-t{args.trace}"
    tracer = Tracer(tag)
    with tracer.span("inputs"):
        inputs = job_mod.prepare_inputs(ROOT, w, args.seed)
    job = job_mod.Job(ROOT, w, inputs, cores)
    dog.job = job
    try:
        if args.trace:
            res = ladder.run_traced(job, tracer, dog)
            metrics = res.pop("metrics")
        else:
            res = measure(job, tracer, args.seconds, dog)
            metrics = end_to_end(job, res)
    finally:
        dog.cancel()
        job.stop()

    runs = res["runs"]
    failed = sum(not r["ok"] for r in runs)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    tracer.dump(os.path.join(WORK, "results", tag + ".json"),
                workload=w.name, seed=args.seed, trace=args.trace, nproc=cores,
                master=job.master, turns=inputs.turns, **res, metrics=metrics)
    for r in runs:
        if r["problems"]:
            print(f"perfbench: {r['name']} failed: {'; '.join(r['problems'])}", file=sys.stderr)
    for name, m in metrics.items():
        print(f"{name:28s} {m['value']:.6g} {m['unit']}")
    steal = _median([r["steal"] for r in runs if "steal" in r])
    if not args.trace:
        print(f"{'failed_run_share':28s} {failed / len(runs):.6g} share")
    print(f"{len(runs)} runs, {failed} failed; local[{cores}] on nproc {cores}; "
          f"median host CPU steal {steal:.2%}")
    print(json.dumps({"correct": failed == 0, "attempted": len(runs), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
