"""The traced run: per-layer metrics for one workload.

The layers are the package's modules. Their times come from a
subtractive ladder of noop-sink jobs, each rung built from the
package's public functions and adding one layer to the rung before:

    scan       tableio.read_transcripts, pruned to the job's columns
    shuffle    + salt.with_bucket, audit.resume_filter, salt.shuffle_by_bucket
    identity   + mapInArrow with an identity body (the Python crossing)
    to_pylist  + a body that only materializes role/text as Python lists
    extract    extract.extract_arrow instead (the kernels)
    sort       + salt.sort_within_buckets

The full ``run_extract`` (partitioned write and audit) runs before the
ladder with the event log on, between two full runs with it off, each
after a warm-up run in its session; the difference is the tracing
overhead, and the ladder runs last so that none of the three gains
from the work it does. Task
counts, run times, shuffle bytes and failed tasks come from the event
log; kernel time per payload kind from direct calls in the Spark driver process.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time
from typing import Dict, Iterator

import pyarrow as pa
from pyspark.sql import functions as F

from ocr_engine_spark.kernel import dispatch, htmlblocks, pdfstream, tooljson
from ocr_engine_spark.operators import audit as audit_ops
from ocr_engine_spark.operators.extract import extract_arrow
from ocr_engine_spark.operators.salt import shuffle_by_bucket, sort_within_buckets, with_bucket
from ocr_engine_spark.sources import tableio

import eventlog

# Turns per payload kind timed by direct kernel calls.
KERNEL_SAMPLE = 2000
# Passes over the ladder: as many as fit the budget, at most MAX_PASSES.
LADDER_BUDGET_S = 30.0
MAX_PASSES = 3


def _identity(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    yield from batches


def _to_pylist(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    # the part of extract's body that turns Arrow columns into Python
    # objects, without the kernels
    for batch in batches:
        batch.column("role").to_pylist()
        batch.column("text").to_pylist()
        yield batch


def _pdf_pages(text):
    try:
        return pdfstream.extract_pages(text)
    except pdfstream.PdfStreamError:
        return None


_KERNELS = {
    "html": lambda r: htmlblocks.extract_blocks(r["text"] or ""),
    "pdf": lambda r: _pdf_pages(r["text"]),
    "tool": lambda r: tooljson.flatten_json(tooljson.first_json_object(r["text"])),
    "text": lambda r: dispatch.extract_turn(r["role"], r["text"]),
}


def kernel_metrics(rows) -> Dict[str, float]:
    """Per-kind kernel time, from direct calls on the workload's turns
    grouped by ``detect_kind``."""
    by_kind = {k: [] for k in _KERNELS}
    for r in rows:
        by_kind[dispatch.detect_kind(r["role"], r["text"])].append(r)
    out = {}
    for kind, fn in _KERNELS.items():
        sample = by_kind[kind][:KERNEL_SAMPLE]
        t0 = time.perf_counter()
        for r in sample:
            fn(r)
        us = (time.perf_counter() - t0) / len(sample) * 1e6 if sample else 0.0
        out[f"kernel.{kind}_us_per_turn"] = us
        out[f"kernel.turns_{kind}"] = len(by_kind[kind])
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_traced(job, tracer, dog) -> dict:
    @contextlib.contextmanager
    def rung(name):
        """A span around the block, whose Spark jobs carry ``name`` as
        their job group in the event log."""
        if dog.fired:
            raise TimeoutError(f"run deadline passed before {name}")
        sc = job.spark.sparkContext
        sc.setJobGroup(name, name)
        with tracer.span(name) as sp:
            yield sp
        sc.setLocalProperty("spark.jobGroup.id", None)

    w = job.w
    evdir = os.path.join(job.dir, "eventlog")
    runs = []

    def new_session(name, event_log=None):
        """A new session in the same JVM, with its Python workers warmed
        by a full run."""
        job.stop(keep_jvm=True)
        job.start(event_log=event_log)
        with rung(f"warmup.{name}"):
            runs.append(job.timed_run(tracer, f"warmup.{name}"))

    # Tracing overhead: a full run with the event log on against the
    # mean of one before it and one after it with the log off, which
    # cancels drift between sessions.
    setup = job.setup(tracer)
    runs += setup["runs"]
    untraced = [job.timed_run(tracer, "full_untraced.0")]
    new_session("traced", evdir)
    with rung("full"):
        traced = job.timed_run(tracer, "full_traced")
    stats = traced.get("stats") or {}
    done = job.done
    written = job.spark.read.format(tableio.table_format()).load(job.out)
    if done:
        written = written.filter(~F.col("bucket").isin(done))
    with rung("audit.metrics"):
        m = audit_ops.audit_metrics(written, job.run_id)
        tableio.append_audit(m, os.path.join(job.dir, "audit-probe"))
        m.count()
    files, size = job.output_files(skip=done)
    new_session("untraced")
    untraced.append(job.timed_run(tracer, "full_untraced.1"))
    runs += untraced + [traced]

    # the ladder, in a session of its own with the event log on
    new_session("ladder", evdir)
    spark = job.spark
    job.reset()
    with rung("audit.completed_buckets"):
        done = audit_ops.completed_buckets(spark, job.audit, job.run_id)
    pruned = tableio.read_transcripts(spark, job.inputs.path).select(
        "conv_id", "turn_idx", "role", "text")
    placed = shuffle_by_bucket(
        audit_ops.resume_filter(with_bucket(pruned, w.buckets, w.salt), done), w.buckets)
    cols = placed.select("bucket", "conv_id", "turn_idx", "role", "text")
    ladder = {
        "scan": pruned,
        "shuffle": placed,
        "identity": cols.mapInArrow(_identity, cols.schema),
        "to_pylist": cols.mapInArrow(_to_pylist, cols.schema),
        "extract": extract_arrow(placed),
        "sort": sort_within_buckets(extract_arrow(placed)),
        # the fixed cost of a Python task: the same task count, no rows
        "empty_tasks": spark.range(0, w.buckets, 1, w.buckets)
                            .filter(F.col("id") < 0).mapInArrow(_identity, "id long"),
    }
    # whole passes over the ladder while they fit the budget; each rung's
    # time is its median over the passes
    rung_s: Dict[str, list] = {name: [] for name in ladder}
    t0 = time.perf_counter()
    for i in range(MAX_PASSES):
        for name, df in ladder.items():
            with rung(f"{name}.{i}") as sp:
                _noop(df)
            rung_s[name].append(sp["end"] - sp["start"])
        spent = time.perf_counter() - t0
        if spent * (i + 2) / (i + 1) > LADDER_BUDGET_S:
            break
    job.stop()

    with tracer.span("kernel"):
        kernels = kernel_metrics(job.inputs.rows())
    groups = eventlog.stages_by_group(evdir)
    sec = {name: statistics.median(v) for name, v in rung_s.items()}
    sec.update({name: tracer.seconds(name) for name in ("audit.completed_buckets",
                                                         "audit.metrics")})
    all_tasks = [t for g in groups.values() for st in g.values() for t in st["tasks"]]

    def tasks(group):
        return [t for st in groups.get(group, {}).values() for t in st["tasks"]]

    # the Python stage of the full job (the busiest, should there be more)
    py = max((st["tasks"] for st in groups.get("full", {}).values() if st["python"]),
             key=lambda ts: sum(t["run_ms"] for t in ts), default=[])
    py = [t for t in py if t["ok"]]
    py_ms = sorted(t["run_ms"] for t in py)
    rows_to_python = sum(t["shuffle_in_records"] for t in py)
    scanned = sum(t["in_records"] for t in tasks("scan.0"))

    metrics = {
        "tableio.scan_s": (sec["scan"], "s"),
        # the local file system reports no bytes read to the event log
        "tableio.scan_bytes": (job.inputs.in_bytes, "B"),
        "tableio.write_s": (traced.get("wall_s", 0.0) - sec["sort"] - sec["audit.metrics"]
                            - sec["audit.completed_buckets"], "s"),
        "tableio.write_files": (files, "count"),
        "tableio.write_bytes": (size, "B"),
        "salt.shuffle_s": (sec["shuffle"] - sec["scan"], "s"),
        "salt.shuffle_bytes": (sum(t["shuffle_out_bytes"] for t in tasks("shuffle.0")), "B"),
        "salt.sort_s": (sec["sort"] - sec["extract"], "s"),
        "salt.task_skew": (py_ms[-1] / max(statistics.median(py_ms), 1) if py_ms else 0.0,
                           "ratio"),
        "extract.python_tasks": (len(py), "count"),
        "extract.fixed_ms_per_task": (sec["empty_tasks"] * job.cores / w.buckets * 1e3, "ms"),
        "extract.crossing_s": (sec["identity"] - sec["shuffle"], "s"),
        "extract.to_pylist_s": (sec["to_pylist"] - sec["identity"], "s"),
        "extract.rows_to_python": (rows_to_python, "count"),
        "extract.nonempty_task_ratio": (
            sum(t["shuffle_in_records"] > 0 for t in py) / len(py) if py else 0.0, "ratio"),
        **{k: (v, "us" if k.endswith("_per_turn") else "count") for k, v in kernels.items()},
        "kernel.spark_s": (sec["extract"] - sec["to_pylist"], "s"),
        "kernel.parse_failed": (job.inputs.parse_failed, "count"),
        "audit.completed_buckets_s": (sec["audit.completed_buckets"], "s"),
        "audit.metrics_s": (sec["audit.metrics"], "s"),
        "audit.buckets_skipped": (stats.get("resumed_buckets_skipped", len(done)), "count"),
        "audit.useful_turn_ratio": (rows_to_python / scanned if scanned else 0.0, "ratio"),
        "session.start_s": (setup["session_s"], "s"),
        "tasks.failed": (sum(not t["ok"] or t["attempt"] > 0 for t in all_tasks), "count"),
        "trace.overhead_s": (traced.get("wall_s", 0.0)
                             - statistics.mean(r.get("wall_s", 0.0) for r in untraced), "s"),
    }
    return {
        "runs": runs,
        "rungs_s": rung_s,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }

