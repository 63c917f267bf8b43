"""One workload's extraction job as a user runs it: a Spark session on
``local[N]``, the production ``run_extract`` over the generated input
with a partitioned write and an audit table, and the check of every
run's output against the sequential oracle."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass
from typing import Dict, List, Optional

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import SparkContext
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ocr_engine_spark.kernel import oracle
from ocr_engine_spark.plans.extract_plan import ExtractConfig, run_extract
from ocr_engine_spark.session import build_session
from ocr_engine_spark.sources import tableio

import gen
import procfs

# The JVM compiles with C1 only. A run here lasts seconds, and with the
# default tiered compilation the runs after the warm-up kept getting
# faster for three or four more runs while C2 compiled, so timed runs
# sat on that slope; with C1 alone they were flat from the first run
# after the warm-up and no slower (4-core host, steady run: bulk-32
# 4.0 s both ways, resume-text 2.3 s against 2.6 s, kernel-html-pdf
# 2.2 s both ways).
JIT = "-XX:TieredStopAtLevel=1"
# A fixed-size driver heap, touched in full at launch: the benchmark
# shares its host and its inputs are far below what the package's 16g
# default is sized for, and a heap that is resident from the start
# leaves peak memory to what the job adds beside it (JVM off-heap and
# Python workers) instead of to how far the collector has got.
DRIVER_HEAP = "1g"


def tree_bytes(path: str) -> tuple:
    """(data files, bytes) under ``path``, ignoring Spark's markers."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


def kernel_digest(root: str) -> str:
    """Digest of the kernel sources the oracle runs, so a cached oracle
    is reused only for the code that produced it."""
    h = hashlib.sha256()
    kdir = os.path.join(root, "ocr_engine_spark", "kernel")
    for name in sorted(os.listdir(kdir)):
        if name.endswith(".py"):
            with open(os.path.join(kdir, name), "rb") as f:
                h.update(name.encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


@dataclass
class Inputs:
    """A workload's input table for one seed, and what the oracle says
    its extraction must contain."""
    path: str
    in_bytes: int
    turns: int
    parse_failed: int
    oracle_path: str
    oracle_hash: Optional[int]
    meta_path: str

    def rows(self) -> List[Dict]:
        return gen.read_input(self.path)


def prepare_inputs(root: str, w: gen.Workload, seed: int) -> Inputs:
    """Generate (or reuse) the seed's input and its oracle rows. Both
    are cached per seed; the oracle also per kernel-source digest."""
    base = os.path.join(root, ".perfbench", "cache", w.name, f"s{seed}-g{gen.GEN_VERSION}")
    in_path = os.path.join(base, "input")
    rows = None
    if not os.path.isdir(in_path):
        rows = gen.generate(w, seed)
        gen.write_input(rows, in_path)
    digest = kernel_digest(root)
    meta_path = os.path.join(base, f"oracle-{digest}.json")
    oracle_path = os.path.join(base, f"oracle-{digest}.parquet")
    if not os.path.exists(meta_path):
        rows = rows if rows is not None else gen.read_input(in_path)
        keep = {"conv_id": [], "turn_idx": [], "extracted_text": []}
        failed = 0
        for r in oracle.extract_rows(rows):
            failed += r["parse_failed"]
            for k in keep:
                keep[k].append(r[k])
        pq.write_table(pa.table({"conv_id": pa.array(keep["conv_id"], pa.string()),
                                 "turn_idx": pa.array(keep["turn_idx"], pa.int32()),
                                 "extracted_text": pa.array(keep["extracted_text"], pa.string())}),
                       oracle_path)
        _write_json(meta_path, {"turns": len(keep["conv_id"]), "parse_failed": failed,
                                "hash": None})
    with open(meta_path) as f:
        meta = json.load(f)
    return Inputs(path=in_path, in_bytes=tree_bytes(in_path)[1], turns=meta["turns"],
                  parse_failed=meta["parse_failed"],
                  oracle_path=oracle_path, oracle_hash=meta["hash"], meta_path=meta_path)


def _write_json(path: str, obj) -> None:
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f)
    os.replace(path + ".tmp", path)


def _hash_and_count(df):
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("conv_id", "turn_idx", "extracted_text")).alias("h"),
    ).first()


class Job:
    """The workload's job and the tables it reads and writes."""

    def __init__(self, root: str, w: gen.Workload, inputs: Inputs, cores: int):
        self.root = root
        self.w = w
        self.inputs = inputs
        self.cores = cores
        self.master = f"local[{cores}]"
        self.dir = os.path.join(root, ".perfbench", "run", w.name)
        self.out = os.path.join(self.dir, "out")
        self.audit = os.path.join(self.dir, "audit")
        self.snap = os.path.join(self.dir, "snap")
        self.cfg = ExtractConfig(input_path=inputs.path, output_path=self.out,
                                 audit_path=self.audit, num_buckets=w.buckets,
                                 salt_buckets=w.salt)
        self.run_id = self.cfg.resolved_run_id()
        # buckets a run skips, and the turns it must write
        self.done: List[int] = []
        self.turns_written = inputs.turns
        self.spark: Optional[SparkSession] = None
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)

    # -- session -----------------------------------------------------------

    def start(self, event_log: Optional[str] = None) -> float:
        """Start the session; returns the seconds ``build_session`` took.
        A fresh JVM is launched unless one is still up."""
        tmp = os.path.join(self.root, ".perfbench", "tmp")
        extra = {
            "spark.driver.memory": DRIVER_HEAP,
            "spark.local.dir": os.path.join(tmp, "local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"{JIT} -Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir=" + os.path.join(tmp, "java"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            extra.update({"spark.eventLog.enabled": "true",
                          "spark.eventLog.dir": "file://" + event_log,
                          "spark.eventLog.compress": "false"})
        for d in ("local", "warehouse", "java"):
            os.makedirs(os.path.join(tmp, d), exist_ok=True)
        t0 = time.perf_counter()
        self.spark = build_session(app_name="perfbench", master=self.master, extra=extra)
        elapsed = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return elapsed

    @property
    def jvm_pid(self) -> int:
        return SparkContext._gateway.proc.pid

    def stop(self, keep_jvm: bool = False) -> None:
        """Stop the session and, unless ``keep_jvm``, the JVM and every
        process under it, waiting until each has exited."""
        gw = SparkContext._gateway
        procs = procfs.descendants(gw.proc.pid) if gw is not None else set()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if keep_jvm or gw is None:
            return
        gw.shutdown()
        gw.proc.stdin.close()  # the gateway server exits on stdin EOF
        gw.proc.wait(timeout=30)
        procfs.wait_gone(procs, timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def setup(self, tracer) -> dict:
        """Fresh JVM and session, then the warm-up run. Set-up time is
        the session start plus the warm-up run. For a resume workload
        the warm-up is the complete run whose even buckets become the
        restored state, and an untimed settle run follows: the first
        resume run is slower than the ones after it. Returns
        {"session_s", "setup_s", "runs": [warm-up record, settle record
        if any]}."""
        with tracer.span("setup"):
            session_s = self.start()
            warm = self.timed_run(tracer, "warmup")
        res = {"session_s": session_s, "setup_s": session_s + warm.get("wall_s", 0.0),
               "runs": [warm]}
        if warm["ok"] and self.w.resume:
            self.take_snapshot()
            res["runs"].append(self.timed_run(tracer, "settle"))
        return res

    # -- tables ------------------------------------------------------------

    def reset(self) -> None:
        """Put the output and audit tables in the state a timed run
        starts from: empty, or for a resume workload the snapshot in
        which every even bucket is complete."""
        for p in (self.out, self.audit):
            shutil.rmtree(p, ignore_errors=True)
        if self.w.resume and os.path.isdir(self.snap):
            shutil.copytree(os.path.join(self.snap, "out"), self.out)
            shutil.copytree(os.path.join(self.snap, "audit"), self.audit)

    def take_snapshot(self) -> None:
        """From a complete run's tables, keep the even buckets as the
        resume workload's starting state."""
        shutil.rmtree(self.snap, ignore_errors=True)
        os.makedirs(os.path.join(self.snap, "out"))
        self.done = list(range(0, self.w.buckets, 2))
        for b in self.done:
            src = os.path.join(self.out, f"bucket={b}")
            if os.path.isdir(src):
                shutil.copytree(src, os.path.join(self.snap, "out", f"bucket={b}"))
        fmt = tableio.table_format()
        audit = tableio.read_audit(self.spark, self.audit)
        audit.filter(F.col("bucket").isin(self.done)).write.format(fmt).save(
            os.path.join(self.snap, "audit"))
        kept = self.spark.read.format(fmt).load(os.path.join(self.snap, "out")).count()
        self.turns_written = self.inputs.turns - kept

    # -- the job -----------------------------------------------------------

    def timed_run(self, tracer, name: str) -> dict:
        """Reset the tables, time one ``run_extract`` call from entry to
        return (sampling peak RSS and CPU steal around it), then check
        what it wrote. A run that raises is recorded as failed."""
        self.reset()
        rec = {"name": name}
        with tracer.span(name) as sp:
            before = procfs.cpu_times()
            try:
                with procfs.PeakRss(self.jvm_pid) as rss:
                    t0 = time.perf_counter()
                    stats = run_extract(self.spark, self.cfg)
                    wall = time.perf_counter() - t0
                rec.update(wall_s=wall, peak_rss_mb=rss.peak_mb, stats=stats,
                           steal=procfs.steal_share(before, procfs.cpu_times()))
                rec["problems"] = self.verify()
            except Exception as e:
                rec["problems"] = [f"{type(e).__name__}: {e}"]
            rec["ok"] = sp["ok"] = not rec["problems"]
        return rec

    def oracle_hash(self) -> int:
        if self.inputs.oracle_hash is None:
            row = _hash_and_count(self.spark.read.parquet(self.inputs.oracle_path))
            self.inputs.oracle_hash = row["h"]
            with open(self.inputs.meta_path) as f:
                meta = json.load(f)
            meta["hash"] = row["h"]
            _write_json(self.inputs.meta_path, meta)
        return self.inputs.oracle_hash

    def verify(self) -> List[str]:
        """Check the tables a run left behind: every turn written once
        with the oracle's text, and one audit row per bucket."""
        problems = []
        fmt = tableio.table_format()
        got = _hash_and_count(self.spark.read.format(fmt).load(self.out))
        if got["n"] != self.inputs.turns:
            problems.append(f"output has {got['n']} turns, input has {self.inputs.turns}")
        if got["h"] != self.oracle_hash():
            problems.append("output checksum differs from the sequential oracle")
        audit = tableio.read_audit(self.spark, self.audit)
        a = audit.filter(F.col("run_id") == self.run_id).agg(
            F.count(F.lit(1)).alias("rows"), F.countDistinct("bucket").alias("buckets"),
            F.sum("turns_out").alias("turns")).first()
        if (a["rows"], a["buckets"]) != (self.w.buckets, self.w.buckets):
            problems.append(f"audit has {a['rows']} rows for {a['buckets']} of "
                            f"{self.w.buckets} buckets")
        if a["turns"] != self.inputs.turns:
            problems.append(f"audit counts {a['turns']} turns, input has {self.inputs.turns}")
        return problems

    def output_files(self, skip=()) -> tuple:
        """(data files, bytes) of the output table, leaving out the
        buckets in ``skip``."""
        files = size = 0
        for entry in os.listdir(self.out):
            if entry.startswith("bucket=") and int(entry[len("bucket="):]) not in skip:
                f, s = tree_bytes(os.path.join(self.out, entry))
                files, size = files + f, size + s
        return files, size
