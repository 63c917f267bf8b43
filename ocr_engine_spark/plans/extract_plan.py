"""End-to-end extraction pipeline (SURVEY.md §3.4 lifecycle).

    read transcripts (parquet seam; Iceberg in prod config)
      └─ column prune: (conv_id, turn_idx, role, text)       [scan-level pruning]
      └─ bucket = pmod(hash(conv_id) + salt(turn_idx), P)    [deterministic work unit]
      └─ resume filter: bucket ∉ completed(run_id)           [checkpoint/resume]
      └─ repartition(bucket)                                 [THE shuffle: hashed into
                                                              spark.sql.shuffle.partitions,
                                                              AQE merges those into fewer
                                                              tasks of whole buckets]
      └─ mapInArrow(extract_batches)                         [the one Python crossing —
                                                              streams off the shuffle
                                                              fetch, no sort barrier;
                                                              spans leave it as offsets
                                                              into extracted_text, their
                                                              text is derived on read]
      └─ sortWithinPartitions(bucket, conv_id, turn_idx)     [THE sort, on the OUTPUT:
                                                              turn order per bucket, and
                                                              the bucket order the
                                                              partitioned writer needs]
      └─ write results partitionBy(bucket), dynamic overwrite [idempotent per-bucket sink;
                                                              no sort of its own]
      └─ audit append from written data                      [write-then-audit lineage]
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession

from ..operators import audit as audit_ops
from ..operators.extract import extract_arrow
from ..operators.salt import shuffle_by_bucket, sort_within_buckets, with_bucket
from ..sources import tableio


@dataclass
class ExtractConfig:
    input_path: str
    output_path: str
    audit_path: Optional[str] = None
    num_buckets: int = 32
    salt_buckets: int = 4
    run_id: Optional[str] = None

    def resolved_run_id(self) -> str:
        if self.run_id:
            return self.run_id
        key = f"{self.input_path}|{self.num_buckets}|{self.salt_buckets}"
        return "run-" + hashlib.sha256(key.encode()).hexdigest()[:16]


def build_extracted(df: DataFrame, num_buckets: int, salt_buckets: int,
                    done_buckets: Optional[List[int]] = None) -> DataFrame:
    """Logical plan from a transcripts DataFrame to extraction output
    (pure transformation — no I/O; used directly by tests and by
    ``__spark_entry__``)."""
    pruned = df.select("conv_id", "turn_idx", "role", "text")
    bucketed = with_bucket(pruned, num_buckets, salt_buckets)
    remaining = audit_ops.resume_filter(bucketed, done_buckets)
    placed = shuffle_by_bucket(remaining, num_buckets)
    # Extraction is per-turn pure → run it on the raw shuffle stream and
    # impose deterministic (bucket, conv_id, turn_idx) order on the
    # OUTPUT: the Python workers start on the first fetched block instead
    # of waiting behind a full-partition sort barrier.
    return sort_within_buckets(extract_arrow(placed))


def run_extract(spark: SparkSession, cfg: ExtractConfig) -> dict:
    """Execute the full job with resume + audit. Returns run stats."""
    run_id = cfg.resolved_run_id()
    done: List[int] = []
    if cfg.audit_path:
        done = audit_ops.completed_buckets(spark, cfg.audit_path, run_id)

    df = tableio.read_transcripts(spark, cfg.input_path)
    extracted = build_extracted(df, cfg.num_buckets, cfg.salt_buckets, done)

    # Idempotent per-bucket sink: dynamic partition overwrite replaces
    # exactly the buckets present in this run's output. It is a writer
    # option, so the caller's session keeps its own overwrite mode.
    (
        extracted.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .format(tableio.table_format())
        .save(cfg.output_path)
    )

    processed = 0
    if cfg.audit_path:
        # Audit FROM the written files (write-then-audit): re-scan reads
        # only the 5 metric columns — column pruning makes this cheap
        # relative to re-running the kernels.
        # The ≤ P metric rows are evaluated once, by an eager local
        # checkpoint that the append and the count both read. Not
        # cache(): the cache is built without adaptive coalescing, one
        # task per shuffle partition. Not a createDataFrame of collected
        # rows: its append starts Python workers.
        written = spark.read.format(tableio.table_format()).load(cfg.output_path)
        metrics = audit_ops.audit_metrics(
            audit_ops.resume_filter(written, done), run_id
        ).localCheckpoint()
        tableio.append_audit(metrics, cfg.audit_path)
        processed = metrics.count()

    return {
        "run_id": run_id,
        "resumed_buckets_skipped": len(done),
        "buckets_processed": processed,
    }
