"""Explicit skew salting + deterministic bucketing (SURVEY.md §3.4,
§4.2 "custom salting").

The work unit is the **bucket**: a deterministic function of the row,
NOT of runtime task placement — that is what makes audit/resume
idempotent (a bucket's membership never depends on cluster size,
scheduling, or AQE decisions).

    bucket = pmod( xxhash64(conv_id) + pmod(xxhash64(turn_idx), S), P )

- ``S = 1`` → pure hash(conv_id): whole conversations co-located.
- ``S > 1`` → a conversation's turns spread over (at most) S
  consecutive buckets: mega-conversations (Zipf tail, FIXTURES.md §1)
  can no longer pin a single straggler partition. Extraction is
  per-turn pure, so splitting a conversation is safe; each bucket's
  rows stay in ``(conv_id, turn_idx)`` order (``sort_within_buckets``),
  and order across buckets is imposed only at fixture-diff / consumer
  time (SURVEY.md §2.6 O3).

Buckets are logical, tasks physical: ``shuffle_by_bucket`` hashes
buckets into ``spark.sql.shuffle.partitions`` partitions, and AQE
coalesces adjacent ones into size-targeted tasks, so one Python task
holds one or many *whole* buckets. The bucket count sets the grain of
audit, resume and the partitioned write, not the task count.

AQE's skew handling only splits *join/agg* shuffle partitions; a
skewed map-stage input to a Python stage is our own problem — hence
the explicit salt (SURVEY.md §4.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_bucket(df: DataFrame, num_buckets: int, salt_buckets: int = 1) -> DataFrame:
    """Add the deterministic ``bucket`` column."""
    if num_buckets < 1:
        raise ValueError("num_buckets must be >= 1")
    if salt_buckets < 1:
        raise ValueError("salt_buckets must be >= 1")
    key = F.xxhash64(F.col("conv_id")) + F.pmod(
        F.xxhash64(F.col("turn_idx")), F.lit(salt_buckets)
    )
    return df.withColumn("bucket", F.pmod(key, F.lit(num_buckets)).cast("int"))


def shuffle_by_bucket(df: DataFrame, num_buckets: int) -> DataFrame:
    """Shuffle on the bucket column — THE one shuffle of the pipeline.

    It takes no partition count, which is what lets AQE coalesce it
    (a count-taking repartition is never coalesced); coalescing never
    splits a shuffle partition, so each bucket lands wholly in one
    task. ``num_buckets`` no longer sets the task count; it is kept so
    existing two-argument callers still work.

    Deliberately does NOT sort here: the extraction stage is per-turn
    pure, so the Python stage can start consuming shuffle blocks as
    they stream in. A pre-extraction sortWithinPartitions would be a
    full-partition barrier in front of the Python workers (the sorter
    must drain the partition before the first Arrow batch is emitted);
    sorting *after* extraction (``sort_within_buckets``) gives the same
    deterministic order while overlapping the sort with Python
    compute."""
    return df.repartition(F.col("bucket"))


def sort_within_buckets(df: DataFrame) -> DataFrame:
    """Partition-local, spillable (bucket, conv_id, turn_idx) sort —
    the deterministic turn order guarantee (SURVEY.md §2.6 O3), applied
    to the extraction *output* (see shuffle_by_bucket on why after).

    ``bucket`` leads because ``partitionBy("bucket")`` needs its input
    ordered by bucket: this one sort satisfies the writer, so Spark
    plans no second sort of its own and every written bucket file
    keeps (conv_id, turn_idx) order. A partition may then also hold
    several buckets without losing that order."""
    return df.sortWithinPartitions("bucket", "conv_id", "turn_idx")

