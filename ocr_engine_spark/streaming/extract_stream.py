"""Structured Streaming extraction (SURVEY.md §1.2 processing model,
streaming tier).

The batch pipeline (plans/extract_plan.py) is per-turn pure, so the
same logical plan lifts to a stream unchanged *except* for ordering:
``sortWithinPartitions`` is not available on an unbounded stream, and
is not needed — each micro-batch's output is keyed by
``(conv_id, turn_idx)``; consumers that need ordered turns impose it at
read time exactly like the batch fixture-diff does (SURVEY.md §2.6 O3:
global order is only ever imposed at consumer/verify time).

Two streams are exposed:

- **extraction stream**: file-source (or any source honoring the
  transcripts schema) → bucket column → ``mapInArrow`` kernels →
  parquet sink partitioned by bucket, exactly-once via the streaming
  checkpoint (the streaming twin of the audit/resume machinery: the
  checkpoint's file-source log plays the role of the completed-bucket
  set).
- **metrics stream**: event-time windowed aggregation of the
  extraction metrics with a watermark for late turns — the streaming
  twin of the batch audit table.

Kernel determinism makes batch/stream parity testable: the same input
rows produce byte-identical ``extracted_text``/``spans`` through either
path (tests/test_streaming.py asserts this).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions import textfns as X
from ..functions.columns import payload_kind_col
from ..operators.extract import extract_arrow
from ..operators.salt import with_bucket
from ..sources.tableio import TRANSCRIPTS_SCHEMA


def read_transcripts_stream(spark: SparkSession, path: str,
                            max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over a transcripts directory. Schema is
    declared (never inferred) — the streaming source requires it, and
    fixture byte-equality depends on stable types."""
    reader = spark.readStream.schema(TRANSCRIPTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def _bucketed(stream: DataFrame, num_buckets: int, salt_buckets: int) -> DataFrame:
    """The transcripts columns both streams read, with the batch
    plan's deterministic bucket column."""
    pruned = stream.select("conv_id", "turn_idx", "role", "text", "ts")
    return with_bucket(pruned, num_buckets, salt_buckets)


def build_extract_stream(stream: DataFrame, num_buckets: int = 32,
                         salt_buckets: int = 4) -> DataFrame:
    """The extraction plan on a streaming DataFrame: column prune →
    deterministic bucket → the one Arrow crossing. No shuffle is forced
    here: within a micro-batch the kernels are embarrassingly parallel,
    so extraction runs directly on source partitions and the *sink*
    partitionBy(bucket) provides the bucket layout. (A repartition
    would add a per-micro-batch shuffle for no correctness gain —
    the bucket column, not task placement, is the work-unit identity.)
    """
    return extract_arrow(_bucketed(stream, num_buckets, salt_buckets))


def start_extract_stream(stream_out: DataFrame, output_path: str,
                         checkpoint_path: str,
                         available_now: bool = True) -> StreamingQuery:
    """Write the extraction stream to a bucket-partitioned parquet sink
    with exactly-once semantics via the checkpoint. ``available_now``
    processes the current backlog then stops — the batch-equivalent
    trigger used by tests and backfills; pass False for a continuous
    micro-batch stream."""
    writer = (
        stream_out.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .partitionBy("bucket")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def build_metrics_stream(stream: DataFrame, num_buckets: int = 32,
                         salt_buckets: int = 4,
                         window_duration: str = "10 minutes",
                         watermark: str = "30 minutes") -> DataFrame:
    """Streaming audit metrics: per (event-time window, bucket) counts
    of turns / blocks kept / blocks dropped / parse failures, tolerant
    of ``watermark`` of event-time lateness. State is bounded by the
    watermark — late-beyond-watermark turns are dropped from metrics
    (they still flow through the extraction stream, which is
    stateless).

    Metrics are computed from the *input* side with the native
    payload-kind expression (functions.columns.payload_kind_col) rather
    than from extraction output: the Arrow stage prunes ``ts``, and the
    classifier counts needed here are derivable without the kernels —
    keeping this aggregation 100% JVM-side."""
    tagged = _bucketed(stream, num_buckets, salt_buckets).withColumn(
        "kind", payload_kind_col("role", "text")
    )
    return (
        tagged.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("win"), F.col("bucket"))
        .agg(
            F.count(F.lit(1)).alias("turns_in"),
            F.sum((F.col("kind") == "html").cast("long")).alias("html_turns"),
            F.sum((F.col("kind") == "pdf").cast("long")).alias("pdf_turns"),
            F.sum((F.col("kind") == "tool").cast("long")).alias("tool_turns"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "bucket",
            "turns_in",
            "html_turns",
            "pdf_turns",
            "tool_turns",
        )
    )


CONV_STATS_DDL = (
    "conv_id string, turns_seen long, chars_in long, max_turn_idx int, "
    "batches int, final int"
)
_CONV_STATE_DDL = "turns_seen long, chars_in long, max_turn_idx int, batches int"


def build_conv_stats_stream(stream: DataFrame,
                            idle_ttl_ms: int = 30 * 60 * 1000) -> DataFrame:
    """Custom stateful per-conversation accumulator via
    ``applyInPandasWithState`` — the arbitrary-state path for logic
    windowed aggregation can't express (running totals that must
    survive across micro-batches and emit the *updated* row each
    trigger).

    State per conv_id: (turns_seen, chars_in, max_turn_idx, batches).
    Each trigger emits the conversation's updated totals. State is
    per-key and partition-pruned by the groupBy hash — at 10^12-turn
    scale the state store shards with the cluster exactly like the
    extraction buckets do.

    State is *bounded*: a ``ProcessingTimeTimeout`` of ``idle_ttl_ms``
    evicts conversations idle for the TTL (ADVICE r1 — with NoTimeout
    every finished conversation occupied the state store forever on a
    continuous stream). On timeout the conversation's final totals are
    emitted once more with ``final = 1`` and the state is removed; a
    conversation that resumes after eviction simply restarts its
    counters (at-least-once totals per retention window, the standard
    TTL trade)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        cols = ["conv_id", "turns_seen", "chars_in", "max_turn_idx",
                "batches", "final"]
        if state.hasTimedOut:
            turns, chars, max_ti, batches = state.get
            state.remove()
            yield pd.DataFrame(
                [(key[0], turns, chars, max_ti, batches, 1)], columns=cols
            )
            return
        turns, chars, max_ti, batches = (
            state.get if state.exists else (0, 0, -1, 0)
        )
        for pdf in pdfs:
            turns += len(pdf)
            chars += int(pdf["text"].fillna("").str.len().sum())
            if len(pdf):
                max_ti = max(max_ti, int(pdf["turn_idx"].max()))
        batches += 1
        state.update((turns, chars, max_ti, batches))
        state.setTimeoutDuration(idle_ttl_ms)
        yield pd.DataFrame(
            [(key[0], turns, chars, max_ti, batches, 0)], columns=cols
        )

    pruned = stream.select("conv_id", "turn_idx", "text")
    return pruned.groupBy("conv_id").applyInPandasWithState(
        update,
        outputStructType=CONV_STATS_DDL,
        stateStructType=_CONV_STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def build_dedup_stream(stream: DataFrame) -> DataFrame:
    """Streaming exact dedup: one surviving row per content
    fingerprint across ALL micro-batches — the incremental twin of the
    batch ``dedup.exact_dedup_groups``. ``dropDuplicatesWithinWatermark``
    on the fingerprint is state-backed: a fingerprint seen in any
    earlier micro-batch is dropped (state retained for the 1-hour
    watermark delay on ``ts``), which is first-seen-wins ingestion
    dedup. Plain ``dropDuplicates(["fingerprint"])`` would never evict
    its state — watermark cleanup there requires the event-time column
    IN the dedup key, which would defeat the dedup; the WithinWatermark
    variant exists for exactly this shape.

    The emitted columns are (fingerprint, text_norm): every duplicate
    shares the normalized text by construction (the fingerprint is
    md5 OF the normalized text), so the output is deterministic even
    though WHICH physical duplicate row survives is not.

    Scale: state is one entry per DISTINCT fingerprint, sharded by the
    groupBy hash across executors; the event-time watermark bounds it
    for true streams. At 100 TB ingest the state store holds
    fingerprints (16 B each), never documents."""
    fp = stream.select(
        X.fingerprint_col("text").alias("fingerprint"),
        X.normalized_text_col("text").alias("text_norm"),
        F.col("ts"),
    )
    return (
        fp.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["fingerprint"])
        .select("fingerprint", "text_norm")
    )


EVENTS_STREAM_DDL = (
    "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, "
    "value DOUBLE, props STRING"
)


def build_session_window_stream(stream: DataFrame, gap: str = "6 hours") -> DataFrame:
    """Native Structured-Streaming sessionization:
    ``F.session_window(ts, gap)`` merges events whose [ts, ts+gap)
    windows overlap, maintaining per-key session state across
    micro-batches — the streaming twin of
    ``operators.sessions.sessionize``. Boundary semantics differ by
    one instant from the batch form and are pinned by the oracle: a
    successor exactly ``gap`` later starts a NEW session here
    (window end is exclusive), while the batch rule keeps strictly
    ``> gap`` only. Emitted per session: key, start/end (end = last
    event + gap), event count, value sum, with a 1-hour watermark."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(
            F.session_window("ts", gap).alias("win"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("value_sum"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("win.start")).alias("start_us"),
            F.unix_micros(F.col("win.end")).alias("end_us"),
            "n_events",
            "value_sum",
        )
    )
