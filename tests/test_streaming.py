"""Structured Streaming extraction: batch/stream parity + windowed
metrics (SURVEY.md §1.2 streaming tier).

The kernels are pure per turn, so the stream (file source →
mapInArrow → checkpointed parquet sink) must emit byte-identical
``extracted_text`` and span offsets to the batch plan over the same
rows.
"""

from __future__ import annotations

import os

import pytest

from ocr_engine_spark.sources.synth import gen_transcripts
from ocr_engine_spark.sources.tableio import write_transcripts_parquet
from ocr_engine_spark.streaming.extract_stream import (
    build_extract_stream,
    build_metrics_stream,
    read_transcripts_stream,
    start_extract_stream,
)


@pytest.fixture(scope="module")
def stream_dirs(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    src = os.path.join(base, "src")
    write_transcripts_parquet(
        spark, gen_transcripts(40, seed=11, mega=1, mega_turns=120), src,
        partitions=3,
    )
    return {
        "src": src,
        "out": os.path.join(base, "out"),
        "ckpt": os.path.join(base, "ckpt"),
    }


def test_stream_matches_batch(spark, stream_dirs):
    stream = read_transcripts_stream(spark, stream_dirs["src"])
    assert stream.isStreaming
    q = start_extract_stream(
        build_extract_stream(stream, num_buckets=8, salt_buckets=2),
        stream_dirs["out"],
        stream_dirs["ckpt"],
        available_now=True,
    )
    q.awaitTermination(120)

    from ocr_engine_spark.plans.extract_plan import build_extracted

    batch_in = spark.read.parquet(stream_dirs["src"])
    batch = {
        (r.conv_id, r.turn_idx): (r.extracted_text, r.spans, r.blocks_kept)
        for r in build_extracted(batch_in, num_buckets=8, salt_buckets=2).collect()
    }
    streamed = {
        (r.conv_id, r.turn_idx): (r.extracted_text, r.spans, r.blocks_kept)
        for r in spark.read.parquet(stream_dirs["out"]).collect()
    }
    assert set(streamed) == set(batch)
    mismatches = [k for k in batch if batch[k] != streamed[k]]
    assert mismatches == []


def test_stream_restart_is_exactly_once(spark, stream_dirs):
    """Re-starting the finished stream with the same checkpoint must
    not duplicate output rows (file-source log = resume state)."""
    n_before = spark.read.parquet(stream_dirs["out"]).count()
    stream = read_transcripts_stream(spark, stream_dirs["src"])
    q = start_extract_stream(
        build_extract_stream(stream, num_buckets=8, salt_buckets=2),
        stream_dirs["out"],
        stream_dirs["ckpt"],
        available_now=True,
    )
    q.awaitTermination(120)
    assert spark.read.parquet(stream_dirs["out"]).count() == n_before


def test_windowed_metrics_stream(spark, stream_dirs, tmp_path):
    stream = read_transcripts_stream(spark, stream_dirs["src"])
    metrics = build_metrics_stream(
        stream, num_buckets=8, salt_buckets=2,
        window_duration="10 minutes", watermark="30 minutes",
    )
    q = (
        metrics.writeStream.format("memory")
        .queryName("metrics_tbl")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT sum(turns_in) AS n, sum(html_turns) AS h FROM metrics_tbl"
    ).collect()[0]
    total = spark.read.parquet(stream_dirs["src"]).count()
    assert rows.n == total
    assert 0 < rows.h < total


def test_stateful_conv_stats_ttl_eviction(spark, stream_dirs, tmp_path):
    """ProcessingTimeTimeout TTL (ADVICE r1): with a tiny TTL, a
    second trigger after the TTL elapses must emit each idle
    conversation's final row (final=1) and remove its state — bounded
    state on continuous streams."""
    import time

    from ocr_engine_spark.streaming.extract_stream import (
        build_conv_stats_stream,
    )

    src = str(tmp_path / "src2")
    write_transcripts_parquet(
        spark, gen_transcripts(6, seed=13), src, partitions=1
    )

    stream = read_transcripts_stream(spark, src)
    q = (
        build_conv_stats_stream(stream, idle_ttl_ms=800)
        .writeStream.format("memory")
        .queryName("conv_ttl_tbl")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 90
        finals = live = 0
        while time.time() < deadline:
            rows = spark.sql("SELECT final, count(*) AS n FROM conv_ttl_tbl "
                             "GROUP BY final").collect()
            got = {r.final: r.n for r in rows}
            finals, live = got.get(1, 0), got.get(0, 0)
            if finals >= 6:
                break
            time.sleep(2)
    finally:
        q.stop()
    assert live == 6      # every conversation emitted its running row
    assert finals == 6    # ...and exactly one final row after the TTL


def test_stateful_conv_stats_stream(spark, stream_dirs):
    """applyInPandasWithState running totals must equal the batch
    groupBy over the same input after draining the backlog."""
    import time

    from ocr_engine_spark.streaming.extract_stream import (
        build_conv_stats_stream,
    )

    stream = read_transcripts_stream(spark, stream_dirs["src"])
    q = (
        build_conv_stats_stream(stream)
        .writeStream.format("memory")
        .queryName("conv_stats_tbl")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # availableNow + applyInPandasWithState never terminates by itself,
    # and processAllAvailable never returns either: it keeps running
    # no-data state-cleanup batches. Wait until the batches have read
    # every input row, then stop the query.
    total = spark.read.parquet(stream_dirs["src"]).count()
    try:
        deadline = time.time() + 120
        while (q.isActive and time.time() < deadline
               and sum(p["numInputRows"] for p in q.recentProgress) < total):
            time.sleep(0.5)
    finally:
        q.stop()
    assert not q.isActive
    # latest emitted row per conv (multiple micro-batches re-emit)
    got = {
        r.conv_id: (r.turns_seen, r.chars_in, r.max_turn_idx)
        for r in spark.sql(
            "SELECT * FROM (SELECT *, row_number() OVER "
            "(PARTITION BY conv_id ORDER BY batches DESC) AS rn "
            "FROM conv_stats_tbl) WHERE rn = 1"
        ).collect()
    }
    import pyspark.sql.functions as F

    batch = {
        r.conv_id: (r.n, r.c, r.m)
        for r in spark.read.parquet(stream_dirs["src"])
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length(F.coalesce("text", F.lit("")))).alias("c"),
            F.max("turn_idx").alias("m"),
        )
        .collect()
    }
    assert got == batch
