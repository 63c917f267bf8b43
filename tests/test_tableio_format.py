"""Storage-format seam test (SURVEY.md §7.3.3): the full extract plan
must run unchanged through a non-default format. Iceberg itself has no
runtime jar in this sandbox, so ORC (bundled with Spark) is the swap
proof: every read/write goes through ``tableio.table_format()``, and
the outputs must be row-identical to the parquet path."""

import math
import os

import pytest


@pytest.fixture()
def orc_format(monkeypatch):
    monkeypatch.setenv("OCR_ENGINE_TABLE_FORMAT", "orc")
    yield


def _run(spark, in_path, out_path, audit_path):
    from ocr_engine_spark.plans.extract_plan import ExtractConfig, run_extract

    return run_extract(
        spark,
        ExtractConfig(
            input_path=in_path,
            output_path=out_path,
            audit_path=audit_path,
            num_buckets=8,
            salt_buckets=2,
        ),
    )


def test_extract_plan_swaps_to_orc(spark, tmp_path, orc_format):
    """End-to-end extract through ORC: input written via the seam,
    plan executed (dynamic-partition-overwrite sink + audit append +
    resume read all through the seam), output equals the sequential
    oracle — i.e. the format swap is a config change, not a code
    change."""
    from ocr_engine_spark.kernel.oracle import golden_rows
    from ocr_engine_spark.sources.synth import gen_transcripts
    from ocr_engine_spark.sources.tableio import (
        read_audit,
        table_format,
        write_transcripts_parquet,
    )

    assert table_format() == "orc"
    rows = list(gen_transcripts(n_convs=12, seed=31))
    in_path = str(tmp_path / "in")
    write_transcripts_parquet(spark, rows, in_path)
    # the input really is ORC on disk
    assert any(f.endswith(".orc") for f in os.listdir(in_path)), os.listdir(in_path)

    out_path, audit_path = str(tmp_path / "out"), str(tmp_path / "audit")
    stats = _run(spark, in_path, out_path, audit_path)
    assert stats["buckets_processed"] > 0

    got = {
        (r.conv_id, r.turn_idx): (r.kind, r.extracted_text)
        for r in spark.read.format("orc").load(out_path).collect()
    }
    want = {
        (r["conv_id"], r["turn_idx"]): (r["kind"], r["extracted_text"])
        for r in golden_rows(rows)
    }
    assert got == want

    audit = read_audit(spark, audit_path)
    assert audit is not None
    assert audit.count() == stats["buckets_processed"]

    # resume through the same seam: a second run skips every bucket
    stats2 = _run(spark, in_path, out_path, audit_path)
    assert stats2["resumed_buckets_skipped"] == stats["buckets_processed"]
    assert stats2["buckets_processed"] == 0


def test_bucketed_join_elides_both_exchanges(spark):
    """Co-located join: two tables bucketed 8-ways on the key, joined
    with broadcast disabled, must plan with ZERO Exchange operators —
    the write-time shuffle is the only shuffle these tables ever pay."""
    from pyspark.sql import functions as F

    from ocr_engine_spark.sources.tableio import write_bucketed_table

    a = spark.range(0, 200).select(
        F.col("id").alias("doc_id"), (F.col("id") * 3).alias("x")
    )
    b = spark.range(0, 200).select(
        F.col("id").alias("doc_id"), (F.col("id") + 7).alias("y")
    )
    write_bucketed_table(a, "t_buck_a", 8)
    write_bucketed_table(b, "t_buck_b", 8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("t_buck_a").join(spark.table("t_buck_b"), "doc_id")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        got = {r["doc_id"]: (r["x"], r["y"]) for r in j.collect()}
        assert got == {i: (i * 3, i + 7) for i in range(200)}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_join_query_raises_when_an_exchange_is_planned(
    spark, tmp_path
):
    """The catalog query's co-location check is a raise, not an assert,
    so it holds under ``python -O``: with bucketed reads disabled the
    planner shuffles both sides, and the query refuses to build."""
    from pyspark.sql import functions as F

    from ocr_engine_spark.catalog import queries

    docs = spark.range(0, 40).select(
        F.col("id").alias("doc_id"), F.lit("en").alias("lang"),
        F.concat(F.lit("doc "), F.col("id").cast("string")).alias("text"),
    )
    emb = spark.range(0, 40).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("float"), F.lit(1.0).cast("float"))
        .alias("embedding"),
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    emb.write.parquet(str(tmp_path / "embeddings.parquet"))
    q = queries()["bucketed_join_doc_embeddings"]
    got = {  # co-located: builds, and computes each row
        r["doc_id"]: (r["n_tokens"], r["emb_norm"])
        for r in q(spark, str(tmp_path)).collect()
    }
    assert got == {
        i: (2, pytest.approx(math.sqrt(i * i + 1), abs=1e-6)) for i in range(40)
    }

    key = "spark.sql.sources.bucketing.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        with pytest.raises(RuntimeError, match="Exchange"):
            q(spark, str(tmp_path))
    finally:
        spark.conf.set(key, prev)
