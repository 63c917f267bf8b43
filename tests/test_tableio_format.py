"""Storage-format seam test (SURVEY.md §7.3.3): the full extract plan
must run unchanged through a non-default format. Iceberg itself has no
runtime jar in this sandbox, so ORC (bundled with Spark) is the swap
proof: every read/write goes through ``tableio.table_format()``, and
the outputs must be row-identical to the parquet path."""

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
