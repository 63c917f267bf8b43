"""Spark pipeline golden tests (SURVEY.md §5.2.2): the distributed
pipeline at local[2], tiny Arrow batches and salted buckets must be
byte-equal per turn to the committed sequential-oracle fixtures. The
table stores span offsets; the fixture diff reads spans through the
derived FIXTURES.md §2 view (functions.columns.spans_with_text_col)."""

import glob
import json
import os
import re
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_engine_spark.functions.columns import spans_with_text_col
from ocr_engine_spark.kernel.dispatch import extract_turn
from ocr_engine_spark.kernel.oracle import read_golden_jsonl
from ocr_engine_spark.kernel.textutil import to_min_json
from ocr_engine_spark.operators.salt import with_bucket
from ocr_engine_spark.plans.extract_plan import ExtractConfig, build_extracted, run_extract
from ocr_engine_spark.sources.synth import pdf_payload
from ocr_engine_spark.sources.tableio import AUDIT_SCHEMA, read_transcripts

FIXTURE = os.path.join(os.path.dirname(__file__), "..", "fixtures", "golden_tiny.jsonl")
JOB = os.path.join(os.path.dirname(__file__), "..", "jobs", "extract.py")


def collect_results(df):
    rows = (df.withColumn("spans", spans_with_text_col())
            .orderBy("conv_id", "turn_idx").collect())
    out = []
    for r in rows:
        spans = [
            {
                "span_idx": s["span_idx"],
                "kind": s["kind"],
                "text": s["text"],
                "start": s["start"],
                "end": s["end"],
            }
            for s in (r["spans"] or [])
        ]
        out.append(
            {
                "conv_id": r["conv_id"],
                "turn_idx": r["turn_idx"],
                "kind": r["kind"],
                "extracted_text": r["extracted_text"],
                "spans_json": to_min_json(spans),
                "blocks_kept": r["blocks_kept"],
                "blocks_dropped": r["blocks_dropped"],
                "parse_failed": r["parse_failed"],
            }
        )
    return out


def assert_matches_golden(results):
    golden = read_golden_jsonl(FIXTURE)
    assert len(results) == len(golden)
    for g, a in zip(golden, results):
        for key in (
            "conv_id", "turn_idx", "kind", "extracted_text", "spans_json",
            "blocks_kept", "blocks_dropped", "parse_failed",
        ):
            assert a[key] == g[key], (g["conv_id"], g["turn_idx"], key)


def test_pipeline_byte_equal_to_golden(spark, tiny_transcripts):
    df = read_transcripts(spark, tiny_transcripts)
    extracted = build_extracted(df, num_buckets=8, salt_buckets=4)
    assert_matches_golden(collect_results(extracted))


# CJK, emoji outside the BMP, a combining mark and a no-break space:
# two, three and four UTF-8 bytes per code point, and two UTF-16 code
# units per emoji. The second tool turn is unparseable JSON, so it
# takes the raw-text fallback.
WIDE = "漢字テキスト 😀🎉 e\u0301\xa0x"

WIDE_TURNS = [
    ("user", f"{WIDE}\n{WIDE} again\n\nlast 🎉 {WIDE}"),
    ("assistant", f"<h1>{WIDE}</h1><p>{WIDE} one two three four five six seven eight</p>"
                  f"<table><tr><td>😀</td><td>{WIDE}</td></tr></table>"),
    ("tool", json.dumps({"note": WIDE, "tags": ["😀", WIDE], "n": 1}, ensure_ascii=False)),
    ("tool", f"{WIDE} {{broken: 😀 }}\n\n{WIDE}"),
    ("user", pdf_payload({"shards": [{"name": "out-000.json", "pages": [
        {"blocks": [{"paragraphs": [{"words": [{"t": w, "br": 1} for w in page.split(" ")]}]}]}
        for page in [WIDE, f"🎉 {WIDE}"]]}]})),
]


def test_derived_spans_count_code_points(spark):
    """The derived span view has FIXTURES.md §2's span type and equals
    the kernel's spans, text included, on turns of every payload kind
    whose kept blocks carry multibyte and astral characters ahead of
    later spans' offsets."""
    want = [extract_turn(role, text) for role, text in WIDE_TURNS]
    kinds = [w["kind"] for w in want]
    assert kinds == ["text", "html", "tool", "tool", "pdf"], kinds
    for w in want:
        assert len(w["spans"]) > 1 and "😀" in w["spans"][0]["text"], w
    df = spark.createDataFrame(
        [("c", i, role, text) for i, (role, text) in enumerate(WIDE_TURNS)],
        "conv_id string, turn_idx int, role string, text string",
    )
    out = build_extracted(df, num_buckets=4, salt_buckets=2)
    assert out.withColumn("spans", spans_with_text_col()).schema["spans"].dataType == T.ArrayType(
        T.StructType([T.StructField("span_idx", T.IntegerType()),
                      T.StructField("kind", T.StringType()),
                      T.StructField("text", T.StringType()),
                      T.StructField("start", T.IntegerType()),
                      T.StructField("end", T.IntegerType())]))
    rows = collect_results(out)
    assert [r["extracted_text"] for r in rows] == [w["extracted_text"] for w in want]
    assert [r["spans_json"] for r in rows] == [to_min_json(w["spans"]) for w in want]


def test_salting_invariance(spark, tiny_transcripts):
    """Output is identical for ANY bucket/salt configuration
    (SURVEY.md §5.2.4b)."""
    df = read_transcripts(spark, tiny_transcripts)
    a = collect_results(build_extracted(df, num_buckets=3, salt_buckets=1))
    b = collect_results(build_extracted(df, num_buckets=16, salt_buckets=7))
    assert a == b


def test_full_job_write_audit_and_resume(spark, tiny_transcripts, tmp_path):
    out = str(tmp_path / "out")
    audit = str(tmp_path / "audit")
    cfg = ExtractConfig(
        input_path=tiny_transcripts, output_path=out, audit_path=audit,
        num_buckets=8, salt_buckets=4,
    )
    stats1 = run_extract(spark, cfg)
    assert stats1["resumed_buckets_skipped"] == 0
    assert stats1["buckets_processed"] == 8

    written = spark.read.parquet(out)
    assert_matches_golden(collect_results(written))

    # audit invariants, each checked against a side the audit does not
    # read: every bucket's turns_in and turns_out are that bucket's row
    # count in the input, bucketed here on its own, and the checksums
    # XOR to the golden rows' checksum
    arows = spark.read.parquet(audit).collect()
    assert len(arows) == 8
    input_counts = {
        r["bucket"]: r["count"]
        for r in with_bucket(read_transcripts(spark, tiny_transcripts), 8, 4)
        .groupBy("bucket").count().collect()
    }
    assert {r["bucket"]: r["turns_in"] for r in arows} == input_counts
    assert {r["bucket"]: r["turns_out"] for r in arows} == input_counts
    golden = spark.createDataFrame(
        [(g["conv_id"], g["turn_idx"], g["extracted_text"]) for g in read_golden_jsonl(FIXTURE)],
        "conv_id string, turn_idx int, extracted_text string",
    )
    want = golden.agg(F.bit_xor(F.xxhash64("conv_id", "turn_idx", "extracted_text"))).first()[0]
    got = 0
    for r in arows:
        got ^= r["checksum"]
    assert got == want
    assert sum(r["parse_failures"] for r in arows) > 0  # generator includes failures

    # resume: second run must skip everything and change nothing
    stats2 = run_extract(spark, cfg)
    assert stats2["resumed_buckets_skipped"] == 8
    assert stats2["buckets_processed"] == 0
    assert_matches_golden(collect_results(spark.read.parquet(out)))


def test_audit_aggregation_runs_once(spark, tiny_transcripts, tmp_path, monkeypatch):
    """run_extract appends the per-bucket audit rows and reports their
    count from one evaluation of the audit aggregation: an identity
    stage counting the rows that leave it sees each of the 8 buckets
    once."""
    from ocr_engine_spark.operators import audit as audit_ops

    seen = spark.sparkContext.accumulator(0)
    real = audit_ops.audit_metrics

    def counted(extracted, run_id):
        metrics = real(extracted, run_id)

        def count_rows(batches):
            for b in batches:
                seen.add(len(b))
                yield b

        return metrics.mapInPandas(count_rows, metrics.schema)

    monkeypatch.setattr(audit_ops, "audit_metrics", counted)
    cfg = ExtractConfig(
        input_path=tiny_transcripts, output_path=str(tmp_path / "out"),
        audit_path=str(tmp_path / "audit"), num_buckets=8, salt_buckets=4,
    )
    assert run_extract(spark, cfg)["buckets_processed"] == 8
    assert seen.value == 8
    assert spark.read.parquet(cfg.audit_path).count() == 8


def test_partial_resume_idempotence(spark, tiny_transcripts, tmp_path):
    """Kill-after-k-buckets resume (SURVEY.md §5.2.4c): simulate a
    partial run by seeding the audit with only some buckets' rows, then
    resume — final table equals a single-run table."""
    out = str(tmp_path / "out")
    audit = str(tmp_path / "audit")
    cfg = ExtractConfig(
        input_path=tiny_transcripts, output_path=out, audit_path=audit,
        num_buckets=8, salt_buckets=4,
    )
    # full run, then delete audit rows for buckets >= 4 AND corrupt
    # their data — the resume must redo exactly those buckets
    run_extract(spark, cfg)
    audit_df = spark.read.parquet(audit).filter(F.col("bucket") < 4)
    kept_audit = audit_df.collect()
    shutil.rmtree(audit)
    spark.createDataFrame(kept_audit, schema=AUDIT_SCHEMA).write.parquet(audit)
    for b in range(4, 8):
        p = os.path.join(out, f"bucket={b}")
        if os.path.exists(p):
            shutil.rmtree(p)

    stats = run_extract(spark, cfg)
    assert stats["resumed_buckets_skipped"] == 4
    assert stats["buckets_processed"] == 4
    assert_matches_golden(collect_results(spark.read.parquet(out)))


def test_one_sort_leading_with_bucket(spark, tiny_transcripts):
    """The turn-order sort also gives the partitioned writer its bucket
    order, so it is the only sort in the plan."""
    df = read_transcripts(spark, tiny_transcripts)
    plan = build_extracted(df, 8, 4)._jdf.queryExecution().executedPlan().toString()
    sorts = [ln for ln in plan.splitlines() if "Sort [" in ln]
    assert len(sorts) == 1, sorts
    assert re.search(r"Sort \[bucket#\d+ ASC NULLS FIRST, conv_id#\d+ ASC NULLS FIRST, "
                     r"turn_idx#\d+ ASC", sorts[0]), sorts[0]


def test_written_bucket_files_keep_turn_order(spark, tiny_transcripts, tmp_path):
    """Every data file the job writes is in (conv_id, turn_idx) order —
    read as written, with no orderBy in between — and stores each span
    as offsets into extracted_text only: span text is derived on read,
    never written."""
    out = str(tmp_path / "out")
    run_extract(spark, ExtractConfig(input_path=tiny_transcripts, output_path=out,
                                     num_buckets=8, salt_buckets=4))
    files = glob.glob(os.path.join(out, "bucket=*", "*.parquet"))
    assert len({os.path.dirname(f) for f in files}) == 8
    for f in files:
        span = pq.read_schema(f).field("spans").type.value_type
        assert [span.field(i).name for i in range(span.num_fields)] == [
            "span_idx", "kind", "start", "end"], f
        rows = pq.read_table(f, columns=["conv_id", "turn_idx"]).to_pylist()
        keys = [(r["conv_id"], r["turn_idx"]) for r in rows]
        assert keys == sorted(keys), f


def test_dynamic_overwrite_is_scoped_to_the_write(spark, tiny_transcripts, tmp_path):
    """run_extract leaves the session's partitionOverwriteMode alone,
    and its own write still replaces only the buckets it redoes."""
    key = "spark.sql.sources.partitionOverwriteMode"
    out = str(tmp_path / "out")
    audit = str(tmp_path / "audit")
    cfg = ExtractConfig(input_path=tiny_transcripts, output_path=out, audit_path=audit,
                        num_buckets=8, salt_buckets=4)
    spark.conf.set(key, "STATIC")
    try:
        run_extract(spark, cfg)
        assert spark.conf.get(key) == "STATIC"
        # forget bucket 0 only: the resume rewrites it and keeps 1..7
        kept = spark.read.parquet(audit).filter(F.col("bucket") != 0).collect()
        shutil.rmtree(audit)
        spark.createDataFrame(kept, schema=AUDIT_SCHEMA).write.parquet(audit)
        stats = run_extract(spark, cfg)
        assert spark.conf.get(key) == "STATIC"
    finally:
        spark.conf.unset(key)
    assert stats["buckets_processed"] == 1
    assert_matches_golden(collect_results(spark.read.parquet(out)))


def test_each_bucket_in_one_task_and_no_empty_task(spark, tiny_transcripts):
    """The bucket shuffle lets AQE merge buckets into fewer tasks: every
    bucket still sits wholly in one task, and every task holds rows
    (partition ids used are exactly 0..n-1), with or without the
    resume filter removing half of the buckets."""
    df = read_transcripts(spark, tiny_transcripts)
    for done in (None, [0, 2, 4, 6, 8, 10, 12, 14]):
        placed = (build_extracted(df, num_buckets=16, salt_buckets=4, done_buckets=done)
                  .withColumn("pid", F.spark_partition_id())
                  .select("bucket", "pid").collect())
        pids_of = {}
        for r in placed:
            pids_of.setdefault(r["bucket"], set()).add(r["pid"])
        assert all(len(p) == 1 for p in pids_of.values()), pids_of
        assert set(pids_of) == set(range(16)) - set(done or [])
        used = {r["pid"] for r in placed}
        assert used == set(range(len(used))), sorted(used)


def test_extract_job_entry_point_writes_and_resumes(spark, tiny_transcripts, tmp_path):
    """jobs/extract.py as a subprocess from a cwd outside the repo and
    with no PYTHONPATH: its Python workers find the package only
    through the PYTHONPATH the job exports. The first run processes
    every bucket and writes build_extracted's rows; an identical second
    run skips every bucket and appends no audit row. Each run's last
    stdout line is its stats as JSON."""
    out, audit = str(tmp_path / "out"), str(tmp_path / "audit")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "2g"
    cmd = [sys.executable, os.path.abspath(JOB), "--input", tiny_transcripts,
           "--output", out, "--audit", audit, "--buckets", "4", "--master", "local[2]"]

    def run_job():
        proc = subprocess.run(cmd, cwd=str(tmp_path), env=env, capture_output=True,
                              text=True, timeout=600)
        assert proc.returncode == 0, proc.stderr[-4000:]
        return json.loads(proc.stdout.strip().splitlines()[-1])

    stats1 = run_job()
    assert (stats1["buckets_processed"], stats1["resumed_buckets_skipped"]) == (4, 0)
    cols = ["conv_id", "turn_idx", "extracted_text"]
    want = build_extracted(read_transcripts(spark, tiny_transcripts), 4, 4).select(cols)
    got = spark.read.parquet(out).select(cols)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    stats2 = run_job()
    assert (stats2["buckets_processed"], stats2["resumed_buckets_skipped"]) == (0, 4)
    assert stats2["run_id"] == stats1["run_id"]
    assert spark.read.parquet(audit).where(F.col("run_id") == stats1["run_id"]).count() == 4
