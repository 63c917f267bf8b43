"""Parity tests: native Catalyst expressions vs their pure-Python
kernel twins, over synthetic payloads AND arbitrary text."""

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_engine_spark.functions import (
    clamp_conf_col,
    has_devanagari_col,
    payload_kind_col,
    slugify_col,
)
from ocr_engine_spark.kernel.dispatch import detect_kind
from ocr_engine_spark.kernel.textutil import (
    clamp_conf,
    has_devanagari,
    slugify,
)
from ocr_engine_spark.sources.synth import gen_transcripts


def test_payload_kind_parity_on_generated_corpus(spark):
    rows = list(gen_transcripts(n_convs=25, seed=99))
    df = spark.createDataFrame(
        [(r["role"], r["text"]) for r in rows], "role string, text string"
    )
    got = [r[0] for r in df.select(payload_kind_col("role", "text")).collect()]
    want = [detect_kind(r["role"], r["text"]) for r in rows]
    assert got == want


def test_payload_kind_parity_edge_cases(spark):
    cases = [
        ("user", None), ("user", ""), ("tool", "JVBERi1UT0tFxx"),
        ("assistant", "   <p>x</p>"), ("assistant", "\t\n<div>"),
        ("tool", "plain"), ("user", "< not html? yes it is"),
        ("user", "a < b"), ("tool", '{"k": 1}'),
    ]
    df = spark.createDataFrame(cases, "role string, text string")
    got = [r[0] for r in df.select(payload_kind_col("role", "text")).collect()]
    want = [detect_kind(role, text) for role, text in cases]
    assert got == want


def test_slugify_parity(spark):
    labels = [
        "Invoice Number", "  --Total (USD)__ ", "", "!!!", "नमस्ते",
        "naïve plan", "a" * 100, "x " * 100, "MiXeD CaSe 123", None,
        "__a__b__", "trailing space ", " leading", "tab\there",
    ]
    df = spark.createDataFrame([(x,) for x in labels], "label string")
    got = [r[0] for r in df.select(slugify_col("label")).collect()]
    want = [slugify(x) for x in labels]
    assert got == want


def test_clamp_parity(spark):
    vals = ["0.7", "-3", "42", "0.25", "high", None, "", "1.0", "0", "1e-3"]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = [r[0] for r in df.select(clamp_conf_col("v")).collect()]
    want = [clamp_conf(v) if v is not None else 0.5 for v in vals]
    assert got == want


def test_devanagari_parity(spark):
    vals = ["abc", "नमस्ते x", "", None, "mixed नमस्ते mixed"]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = [r[0] for r in df.select(has_devanagari_col("v")).collect()]
    want = [has_devanagari(v) for v in vals]
    assert got == want


def test_payload_kind_is_codegen_not_python(spark):
    """The dispatch must stay JVM-side: its plan contains no
    Python/Arrow eval nodes."""
    df = spark.createDataFrame([("user", "x")], "role string, text string")
    plan = df.select(payload_kind_col("role", "text"))._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
