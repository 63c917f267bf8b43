"""Native Catalyst column expressions (SURVEY.md §2.8) — the scalar
kernels re-expressed as pure ``pyspark.sql.functions`` so they run
JVM-side inside whole-stage codegen, never in Python.

Each expression mirrors its pure-Python kernel twin 1:1; parity is
asserted by tests (tests/test_spark_functions.py) over both synthetic
payloads and driver testdata.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..kernel.pdfstream import B64_MAGIC_PREFIX

# ASCII whitespace class used everywhere (kernel.textutil.ASCII_WS).
_WS_CLASS = "[ \\t\\r\\n\\x0B\\f]"


def as_col(x: Column | str) -> Column:
    """A column given as itself or by name."""
    return F.col(x) if isinstance(x, str) else x


def payload_kind_col(role: Column | str, text: Column | str) -> Column:
    """Payload-kind dispatch (kernel.dispatch.detect_kind twin; parity
    anchor: reference type dispatch /root/reference/app.py:635-645).

    Priority: null/empty → text; PDF base64 magic → pdf; tool role →
    tool; first non-ASCII-whitespace char "<" → html; default text.
    Pure CASE/WHEN — whole-stage-codegen friendly, no UDF.
    """
    role_c, text_c = as_col(role), as_col(text)
    return (
        F.when(text_c.isNull() | (text_c == ""), F.lit("text"))
        .when(text_c.startswith(B64_MAGIC_PREFIX), F.lit("pdf"))
        .when(role_c == "tool", F.lit("tool"))
        .when(text_c.rlike(f"^{_WS_CLASS}*<"), F.lit("html"))
        .otherwise(F.lit("text"))
    )


def slugify_col(label: Column | str) -> Column:
    """Label → key slug (kernel.textutil.slugify twin; parity anchor:
    /root/reference/app.py:187-191): trim → lower → non-[a-z0-9] runs
    → "_" → strip "_" → fallback "field" → truncate 80.

    Note: ``[^a-z0-9]+`` in the reference operates on the *lowercased*
    string, so uppercase is already folded before substitution; the
    leading/trailing strip uses the same ASCII-whitespace class as the
    kernel.
    """
    c = as_col(label)
    lowered = F.lower(F.regexp_replace(F.coalesce(c, F.lit("")), f"^{_WS_CLASS}+|{_WS_CLASS}+$", ""))
    slug = F.regexp_replace(lowered, "[^a-z0-9]+", "_")
    slug = F.regexp_replace(slug, "^_+|_+$", "")
    return F.substring(
        F.when(slug == "", F.lit("field")).otherwise(slug), 1, 80
    )


def clamp_conf_col(x: Column | str) -> Column:
    """Confidence clamp (kernel.textutil.clamp_conf twin; parity
    anchor: /root/reference/app.py:226-231): unparseable → 0.5, else
    clamp to [0, 1] (NaN passes through, matching the reference)."""
    c = as_col(x)
    v = c.cast("string").try_cast("double")
    return (
        F.when(v.isNull(), F.lit(0.5))
        .when(v < 0, F.lit(0.0))
        .when(v > 1, F.lit(1.0))
        .otherwise(v)
    )


def has_devanagari_col(text: Column | str) -> Column:
    """Devanagari tagging predicate (kernel.textutil.has_devanagari
    twin; parity anchor: /root/reference/app.py:184)."""
    c = as_col(text)
    return F.coalesce(c.rlike("[\\u0900-\\u097F]"), F.lit(False))


def spans_with_text_col() -> Column:
    """The FIXTURES.md §2 span shape ``(span_idx, kind, text, start,
    end)`` of an extraction row, derived from its stored ``spans``
    offsets: each span's text is ``extracted_text[start:end]``. Spark's
    ``substring`` and Python's slicing both count code points, so the
    derived text equals the kernel's span text for any input, astral
    characters included. A null span stays null, so the type is the
    stored one with ``text`` put back, nullability included."""
    return F.transform(
        "spans",
        lambda s: F.when(s.isNotNull(), F.struct(
            s["span_idx"].alias("span_idx"),
            s["kind"].alias("kind"),
            F.substring("extracted_text", s["start"] + 1, s["end"] - s["start"]).alias("text"),
            s["start"].alias("start"),
            s["end"].alias("end"),
        )),
    )
