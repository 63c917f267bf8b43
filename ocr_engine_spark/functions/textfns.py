"""Text-analysis column builders (brief: training-data pipeline ops).

ALL expressions here are native ``pyspark.sql.functions`` — JVM-side,
whole-stage-codegen, zero Python in the hot path. Every builder has an
exact DuckDB-SQL mirror in ``ocr_engine_spark.catalog`` (the driver's
correctness gate); where a hash is needed, md5 is used because its hex
output is engine-independent (Spark's xxhash64/hash seeds don't match
other engines).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .columns import as_col

# Bits of every hash60 value: the width SimHash votes over and its
# near-pair chunking splits.
HASH_BITS = 60


def tokens_col(text: Column | str) -> Column:
    """Normalized word tokens: lower → non-[a-z0-9 ] runs → " " →
    split on " " → drop empties. Mirror: catalog.TOKENS_SQL."""
    c = as_col(text)
    cleaned = F.regexp_replace(F.lower(F.coalesce(c, F.lit(""))), "[^a-z0-9 ]+", " ")
    return F.filter(F.split(cleaned, " "), lambda x: x != "")


def ws_token_count_col(text: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens_col(text))


def bpe_ish_token_count_col(text: Column | str) -> Column:
    """BPE-ish token estimate: count of matches of
    ``[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]`` — letters runs ≈ words, digits
    and punctuation one token each (a deterministic stand-in for a real
    tokenizer; the Spark plumbing is what matters at scale)."""
    c = as_col(text)
    return F.size(
        F.regexp_extract_all(
            F.coalesce(c, F.lit("")), F.lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\n\\r]"), 0
        )
    )


def match_chars_col(text: Column | str, rx: str) -> Column:
    """Characters of ``text`` inside matches of ``rx``, counted by
    removing them: length(text) − length(text with ``rx`` removed)."""
    c = as_col(text)
    return F.length(c) - F.length(F.regexp_replace(c, rx, ""))


def trimmed_items_col(text: Column | str, sep: str) -> Column:
    """``text`` split on ``sep``, each item trimmed, empty items
    dropped — lines for ``"\\n"``, paragraphs for ``"\\n\\n"``. Mirror:
    catalog._trimmed_items_sql."""
    c = F.coalesce(as_col(text), F.lit(""))
    return F.filter(
        F.transform(F.split(c, sep), lambda x: F.trim(x)),
        lambda x: x != "",
    )


def devanagari_char_count_col(text: Column | str) -> Column:
    return match_chars_col(F.coalesce(as_col(text), F.lit("")), "[\\u0900-\\u097F]")


def cjk_char_count_col(text: Column | str) -> Column:
    return match_chars_col(F.coalesce(as_col(text), F.lit("")), "[\\u4E00-\\u9FFF]")


def langid_col(text: Column | str) -> Column:
    """Script-range language ID heuristic: ≥5% Devanagari chars → hi;
    ≥5% CJK → zh; else en. (Deterministic n-gram-free heuristic — the
    lang *tagging* role of the reference's Devanagari predicate,
    /root/reference/app.py:184, generalized.)"""
    c = F.coalesce(as_col(text), F.lit(""))
    total = F.greatest(F.length(c), F.lit(1))
    dev = devanagari_char_count_col(c)
    cjk = cjk_char_count_col(c)
    return (
        F.when(dev / total >= 0.05, F.lit("hi"))
        .when(cjk / total >= 0.05, F.lit("zh"))
        .otherwise(F.lit("en"))
    )


STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def quality_score_col(text: Column | str) -> Column:
    """Document quality score in [0,1]:

        0.4·min(words/100, 1)            (length signal)
      + 0.3·(1 − punct_ratio·4 clamped)  (punctuation noise)
      + 0.3·min(stopword_ratio·5, 1)     (natural-language signal)

    rounded to 6 dp. Components are exact-mirrorable in SQL."""
    c = F.coalesce(as_col(text), F.lit(""))
    toks = tokens_col(c)
    n = F.size(toks)
    words_sig = F.least(n / F.lit(100.0), F.lit(1.0))
    total = F.greatest(F.length(c), F.lit(1))
    punct = match_chars_col(c, "[^a-zA-Z0-9 \\t\\n\\r]")
    punct_sig = F.greatest(
        F.lit(0.0), F.lit(1.0) - (punct / total) * F.lit(4.0)
    )
    sw = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    sw_sig = F.least(sw / F.greatest(n, F.lit(1)) * F.lit(5.0), F.lit(1.0))
    return F.round(
        F.lit(0.4) * words_sig + F.lit(0.3) * punct_sig + F.lit(0.3) * sw_sig, 6
    )


def normalized_text_col(text: Column | str) -> Column:
    """Dedup normalization: lower + collapse whitespace runs + trim."""
    c = F.coalesce(as_col(text), F.lit(""))
    return F.trim(F.regexp_replace(F.lower(c), "[ \\t\\n\\r]+", " "))


def fingerprint_col(text: Column | str) -> Column:
    """Content fingerprint = md5(normalized text)."""
    return F.md5(normalized_text_col(text))


def hash60_col(x: Column | str) -> Column:
    """Engine-portable 60-bit hash: first 15 hex chars of md5 as a
    BIGINT (fits signed 64-bit; identical in DuckDB via
    ``catalog.HASH60_SQL``)."""
    return F.conv(F.substring(F.md5(as_col(x)), 1, 15), 16, 10).cast("long")


def shingles_from_tokens(toks: Column) -> Column:
    """Distinct word 3-shingles from an (ideally already-materialized)
    token array column.

    Built as two ``zip_with`` merges over shifted ``slice``s of the
    array: each slice evaluates ``toks`` exactly once per row. The
    previous formulation (``transform(sequence, i -> element_at(toks,
    i+j)...)``) re-evaluated the *whole tokenization subtree* per
    element inside the lambda (no common-subexpression elimination
    across lambda boundaries) — a measured ~40× slowdown on real
    documents."""
    k = 3
    n = F.size(toks)
    cnt = F.greatest(n - F.lit(k - 1), F.lit(0))
    acc = F.slice(toks, 1, cnt)
    for j in range(1, k):
        acc = F.zip_with(
            acc,
            F.slice(toks, 1 + j, cnt),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.array_distinct(acc)


def simhash_cols(hash_col: Column):
    """Per-bit ±1 vote aggregates for SimHash over the ``HASH_BITS``
    bits. Returns the list of agg expressions (sum per bit) to use in a
    groupBy, and a finisher that folds the vote columns into the final
    simhash BIGINT."""
    votes = [
        F.sum(
            F.when(F.shiftright(hash_col, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_v{j}")
        for j in range(HASH_BITS)
    ]

    def finish() -> Column:
        acc = F.lit(0).cast("long")
        for j in range(HASH_BITS):
            acc = acc + F.when(
                F.col(f"_v{j}") > 0, F.lit(2 ** j).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        return acc

    return votes, finish
