"""Edge-case pins for the round-5 text-quality operators: Gopher-style
repetition metrics (zero-shuffle sorted-run folds) and the C4-style
line filter. Values hand-computed; the catalog oracle covers the bulk
corpus, these pin the boundary semantics."""

from __future__ import annotations

import pytest


def _rep(spark, text):
    from ocr_engine_spark.operators.textstats import repetition_stats_full

    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    return repetition_stats_full(df).collect()[0].asDict()


def _c4(spark, text):
    from ocr_engine_spark.operators.curation import c4_line_filter

    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    return c4_line_filter(df).collect()[0].asDict()


def test_repetition_all_duplicate_lines(spark):
    r = _rep(spark, "same line\nsame line\nsame line")
    assert r["n_lines"] == 3
    # 3 lines, 1 distinct -> 1 - 1/3
    assert r["dup_line_frac"] == pytest.approx(0.666667)
    # tokens: same line same line same line -> 2-grams:
    # [same line, line same, same line, line same, same line]
    # mode = 'same line' (3 of 5); chars: 3*9 / (5*9)
    assert r["top_2gram"] == "same line"
    assert r["top_2gram_frac"] == pytest.approx(3 * 9 / 45, abs=1e-6)
    # 5-grams (2): 'same line same line same', 'line same line same line'
    # both unique -> no duplicate 5-gram chars
    assert r["dup_5gram_frac"] == 0.0


def test_repetition_repeated_sentence(spark):
    r = _rep(spark, "the cat sat on the mat " * 3)
    # 18 tokens, 14 5-grams, every 5-gram value occurs >= 2 times
    # except those spanning unique positions — all windows repeat
    # because the text is perfectly periodic with period 6 < 14
    assert r["dup_5gram_frac"] == 1.0


def test_repetition_short_and_empty_docs(spark):
    r = _rep(spark, "one")
    assert (r["n_lines"], r["top_2gram"], r["top_2gram_frac"]) == (1, "", 0.0)
    assert r["dup_5gram_frac"] == 0.0 and r["dup_line_frac"] == 0.0
    r = _rep(spark, None)
    assert (r["n_lines"], r["dup_line_frac"]) == (0, 0.0)


def test_repetition_tie_breaks_to_smallest_gram(spark):
    # 'b c' and 'a b' both appear twice; sorted-fold keeps 'a b'
    r = _rep(spark, "a b c x a b c")
    assert r["top_2gram"] == "a b"


def test_c4_line_rules(spark):
    text = (
        "This line survives the filter.\n"
        "too short.\n"
        "No terminal punctuation here at all\n"
        "Enable javascript to view this page.\n"
        'He said "keep this quoted line."\n'
    )
    r = _c4(spark, text)
    assert r["doc_ok"] is True
    assert r["n_lines"] == 5
    assert r["n_kept"] == 2
    assert r["clean_text"] == (
        'This line survives the filter.\nHe said "keep this quoted line."'
    )


def test_c4_document_rules_zero_out(spark):
    r = _c4(spark, "A fine sentence here indeed.\nbut Lorem Ipsum appears.")
    assert r["doc_ok"] is False and r["n_kept"] == 0 and r["clean_text"] == ""
    r = _c4(spark, "Good sentence with words.\nvar x = {a: 1}")
    assert r["doc_ok"] is False and r["n_kept"] == 0


def test_c4_null_text(spark):
    r = _c4(spark, None)
    assert (r["n_lines"], r["n_kept"], r["doc_ok"], r["clean_text"]) == (
        0, 0, True, ""
    )


def test_repetition_full_paragraph_metrics(spark):
    # paragraphs split on a literal blank line; "dup para" repeats
    r = _rep(spark, "dup para\n\nunique one\n\ndup para")
    assert r["dup_para_frac"] == pytest.approx(0.333333)
    # para chars: dup para(8)*2 + unique one(10) = 26; dup = 16
    assert r["dup_para_char_frac"] == pytest.approx(round(16 / 26, 6))
    # lines: "dup para", "unique one", "dup para" (blank dropped)
    assert r["dup_line_frac"] == pytest.approx(0.333333)
    assert r["dup_line_char_frac"] == pytest.approx(round(16 / 26, 6))


def test_repetition_full_gram_family(spark):
    # "a b a b a b a b a b" (10 tokens): for k=5..7 every k-gram
    # repeats (fully duplicated stream); k=8 leaves one unique middle
    # gram of 3 (2/3 of chars dup); k=9,10 have too few grams to repeat
    r = _rep(spark, "a b a b a b a b a b")
    for k in (5, 6, 7):
        assert r[f"dup_{k}gram_frac"] == pytest.approx(1.0), k
    assert r["dup_8gram_frac"] == pytest.approx(0.666667)
    assert r["dup_9gram_frac"] == 0.0
    assert r["dup_10gram_frac"] == 0.0
    # 2-grams: "a b" x5 + "b a" x4; top covers 15 of 27 chars
    assert r["top_2gram_frac"] == pytest.approx(round(15 / 27, 6))


def test_repetition_full_short_and_null_docs(spark):
    for text in (None, "", "one two three"):
        r = _rep(spark, text)
        for k in range(5, 11):
            if text == "one two three":
                # fewer tokens than k -> empty stream -> 0.0
                assert r[f"dup_{k}gram_frac"] == 0.0
        if text in (None, ""):
            assert r["top_2gram"] == "", r
            assert all(
                v == 0.0 for c, v in r.items() if c not in ("doc_id", "top_2gram")
            ), r


def test_gopher_repetition_query_builds_only_its_arrays(spark, tmp_path):
    """A six-column projection of the one repetition operator: column
    pruning must drop the paragraph array and every gram array but the
    2- and 5-grams (k >= 3 grams are the concat_ws arrays)."""
    from ocr_engine_spark.operators.textstats import repetition_stats_full

    spark.createDataFrame(
        [(1, "a b c d e\n\nf g")], "doc_id long, text string"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    q = repetition_stats_full(
        spark.read.parquet(str(tmp_path / "documents.parquet"))
    ).select("doc_id", "n_lines", "dup_line_frac", "top_2gram",
             "top_2gram_frac", "dup_5gram_frac")
    plan = q._jdf.queryExecution().optimizedPlan().toString()
    assert "_paras" not in plan
    assert plan.count("concat_ws") == 1
    assert q.columns == ["doc_id", "n_lines", "dup_line_frac", "top_2gram",
                         "top_2gram_frac", "dup_5gram_frac"]


# ----------------------------------------------- Gopher quality signals


def test_gopher_quality_signals_battery(spark):
    from ocr_engine_spark.operators.textstats import gopher_quality_signals

    english = ("the quick brown fox jumps over the lazy dog and then "
               "decides that it would be wise to have another go with "
               "renewed vigor because practice makes perfect every day "
               "in all weather under sun or rain with friends or alone "
               "the journey continues onward through fields of golden "
               "wheat and rivers of the clearest water imaginable")
    bullets = "\n".join(f"- item {i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, english),                      # passes published gate
            (2, bullets),                      # 100% bullet lines
            (3, "to be # # # # # # or not"),   # hash ratio 6/8 > 0.1
            (4, "tiny doc"),                   # below both word floors
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in gopher_quality_signals(docs).collect()}
    assert out[1]["n_words"] >= 50
    assert out[1]["stop_hits"] >= 2
    assert out[1]["passes_gopher"] is True
    assert out[1]["passes_adapted"] is True
    assert out[2]["bullet_line_frac"] == 1.0
    assert out[2]["passes_adapted"] is False
    assert out[3]["hash_word_ratio"] > 0.1
    assert out[3]["passes_adapted"] is False
    assert out[4]["passes_gopher"] is False
    assert out[4]["passes_adapted"] is False


def test_gopher_quality_ellipsis_and_alpha(spark):
    from ocr_engine_spark.operators.textstats import gopher_quality_signals

    docs = spark.createDataFrame(
        [
            (1, "first line goes on...\nsecond line also trails...\n"
                "third is plain\nfourth is plain too"),
            (2, "1 2 3 4 5 6 7 8 9 10"),  # zero alphabetic words
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in gopher_quality_signals(docs).collect()}
    assert out[1]["ellipsis_line_frac"] == 0.5
    assert out[2]["alpha_word_frac"] == 0.0
    assert out[2]["passes_adapted"] is False
