"""Unit tests: PDF token-stream segmentation, HTML block classification,
dispatch + span invariants."""

import base64

import pytest

from ocr_engine_spark.kernel import dispatch as D
from ocr_engine_spark.kernel import htmlblocks as H
from ocr_engine_spark.kernel import pdfstream as P
from ocr_engine_spark.sources.synth import pdf_payload


# ---- pdfstream ----

def test_shards_sorted_by_name_global_page_index():
    stream = {
        "shards": [
            {"name": "b.json", "pages": [{"blocks": [{"paragraphs": [
                {"words": [{"t": "second", "br": None}]}]}]}]},
            {"name": "a.json", "pages": [{"blocks": [{"paragraphs": [
                {"words": [{"t": "first", "br": None}]}]}]}]},
        ]
    }
    pages = P.extract_pages(pdf_payload(stream))
    assert pages == [(1, "first"), (2, "second")]


def test_empty_doc_page_count_one():
    assert P.extract_pages(pdf_payload({"shards": []})) == [(1, "")]


def test_empty_page_gap_fill():
    stream = {"shards": [{"name": "a", "pages": [
        {"blocks": []},
        {"blocks": [{"paragraphs": [{"words": [{"t": "x", "br": 5}]}]}]},
    ]}]}
    assert P.extract_pages(pdf_payload(stream)) == [(1, ""), (2, "x")]


def test_paragraph_tail_rstrip_per_paragraph():
    stream = {"shards": [{"name": "a", "pages": [{"blocks": [{"paragraphs": [
        {"words": [{"t": "no", "br": 1}, {"t": "break", "br": 3}]},
        {"words": [{"t": "next", "br": None}]},
    ]}]}]}]}
    # first paragraph tail "no break " → rstrip → "no break";
    # second paragraph separate line
    assert P.extract_pages(pdf_payload(stream)) == [(1, "no break\nnext")]


def test_bad_payloads_raise():
    with pytest.raises(P.PdfStreamError):
        P.decode_payload("!!!not base64!!!")
    with pytest.raises(P.PdfStreamError):
        P.decode_payload(base64.b64encode(b"no magic").decode())
    with pytest.raises(P.PdfStreamError):
        P.decode_payload(base64.b64encode(b"%PDF-TOKENS{bad").decode())


def test_b64_magic_prefix_constant():
    assert pdf_payload({"shards": []}).startswith(P.B64_MAGIC_PREFIX)
    assert base64.b64encode(b"%PDF-TOKE").decode() == P.B64_MAGIC_PREFIX


# ---- htmlblocks ----

def test_html_boilerplate_containers_dropped():
    html = (
        "<nav><a href='/'>home</a> <a href='/x'>about</a></nav>"
        "<p>one two three four five six seven eight nine ten</p>"
        "<footer>contact us here at example</footer>"
    )
    kept, dropped = H.extract_blocks(html)
    assert kept == [("p", "one two three four five six seven eight nine ten")]
    assert dropped == 2


def test_html_link_farm_dropped_inline_link_kept():
    farm = "<div>" + " ".join(f"<a href='#'>w{i} x{i}</a>" for i in range(5)) + "</div>"
    content = (
        "<p>alpha beta gamma delta epsilon zeta eta theta "
        "<a href='/x'>link</a> iota kappa</p>"
    )
    kept, dropped = H.extract_blocks(farm + content)
    assert [k for k, _ in kept] == ["p"]
    assert dropped == 1


def test_html_headings_kept_short_junk_dropped():
    kept, dropped = H.extract_blocks("<h2>Title here</h2><p>ok</p>")
    assert kept == [("h2", "Title here")]
    assert dropped == 1  # 2-word <p> below density threshold


def test_html_list_items():
    html = "<ul><li>one two three</li><li>x</li></ul>"
    kept, dropped = H.extract_blocks(html)
    assert kept == [("li", "one two three")]
    assert dropped >= 1


def test_html_tables_after_segments_rows_joined():
    html = (
        "<table><tr><td>a b</td><td></td><td>c</td></tr>"
        "<tr><td> </td><td></td></tr></table>"
        "<p>para one two three four five six seven eight</p>"
    )
    kept, dropped = H.extract_blocks(html)
    # segments first (document order), then table rows; empty row dropped
    assert kept == [
        ("p", "para one two three four five six seven eight"),
        ("tr", "a b |  | c"),
    ]
    assert dropped == 1


def test_html_nested_table_cells_not_duplicated():
    html = (
        "<table><tr><td>outer<table><tr><td>inner cell text</td></tr>"
        "</table></td></tr></table>"
    )
    kept, _ = H.extract_blocks(html)
    assert ("tr", "outer") in kept
    assert ("tr", "inner cell text") in kept
    assert len([k for k in kept if k[0] == "tr"]) == 2


def test_html_script_style_ignored():
    kept, dropped = H.extract_blocks(
        "<script>var x = 'one two three four five six seven';</script>"
        "<style>p { color: red; }</style>"
    )
    assert kept == [] and dropped == 0


def test_html_whitespace_collapse():
    kept, _ = H.extract_blocks(
        "<p>a\n  b\t c d e f <b>g</b> h i j</p>"
    )
    assert kept == [("p", "a b c d e f g h i j")]


# ---- dispatch + spans ----

def test_detect_kind_priority():
    pdf = pdf_payload({"shards": []})
    assert D.detect_kind("user", pdf) == "pdf"
    assert D.detect_kind("tool", pdf) == "pdf"  # magic beats role
    assert D.detect_kind("tool", '{"a": 1}') == "tool"
    assert D.detect_kind("assistant", "  <div>x</div>") == "html"
    assert D.detect_kind("user", "plain") == "text"
    assert D.detect_kind("user", None) == "text"
    assert D.detect_kind("user", "") == "text"


def span_invariant(res):
    joined = "\n".join(s["text"] for s in res["spans"])
    assert joined == res["extracted_text"]
    for i, s in enumerate(res["spans"]):
        assert s["span_idx"] == i
        assert res["extracted_text"][s["start"]:s["end"]] == s["text"]


def test_extract_turn_text_paragraphs():
    res = D.extract_turn("user", "a \nb\n\nc\n   \nd")
    assert res["kind"] == "text"
    assert res["extracted_text"] == "a\nb\nc\nd"
    assert [s["text"] for s in res["spans"]] == ["a\nb", "c", "d"]
    span_invariant(res)


def test_extract_turn_pdf_pages():
    stream = {"shards": [{"name": "a", "pages": [
        {"blocks": [{"paragraphs": [{"words": [{"t": "hello", "br": 1},
                                                {"t": "world", "br": 5}]}]}]},
        {"blocks": []},
    ]}]}
    res = D.extract_turn("user", pdf_payload(stream))
    assert res["kind"] == "pdf"
    assert res["extracted_text"] == "Page 1:\nhello world"
    assert res["blocks_kept"] == 1 and res["blocks_dropped"] == 1
    span_invariant(res)


def test_extract_turn_pdf_fallback_on_garbage():
    garbage = P.B64_MAGIC_PREFIX + "!!!!"
    res = D.extract_turn("user", garbage)
    assert res["kind"] == "pdf" and res["parse_failed"] == 1
    assert res["extracted_text"] == garbage
    span_invariant(res)


def test_extract_turn_tool_json():
    res = D.extract_turn("tool", 'result: {"b": 2, "a": {"x": 1}} done')
    assert res["kind"] == "tool"
    assert res["extracted_text"] == "b: 2\na.x: 1"
    assert res["parse_failed"] == 0
    span_invariant(res)


def test_extract_turn_tool_fallback():
    res = D.extract_turn("tool", "oops {broken}")
    assert res["parse_failed"] == 1
    assert res["extracted_text"] == "oops {broken}"
    res2 = D.extract_turn("tool", "no json at all")
    assert res2["parse_failed"] == 0
    assert res2["extracted_text"] == "no json at all"


def test_extract_turn_empty():
    res = D.extract_turn("user", None)
    assert res["extracted_text"] == "" and res["spans"] == []


# ---- regex tokenizer vs stdlib html.parser (differential) ----

def test_fast_tokenizer_matches_stdlib_on_corpus():
    """The regex tokenizer must emit identical blocks to the stdlib
    html.parser reference over the synthetic corpus and well-formed
    adversarial cases. (Two known, deliberate divergences on broken
    markup: stray '<' before a digit stays attached to its run, and an
    unterminated comment is consumed rather than leaking as a dropped
    text block — both asserted separately below.)"""
    from ocr_engine_spark.kernel.htmlblocks import (
        extract_blocks,
        extract_blocks_ref,
    )
    from ocr_engine_spark.sources.synth import _conv_rng, _gen_html

    cases = [_gen_html(_conv_rng(123, f"diff{i}")) for i in range(400)]
    cases += [
        "", "<div", "<p>x &amp; y &lt;z&gt;</p>",
        "<p>unclosed <b>bold", "<!-- comment <p>hidden</p> -->",
        "<!DOCTYPE html><p>one two three four five six seven eight</p>",
        "<p/><div/>self closing</div>",
        "<script>var x = '<p>no</p>';</script>"
        "<p>real content here with many words to pass density</p>",
        "<table><tr><td>a</td><td></td></tr><tr><td>  </td></tr></table>",
        "<ul><li>one two three four</li><li>x</li></ul>",
        '<a href="/x">linked words here</a> plain',
        "<p>entity &#65;&#x42; test</p>",
        "<?xml version?><p>after the pi more words here for density</p>",
        '<p title="a>b">quoted gt in attr plus enough words here</p>',
        # self-closing skip/boiler/table tags must not corrupt state
        # (ADVICE r1: group(3) used to swallow the '/')
        "<nav/><p>content words enough for density one two three four five six</p>",
        "<script/><p>after selfclosed script many words to pass the bar</p>",
        "<style/><p>after selfclosed style many words to pass the bar</p>",
        "<table/><p>after selfclosed table many words to pass the bar</p>",
        "<nav /><p>space before slash still self-closing per stdlib rule</p>",
        '<nav id="x"/><p>attr then slash still self-closing for stdlib</p>',
        '<a href="http://x.com/">trailing slash in quoted attr</a> tail',
        "<p>unquoted <a href=http://x.com/>value slash</a> is not selfclose</p>",
        "<div foo/>bare attr then slash</div>",
        "<div foo=/>slash as bare value</div>",
        # CDATA content elements: tag-like literals inside script/style
        # are data, not events (ADVICE r1: rawtext mode)
        "<script>document.write('<style>');</script>"
        "<p>content after script literal style enough words here</p>",
        "<script>var a = '</style>';</script>"
        "<p>script containing style endtag literal plus words</p>",
        "<style>p:after { content: '</p>' }</style>"
        "<p>style containing p endtag literal and enough word count</p>",
        "<script>if (a<b && c>d) { x('<table><tr><td>') }</script>"
        "<p>angle soup inside script stays data with enough words</p>",
        "<script>unterminated script swallows the rest <p>gone</p>",
        "<script></scriptx></script><p>fake close then real one words</p>",
        "<script></script foo='bar'></script><p>attr endtag is data</p>",
        "<SCRIPT>UPPER case '<p>'</SCRIPT><p>case insensitive close words</p>",
        "<script>nested <script> open</script><p>after nested open words</p>",
    ]
    for c in cases:
        assert extract_blocks(c) == extract_blocks_ref(c), c[:80]


def test_fast_tokenizer_divergences_are_the_documented_ones():
    from ocr_engine_spark.kernel.htmlblocks import extract_blocks

    # stray '<' before a digit: kept attached to the text run
    assert extract_blocks("a < b and <3 > 2") == ([("text", "a < b and <3 > 2")], 0)
    # unterminated comment: consumed, not a dropped block
    assert extract_blocks("<!-- unterminated") == ([], 0)


def test_tokenizer_linear_on_adversarial_payloads():
    """No catastrophic backtracking / quadratic behavior: worst-case
    markup must process in linear-ish time (generous 5s bound covers
    slow CI; real times are milliseconds)."""
    import time

    from ocr_engine_spark.kernel.dispatch import extract_turn

    cases = [
        "<a " + '"' * 20000,
        "<a " + "\"'" * 10000,
        "<" * 20000,
        "<div>" * 3000 + "hello world content here" + "</div>" * 3000,
        ("<p>" + "word " * 30 + "</p>") * 3000,
        "<!--" + "x" * 300000,
    ]
    for payload in cases:
        t0 = time.time()
        r = extract_turn("assistant", payload)
        assert time.time() - t0 < 5
        assert "\n".join(s["text"] for s in r["spans"]) == r["extracted_text"]
