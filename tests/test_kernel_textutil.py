"""Unit tests: slugify / clamp / JSON probe / flatten
(SURVEY.md §5.2.3 edge-case list)."""

import math

from ocr_engine_spark.kernel import textutil as T
from ocr_engine_spark.kernel import tooljson as J


# ---- slugify (/root/reference/app.py:187-191) ----

def test_slugify_basic():
    assert T.slugify("Invoice Number") == "invoice_number"


def test_slugify_collapses_runs_and_strips():
    assert T.slugify("  --Total (USD)__ ") == "total_usd"


def test_slugify_empty_fallback():
    assert T.slugify("") == "field"
    assert T.slugify(None) == "field"
    assert T.slugify("!!!") == "field"


def test_slugify_unicode_is_non_alnum():
    assert T.slugify("नमस्ते") == "field"
    assert T.slugify("naïve plan") == "na_ve_plan"


def test_slugify_truncates_80():
    assert T.slugify("a" * 100) == "a" * 80
    # truncation happens AFTER collapse/strip
    assert len(T.slugify("x " * 100)) == 80


# ---- clamp_conf (/root/reference/app.py:226-231) ----

def test_clamp_basic():
    assert T.clamp_conf(0.7) == 0.7
    assert T.clamp_conf(-3) == 0.0
    assert T.clamp_conf(42) == 1.0
    assert T.clamp_conf("0.25") == 0.25


def test_clamp_unparseable_is_half():
    assert T.clamp_conf("high") == 0.5
    assert T.clamp_conf(None) == 0.5
    assert T.clamp_conf({}) == 0.5


def test_clamp_nan_passthrough():
    # parity quirk: NaN parses and survives both comparisons
    assert math.isnan(T.clamp_conf(float("nan")))


# ---- minified JSON (X5 fixture-exact) ----

def test_to_min_json_default_separators_and_unicode():
    assert T.to_min_json({"a": 1, "b": "नमस्ते"}) == '{"a": 1, "b": "नमस्ते"}'


def test_has_devanagari():
    assert T.has_devanagari("abc नमस्ते")
    assert not T.has_devanagari("abc")
    assert not T.has_devanagari(None)


# ---- first_json_object (/root/reference/app.py:214-224) ----

def test_json_probe_empty_and_absent():
    assert J.first_json_object("") == {}
    assert J.first_json_object(None) == {}
    assert J.first_json_object("no braces here") == {}


def test_json_probe_greedy_first_to_last_brace():
    # DOTALL greedy: {.*} spans first "{" to LAST "}" — two valid
    # objects concatenated therefore FAIL to parse → {}
    assert J.first_json_object('{"a": 1} {"b": 2}') == {}
    assert J.first_json_object('x {"a": {"n": [1, 2]}} y') == {"a": {"n": [1, 2]}}


def test_json_probe_malformed():
    assert J.first_json_object("{broken: [}") == {}


def _brace_families(k):
    return [
        "{" * k,                      # unterminated: no "}" at all
        "{" * k + "}",
        "}" * k + "{" * k,            # every "}" before the first "{"
        "x}" * k + '{"a": 1}',
        '{"a":' * k + "}",
        "{" + "a" * k,
        '{"k": "' + "{" * k + '"}',   # braces inside a valid string
        "{" * k + '"a": 1' + "}" * k,
    ]


def test_json_probe_matches_greedy_regex_on_adversarial_families():
    import json
    import re

    greedy = re.compile(r"\{.*\}", re.DOTALL)

    def reference(text):
        m = greedy.search(text) if text else None
        if not m:
            return {}
        try:
            obj = json.loads(m.group(0))
        except Exception:
            return {}
        return obj if isinstance(obj, dict) else {}

    for text in _brace_families(2000) + ["}", "}{", 'a}{"b": 1}', "}{}"]:
        assert J.first_json_object(text) == reference(text), text[:40]


def test_json_probe_linear_in_brace_count():
    """Cost grows linearly from 5k to 20k braces (a quadratic probe
    grows 16×; the greedy regex took ~0.25 s at 20k)."""
    import time

    def cost(k):
        payloads = _brace_families(k)
        best = float("inf")
        for _ in range(7):
            t0 = time.perf_counter()
            for _ in range(5):
                for p in payloads:
                    J.first_json_object(p)
            best = min(best, time.perf_counter() - t0)
        return best

    small, large = cost(5000), cost(20000)
    assert large < 8 * small, (small, large)
    assert large < 0.05, large


def test_flatten_json_order_and_rendering():
    obj = {"b": 1, "a": {"x": "s"}, "l": [True, None], "e": {}, "m": []}
    assert J.flatten_json(obj) == [
        "b: 1",
        'a.x: "s"',
        "l[0]: true",
        "l[1]: null",
        "e: {}",
        "m: []",
    ]
    assert J.flatten_json({}) == []
