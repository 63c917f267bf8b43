"""The three extraction catalog queries (one per recast of
``documents``) must return exactly the rows of their DuckDB oracles,
compared the way scripts/check_correctness.py compares them. A broken
oracle rewrite or a kernel change fails here, not only in a manual
gate run."""

import importlib.util
import os
import random

import pytest

SF_DIR = "/root/testdata/sf0.001"
ROOT = os.path.join(os.path.dirname(__file__), "..")


def _rowset():
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(ROOT, "scripts", "check_correctness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._rowset


@pytest.mark.skipif(
    not os.path.exists(os.path.join(SF_DIR, "documents.parquet")),
    reason="driver testdata not present",
)
@pytest.mark.parametrize(
    "name", ["flagship_extract", "extract_spans", "extract_fallback_malformed"]
)
def test_extraction_query_matches_its_oracle(spark, name):
    import duckdb

    from ocr_engine_spark.catalog import oracle_sql, queries

    rowset = _rowset()
    sdf = queries()[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(SF_DIR, 'documents.parquet')}')"
    )
    res = con.execute(oracle_sql()[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()

    assert sorted(sdf.columns) == sorted(ocols)
    assert len(srows) == len(orows) > 0
    assert rowset(sdf.columns, srows) == rowset(ocols, orows)


def test_text_rules_match_the_text_kernel():
    """The driver corpus has no newline and no blank text, so the
    paragraph-run and span-offset rules of the oracles meet only
    one-paragraph rows there. Pin both against the text kernel on
    texts made of blank lines, trailing whitespace and multi-line
    paragraphs."""
    import duckdb

    from ocr_engine_spark.catalog import _joined_sql, _paragraphs_sql, _spans_sql
    from ocr_engine_spark.kernel.dispatch import extract_turn

    rng = random.Random(7)
    alphabet = ["a", "b", " ", "\t", "\r", "\x0b", "\x0c", "\n", "\n", "\n"]
    texts = [None, "", "\n", "a", "\n\na\n", " x\r\n\n\ny \n z\t\n"]
    texts += ["".join(rng.choices(alphabet, k=rng.randint(1, 30))) for _ in range(300)]

    con = duckdb.connect()
    sql = f"""
SELECT {_joined_sql("bs")}, {_spans_sql("bs", "list_transform(bs, x -> 'text')")}
FROM (SELECT {_paragraphs_sql("t")} AS bs FROM (SELECT ?::VARCHAR AS t))"""
    for t in texts:
        res = extract_turn("user", t)
        want = (
            res["extracted_text"],
            len(res["spans"]),
            "|".join(f"{s['span_idx']}:{s['kind']}:{s['start']}:{s['end']}"
                     for s in res["spans"]),
        )
        assert con.execute(sql, [t]).fetchone() == want, repr(t)


def test_density_gate_matches_the_html_kernel():
    """Every non-empty driver document has 7 or more words per
    80-column line, so the oracles' density rule (catalog._DENSE_SQL)
    never meets the html kernel's drop branch there. Pin it against the
    kernel's classifier on <p> texts whose density falls just below, at
    and just above MIN_TEXT_DENSITY = 6.0: word counts 6k-1, 6k and
    6k+1 over single-space joined lengths 80k-1, 80k and 80k+1, with
    long words and mixed whitespace between them."""
    import duckdb

    from ocr_engine_spark.catalog import _DENSE_SQL, _WORDS_SQL
    from ocr_engine_spark.kernel.dispatch import extract_turn

    rng = random.Random(11)
    seps = [" ", " ", " ", "  ", "\t", "\n", " \r\n "]

    def words(n, letters, long_word):
        # n words of >= 1 letter each, `letters` letters in all
        if long_word:
            lens = [1] * (n - 1) + [letters - (n - 1)]
            rng.shuffle(lens)
        else:
            cuts = sorted(rng.sample(range(1, letters), n - 1))
            lens = [b - a for a, b in zip([0] + cuts, cuts + [letters])]
        return ["".join(rng.choices("abcdefghij", k=m)) for m in lens]

    texts = []
    for k in range(1, 41):
        for n in (6 * k - 1, 6 * k, 6 * k + 1):
            for length in (80 * k - 1, 80 * k, 80 * k + 1):
                ws = words(n, length - (n - 1), long_word=k % 3 == 0)
                texts.append("".join(w + rng.choice(seps) for w in ws).rstrip())

    con = duckdb.connect()
    sql = f"""
SELECT CASE WHEN {_DENSE_SQL} THEN array_to_string(w, ' ') END
FROM (SELECT {_WORDS_SQL} AS w FROM (SELECT ?::VARCHAR AS t))"""
    kept = 0
    for t in texts:
        res = extract_turn("user", f"<body><nav>Home</nav><h1>Doc 1</h1><p>{t}</p></body>")
        want = next((s["text"] for s in res["spans"] if s["kind"] == "p"), None)
        assert con.execute(sql, [t]).fetchone() == (want,), repr(t)
        kept += want is not None
    assert 0 < kept < len(texts)
