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
