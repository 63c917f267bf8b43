"""Catalog queries must return exactly the rows of their DuckDB
oracles, compared the way scripts/check_correctness.py compares them:
the three extraction queries (one per recast of ``documents``), every
query whose oracle splices in a shared rule fragment, and every query
over the operators, column functions and stream builders
(``operators/``, ``functions/``, ``streaming/``). A broken fragment,
operator or kernel change fails here, not only in a manual gate run."""

import importlib.util
import os
import random

import pytest

SF_DIR = "/root/testdata/sf0.001"
ROOT = os.path.join(os.path.dirname(__file__), "..")


def _check_correctness():
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(ROOT, "scripts", "check_correctness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.skipif(
    not os.path.exists(os.path.join(SF_DIR, "documents.parquet")),
    reason="driver testdata not present",
)
@pytest.mark.parametrize(
    "name",
    [
        "flagship_extract", "extract_spans", "extract_fallback_malformed",
        "p1_payload_kind", "streaming_windowed_metrics",
        "quality_documents", "ngram_jaccard_pairs_documents",
        "near_dup_scale_path", "minhash_lsh_candidates",
        "winnow_containment_documents", "simhash_near_pairs_documents",
        "ann_cosine_topk", "ann_lsh_buckets", "ann_lsh_multiprobe_topk",
        "ann_lsh_multiprobe_recall", "ann_ivf_topk", "ann_ivf_recall",
        "ann_pq_adc_topk", "ann_ivf_pq_topk", "ann_ivf_pq_recall",
        "ann_ivf_trained_recall",
        "curation_stratified_sample", "curation_quota_per_source",
        "curation_quota_per_source_salted", "curation_pack_sequences",
        "curation_decontaminate", "curation_shuffle_permutation",
        "curation_pipeline",
        "sessionize_events", "session_stats_events", "flagship_sessions_asof",
        "streaming_session_window", "streaming_conv_stats",
        "streaming_dedup_first_seen",
        "gopher_repetition_full_documents", "c4_line_filter_documents",
        "gopher_quality_documents",
        "tokens_documents", "langid_documents", "fingerprint_documents",
        "dedup_exact_documents", "minhash_signatures_documents",
        "simhash_documents", "top_terms_documents",
        "winnow_fingerprints_documents", "vocab_pair_counts",
        "exact_substring_dedup_documents", "p8_devanagari_documents",
        "p2_word_filter_documents", "field_record_documents",
        "ann_ivf_assignments", "ann_pq_codes", "kmeans_update_step",
        "curation_redact_pii", "asof_click_view_events",
    ],
)
def test_extraction_query_matches_its_oracle(spark, name):
    assert _matches_oracle(spark, SF_DIR, name) > 0


def _matches_oracle(spark, sf_dir, name):
    """Assert ``queries()[name]`` over ``sf_dir`` returns the rows of
    ``oracle_sql()[name]``; return the row count."""
    from ocr_engine_spark.catalog import oracle_sql, queries

    cc = _check_correctness()
    sdf = queries()[name](spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]

    res = cc.duckdb_views(sf_dir).execute(oracle_sql()[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()

    assert sorted(sdf.columns) == sorted(ocols)
    assert len(srows) == len(orows)
    assert cc._rowset(sdf.columns, srows) == cc._rowset(ocols, orows)
    return len(srows)


@pytest.mark.skipif(
    not os.path.exists(os.path.join(SF_DIR, "documents.parquet")),
    reason="sf0.001 testdata not present",
)
def test_drained_stream_stops_between_batches(spark, monkeypatch):
    """streaming_conv_stats never terminates by itself and is stopped
    once drained: the stop must land between two micro-batches, so no
    batch's job is cancelled half-way through its state store commit,
    and the rows still match the oracle."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    started = []
    real_start = DataStreamWriter.start

    def start(self, *args, **kwargs):
        started.append(real_start(self, *args, **kwargs))
        return started[-1]

    monkeypatch.setattr(DataStreamWriter, "start", start)
    assert _matches_oracle(spark, SF_DIR, "streaming_conv_stats") > 0
    (q,) = started
    assert q.exception() is None
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(str(q.runId))
    assert jobs
    assert {str(tracker.getJobInfo(j).status) for j in jobs} == {"SUCCEEDED"}


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


def _multiline_documents(path):
    """A documents.parquet whose texts hold many lines, blank lines,
    whitespace-only lines, one-character lines, repeated lines and
    paragraphs, with 50-90 words each of which 0-30% are digit-only,
    so the alphabetic-word fraction spans the Gopher gate's 0.8."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(13)
    vocab = ["the", "be", "to", "of", "and", "that", "have", "with",
             "spark", "table", "window", "query", "merge", "stream", "batch"]
    odd = ["   ", "\t", " \t ", "", "a", "7", ".", "-", "#"]
    rows = []
    for doc_id in range(240):
        n = rng.randint(50, 90)
        n_num = round(n * rng.uniform(0.0, 0.3))
        toks = [str(rng.randint(0, 9999)) for _ in range(n_num)]
        toks += rng.choices(vocab, k=n - n_num)
        rng.shuffle(toks)
        lines = []
        while toks:
            m = rng.randint(1, 12)
            line, toks = " ".join(toks[:m]), toks[m:]
            line += rng.choice(["", ".", ".", "!", "...", "?"])
            if rng.random() < 0.15:
                line = "- " + line
            if rng.random() < 0.05:
                line += " javascript."
            lines.append(rng.choice(["", " ", "  "]) + line + rng.choice(["", " "]))
            if rng.random() < 0.2:
                lines.append(rng.choice(lines))
            if rng.random() < 0.4:
                lines.append(rng.choice(odd))
        text = "\n".join(lines)
        if rng.random() < 0.05:
            text += "\nlorem ipsum {."
        rows.append({"doc_id": doc_id, "text": text, "lang": "en",
                     "source": f"src{doc_id % 3}", "n_chars": len(text)})
    pq.write_table(pa.Table.from_pylist(rows), str(path / "documents.parquet"))


@pytest.mark.parametrize(
    "name",
    ["gopher_repetition_full_documents", "c4_line_filter_documents",
     "gopher_quality_documents"],
)
def test_multiline_text_rules_match_their_oracles(spark, tmp_path, name):
    """The driver corpus has no newline, so the line, paragraph and
    Gopher-gate rules of these oracles meet only one-line rows there.
    Pin each text-quality query against its oracle on multi-line
    documents."""
    _multiline_documents(tmp_path)
    assert _matches_oracle(spark, str(tmp_path), name) == 240


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
    # str.split() separators beyond [ \t\n\r]: str.isspace() is true for each
    unicode_ws = list("\x0b\x0c\x1c\x1d\x1e\x1f\x85\xa0\u1680"
                      "\u2028\u2029\u202f\u205f\u3000") + [
        chr(c) for c in range(0x2000, 0x200b)]
    seps = [" ", " ", " ", "  ", "\t", "\n", " \r\n "] + unicode_ws

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


@pytest.mark.skipif(
    not os.path.exists(os.path.join(SF_DIR, "events.parquet")),
    reason="driver testdata not present",
)
def test_catalog_stream_leaves_no_scratch_dir(spark, tmp_path, monkeypatch):
    """A catalog streaming query materializes its input and checkpoint
    in a scratch dir; once its rows are collected nothing of it is
    left."""
    import tempfile

    from ocr_engine_spark.catalog import queries

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert queries()["streaming_session_window"](spark, SF_DIR).collect()
    assert list(tmp_path.iterdir()) == []
