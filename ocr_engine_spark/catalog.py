"""Query + oracle catalog: one entry per implemented operator
(SURVEY.md §2 mapping + the training-data-pipeline operators).

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame`` with
an ANSI/DuckDB oracle SQL string over the driver's pre-registered
views; the catalog reads only ``documents``, ``events`` and
``embeddings``. Column names and types are aligned on both sides (the
driver hashes values after sorting columns by name). Doubles are
rounded to 6 dp on both sides; hashes are md5-derived so the engines
agree bit-for-bit.
"""

from __future__ import annotations

import functools
import os
import shutil
import tempfile
import threading
import time
import uuid
from typing import Callable, Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import textfns as X
from .functions.columns import clamp_conf_col, payload_kind_col, slugify_col
from .operators import curation, dedup, similarity, textstats
from .plans.extract_plan import build_extracted
from .sources.tableio import (
    transcripts_from_documents,
    transcripts_from_documents_malformed,
    transcripts_from_documents_multikind,
)

# ---------------------------------------------------------------- helpers

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _memory_stream(spark: SparkSession, inputs, build, mode: str,
                   drained: Optional[Callable[[dict], bool]] = None) -> DataFrame:
    """Run a stream to completion and return its output rows.
    ``inputs`` are appended in order to a scratch input dir,
    ``build(in_dir)`` is the streaming DataFrame over it, and the query
    runs with availableNow in output ``mode`` into a memory sink. A
    query that never terminates by itself passes ``drained`` and runs
    in append mode: its sink collects every batch's rows to the driver,
    and the first batch that finds ``drained`` true of the previous
    batch's progress stops the query once its own rows are in, so no
    batch is running when the stop lands (a stop during a batch cancels
    its job mid-way through the state store commit). After 180 s it is
    stopped wherever it is. The scratch dir, with the input and the
    checkpoint, is removed before this returns or raises."""
    tmp = tempfile.mkdtemp(prefix="ocr-stream-")
    try:
        in_dir = os.path.join(tmp, "in")
        for df in inputs:
            df.write.mode("append").parquet(in_dir)
        stream = build(in_dir)
        writer = (
            stream.writeStream.outputMode(mode)
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
        )
        if drained is None:
            qname = "stream_" + uuid.uuid4().hex[:8]
            q = writer.format("memory").queryName(qname).start()
            try:
                q.awaitTermination()
            finally:
                q.stop()
            return spark.table(qname)

        rows, started = [], []

        def sink(batch: DataFrame, _batch_id: int) -> None:
            rows.extend(batch.collect())
            q = started[0] if started else None
            if q is not None and q.lastProgress and drained(q.lastProgress):
                # stop() waits for this batch to return, so it runs on
                # its own thread. The trigger loop reads isActive before
                # it starts a batch: once it is false here, none follows.
                threading.Thread(target=q.stop).start()
                while q.isActive:
                    time.sleep(0.01)

        started.append(writer.foreachBatch(sink).start())
        try:
            started[0].awaitTermination(180)
        finally:
            started[0].stop()
        return spark.createDataFrame(rows, stream.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# DuckDB mirrors of the shared expression fragments (textfns twins).
TOKENS_SQL = (
    "list_filter(string_split(regexp_replace(lower(coalesce(text, '')), "
    "'[^a-z0-9 ]+', ' ', 'g'), ' '), x -> x <> '')"
)
NORMALIZED_SQL = (
    "trim(regexp_replace(lower(coalesce(text, '')), '[ \t\n\r]+', ' ', 'g'))"
)
HASH60_SQL = "('0x' || substr(md5({x}), 1, 15))::BIGINT"
SHINGLES_SQL = (
    "list_distinct(list_transform(generate_series(1, greatest(len({t}) - 2, 0)), "
    "i -> {t}[i] || ' ' || {t}[i+1] || ' ' || {t}[i+2]))"
)

_QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: Dict[str, str] = {}


def _register(name: str, oracle: str):
    if name in _QUERIES:
        raise ValueError(f"catalog query {name!r} is already registered")

    def deco(fn):
        _QUERIES[name] = fn
        _ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------- extraction

# Three queries run the full extraction pipeline (bucket → shuffle →
# sort → mapInArrow), one per recast of ``documents`` in
# sources/tableio.py: multikind (flagship_extract), plain text
# (extract_spans) and malformed (extract_fallback_malformed). Their
# oracles replay the recasts and the kernels' rules in DuckDB; each
# rule below is spelled once and spliced in.


def _paragraphs_sql(text: str) -> str:
    """The text kernel's paragraph blocks of ``text``, as a list: split
    at \\n, rstrip each line of kernel/textutil.ASCII_TRAIL, keep the
    runs of non-empty lines, each joined by \\n. Rstripped blank lines
    are empty, so once the lines are joined back the runs are the
    pieces between two or more newlines. The ``_joined_sql`` of the
    list is the text arm's (and the fallback's) extracted_text."""
    lines = (f"list_transform(string_split(coalesce({text}, ''), chr(10)), "
             "x -> rtrim(x, ' ' || chr(9) || chr(13) || chr(11) || chr(12)))")
    return (f"list_filter(string_split_regex(trim(array_to_string({lines}, chr(10)), "
            "chr(10)), '\n\n+'), x -> x <> '')")


def _joined_sql(items: str, sep: str = "chr(10)") -> str:
    """The list ``items`` joined by ``sep``, and '' for an empty list
    (where DuckDB's array_to_string returns NULL), as the kernels and
    Spark's array_join render it."""
    return f"coalesce(array_to_string({items}, {sep}), '')"


# The html recasts put the text ``t`` escaped in one <p>; the html
# kernel sees its whitespace words ``w`` (str.split(): every character
# for which str.isspace() is true separates) and its density classifier
# keeps the <p> iff there are at least 6 words per 80-column line.
_WORDS_SQL = (r"list_filter(string_split_regex(t, '[\t-\r\x{1c}-\x{20}\x{85}\x{a0}\x{1680}"
              r"\x{2000}-\x{200a}\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}]+'), x -> x <> '')")
_DENSE_SQL = """(len(w) > 0
          AND len(w)::DOUBLE
              / greatest(ceil(length(array_to_string(w, ' ')) / 80.0), 1) >= 6.0)"""


def _payload_kind_sql(text: str) -> str:
    """The dispatch kind (functions.columns.payload_kind_col) of a
    multikind recast row whose document text is ``text``: the arm
    doc_id % 4 fixes html, tool and pdf; the text arm is sniffed."""
    return f"""CASE doc_id % 4
         WHEN 1 THEN 'html'
         WHEN 2 THEN 'tool'
         WHEN 3 THEN 'pdf'
         ELSE CASE WHEN {text} IS NULL OR {text} = '' THEN 'text'
                   WHEN {text} LIKE 'JVBERi1UT0tF%' THEN 'pdf'
                   WHEN regexp_matches({text}, '^[ \t\r\n\x0b\x0c]*<') THEN 'html'
                   ELSE 'text' END
       END"""


def _pdf_page_sql(lo: str, hi: str) -> str:
    """One shard page of the multikind pdf recast: tokens
    ``tk[lo+1 .. hi]``, every 5th carrying an EOL break, so 5-token
    lines joined by \\n."""
    return (f"array_to_string(list_transform(generate_series(1, ({hi} - {lo} + 4) // 5),\n"
            f"           g -> array_to_string(tk[{lo} + (g - 1) * 5 + 1 : least({lo} + g * 5, {hi})], ' ')),\n"
            "           chr(10))")


def _spans_sql(bs: str, ks: str) -> str:
    """``n_spans`` and ``spans_flat`` (one "idx:kind:start:end" per
    span, |-joined) of the block texts ``bs`` with block kinds ``ks``:
    a block starts at the summed lengths of the blocks before it, +1
    per \\n joiner."""
    start = f"coalesce(list_sum(list_transform({bs}[1:r-1], b -> length(b) + 1)), 0)"
    flat = _joined_sql(f"""list_transform(generate_series(1, len({bs})),
         r -> (r - 1) || ':' || {ks}[r] || ':' || {start}
              || ':' || ({start} + length({bs}[r])))""", "'|'")
    return f"len({bs})::INT AS n_spans,\n       {flat} AS spans_flat"


def _span_cols():
    """The Spark side of ``_spans_sql``: span count and the flattened
    span structs of an extracted row."""
    flat = F.transform(
        "spans",
        lambda s: F.concat_ws(
            ":",
            s["span_idx"].cast("string"),
            s["kind"],
            s["start"].cast("string"),
            s["end"].cast("string"),
        ),
    )
    return [F.size("spans").alias("n_spans"),
            F.array_join(flat, "|").alias("spans_flat")]


# flagship_extract: the multikind recast, replayed per dispatch arm
# (doc_id % 4) as block texts ``bs`` and block kinds ``ks``: html = h1
# + the density-gated <p> + 2 table rows; tool = the 4 ordered tool_kv
# flatten lines; pdf = the text's tokens split at h = ceil(n/2) into
# two shard pages, non-empty pages only; text = its paragraph blocks.
# Span kinds of rem-0 rows are 'text' unconditionally, which holds
# because the corpus contains no '<' and no base64 magic prefix
# (asserted by tests/test_corpus_invariants.py).
_FLAGSHIP_ORACLE = f"""
WITH base AS (
  SELECT doc_id, coalesce(text, '') AS t, text AS rawt, lang, source
  FROM documents
),
parts AS (
  SELECT doc_id, rawt, lang, source,
         {_WORDS_SQL} AS w,
         list_filter(string_split_regex(t, '[ \t\n]+'), x -> x <> '') AS tk,
         {_paragraphs_sql("rawt")} AS paras
  FROM base
),
arms AS (
  SELECT doc_id, rawt, lang, source, w, paras,
         {_DENSE_SQL} AS dense,
         {_pdf_page_sql("0", "(len(tk) + 1) // 2")} AS p1,
         {_pdf_page_sql("(len(tk) + 1) // 2", "len(tk)")} AS p2
  FROM parts
),
blocks AS (
  SELECT doc_id, rawt,
         CASE doc_id % 4
           WHEN 1 THEN ['Doc ' || doc_id]
                       || CASE WHEN dense THEN [array_to_string(w, ' ')] ELSE [] END
                       || ['doc | ' || doc_id, 'lang | ' || lang]
           WHEN 2 THEN ['doc: ' || doc_id,
                        'lang: ' || to_json(lang)::VARCHAR,
                        'src: ' || to_json(source)::VARCHAR,
                        'note: ' || to_json(rawt)::VARCHAR]
           WHEN 3 THEN list_filter(
                         [CASE WHEN p1 <> '' THEN 'Page 1:' || chr(10) || p1 END,
                          CASE WHEN p2 <> '' THEN 'Page 2:' || chr(10) || p2 END],
                         x -> x IS NOT NULL)
           ELSE paras
         END AS bs,
         CASE doc_id % 4
           WHEN 1 THEN ['h1'] || CASE WHEN dense THEN ['p'] ELSE [] END || ['tr', 'tr']
           WHEN 2 THEN ['tool_kv', 'tool_kv', 'tool_kv', 'tool_kv']
           WHEN 3 THEN list_transform(list_filter([p1, p2], x -> x <> ''), x -> 'pdf_page')
           ELSE list_transform(paras, x -> 'text')
         END AS ks
  FROM arms
)
SELECT cast(doc_id AS varchar) AS conv_id,
       0::INT                  AS turn_idx,
       {_payload_kind_sql("rawt")} AS kind,
       {_joined_sql("bs")} AS extracted_text,
       {_spans_sql("bs", "ks")}
FROM blocks
ORDER BY conv_id, turn_idx
"""


@_register("flagship_extract", oracle=_FLAGSHIP_ORACLE)
def q_flagship_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full extraction pipeline over documents recast as
    *multi-kind* transcripts (doc_id % 4 → text/html/tool/pdf payload
    constructors), so the driver hash covers all four dispatch arms of
    the kernel: HTML boilerplate classification, tool-JSON flatten and
    PDF token-stream segmentation, not just plain text. It checks kind,
    extracted_text and the span structure (kinds and char offsets) of
    every turn; extract_spans checks the counters on the text arm."""
    df = transcripts_from_documents_multikind(spark, sf_dir)
    out = build_extracted(df, num_buckets=32, salt_buckets=4)
    return out.select(
        "conv_id", "turn_idx", "kind", "extracted_text", *_span_cols()
    ).orderBy("conv_id", "turn_idx")


# extract_spans: the plain-text recast, whose spans are its paragraph
# blocks, every one kept.
_TEXT_SPANS_ORACLE = f"""
SELECT cast(doc_id AS varchar) AS conv_id,
       0::INT AS turn_idx,
       {_spans_sql("bs", "list_transform(bs, x -> 'text')")},
       len(bs)::BIGINT AS blocks_kept,
       0::BIGINT AS blocks_dropped,
       0::INT AS parse_failed
FROM (SELECT doc_id, {_paragraphs_sql("text")} AS bs FROM documents)
ORDER BY conv_id, turn_idx
"""


@_register("extract_spans", oracle=_TEXT_SPANS_ORACLE)
def q_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span structure and counters of the text arm through the Arrow
    extraction stage, hash-verified: spans flatten to
    "idx:kind:start:end" strings whose offsets the oracle recomputes as
    prefix sums of paragraph-block lengths; blocks_kept equals the
    span count, blocks_dropped and parse_failed are 0."""
    df = transcripts_from_documents(spark, sf_dir)
    out = build_extracted(df, num_buckets=16, salt_buckets=2)
    return out.select(
        "conv_id",
        "turn_idx",
        *_span_cols(),
        "blocks_kept",
        "blocks_dropped",
        "parse_failed",
    ).orderBy("conv_id", "turn_idx")


# extract_fallback_malformed: every multikind payload is well-formed,
# so there parse_failed and blocks_dropped are constant zeros. This
# recast (tableio.transcripts_from_documents_malformed) feeds the
# kernels deliberately malformed payloads, and the oracle asserts the
# deterministic fallback per arm (doc_id % 3): corrupt-base64 pdf and
# brace-bearing unparseable tool JSON → parse_failed = 1 and the
# paragraph blocks of the raw payload; unterminated <script> html →
# parse_failed = 0 with the script interior swallowed (tolerant-parser
# parity) and the density gate deciding the <p>.
_MALFORMED_PAYLOAD_SQL = """CASE doc_id % 3
             WHEN 0 THEN 'JVBERi1UT0tF@@' || t
             WHEN 1 THEN 'tool-output {oops ' || t || ' }'
           END"""

_MALFORMED_ORACLE = f"""
WITH base AS (
  SELECT doc_id, coalesce(text, '') AS t FROM documents),
arms AS (
  SELECT doc_id, t, {_WORDS_SQL} AS w,
         {_paragraphs_sql(_MALFORMED_PAYLOAD_SQL)} AS fb
  FROM base),
gated AS (
  SELECT doc_id, t, w, fb, {_DENSE_SQL}::INT AS p_kept
  FROM arms)
SELECT cast(doc_id AS varchar) AS conv_id,
       0::INT AS turn_idx,
       CASE doc_id % 3 WHEN 0 THEN 'pdf' WHEN 1 THEN 'tool' ELSE 'html' END AS kind,
       CASE doc_id % 3 WHEN 2 THEN 0 ELSE 1 END::INT AS parse_failed,
       CASE doc_id % 3
         -- empty text → no <p> data chunk at all: the kernel discards
         -- the empty segment before classification (kept=1, dropped=0)
         WHEN 2 THEN CASE WHEN t = '' THEN 1 ELSE 1 + p_kept END
         ELSE len(fb)
       END::BIGINT AS blocks_kept,
       CASE doc_id % 3
         WHEN 2 THEN CASE WHEN t = '' THEN 0 ELSE 1 - p_kept END
         ELSE 0
       END::BIGINT AS blocks_dropped,
       CASE doc_id % 3
         WHEN 2 THEN 'Doc ' || doc_id ||
              CASE WHEN p_kept = 1 THEN chr(10) || array_to_string(w, ' ') ELSE '' END
         ELSE {_joined_sql("fb")}
       END AS extracted_text
FROM gated
ORDER BY conv_id, turn_idx
"""


@_register("extract_fallback_malformed", oracle=_MALFORMED_ORACLE)
def q_extract_fallback_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pipeline over deliberately malformed payloads — the
    driver gate hash-verifies kind, nonzero parse_failed, fallback
    extracted_text and the kept/dropped counters for every failure arm
    (the reference's fallback-ladder parity; kernel/dispatch.py:102-
    115)."""
    df = transcripts_from_documents_malformed(spark, sf_dir)
    out = build_extracted(df, num_buckets=16, salt_buckets=2)
    return out.select(
        "conv_id",
        "turn_idx",
        "kind",
        "parse_failed",
        "blocks_kept",
        "blocks_dropped",
        "extracted_text",
    ).orderBy("conv_id", "turn_idx")

# ------------------------------------------- composed field record (J2)

def _slug_sql(s: str) -> str:
    inner = (
        f"regexp_replace(regexp_replace(lower(trim({s})), '[^a-z0-9]+', '_', 'g'),"
        f" '^_+|_+$', '', 'g')"
    )
    return f"substr(CASE WHEN {inner} = '' THEN 'field' ELSE {inner} END, 1, 80)"


def _field_record_arm(key_sql: str, value_sql: str, conf_sql: str) -> str:
    return f"""
  SELECT doc_id,
         {key_sql} AS key,
         {value_sql} AS value,
         {conf_sql} AS conf,
         'doc#page ' || coalesce(
           list_filter(generate_series(1, len(ls)),
                       i -> contains(ls[i], {value_sql}))[1], 1) AS source
  FROM base"""


def _clamp_sql(v: str) -> str:
    return f"CASE WHEN {v} < 0 THEN 0.0::DOUBLE WHEN {v} > 1 THEN 1.0::DOUBLE ELSE {v} END"


_FIELD_RECORD_ORACLE = f"""
WITH base AS (
  SELECT doc_id, lang, source, n_chars,
         string_split(coalesce(text, ''), chr(10)) AS ls
  FROM documents
)
{_field_record_arm(_slug_sql("'Language: ' || lang"), "lang",
                   _clamp_sql("(n_chars / 5000.0 - 0.1)"))}
UNION ALL
{_field_record_arm(_slug_sql("'Source System (' || source || ')'"), "source",
                   _clamp_sql("(2.0 - n_chars / 1000.0)"))}
UNION ALL
{_field_record_arm(_slug_sql("'Head!!'"),
                   "substr(trim(ls[least(3, len(ls))]), 1, 40)",
                   "0.5::DOUBLE")}
ORDER BY doc_id, key
"""


@_register("field_record_documents", oracle=_FIELD_RECORD_ORACLE)
def q_field_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's composed rich-extraction record — per document,
    ``{key → {value, conf, source}}`` (parity anchor:
    /root/reference/app.py:606-630) — exploded to one row per field:

    - key   = X1 slugify of a data-derived label
      (/root/reference/app.py:187-191);
    - conf  = X2 clamp with null → 0.5 default
      (/root/reference/app.py:226-231);
    - source = J2 source-attribution containment probe: pages (= text
      lines) scanned in order, first page containing the value wins,
      default page 1 (/root/reference/app.py:620-628).

    Pure projection + inline over the scan — zero shuffles; the map
    shape is one ``map_from_entries(collect_list(...))`` away when a
    consumer wants the un-exploded record."""
    docs = _t(spark, sf_dir, "documents")
    ls = F.split(F.coalesce(F.col("text"), F.lit("")), "\n", -1)
    idx = F.sequence(F.lit(1), F.size(ls))

    def field(label, value, conf_raw):
        hits = F.filter(
            F.zip_with(ls, idx, lambda l, i: F.when(F.contains(l, value), i)),
            lambda x: x.isNotNull(),
        )
        page = F.coalesce(F.try_element_at(hits, F.lit(1)), F.lit(1))
        return F.struct(
            slugify_col(label).alias("key"),
            value.alias("value"),
            clamp_conf_col(conf_raw).alias("conf"),
            F.concat(F.lit("doc#page "), page.cast("string")).alias("source"),
        )

    fields = F.array(
        field(
            F.concat(F.lit("Language: "), F.col("lang")),
            F.col("lang"),
            F.col("n_chars") / 5000.0 - 0.1,
        ),
        field(
            F.concat(F.lit("Source System ("), F.col("source"), F.lit(")")),
            F.col("source"),
            F.lit(2.0) - F.col("n_chars") / 1000.0,
        ),
        field(
            F.lit("Head!!"),
            F.substring(F.trim(F.element_at(ls, F.least(F.lit(3), F.size(ls)))), 1, 40),
            F.lit(None).cast("double"),
        ),
    )
    return (
        docs.select("doc_id", F.inline(fields))
        .orderBy("doc_id", "key")
    )


# ------------------------------------------- predicates (§2.2)

@_register(
    "p1_payload_kind",
    oracle=f"""
SELECT cast(doc_id AS varchar) AS conv_id,
       {_payload_kind_sql("text")} AS kind
FROM documents
ORDER BY conv_id
""",
)
def q_payload_kind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 dispatch over the multi-kind recast: the native CASE
    expression must classify all four constructed payload families
    (base64-magic pdf, tool role, structural html sniff, text
    default)."""
    df = transcripts_from_documents_multikind(spark, sf_dir)
    return df.select(
        "conv_id", payload_kind_col("role", "text").alias("kind")
    ).orderBy("conv_id")


@_register(
    "p2_word_filter_documents",
    oracle=f"""
SELECT doc_id,
       len(t)::BIGINT AS n_words,
       t[1]  AS first_word,
       t[-1] AS last_word
FROM (SELECT doc_id, {TOKENS_SQL} AS t FROM documents)
ORDER BY doc_id
""",
)
def q_word_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = X.tokens_col("text")
    # try_element_at: ANSI mode (Spark 4 default) makes element_at
    # throw on an empty token array; the DuckDB oracle's t[1] yields
    # NULL — try_element_at matches it on degenerate input.
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        F.try_element_at(toks, F.lit(1)).alias("first_word"),
        F.try_element_at(toks, F.lit(-1)).alias("last_word"),
    ).orderBy("doc_id")


# ------------------------------------------------- text analysis

@_register(
    "tokens_documents",
    oracle=f"""
SELECT doc_id,
       len({TOKENS_SQL})::BIGINT AS ws_tokens,
       len(regexp_extract_all(coalesce(text, ''),
           '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\r]'))::BIGINT AS bpe_tokens
FROM documents
ORDER BY doc_id
""",
)
def q_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        textstats.token_counts(_t(spark, sf_dir, "documents"))
        .select(
            "doc_id",
            F.col("ws_tokens").cast("long").alias("ws_tokens"),
            F.col("bpe_tokens").cast("long").alias("bpe_tokens"),
        )
        .orderBy("doc_id")
    )


@_register(
    "langid_documents",
    oracle="""
SELECT doc_id,
       CASE WHEN dev / total >= 0.05 THEN 'hi'
            WHEN cjk / total >= 0.05 THEN 'zh'
            ELSE 'en' END AS lang_pred,
       dev::INT AS dev_chars,
       cjk::INT AS cjk_chars
FROM (
  SELECT doc_id,
         greatest(length(coalesce(text, '')), 1) AS total,
         length(coalesce(text, '')) - length(regexp_replace(coalesce(text, ''), '[ऀ-ॿ]', '', 'g')) AS dev,
         length(coalesce(text, '')) - length(regexp_replace(coalesce(text, ''), '[一-鿿]', '', 'g')) AS cjk
  FROM documents)
ORDER BY doc_id
""",
)
def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.langid(_t(spark, sf_dir, "documents")).orderBy("doc_id")


def _quality_sql(src: str, cols: str = "doc_id") -> str:
    """``cols``, n_tokens and the textstats.quality score of every row
    of ``src``: 0.4 · token count (saturating at 100) + 0.3 · (1 − 4 ×
    the share of characters that are neither ASCII alphanumeric nor
    whitespace, floored at 0) + 0.3 · (5 × the stopword share of
    tokens, capped at 1), rounded to 6 dp."""
    return f"""SELECT {cols}, len(t)::BIGINT AS n_tokens,
       round(0.4 * least(len(t) / 100.0, 1.0)
           + 0.3 * greatest(0.0, 1.0 - (punct::DOUBLE / total) * 4.0)
           + 0.3 * least(len(list_filter(t,
                 x -> x IN ('the','a','an','and','or','of','to','in','is','it')
               ))::DOUBLE / greatest(len(t), 1) * 5.0, 1.0), 6) AS quality
FROM (
  SELECT {cols}, {TOKENS_SQL} AS t,
         greatest(length(coalesce(text, '')), 1) AS total,
         length(coalesce(text, '')) - length(regexp_replace(coalesce(text, ''),
             '[^a-zA-Z0-9 \t\n\r]', '', 'g')) AS punct
  FROM {src})"""


@_register("quality_documents",
           oracle=_quality_sql("documents") + "\nORDER BY doc_id\n")
def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        textstats.quality(_t(spark, sf_dir, "documents"))
        .select(
            "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"), "quality"
        )
        .orderBy("doc_id")
    )


@_register(
    "fingerprint_documents",
    oracle=f"""
SELECT doc_id, md5({NORMALIZED_SQL}) AS fingerprint
FROM documents
ORDER BY doc_id
""",
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.fingerprints(_t(spark, sf_dir, "documents")).orderBy("doc_id")


# ------------------------------------------------- deduplication

@_register(
    "dedup_exact_documents",
    oracle=f"""
SELECT md5({NORMALIZED_SQL.replace('text', 'text')}) AS fingerprint,
       min(doc_id) AS keeper_id,
       count(*)    AS n_docs
FROM documents
GROUP BY 1
ORDER BY fingerprint
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup_groups(_t(spark, sf_dir, "documents")).orderBy(
        "fingerprint"
    )


def _minhash_oracle(num_perm: int = 16) -> str:
    mins = ",\n       ".join(
        "min(" + HASH60_SQL.format(x=f"'{i}:' || shingle") + f") AS m{i}"
        for i in range(num_perm)
    )
    return f"""
SELECT doc_id,
       {mins}
FROM (
  SELECT doc_id, unnest({SHINGLES_SQL.format(t='t')}) AS shingle
  FROM (SELECT doc_id, {TOKENS_SQL} AS t FROM documents)
)
GROUP BY doc_id
ORDER BY doc_id
"""


@_register("minhash_signatures_documents", oracle=_minhash_oracle(16))
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_signatures(
        _t(spark, sf_dir, "documents"), num_perm=16
    ).orderBy("doc_id")


def _shingle_sets_cte(docs: str = "documents") -> str:
    """``sets_``: the distinct word 3-shingles ``sh`` of each row of
    ``docs``."""
    return f"""sets_ AS (
  SELECT doc_id, {SHINGLES_SQL.format(t='t')} AS sh
  FROM (SELECT doc_id, {TOKENS_SQL} AS t FROM {docs})
)"""


def _jaccard_pairs_sql(threshold: float) -> str:
    """The pairs of ``cand`` whose ``sets_`` shingle-set Jaccard,
    rounded to 6 dp, is at least ``threshold`` (dedup.jaccard_verify)."""
    return f"""SELECT id_a, id_b, jaccard FROM (
  SELECT id_a, id_b, round(n_both::DOUBLE / (n_a + n_b - n_both), 6) AS jaccard
  FROM (SELECT cand.id_a, cand.id_b, len(sa.sh) AS n_a, len(sb.sh) AS n_b,
               len(list_intersect(sa.sh, sb.sh)) AS n_both
        FROM cand
        JOIN sets_ sa ON sa.doc_id = cand.id_a
        JOIN sets_ sb ON sb.doc_id = cand.id_b))
WHERE jaccard >= {threshold}
ORDER BY id_a, id_b
"""


@_register(
    "ngram_jaccard_pairs_documents",
    oracle=f"""
WITH {_shingle_sets_cte("documents WHERE doc_id < 150")},
inv0 AS (SELECT doc_id, unnest(sh) AS shingle FROM sets_),
stop AS (SELECT shingle FROM inv0 GROUP BY shingle HAVING count(*) <= 3),
inv AS (SELECT inv0.* FROM inv0 JOIN stop USING (shingle)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
)
{_jaccard_pairs_sql(0.01)}""",
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-Jaccard verification tier with the stop-shingle df-cap on
    (max_df=3 — active at this tier: the densest shingle has df=4)."""
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.01, max_id=150, max_df=3
    ).orderBy("id_a", "id_b")


def _simhash_core(bits: int = 60) -> str:
    """The simhash computation as a bare SELECT (no ORDER BY) so it can
    be reused as a CTE by the near-pairs oracle."""
    votes = ",\n       ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(bits)
    )
    fold = " + ".join(
        f"CASE WHEN v{j} > 0 THEN (1::BIGINT << {j}) ELSE 0 END" for j in range(bits)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, {HASH60_SQL.format(x="token")} AS h
  FROM (SELECT doc_id, unnest({TOKENS_SQL}) AS token FROM documents)
),
votes AS (
  SELECT doc_id,
       {votes}
  FROM tok GROUP BY doc_id
)
SELECT doc_id, ({fold})::BIGINT AS simhash
FROM votes
"""


def _simhash_oracle(bits: int = 60) -> str:
    return _simhash_core(bits) + "ORDER BY doc_id\n"


def _simhash_pairs_oracle(bits: int = 60, max_hamming: int = 7) -> str:
    """Exact hamming-radius pairs over the (already-oracled) simhash
    CTE — the oracle that would have caught the round-1 recall gap: it
    enumerates ALL pairs with bit_count(xor) <= radius, so any pair the
    banded candidate filter misses is a hash mismatch."""
    return f"""
WITH sh AS ({_simhash_core(bits)})
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
ORDER BY id_a, id_b
"""


def _lsh_candidates_oracle(num_perm: int = 16, bands: int = 4) -> str:
    rows = num_perm // bands
    band_keys = ",\n    ".join(
        "md5(" + " || ',' || ".join(f"m{b * rows + r}" for r in range(rows)) + f") AS k{b}"
        for b in range(bands)
    )
    unions = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_idx, k{b} AS band_key FROM sigs"
        for b in range(bands)
    )
    return f"""
WITH mh AS ({_minhash_oracle(num_perm)}),
sigs AS (SELECT doc_id, {band_keys} FROM mh),
banded AS (
{unions}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM banded a
JOIN banded b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
ORDER BY id_a, id_b
"""


@_register("minhash_lsh_candidates", oracle=_lsh_candidates_oracle(16, 4))
def q_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash banding → LSH candidate pairs (band agreement), the
    scale path of near-dup detection: the self-join key is
    (band_idx, band_key), so join fan-out is bucket-sized, never n²."""
    sigs = dedup.minhash_signatures(_t(spark, sf_dir, "documents"), num_perm=16)
    return dedup.lsh_candidate_pairs(sigs, num_perm=16, bands=4).orderBy(
        "id_a", "id_b"
    )


def _near_dup_scale_oracle(num_perm: int = 16, bands: int = 4,
                           threshold: float = 0.05) -> str:
    return f"""
WITH cand AS ({_lsh_candidates_oracle(num_perm, bands)}),
{_shingle_sets_cte()}
{_jaccard_pairs_sql(threshold)}"""


@_register("near_dup_scale_path", oracle=_near_dup_scale_oracle(16, 4, 0.05))
def q_near_dup_scale_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed production near-dup pipeline: MinHash signatures →
    LSH band candidates → exact shingle-Jaccard verify — every join
    keyed on band hashes or candidate ids, never all-pairs."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, num_perm=16)
    cand = dedup.lsh_candidate_pairs(sigs, num_perm=16, bands=4)
    return dedup.jaccard_verify(cand, docs, threshold=0.05).orderBy(
        "id_a", "id_b"
    )


@_register("simhash_documents", oracle=_simhash_oracle(60))
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.simhash(_t(spark, sf_dir, "documents")).orderBy("doc_id")


@_register("simhash_near_pairs_documents", oracle=_simhash_pairs_oracle(60, 7))
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash chunk-banded near-pairs at radius 7 (8 chunks — the
    pigeonhole-complete configuration), hash-verified against the
    exact all-pairs hamming oracle."""
    sims = textstats.simhash(_t(spark, sf_dir, "documents"))
    return dedup.simhash_near_pairs(sims, max_hamming=7).orderBy("id_a", "id_b")


# ------------------------------------------------- similarity search
#
# Every ANN oracle is built from the fragments below, each spelled once:
# the DOUBLE-cast vectors ``v`` and query vector 0 ``q``, the cosine
# ranking of ``v`` against ``q``, the LSH sign fold, the seed-centroid
# IVF assignment and the PQ ADC score. The oracles stay plain DuckDB
# SQL; only their text is generated from shared pieces.

_V_CTE = """v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
           FROM embeddings)"""
_VQ_CTES = _V_CTE + ",\nq AS (SELECT e AS qe FROM v WHERE vec_id = 0)"

def _cosine_sql(a: str, b: str) -> str:
    """Cosine of two DOUBLE lists rounded to 6 dp (similarity._cosine)."""
    return (f"round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b}))), 6)")


# Cosine of each ``v`` row against ``q``.
_COS_RANK = f"SELECT v.vec_id, {_cosine_sql('v.e', 'q.qe')} AS cosine"

_ANN_BRUTE_ORACLE = f"""
WITH {_VQ_CTES}
{_COS_RANK}
FROM v, q
ORDER BY cosine DESC, v.vec_id
LIMIT 10
"""


def _probed_topk_sql(lists: str, list_col: str, probes: str, k: int) -> str:
    """Cosine top-k over the vectors whose ``lists.list_col`` is one of
    the values of the one-column CTE ``probes``."""
    return f"""{_COS_RANK}
FROM v JOIN {lists} ON v.vec_id = {lists}.vec_id, q
WHERE {lists}.{list_col} IN (SELECT * FROM {probes})
ORDER BY cosine DESC, v.vec_id
LIMIT {k}"""


def _hits_sql(topk_sql: str) -> str:
    """How many ids of a top-k subquery are in the brute-force top-10."""
    return (
        f"(SELECT count(*) FROM ({topk_sql}) t\n"
        f"          JOIN ({_ANN_BRUTE_ORACLE}) b USING (vec_id))::BIGINT"
    )


def _recall_sweep_sql(branches, cols: str, k: int = 10) -> str:
    """UNION ALL of one-row ``branches`` (each ending in ``hits``) with
    ``recall = hits / k``, ordered by the first of ``cols``."""
    body = "\n  UNION ALL\n".join(branches)
    return (
        f"SELECT {cols}, hits, round(hits / {k}.0, 6) AS recall\n"
        f"FROM (\n{body}\n)\nORDER BY 1\n"
    )


def _ann_query(spark: SparkSession, sf_dir: str):
    """The embeddings table and its vector 0, the query of every ANN
    entry (a one-row driver-side fetch)."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return emb, qvec


def _recall_rows(emb: DataFrame, qvec, keyed_topks) -> DataFrame:
    """One row per ``(keys, topk)`` pair: the literal ``keys`` columns,
    ``n_retrieved`` (rows in ``topk``), ``hits`` (its ids in the
    brute-force cosine top-10) and ``recall = hits / 10``, ordered by
    the first key."""
    brute = similarity.cosine_topk(emb, qvec, k=10).select(
        "vec_id", F.lit(1).alias("hit")
    )
    parts = [
        topk.select("vec_id")
        .join(F.broadcast(brute), "vec_id", "left")
        .agg(F.count(F.lit(1)).alias("n_retrieved"), F.count("hit").alias("hits"))
        .select(*[F.lit(v).alias(c) for c, v in keys.items()], "n_retrieved", "hits")
        for keys, topk in keyed_topks
    ]
    out = functools.reduce(DataFrame.unionByName, parts)
    return out.withColumn("recall", F.round(F.col("hits") / 10.0, 6)).orderBy(
        out.columns[0]
    )


@_register("ann_cosine_topk", oracle=_ANN_BRUTE_ORACLE)
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, qvec = _ann_query(spark, sf_dir)
    return similarity.cosine_topk(emb, qvec, k=10)


def _lsh_fold_sql(planes, vec_sql: str) -> str:
    """The sign-bucket fold over a SQL vector expression, with the
    hyperplanes embedded as literals (mirror of
    similarity.lsh_bucket_col)."""
    terms = []
    for j, w in enumerate(planes):
        lit = "[" + ", ".join(f"{float(x):.1f}" for x in w) + "]"
        terms.append(
            f"CASE WHEN list_dot_product({vec_sql}, {lit}) > 0 "
            f"THEN (1::BIGINT << {j}) ELSE 0 END"
        )
    return "\n         + ".join(terms)


def _lsh_bucket_oracle(num_planes: int = 8, dims: int = 64) -> str:
    fold = _lsh_fold_sql(similarity.plane_weight_lists(num_planes, dims), "e")
    return f"""
WITH {_V_CTE}
SELECT vec_id, ({fold})::BIGINT AS bucket
FROM v
ORDER BY vec_id
"""


@_register("ann_lsh_buckets", oracle=_lsh_bucket_oracle(8, 64))
def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    planes = similarity.plane_weight_lists(8, 64)
    return emb.select(
        "vec_id", similarity.lsh_bucket_col(planes).alias("bucket")
    ).orderBy("vec_id")


def _lsh_multiprobe_topk_oracle(num_planes: int = 8, dims: int = 64,
                                radius: int = 1, k: int = 10) -> str:
    """Multi-probe LSH top-k: cosine top-k over every bucket within
    hamming ``radius`` of the query's (probe set = qb XOR each
    popcount≤radius mask); radius 0 is the single-bucket search."""
    planes = similarity.plane_weight_lists(num_planes, dims)
    fold = _lsh_fold_sql(planes, "e")
    masks = similarity.multiprobe_masks(num_planes, radius)
    mask_vals = ", ".join(f"({m})" for m in masks)
    return f"""
WITH {_VQ_CTES},
b AS (SELECT vec_id, ({fold})::BIGINT AS bucket FROM v),
qb AS (SELECT bucket FROM b WHERE vec_id = 0),
probe AS (SELECT xor(qb.bucket, t.m) AS bucket FROM qb, (VALUES {mask_vals}) t(m))
{_probed_topk_sql("b", "bucket", "probe", k)}
"""


@_register("ann_lsh_multiprobe_topk", oracle=_lsh_multiprobe_topk_oracle(8, 64, 1, 10))
def q_ann_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN (Lv et al., VLDB'07): top-10 within the
    query's bucket plus the 8 hamming-1-adjacent buckets — the
    standard recall fix that keeps the zero-shuffle literal-IN scan
    prune (9/256 of the corpus at 8 planes)."""
    emb, qvec = _ann_query(spark, sf_dir)
    planes = similarity.plane_weight_lists(8, 64)
    return similarity.lsh_multiprobe_topk(emb, planes, qvec, k=10, radius=1)


def _lsh_multiprobe_recall_oracle(num_planes: int = 8, dims: int = 64,
                                  k: int = 10) -> str:
    branches = []
    for radius in (0, 1, 2):
        n_buckets = len(similarity.multiprobe_masks(num_planes, radius))
        mp = _lsh_multiprobe_topk_oracle(num_planes, dims, radius, k)
        branches.append(
            f"  SELECT {radius}::INT AS radius, {n_buckets}::INT AS n_buckets,\n"
            f"         (SELECT count(*) FROM ({mp}) x)::BIGINT AS n_retrieved,\n"
            f"         {_hits_sql(mp)} AS hits"
        )
    return _recall_sweep_sql(branches, "radius, n_buckets, n_retrieved", k)


@_register("ann_lsh_multiprobe_recall", oracle=_lsh_multiprobe_recall_oracle(8, 64, 10))
def q_ann_lsh_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of multi-probe LSH vs brute force, swept over probe
    radius 0 (the single query bucket) / 1 (9 buckets) / 2 (37
    buckets) — the recall-vs-scan-fraction trade a user tunes
    (PLANS.md §9). The radius-0 row is the single-bucket LSH search's
    recall."""
    emb, qvec = _ann_query(spark, sf_dir)
    planes = similarity.plane_weight_lists(8, 64)
    return _recall_rows(emb, qvec, [
        (
            {"radius": r, "n_buckets": len(similarity.multiprobe_masks(8, r))},
            similarity.lsh_multiprobe_topk(emb, planes, qvec, k=10, radius=r),
        )
        for r in (0, 1, 2)
    ])


@_register(
    "p8_devanagari_documents",
    oracle="""
SELECT doc_id, regexp_matches(coalesce(text, ''), '[ऀ-ॿ]') AS has_devanagari
FROM documents
ORDER BY doc_id
""",
)
def q_devanagari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Devanagari tagging predicate (SURVEY.md §2.2 P8, reference
    app.py:184, ocr_any.py:126)."""
    from .functions.columns import has_devanagari_col

    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", has_devanagari_col("text").alias("has_devanagari"))
        .orderBy("doc_id")
    )


# Winnowing fingerprint rows as a reusable CTE body (k=8, window=4).
_WINNOW_CORE_SQL = f"""
SELECT doc_id, unnest(fps) AS fingerprint
FROM (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(hs) - 3, 0)),
           i -> list_min(hs[i:i+3]))) AS fps
  FROM (
    SELECT doc_id,
           list_transform(generate_series(1, greatest(length(nt) - 7, 0)),
                          i -> {HASH60_SQL.format(x="substr(nt, i, 8)")}) AS hs
    FROM (SELECT doc_id, {NORMALIZED_SQL} AS nt FROM documents)))
"""


@_register(
    "winnow_fingerprints_documents",
    oracle=_WINNOW_CORE_SQL + "ORDER BY doc_id, fingerprint\n",
)
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints (k=8 char grams, window=4
    minima, distinct) — textstats.winnow_fingerprints."""
    return textstats.winnow_fingerprints(
        _t(spark, sf_dir, "documents"), k=8, window=4
    ).orderBy("doc_id", "fingerprint")


_WINNOW_CONTAIN_ORACLE = f"""
WITH fp AS ({_WINNOW_CORE_SQL}),
sets_ AS (SELECT doc_id, list(fingerprint) AS fps, count(*) AS n
          FROM fp GROUP BY doc_id),
stop AS (SELECT fingerprint FROM fp GROUP BY fingerprint
         HAVING count(*) <= 100),
inv AS (SELECT fp.* FROM fp JOIN stop USING (fingerprint)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM inv a JOIN inv b ON a.fingerprint = b.fingerprint
                       AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       len(list_intersect(sa.fps, sb.fps))::BIGINT AS shared,
       round(greatest(len(list_intersect(sa.fps, sb.fps))::DOUBLE / sa.n,
                      len(list_intersect(sa.fps, sb.fps))::DOUBLE / sb.n), 6)
         AS containment
FROM cand
JOIN sets_ sa ON sa.doc_id = id_a
JOIN sets_ sb ON sb.doc_id = id_b
WHERE round(greatest(len(list_intersect(sa.fps, sb.fps))::DOUBLE / sa.n,
                     len(list_intersect(sa.fps, sb.fps))::DOUBLE / sb.n), 6)
      >= 0.5
ORDER BY id_a, id_b
"""


@_register("winnow_containment_documents", oracle=_WINNOW_CONTAIN_ORACLE)
def q_winnow_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document duplication: winnowing-fingerprint containment
    pairs (excerpt/near-copy detection even when whole-doc Jaccard is
    low) — df-capped candidates over the already-oracled fingerprint
    rows, exact full-set verify."""
    return dedup.winnow_containment_pairs(
        _t(spark, sf_dir, "documents"), k=8, window=4,
        threshold=0.5, max_df=100,
    ).orderBy("id_a", "id_b")


_TOP_TERMS_ORACLE = f"""
WITH tok AS (SELECT doc_id, unnest({TOKENS_SQL}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf, df,
         tf * (n.n_docs - df + 0.5) / (df + 0.5) AS raw_score
  FROM tf JOIN df USING (term), n
)
SELECT doc_id, term, tf, df, round(raw_score, 6) AS score, rank::INT AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY raw_score DESC, term) AS rank
      FROM scored)
WHERE rank <= 3
ORDER BY doc_id, rank
"""


@_register("top_terms_documents", oracle=_TOP_TERMS_ORACLE)
def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 keywords by the log-free BM25-style rational
    idf (textstats.top_terms) — tf/df/N aggregations + per-doc window,
    scores bit-identical across engines by construction."""
    return textstats.top_terms(
        _t(spark, sf_dir, "documents"), top_k=3
    ).orderBy("doc_id", "rank")


_IVF_CENTROID_IDS = (1, 2, 3, 4)

# The seed centroids c1..c4 (vectors _IVF_CENTROID_IDS) and each
# vector's inverted list: the 1-based argmax dot, first max on ties
# (similarity.ivf_assign_col). Needs ``v``.
_IVF_SEED_CTES = """c1 AS (SELECT e FROM v WHERE vec_id = 1),
c2 AS (SELECT e FROM v WHERE vec_id = 2),
c3 AS (SELECT e FROM v WHERE vec_id = 3),
c4 AS (SELECT e FROM v WHERE vec_id = 4),
assign AS (
  SELECT vec_id, list_position(dots, list_max(dots))::INT AS centroid
  FROM (
    SELECT v.vec_id,
           [list_dot_product(v.e, c1.e), list_dot_product(v.e, c2.e),
            list_dot_product(v.e, c3.e), list_dot_product(v.e, c4.e)] AS dots
    FROM v, c1, c2, c3, c4)
)"""


def _ivf_probe_ctes(nprobe: int) -> str:
    """``probes``: the ``nprobe`` seed lists nearest the query (by dot,
    ties to the lower list). Needs ``q`` and the seed CTEs."""
    return f"""qd AS (
  SELECT [list_dot_product(q.qe, c1.e), list_dot_product(q.qe, c2.e),
          list_dot_product(q.qe, c3.e), list_dot_product(q.qe, c4.e)] AS dots
  FROM q, c1, c2, c3, c4
),
probes AS (
  SELECT i FROM qd, (SELECT unnest(generate_series(1, 4)) AS i)
  ORDER BY qd.dots[i] DESC, i
  LIMIT {nprobe}
)"""


@_register("ann_ivf_assignments", oracle=f"""
WITH {_V_CTE},
{_IVF_SEED_CTES}
SELECT vec_id, centroid FROM assign
ORDER BY vec_id
""")
def q_ivf_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF inverted-list assignment: argmax dot against literal
    centroids — one projection, no join, no shuffle."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = similarity.centroid_vectors(emb, _IVF_CENTROID_IDS)
    return similarity.ivf_assignments(emb, cents).orderBy("vec_id")


def _ivf_topk_oracle(nprobe: int = 2, k: int = 10) -> str:
    return f"""
WITH {_VQ_CTES},
{_IVF_SEED_CTES},
{_ivf_probe_ctes(nprobe)}
{_probed_topk_sql("assign", "centroid", "probes", k)}
"""


@_register("ann_ivf_topk", oracle=_ivf_topk_oracle(nprobe=2, k=10))
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search: probe the top-2 inverted lists for the query vector.
    The probe-list ranking is driver-side (centroids are a tiny
    deliberate collect); the cluster does one assignment-filtered
    ranking scan. Oracle = the oracled assignment CTE + the same probe
    rule + cosine ORDER BY/LIMIT."""
    emb, qvec = _ann_query(spark, sf_dir)
    cents = similarity.centroid_vectors(emb, _IVF_CENTROID_IDS)
    return similarity.ivf_topk(emb, cents, qvec, k=10, nprobe=2)


def _nprobe_recall_oracle(topk_oracle: Callable[[int, int], str],
                          k: int = 10) -> str:
    """recall@k of ``topk_oracle(nprobe, k)`` swept over nprobe 1..4."""
    branches = [
        f"  SELECT {np_}::INT AS nprobe,\n"
        f"         {_hits_sql(topk_oracle(np_, k))} AS hits"
        for np_ in (1, 2, 3, 4)
    ]
    return _recall_sweep_sql(branches, "nprobe", k)


def _sweep_recall(spark: SparkSession, emb: DataFrame, qvec,
                  sweep: DataFrame) -> DataFrame:
    """(nprobe, hits, recall) for nprobe 1..4 of an
    ``ivf_topk_sweep``: ``hits`` is how many of the sweep's ids at
    that nprobe are in the brute-force cosine top-10, ``recall =
    hits / 10``."""
    brute = similarity.cosine_topk(emb, qvec, k=10).select("vec_id")
    nprobes = spark.range(1, 5).select(F.col("id").cast("int").alias("nprobe"))
    hits = (
        sweep.join(F.broadcast(brute), "vec_id")
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return (
        nprobes.join(hits, "nprobe", "left")
        .select(
            "nprobe",
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
            F.round(F.coalesce(F.col("hits"), F.lit(0)) / 10.0, 6).alias("recall"),
        )
        .orderBy("nprobe")
    )


@_register("ann_ivf_recall", oracle=_nprobe_recall_oracle(_ivf_topk_oracle))
def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of IVF search vs brute-force, swept over nprobe 1..4
    (VERDICT r2 item 5): nprobe=4 probes every inverted list and must
    hit recall 1.0; the sweep quantifies the probe-count/recall trade
    (PLANS.md §9). Since r4 the whole sweep is ONE embeddings scan +
    ONE assignment pass (``similarity.ivf_topk_sweep`` — probe sets are
    nested, so a sequence-explode fans each vector to its member
    sweeps; VERDICT r3 item 5 — the per-branch form scanned 8×)."""
    emb, qvec = _ann_query(spark, sf_dir)
    cents = similarity.centroid_vectors(emb, _IVF_CENTROID_IDS)
    return _sweep_recall(spark, emb, qvec, similarity.ivf_topk_sweep(
        emb, cents, qvec, similarity.cosine_to_col(qvec), k=10
    ))


# ------------------------------------------- streaming metrics parity

# Event-time windowed streaming metrics under the driver gate (VERDICT
# r2 item 6/7): the SAME build_metrics_stream code path tests use, run
# with availableNow over a materialized multikind transcripts dir, its
# windows replayed in plain SQL. Window labels are emitted as MINUTES
# SINCE THE CORPUS EPOCH (unix_timestamp differences) so the hash is
# timezone-independent on both engines. num_buckets=1 because the
# bucket key is xxhash64 (not replayable in DuckDB); the bucketed
# variant stays pytest-covered (tests/test_streaming.py).
_STREAM_METRICS_ORACLE = f"""
WITH base AS (
  SELECT doc_id,
         (doc_id % 120) // 10 * 10 AS wmin,
         {_payload_kind_sql("text")} AS kind
  FROM documents)
SELECT wmin::INT AS window_start_min,
       (wmin + 10)::INT AS window_end_min,
       0::INT AS bucket,
       count(*)::BIGINT AS turns_in,
       sum(CASE WHEN kind = 'html' THEN 1 ELSE 0 END)::BIGINT AS html_turns,
       sum(CASE WHEN kind = 'pdf' THEN 1 ELSE 0 END)::BIGINT AS pdf_turns,
       sum(CASE WHEN kind = 'tool' THEN 1 ELSE 0 END)::BIGINT AS tool_turns
FROM base
GROUP BY wmin
ORDER BY window_start_min
"""


@_register("streaming_windowed_metrics", oracle=_STREAM_METRICS_ORACLE)
def q_streaming_windowed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """build_metrics_stream (the streaming audit twin) end-to-end under
    the driver hash: multikind transcripts are materialized with
    deterministic event times (doc_id % 120 minutes past the corpus
    epoch), streamed with availableNow through the watermarked
    10-minute windowed aggregation, and collected from a memory sink.
    Complete output mode: with availableNow the final watermark never
    passes the last windows, so append mode would withhold them."""
    from .streaming.extract_stream import (
        build_metrics_stream,
        read_transcripts_stream,
    )

    base = transcripts_from_documents_multikind(spark, sf_dir)
    epoch = "timestamp'2024-01-01 00:00:00'"
    src = base.withColumn(
        "ts",
        F.expr(
            f"{epoch} + make_interval(0, 0, 0, 0, 0, cast(conv_id AS int) % 120, 0)"
        ),
    )
    sink = _memory_stream(
        spark, [src],
        lambda in_dir: build_metrics_stream(
            read_transcripts_stream(spark, in_dir), num_buckets=1,
            salt_buckets=1, window_duration="10 minutes", watermark="30 minutes",
        ),
        "complete",
    )
    mins = lambda c: (  # noqa: E731 — minutes since the corpus epoch
        (F.unix_timestamp(c) - F.unix_timestamp(F.expr(epoch))) / 60
    ).cast("int")
    return (
        sink.select(
            mins(F.col("window_start")).alias("window_start_min"),
            mins(F.col("window_end")).alias("window_end_min"),
            F.col("bucket"),
            "turns_in",
            "html_turns",
            "pdf_turns",
            "tool_turns",
        )
        .orderBy("window_start_min")
    )


# ---------------------------------------------- product quantization

# 16 segments × 4 dims, 4 codewords each: 2 bits per segment.
_PQ_CODEBOOKS = similarity.pq_codebooks(16, 4, 4)


def _pq_w_sql(w) -> str:
    return "[" + ", ".join(str(float(x)) for x in w) + "]"


def _pq_segment_dots(codebooks, vec: str):
    """Per segment s, the SQL list of dots of ``vec``'s 1-based slice
    s*sub+1..s*sub+sub against each literal codeword."""
    out = []
    for s, words in enumerate(codebooks):
        sub = len(words[0])
        lo, hi = s * sub + 1, s * sub + sub
        out.append("[" + ", ".join(
            f"list_dot_product({vec}[{lo}:{hi}], {_pq_w_sql(w)})" for w in words
        ) + "]")
    return out


def _pq_code_terms_sql(codebooks, vec: str = "e") -> str:
    """The packed-code expression: per segment, 1-based argmax-dot
    codeword index (list_position finds the FIRST max — same
    lowest-index tie rule as Spark's array_position) minus 1, scaled
    by 4^s."""
    return "\n         + ".join(
        f"(list_position({d}, list_max({d})) - 1)::BIGINT * {4 ** s}"
        for s, d in enumerate(_pq_segment_dots(codebooks, vec))
    )


def _pq_adc_topk_oracle(nprobe: Optional[int] = None, k: int = 10) -> str:
    """ADC top-k: each vector scored from its packed code alone, by
    looking its per-segment codeword up in the query's dot table. With
    ``nprobe``, only the vectors in the query's ``nprobe`` nearest
    seed IVF lists are scored (IVFADC)."""
    score = "\n              + ".join(
        f"({lut})[(c.pq_code // {4 ** s}) % 4 + 1]"
        for s, lut in enumerate(_pq_segment_dots(_PQ_CODEBOOKS, "q.qe"))
    )
    ivf, scored = "", "codes c, q"
    if nprobe is not None:
        ivf = f"{_IVF_SEED_CTES},\n{_ivf_probe_ctes(nprobe)},\n"
        scored = ("codes c JOIN assign USING (vec_id), q\n"
                  "WHERE assign.centroid IN (SELECT i FROM probes)")
    return f"""
WITH {_VQ_CTES},
{ivf}codes AS (SELECT vec_id, ({_pq_code_terms_sql(_PQ_CODEBOOKS)})::BIGINT AS pq_code
          FROM v)
SELECT c.vec_id,
       round({score}, 6) AS adc_score
FROM {scored}
ORDER BY adc_score DESC, c.vec_id
LIMIT {k}
"""


@_register("ann_pq_codes", oracle=f"""
WITH {_V_CTE}
SELECT vec_id,
       ({_pq_code_terms_sql(_PQ_CODEBOOKS)})::BIGINT AS pq_code
FROM v
ORDER BY vec_id
""")
def q_ann_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (Jégou et al., TPAMI 2011): each
    64-dim embedding compresses to ONE packed BIGINT (16 segments × 2
    bits) via per-segment argmax-dot against literal codebooks — a
    pure projection, and the column an ADC scan reads INSTEAD of the
    raw vectors at 100 TB."""
    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", similarity.pq_code_col(_PQ_CODEBOOKS).alias("pq_code")
    ).orderBy("vec_id")


@_register("ann_pq_adc_topk", oracle=_pq_adc_topk_oracle())
def q_ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC (asymmetric distance) top-10: the query builds a tiny
    driver-side lookup table (segments × codes dots against the
    literal codebooks) and every corpus vector is scored from its
    packed code alone — integer unpack + literal-array lookups, the
    raw embeddings never read in the scoring scan."""
    emb, qvec = _ann_query(spark, sf_dir)
    return similarity.pq_adc_topk(emb, _PQ_CODEBOOKS, qvec, k=10)


@_register("ann_ivf_pq_topk", oracle=_pq_adc_topk_oracle(nprobe=2))
def q_ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF×PQ (IVFADC, Jégou et al. TPAMI 2011 §V — VERDICT r3 item
    6): centroid-probe prune to the top-2 inverted lists, then
    ADC-score the packed PQ codes of the survivors only. One scan, two
    projections, no join; the probed scan reads the BIGINT code column
    instead of raw vectors — the production ANN shape both PLANS.md §9
    notes point at."""
    emb, qvec = _ann_query(spark, sf_dir)
    cents = similarity.centroid_vectors(emb, _IVF_CENTROID_IDS)
    return similarity.ivf_pq_topk(emb, cents, _PQ_CODEBOOKS, qvec, k=10, nprobe=2)


@_register("ann_ivf_pq_recall", oracle=_nprobe_recall_oracle(_pq_adc_topk_oracle))
def q_ann_ivf_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of IVF×PQ vs brute-force cosine, swept over nprobe
    1..4. Probing all 4 lists filters out no vector, so the nprobe=4
    row is plain PQ/ADC top-k's recall (0.2 on this corpus); the other
    rows show what the centroid prune adds or costs on top of it:
    pruning can *raise* recall by evicting ADC false positives from
    other lists, or lower it by cutting true neighbors whose list
    isn't probed; measured honestly either way (PLANS.md §9). Like
    ``ann_ivf_recall``, the whole sweep is one ``ivf_topk_sweep`` over
    one coded projection, scored by ADC instead of cosine."""
    emb, qvec = _ann_query(spark, sf_dir)
    cents = similarity.centroid_vectors(emb, _IVF_CENTROID_IDS)
    coded = emb.withColumn("pq_code", similarity.pq_code_col(_PQ_CODEBOOKS))
    score = similarity.pq_adc_score_col(similarity.pq_adc_lut(qvec, _PQ_CODEBOOKS))
    return _sweep_recall(
        spark, emb, qvec, similarity.ivf_topk_sweep(coded, cents, qvec, score, k=10)
    )


_STREAM_CONV_STATS_ORACLE = """
SELECT cast(doc_id AS varchar) AS conv_id,
       len(ls)::BIGINT AS turns_seen,
       coalesce(list_sum(list_transform(ls, x -> length(x))), 0)::BIGINT AS chars_in,
       (len(ls) - 1)::INT AS max_turn_idx,
       1::INT AS batches,
       f AS final
FROM (SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS ls
      FROM documents),
     (SELECT unnest([0, 1]) AS f)
ORDER BY conv_id, final
"""


@_register("streaming_conv_stats", oracle=_STREAM_CONV_STATS_ORACLE)
def q_streaming_conv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom STATEFUL streaming operator
    (build_conv_stats_stream, ``applyInPandasWithState``) under the
    driver hash: each document's text lines become the turns of a
    multi-turn conversation, written as ONE parquet file so
    availableNow processes a single data micro-batch. idle_ttl_ms=1
    makes availableNow's trailing state-cleanup batches fire the
    ProcessingTimeTimeout immediately (with the default 30-min TTL
    the cleanup loop spins empty batches until eviction and never
    terminates), so every conversation deterministically emits BOTH
    its updated-totals row (final = 0) and its TTL-eviction row
    (final = 1) — the eviction path itself lands under the hash.
    Multi-batch interleavings and cross-batch accumulation stay
    pytest-covered (tests/test_streaming.py)."""
    from .streaming.extract_stream import (
        build_conv_stats_stream,
        read_transcripts_stream,
    )

    docs = _t(spark, sf_dir, "documents")
    lines = F.split(F.coalesce(F.col("text"), F.lit("")), "\n", -1)
    src = (
        docs.select(
            F.col("doc_id").cast("string").alias("conv_id"),
            F.posexplode(lines).alias("turn_idx0", "line"),
        )
        .select(
            "conv_id",
            F.col("turn_idx0").cast("int").alias("turn_idx"),
            F.lit("user").alias("role"),
            F.col("line").alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
        )
    )

    def drained(p: dict) -> bool:
        # availableNow + applyInPandasWithState never self-terminates:
        # the trigger keeps scheduling empty state-cleanup batches even
        # after every group is evicted (observed: state drains in batch
        # 1, loop continues with numRowsTotal == 0 indefinitely). Once
        # the data batch ran AND the state store is empty, the sink
        # holds both the update and eviction rows.
        so = (p.get("stateOperators") or [{}])[0]
        return (p.get("batchId") or 0) >= 2 and (so.get("numRowsTotal") or 0) == 0

    return (
        _memory_stream(
            spark, [src.repartition(1)],
            lambda in_dir: build_conv_stats_stream(
                read_transcripts_stream(spark, in_dir), idle_ttl_ms=1
            ),
            "append", drained,
        )
        .select("conv_id", "turns_seen", "chars_in", "max_turn_idx",
                "batches", "final")
        .orderBy("conv_id", "final")
    )


# ------------------------------------------- training-data curation

# DuckDB mirror of the curation decision hash (hash60 of "id:salt").
def _decision_hash_sql(salt: str) -> str:
    return HASH60_SQL.format(x=f"doc_id::VARCHAR || ':{salt}'")


# Each curation stage's rule is spelled once below, and the composed
# curation_pipeline oracle chains them as the Spark side chains the
# operators.

# curation.stratified_sample(docs, {"en": 40}), as a WHERE predicate.
_SAMPLE_PRED = (f"{_decision_hash_sql('sample')} % 100\n"
                "      < CASE WHEN lang = 'en' THEN 40 ELSE 100 END")


@_register(
    "curation_stratified_sample",
    oracle=f"""
SELECT doc_id, lang FROM documents
WHERE {_SAMPLE_PRED}
ORDER BY doc_id
""",
)
def q_curation_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: down-sample the dominant
    language (en → 40%) by a per-row md5-derived decision hash —
    reproducible across reruns and cluster sizes, pure scan-side
    filter (no shuffle)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        curation.stratified_sample(docs, {"en": 40})
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


def _quota_sql(src: str, k: int) -> str:
    """curation.quota_per_source over ``src``: per source, the top-``k``
    rows by quality score, ties to the lowest doc_id, ranked ``rk``."""
    return f"""SELECT source, doc_id, quality, rk FROM (
  SELECT source, doc_id, quality,
         row_number() OVER (PARTITION BY source
                            ORDER BY quality DESC, doc_id ASC) AS rk
  FROM ({_quality_sql(src, "source, doc_id")}))
WHERE rk <= {k}"""


_QUOTA_ORACLE = _quota_sql("documents", 5) + "\nORDER BY source, rk\n"


@_register("curation_quota_per_source", oracle=_QUOTA_ORACLE)
def q_curation_quota_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality quota (domain-mixing cap): top-5 documents
    per source by quality score, ties broken by lowest id."""
    docs = _t(spark, sf_dir, "documents")
    return curation.quota_per_source(docs, 5).orderBy("source", "rk")


@_register("curation_quota_per_source_salted", oracle=_QUOTA_ORACLE)
def q_curation_quota_per_source_salted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SAME quota under the skew-safe salted rewrite
    (``salt_buckets=4``: rank within (source, hash-salt) shards first —
    every task bounded at ~rows/4 of the hottest source — keep each
    shard's top-5, re-rank the ≤20 survivors per source). The oracle is
    byte-identical to ``curation_quota_per_source``'s: the survivor set
    provably contains the true top-5 (a true top-5 row is in the top-5
    of its own shard), so salting MUST NOT change a single output row —
    pinned here under the driver hash, not just pytest (VERDICT r4
    item 6)."""
    docs = _t(spark, sf_dir, "documents")
    return curation.quota_per_source(docs, 5, salt_buckets=4).orderBy(
        "source", "rk"
    )


def _pack_sql(src: str) -> str:
    """curation.pack_sequences(budget=512, shard_rows=200) over ``src``:
    running token sums per (lang, 200-id shard) in doc_id order, and
    the 512-token bin each row starts in."""
    return f"""SELECT doc_id, lang, pack_shard, n_tokens, cum_tokens::BIGINT AS cum_tokens,
       floor((cum_tokens - n_tokens) / 512.0)::BIGINT AS bin_idx
FROM (
  SELECT doc_id, lang, pack_shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY lang, pack_shard ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum_tokens
  FROM (
    SELECT doc_id, lang, floor(doc_id / 200.0)::BIGINT AS pack_shard,
           len({TOKENS_SQL})::BIGINT AS n_tokens
    FROM {src}))"""


@_register("curation_pack_sequences",
           oracle=_pack_sql("documents") + "\nORDER BY doc_id\n")
def q_curation_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-local greedy sequence packing into 512-token bins: the
    deterministic batch-assembly step; every window partition bounded
    at shard_rows rows."""
    docs = _t(spark, sf_dir, "documents")
    return curation.pack_sequences(docs, budget=512, shard_rows=200).orderBy(
        "doc_id"
    )


# curation.decontaminate(docs, bench_mod=97): ``hits`` has one row per
# document that shares a word 3-shingle with the benchmark subset
# doc_id % 97 = 0, with ``n`` its distinct shared shingles.
_CONTAMINATED_CTES = f"""tok AS (SELECT doc_id, {TOKENS_SQL} AS t FROM documents),
sh AS (SELECT doc_id, unnest({SHINGLES_SQL.format(t='t')}) AS shingle FROM tok),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
hits AS (SELECT sh.doc_id, count(DISTINCT sh.shingle) AS n
         FROM sh JOIN bench ON sh.shingle = bench.shingle
         GROUP BY sh.doc_id)"""


@_register(
    "curation_decontaminate",
    oracle=f"""
WITH {_CONTAMINATED_CTES}
SELECT d.doc_id, h.n IS NOT NULL AS contaminated,
       coalesce(h.n, 0)::BIGINT AS n_hit_shingles
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
ORDER BY d.doc_id
""",
)
def q_curation_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark n-gram decontamination: flag documents sharing a word
    3-shingle with the (broadcast) benchmark subset doc_id % 97 == 0."""
    docs = _t(spark, sf_dir, "documents")
    return curation.decontaminate(docs, bench_mod=97).orderBy("doc_id")


def _permutation_sql(src: str) -> str:
    """curation.shuffle_permutation over ``src``: each row's 1-based
    position in (decision hash, doc_id) order."""
    return f"""SELECT doc_id,
       row_number() OVER (ORDER BY {_decision_hash_sql('shuffle')}, doc_id)
         AS shuffle_pos
FROM {src}"""


@_register("curation_shuffle_permutation",
           oracle=_permutation_sql("documents") + "\nORDER BY doc_id\n")
def q_curation_shuffle_permutation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order permutation — a total
    row_number over hash order computed without a single-partition
    window (bucketed enumeration + broadcast offset table)."""
    docs = _t(spark, sf_dir, "documents")
    return curation.shuffle_permutation(docs).orderBy("doc_id")


_CURATION_PIPELINE_ORACLE = f"""
WITH sampled AS (
  SELECT doc_id, text, lang, source FROM documents
  WHERE {_SAMPLE_PRED}),
{_CONTAMINATED_CTES},
clean AS (SELECT * FROM sampled WHERE doc_id NOT IN (SELECT doc_id FROM hits)),
quota AS ({_quota_sql("clean", 15)}),
surv AS (SELECT clean.* FROM clean JOIN quota USING (doc_id)),
packed AS ({_pack_sql("surv")}),
perm AS ({_permutation_sql("surv")})
SELECT p.doc_id, p.lang, p.pack_shard, p.n_tokens, p.cum_tokens, p.bin_idx,
       perm.shuffle_pos
FROM packed p JOIN perm USING (doc_id)
ORDER BY doc_id
"""


@_register("curation_pipeline", oracle=_CURATION_PIPELINE_ORACLE)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The five curation operators COMPOSED end-to-end — the shape a
    real pre-training corpus build takes: stratified sample (en→40%) →
    drop benchmark-contaminated docs (anti-join on the broadcast
    decontamination flags) → per-source quality quota (top-15) →
    shard-local sequence packing → deterministic training-order
    permutation over the survivors. Composition adds only doc_id
    equi-joins between already-oracled stages; every decision is a
    row-local hash or a bounded window, so the whole pipeline is
    rerun-reproducible."""
    docs = _t(spark, sf_dir, "documents")
    sampled = curation.stratified_sample(docs, {"en": 40})
    flags = curation.decontaminate(docs, bench_mod=97)
    clean = sampled.join(
        flags.where(F.col("contaminated")).select("doc_id"),
        "doc_id",
        "left_anti",
    )
    kept = curation.quota_per_source(clean, 15).select("doc_id")
    surv = clean.join(kept, "doc_id")
    packed = curation.pack_sequences(surv, budget=512, shard_rows=200)
    perm = curation.shuffle_permutation(surv)
    return (
        packed.join(perm, "doc_id")
        .select(
            "doc_id", "lang", "pack_shard", "n_tokens", "cum_tokens",
            "bin_idx", "shuffle_pos",
        )
        .orderBy("doc_id")
    )


@_register(
    "asof_click_view_events",
    oracle="""
WITH clicks AS (SELECT event_id AS click_id, user_id, ts
                FROM events WHERE event_type = 'click'),
views AS (SELECT user_id, ts, event_id, value
          FROM events WHERE event_type = 'view')
SELECT c.click_id, c.user_id,
       v.event_id AS view_id,
       v.value AS view_value,
       epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND c.ts >= v.ts
ORDER BY c.click_id
""",
)
def q_asof_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: every click matched to the same user's
    latest at-or-before view (id, value, and the microsecond lag) —
    Spark has no ASOF JOIN, so this runs the union-tag + one-window
    rewrite (operators/asof.py: one exchange, no join, no range
    blow-up); the oracle is DuckDB's NATIVE ASOF LEFT JOIN, so the
    rewrite is verified against an independent first-class
    implementation of the semantics."""
    from .operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    j = asof_join(clicks, views, key="user_id", ts="ts",
                  payload=("ts", "event_id", "value"))
    return j.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("asof_event_id").alias("view_id"),
        F.col("asof_value").alias("view_value"),
        # events.ts reads as TIMESTAMP_NTZ; the cast interprets it in
        # the session tz (pinned UTC) matching DuckDB's naive epoch_us
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("asof_ts").cast("timestamp"))
        ).alias("lag_us"),
    ).orderBy("click_id")


def _gap_sessions_sql(src: str, key: str, order_id: str, gap_s: int,
                      cmp: str = ">") -> str:
    """Every row of ``src`` with ``tus`` = epoch_us(ts) and its
    ``session_idx`` (operators.sessions.sessionize): per ``key``, in
    (ts, ``order_id``) order, a row opens the next session when it is
    the first or its gap to the previous row is ``cmp`` ``gap_s``."""
    return f"""
  SELECT *, epoch_us(ts) AS tus,
         sum(CASE WHEN prev IS NULL OR epoch_us(ts) - prev {cmp} {gap_s * 1_000_000}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY {key} ORDER BY ts, {order_id}
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_idx
  FROM (
    SELECT *, lag(epoch_us(ts)) OVER (PARTITION BY {key}
                                      ORDER BY ts, {order_id}) AS prev
    FROM {src})
"""


_SESSION_CORE_SQL = _gap_sessions_sql("events", "user_id", "event_id", 21600)


@_register(
    "sessionize_events",
    oracle=f"""
SELECT event_id, user_id, session_idx::BIGINT AS session_idx
FROM ({_SESSION_CORE_SQL})
ORDER BY event_id
""",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (6 h gap): one exchange on the key,
    lag + running sum over one window — no self-join."""
    from .operators.sessions import sessionize

    ev = _t(spark, sf_dir, "events")
    return sessionize(ev, gap_s=21600).orderBy("event_id")


@_register(
    "session_stats_events",
    oracle=f"""
SELECT user_id, session_idx::BIGINT AS session_idx,
       count(*)::BIGINT AS n_events,
       (max(tus) - min(tus))::BIGINT AS duration_us,
       round(sum(value), 6) AS value_sum
FROM ({_SESSION_CORE_SQL})
GROUP BY user_id, session_idx
ORDER BY user_id, session_idx
""",
)
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session aggregates over the sessionized stream: count,
    duration, value sum — partial-aggregated on (key, session_idx)."""
    from .operators.sessions import session_stats

    ev = _t(spark, sf_dir, "events")
    return session_stats(ev, gap_s=21600).orderBy("user_id", "session_idx")


@_register(
    "flagship_sessions_asof",
    oracle=f"""
WITH ext AS (
  SELECT doc_id, {_joined_sql(_paragraphs_sql("text"))} AS et FROM documents
), evs AS (
  SELECT doc_id, (doc_id % 7)::INT AS grp,
         TIMESTAMP '2024-01-01 00:00:00'
           + ((doc_id * 7919) % 50000) * INTERVAL 1 MINUTE AS ts,
         length(et)::INT AS text_len
  FROM ext
), audit AS (
  SELECT grp, date_trunc('day', ts) AS ts,
         count(*)::BIGINT AS day_docs,
         sum(text_len)::BIGINT AS day_len
  FROM evs GROUP BY 1, 2
), sess AS ({_gap_sessions_sql("evs", "grp", "doc_id", 18000)})
SELECT s.doc_id::VARCHAR AS conv_id, s.grp,
       s.session_idx::BIGINT AS session_idx, s.text_len,
       a.day_docs AS audit_day_docs, a.day_len AS audit_day_len
FROM sess s ASOF LEFT JOIN audit a ON s.grp = a.grp AND s.ts >= a.ts
ORDER BY conv_id
""",
)
def q_flagship_sessions_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end transcript analytics composing the THREE tiers under
    one driver hash (VERDICT r4 item 5): the full Arrow extraction
    pipeline → gap sessionization → as-of join to the latest audit
    rollup. Proves the operators compose on the extraction output
    schema, not just the synthetic events table:

    1. ``build_extracted`` over documents-as-transcripts (bucket →
       shuffle → sort → the ONE Arrow crossing);
    2. each extracted turn becomes an analytics event with a
       deterministic synthetic event time (doc_id·7919 mod 50000
       minutes past epoch — multiplicative scatter so per-group sorted
       gaps vary around the 300-min session threshold; injective for
       doc_id < 50000, so no ts ties) keyed by ``doc_id % 7``;
    3. a per-(group, day) audit rollup (docs seen, extracted bytes) —
       the metrics-checkpoint shape operators/audit.py writes;
    4. ``asof_join`` attaches the latest at-or-before audit row to
       every event (oracle: DuckDB's NATIVE ASOF LEFT JOIN);
    5. ``sessionize`` assigns gap-based session indexes; an equi-join
       on the unique event id stitches both enrichments.

    Scale: the extraction stage is ONE Arrow crossing; audit agg is one
    map-side-combined exchange on (grp, day); the as-of rewrite is one
    exchange, no range blow-up; sessionize is one window exchange; the
    final stitch is a co-partitionable equi-join on a unique key. In
    production ``ext`` would be checkpointed once (it feeds three
    consumers); the oracle gate recomputes it to stay side-effect-free.
    """
    from .operators.asof import asof_join
    from .operators.sessions import sessionize

    df = transcripts_from_documents(spark, sf_dir)
    ext = build_extracted(df, num_buckets=16, salt_buckets=2)
    doc_id = F.col("conv_id").cast("long")
    evs = ext.select(
        doc_id.alias("doc_id"),
        (doc_id % 7).cast("int").alias("grp"),
        F.timestamp_seconds(
            F.lit(1704067200).cast("long") + ((doc_id * 7919) % 50000) * 60
        ).alias("ts"),
        F.length("extracted_text").cast("int").alias("text_len"),
    )
    audit = evs.groupBy(
        "grp", F.date_trunc("day", F.col("ts")).alias("ts")
    ).agg(
        F.count(F.lit(1)).alias("day_docs"),
        F.sum("text_len").cast("long").alias("day_len"),
    )
    enriched = asof_join(
        evs, audit, key="grp", ts="ts", payload=("day_docs", "day_len")
    )
    sess = sessionize(evs, gap_s=18000, key="grp", ts="ts", id_col="doc_id")
    return (
        enriched.join(sess.select("doc_id", "session_idx"), "doc_id")
        .select(
            F.col("doc_id").cast("string").alias("conv_id"),
            "grp",
            "session_idx",
            "text_len",
            F.col("asof_day_docs").alias("audit_day_docs"),
            F.col("asof_day_len").alias("audit_day_len"),
        )
        .orderBy("conv_id")
    )


# session_window merge rule: an event exactly `gap` after its
# predecessor starts a NEW session (window end is exclusive) — note
# the >= vs the batch sessionizer's strict >.
_SESSION_WINDOW_ORACLE = f"""
SELECT user_id, min(tus)::BIGINT AS start_us,
       (max(tus) + {21600 * 1_000_000})::BIGINT AS end_us,
       count(*)::BIGINT AS n_events,
       round(sum(value), 6) AS value_sum
FROM ({_gap_sessions_sql("events", "user_id", "event_id", 21600, ">=")})
GROUP BY user_id, session_idx
ORDER BY user_id, start_us
"""


@_register("streaming_session_window", oracle=_SESSION_WINDOW_ORACLE)
def q_streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE Structured-Streaming sessionization under the driver
    hash: events streamed from a materialized dir through
    ``F.session_window`` (per-key merging session state across
    micro-batches), collected complete-mode. Oracle = the gap replay
    with session_window's >= boundary; together with
    sessionize_events this pins batch vs streaming session semantics
    INCLUDING their one-instant boundary difference."""
    from .streaming.extract_stream import (
        EVENTS_STREAM_DDL,
        build_session_window_stream,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    return _memory_stream(
        spark, [ev],
        lambda in_dir: build_session_window_stream(
            spark.readStream.schema(EVENTS_STREAM_DDL).parquet(in_dir),
            gap="6 hours",
        ),
        "complete",
    ).orderBy("user_id", "start_us")


# ------------------------------- kmeans / vocab / PII / stream dedup

_KMEANS_UPDATE_ORACLE = f"""
WITH {_V_CTE},
{_IVF_SEED_CTES}
SELECT assign.centroid,
       count(*)::BIGINT AS n_members,
       (g.i - 1)::INT AS dim_idx,
       round(avg(v.e[g.i]), 6) AS centroid_val
FROM v JOIN assign USING (vec_id)
CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) g
GROUP BY assign.centroid, g.i
ORDER BY centroid, dim_idx
"""


@_register("kmeans_update_step", oracle=_KMEANS_UPDATE_ORACLE)
def q_kmeans_update_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd's k-means iteration (assign to nearest literal
    centroid, recompute per-dimension means): the iterative-algorithm
    shape — driver collects the k·d result as the next literal
    centroid set. One groupBy whose exchange carries k·(d+1) doubles
    per partition, never vectors."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = similarity.centroid_vectors(emb, _IVF_CENTROID_IDS)
    return similarity.kmeans_update(emb, cents).orderBy("centroid", "dim_idx")


@_register(
    "vocab_pair_counts",
    oracle=f"""
WITH tok AS (SELECT {TOKENS_SQL} AS t FROM documents),
pairs AS (
  SELECT unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                               i -> t[i] || ' ' || t[i+1])) AS pair
  FROM tok)
SELECT pair, count(*)::BIGINT AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair LIMIT 50
""",
)
def q_vocab_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent token-pair frequencies — the counting core of a
    BPE/vocab-induction merge step. Explode fan-out is absorbed by
    map-side partial aggregation; top-k runs as TakeOrdered."""
    docs = _t(spark, sf_dir, "documents")
    return textstats.vocab_pair_counts(docs, 50).orderBy(
        F.desc("n"), F.asc("pair")
    )


def _trimmed_items_sql(sep: str = "chr(10)") -> str:
    """The ``sep``-separated pieces of ``text``, each trimmed, the empty
    ones dropped: the line (and paragraph) lists of textstats and
    curation.c4_line_filter."""
    return (f"list_filter(list_transform(string_split(coalesce(text, ''), {sep}),\n"
            "                                    x -> trim(x)), x -> x <> '')")


def _gopher_full_oracle() -> str:
    """Generate the 13-metric oracle for the full Gopher A1.1 family,
    plus the line count and the top 2-gram itself.
    Deliberately the OPPOSITE mechanism to the Spark side (unnest →
    GROUP BY → window/top per doc vs per-row sorted-array folds), so
    the hash pins the metric definitions, not the formulation."""

    def gram(k: int) -> str:
        parts = " || ' ' || ".join(f"t[i+{j}]" if j else "t[i]"
                                   for j in range(k))
        return (f"list_transform(generate_series(1, greatest(len(t) - "
                f"{k - 1}, 0)), i -> {parts}) AS g{k}")

    top_ks, dup_ks = (2, 3, 4), (5, 6, 7, 8, 9, 10)
    ctes, cols, joins = [], [], []
    for k in top_ks + dup_ks:
        ctes.append(
            f"gc{k} AS (SELECT doc_id, g, count(*) AS c FROM "
            f"(SELECT doc_id, unnest(g{k}) AS g FROM grams) GROUP BY 1, 2)"
        )
    for k in top_ks:
        ctes.append(
            f"t{k} AS (SELECT doc_id, g, topchars, den FROM ("
            f"SELECT doc_id, g, c * len(g) AS topchars, "
            f"sum(c * len(g)) OVER (PARTITION BY doc_id) AS den, "
            f"row_number() OVER (PARTITION BY doc_id "
            f"ORDER BY c DESC, g ASC) AS rn FROM gc{k}) WHERE rn = 1)"
        )
        cols.append(
            f"CASE WHEN coalesce(t{k}.den, 0) > 0 THEN "
            f"round(t{k}.topchars::DOUBLE / t{k}.den, 6) ELSE 0.0 END "
            f"AS top_{k}gram_frac"
        )
        joins.append(f"LEFT JOIN t{k} ON b.doc_id = t{k}.doc_id")
    for k in dup_ks:
        ctes.append(
            f"d{k} AS (SELECT doc_id, sum(c * len(g)) AS den, "
            f"sum(CASE WHEN c >= 2 THEN c * len(g) ELSE 0 END) AS dup "
            f"FROM gc{k} GROUP BY 1)"
        )
        cols.append(
            f"CASE WHEN coalesce(d{k}.den, 0) > 0 THEN "
            f"round(d{k}.dup::DOUBLE / d{k}.den, 6) ELSE 0.0 END "
            f"AS dup_{k}gram_frac"
        )
        joins.append(f"LEFT JOIN d{k} ON b.doc_id = d{k}.doc_id")
    for tag, arr in (("l", "ls"), ("p", "ps")):
        ctes.append(
            f"{tag}c AS (SELECT doc_id, i, count(*) AS c FROM "
            f"(SELECT doc_id, unnest({arr}) AS i FROM base) GROUP BY 1, 2)"
        )
        ctes.append(
            f"{tag}d AS (SELECT doc_id, sum(c * len(i)) AS den, "
            f"sum(CASE WHEN c >= 2 THEN c * len(i) ELSE 0 END) AS dup "
            f"FROM {tag}c GROUP BY 1)"
        )
        joins.append(f"LEFT JOIN {tag}d ON b.doc_id = {tag}d.doc_id")

    def dup_item(tag: str, name: str) -> str:
        return (f"CASE WHEN coalesce({tag}d.den, 0) > 0 THEN "
                f"round({tag}d.dup::DOUBLE / {tag}d.den, 6) ELSE 0.0 END "
                f"AS {name}")

    grams = ",\n         ".join(gram(k) for k in top_ks + dup_ks)
    ctes_sql = ",\n".join(ctes)
    cols_sql = ",\n       ".join(cols)
    joins_sql = "\n".join(joins)
    return f"""
WITH base AS (
  SELECT doc_id, {TOKENS_SQL} AS t,
         {_trimmed_items_sql()} AS ls,
         {_trimmed_items_sql("chr(10) || chr(10)")} AS ps
  FROM documents),
grams AS (
  SELECT doc_id,
         {grams}
  FROM base),
{ctes_sql}
SELECT b.doc_id,
       len(b.ls)::INT AS n_lines,
       CASE WHEN len(b.ls) > 0
            THEN round(1.0 - len(list_distinct(b.ls))::DOUBLE / len(b.ls), 6)
            ELSE 0.0 END AS dup_line_frac,
       {dup_item("l", "dup_line_char_frac")},
       CASE WHEN len(b.ps) > 0
            THEN round(1.0 - len(list_distinct(b.ps))::DOUBLE / len(b.ps), 6)
            ELSE 0.0 END AS dup_para_frac,
       {dup_item("p", "dup_para_char_frac")},
       coalesce(t2.g, '') AS top_2gram,
       {cols_sql}
FROM base b
{joins_sql}
ORDER BY b.doc_id
"""


@_register("gopher_repetition_full_documents", oracle=_gopher_full_oracle())
def q_gopher_repetition_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher repetition battery (Rae et al. 2021 app. A1.1, Table
    A1, as stream-fraction variants — published thresholds do not
    transfer): duplicate line/paragraph fractions by item AND by
    character coverage, top-{2,3,4}-gram character fractions,
    duplicate-{5..10}-gram character fractions — 13 metrics per
    document — plus the non-empty line count and the most frequent
    word 2-gram (ties to the smallest). Spark side is ZERO-shuffle (one
    sorted-array fold per metric, each fold carrying its own
    denominator); the oracle replays every metric via unnest → GROUP BY
    — mechanism-independent hash."""
    docs = _t(spark, sf_dir, "documents")
    return textstats.repetition_stats_full(docs).select(
        "doc_id", "n_lines", "dup_line_frac", "dup_line_char_frac",
        "dup_para_frac", "dup_para_char_frac", "top_2gram",
        *[f"top_{k}gram_frac" for k in (2, 3, 4)],
        *[f"dup_{k}gram_frac" for k in range(5, 11)],
    ).orderBy("doc_id")


@_register(
    "c4_line_filter_documents",
    oracle=f"""
WITH base AS (
  SELECT doc_id,
         {_trimmed_items_sql()} AS ls,
         NOT (contains(lower(coalesce(text, '')), 'lorem ipsum')
              OR contains(coalesce(text, ''), '{{')) AS doc_ok
  FROM documents),
k AS (
  SELECT doc_id, ls, doc_ok,
         CASE WHEN doc_ok THEN list_filter(ls, x ->
                regexp_matches(x, '[.!?"]$')
                AND len(list_filter(string_split(x, ' '), w -> w <> '')) >= 3
                AND NOT contains(lower(x), 'javascript'))
              ELSE []::VARCHAR[] END AS kept
  FROM base)
SELECT doc_id, len(ls)::INT AS n_lines, len(kept)::INT AS n_kept,
       -- array_to_string([]) is NULL in DuckDB, '' in Spark array_join
       doc_ok, coalesce(array_to_string(kept, chr(10)), '') AS clean_text
FROM k ORDER BY doc_id
""",
)
def q_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style heuristic line cleaning (Raffel et al. 2020 §2.2):
    terminal-punctuation / ≥3-words / no-'javascript' line rules under
    lorem-ipsum and curly-brace document rules, returning counts +
    the cleaned text (hash covers the re-joined surviving lines
    byte-for-byte). Pure scan-side projection — no shuffle, no UDF."""
    docs = _t(spark, sf_dir, "documents")
    return curation.c4_line_filter(docs).orderBy("doc_id")


def _gopher_gate_sql(min_words: int, min_stop_hits: int) -> str:
    """The Gopher quality pass flag over the ``sig`` columns, with the
    word-count floor and required-stopword hits as parameters."""
    return f"""(n_words >= {min_words} AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND hash_word_ratio <= 0.1 AND ellipsis_word_ratio <= 0.1
        AND bullet_line_frac <= 0.9 AND ellipsis_line_frac <= 0.3
        AND alpha_word_frac >= 0.8 AND stop_hits >= {min_stop_hits})"""


@_register(
    "gopher_quality_documents",
    oracle=f"""
WITH base AS (
  SELECT doc_id, coalesce(text, '') AS t, {TOKENS_SQL} AS toks,
         {_trimmed_items_sql()} AS ls
  FROM documents),
sig AS (
  SELECT doc_id,
         len(toks)::INT AS n_words,
         round(coalesce(list_aggregate(list_transform(toks,
                                                      x -> len(x)),
                                       'sum'), 0)::DOUBLE
               / greatest(len(toks), 1), 6) AS mean_word_len,
         round((len(t) - len(replace(t, '#', '')))::DOUBLE
               / greatest(len(toks), 1), 6) AS hash_word_ratio,
         round((len(t) - len(replace(t, '...', '')))::DOUBLE / 3
               / greatest(len(toks), 1), 6) AS ellipsis_word_ratio,
         round(len(list_filter(ls, x -> regexp_matches(x, '^[-*•]')))
               ::DOUBLE / greatest(len(ls), 1), 6) AS bullet_line_frac,
         round(len(list_filter(ls, x -> regexp_matches(x, '\\.{{3}}$')))
               ::DOUBLE / greatest(len(ls), 1), 6) AS ellipsis_line_frac,
         round(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
               ::DOUBLE / greatest(len(toks), 1), 6) AS alpha_word_frac,
         len(list_intersect(list_distinct(toks),
             ['the','be','to','of','and','that','have','with']))::INT
           AS stop_hits
  FROM base)
SELECT doc_id, n_words, mean_word_len, hash_word_ratio,
       ellipsis_word_ratio, bullet_line_frac, ellipsis_line_frac,
       alpha_word_frac, stop_hits,
       {_gopher_gate_sql(50, 2)} AS passes_gopher,
       {_gopher_gate_sql(25, 1)} AS passes_adapted
FROM sig ORDER BY doc_id
""",
)
def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality-signal battery (Rae et al. 2021 app. A1.1,
    Table A1) beside the repetition family: word-count bounds, mean
    word length, '#'/'...' symbol-to-word ratios, bullet- and
    ellipsis-line fractions, alphabetic-word fraction, required-
    stopword hits, and the combined pass flag at the PUBLISHED
    thresholds plus a corpus-adapted variant (≥25 words, ≥1 required
    stopword — the synthetic corpus is not English prose, so the
    published flag is near-constant false; the adapted one varies, so
    the hash exercises the conjunction in both directions).
    Zero-shuffle scan-side HOF projection; the oracle replays every
    signal with DuckDB list functions so each metric AND both boolean
    gates are hash-pinned."""
    docs = _t(spark, sf_dir, "documents")
    return textstats.gopher_quality_signals(docs).orderBy("doc_id")


@_register(
    "exact_substring_dedup_documents",
    oracle="""
WITH base AS (SELECT doc_id, {tok} AS t FROM documents),
w AS (
  SELECT doc_id, i AS pos,
         {hash60} AS fp
  FROM (SELECT doc_id, t,
               unnest(generate_series(1, greatest(len(t) - 7, 0))) AS i
        FROM base)),
dupfp AS (SELECT fp FROM w GROUP BY fp HAVING count(*) >= 2),
d AS (SELECT w.doc_id, w.pos FROM w JOIN dupfp USING (fp)),
cov AS (SELECT doc_id,
               least(8, coalesce(lead(pos) OVER (PARTITION BY doc_id
                                                 ORDER BY pos) - pos, 8))
                 AS cvr
        FROM d),
agg AS (SELECT doc_id, count(*)::INT AS n_dup_windows, sum(cvr) AS covered
        FROM cov GROUP BY doc_id)
SELECT b.doc_id,
       len(b.t)::INT AS n_tokens,
       greatest(len(b.t) - 7, 0)::INT AS n_windows,
       coalesce(a.n_dup_windows, 0)::INT AS n_dup_windows,
       CASE WHEN len(b.t) > 0
            THEN round(coalesce(a.covered, 0)::DOUBLE / len(b.t), 6)
            ELSE 0.0 END AS dup_token_coverage
FROM base b LEFT JOIN agg a USING (doc_id)
ORDER BY b.doc_id
""".replace("{tok}", TOKENS_SQL).replace(
        "{hash60}", HASH60_SQL.format(x="array_to_string(t[i:i+7], ' ')")
    ),
)
def q_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup, windowed-fingerprint form (Lee et al.,
    ACL 2022): corpus-wide duplicated 8-token windows mapped back to
    per-document duplicated-token coverage — the span fraction their
    method would cut from training data. The oracle replays the
    fingerprint stream with DuckDB list slicing + the same md5-60bit
    hash, so the coverage numbers are engine-bit-identical. Spark side
    is the scale path: O(total tokens) exploded stream, fp-keyed
    count + join-back (AQE absorbs hot fingerprints), one per-doc
    lead() window for interval-union coverage."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_substring_coverage(docs, k=8).orderBy("doc_id")


# Deterministic PII augmentation shared by engine and oracle: the
# corpus itself is PII-free (ASCII prose), so both sides append the
# same synthetic email/phone/digit-run and the redaction must strip
# exactly that.
_PII_SUFFIX_SQL = (
    "coalesce(text, '') || ' contact user' || doc_id || "
    "'@example.com call 415-555-0199 ref ' || lpad(doc_id::VARCHAR, 6, '0')"
)

_PII_ORACLE = """
WITH aug AS (SELECT doc_id, <SUF> AS t FROM documents),
r1 AS (SELECT doc_id,
         len(regexp_extract_all(t, '<RX_EMAIL>')) AS n_email,
         regexp_replace(t, '<RX_EMAIL>', '<email>', 'g') AS t1 FROM aug),
r2 AS (SELECT doc_id, n_email,
         len(regexp_extract_all(t1, '<RX_PHONE>')) AS n_phone,
         regexp_replace(t1, '<RX_PHONE>', '<phone>', 'g') AS t2 FROM r1),
r3 AS (SELECT doc_id, n_email, n_phone,
         len(regexp_extract_all(t2, '<RX_DIGITS>')) AS n_digits,
         regexp_replace(t2, '<RX_DIGITS>', '<digits>', 'g') AS t3 FROM r2)
SELECT doc_id, t3 AS redacted,
       n_email::BIGINT AS n_email,
       n_phone::BIGINT AS n_phone,
       n_digits::BIGINT AS n_digits
FROM r3 ORDER BY doc_id
""".replace("<SUF>", _PII_SUFFIX_SQL).replace(
    "<RX_EMAIL>", curation.PII_PATTERNS[0][1]
).replace(
    "<RX_PHONE>", curation.PII_PATTERNS[1][1]
).replace(
    "<RX_DIGITS>", curation.PII_PATTERNS[2][1]
)


@_register("curation_redact_pii", oracle=_PII_ORACLE)
def q_curation_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over documents augmented with a deterministic
    synthetic email + phone + digit run (the corpus itself is
    PII-free): typed placeholder tags, per-category counts, patterns
    applied in a fixed order so nothing double-counts. Pure native
    regexp projections — no shuffle."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            # ref token pinned to EXACTLY 6 digits: at >= 9 digit-ish
            # chars the earlier-ordered phone pattern would claim it
            F.lit("@example.com call 415-555-0199 ref "),
            F.lpad(F.col("doc_id").cast("string"), 6, "0"),
        ).alias("text"),
    )
    return curation.redact_pii(docs).orderBy("doc_id")


@_register(
    "streaming_dedup_first_seen",
    oracle=f"""
SELECT DISTINCT md5({NORMALIZED_SQL}) AS fingerprint,
       {NORMALIZED_SQL} AS text_norm
FROM documents
ORDER BY fingerprint
""",
)
def q_streaming_dedup_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup under the driver hash: documents recast
    as transcripts are written as TWO files — the corpus, then a file
    of duplicate copies of every 10th document — and streamed with
    maxFilesPerTrigger=1 so the duplicates arrive in a LATER
    micro-batch and must be dropped by dropDuplicatesWithinWatermark
    state, not by within-batch dedup. The surviving (fingerprint,
    normalized text) set equals the corpus' distinct set."""
    from .streaming.extract_stream import (
        build_dedup_stream,
        read_transcripts_stream,
    )

    base = transcripts_from_documents(spark, sf_dir)
    dups = base.filter(F.col("conv_id").cast("long") % 10 == 0).withColumn(
        "conv_id", F.concat(F.lit("dup-"), F.col("conv_id"))
    )
    return _memory_stream(
        spark, [base.coalesce(1), dups.coalesce(1)],
        lambda in_dir: build_dedup_stream(
            read_transcripts_stream(spark, in_dir, max_files_per_trigger=1)
        ),
        "append",
    ).orderBy("fingerprint")


_IVF_TRAINED_ORACLE = f"""
WITH {_VQ_CTES},
{_IVF_SEED_CTES},
seeds AS (SELECT 1 AS j, c1.e FROM c1 UNION ALL SELECT 2, c2.e FROM c2
          UNION ALL SELECT 3, c3.e FROM c3 UNION ALL SELECT 4, c4.e FROM c4),
cent1 AS (
  SELECT centroid, list(val ORDER BY i) AS e FROM (
    SELECT a.centroid AS centroid, g.i AS i, round(avg(v.e[g.i]), 6) AS val
    FROM v JOIN assign a USING (vec_id)
    CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) g
    GROUP BY a.centroid, g.i)
  GROUP BY centroid
),
cent1f AS (
  SELECT seeds.j AS centroid, coalesce(cent1.e, seeds.e) AS e
  FROM seeds LEFT JOIN cent1 ON cent1.centroid = seeds.j
),
assign1 AS (
  SELECT vec_id, centroid FROM (
    SELECT v.vec_id, m.centroid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY list_dot_product(v.e, m.e) DESC,
                                       m.centroid) AS rn
    FROM v CROSS JOIN cent1f m) WHERE rn = 1
),
{_ivf_probe_ctes(1)},
probe1 AS (
  SELECT centroid AS i FROM (
    SELECT m.centroid,
           row_number() OVER (ORDER BY list_dot_product(q.qe, m.e) DESC,
                              m.centroid) AS rn
    FROM q CROSS JOIN cent1f m) WHERE rn = 1
),
top0 AS (
{_probed_topk_sql("assign", "centroid", "probes", 10)}
),
top1 AS (
{_probed_topk_sql("assign1", "centroid", "probe1", 10)}
)
""" + _recall_sweep_sql(
    [
        f"  SELECT '{tag}' AS centroids, {_hits_sql('SELECT * FROM ' + top)} AS hits"
        for tag, top in (("seed", "top0"), ("trained", "top1"))
    ],
    "centroids",
)


@_register("ann_ivf_trained_recall", oracle=_IVF_TRAINED_ORACLE)
def q_ann_ivf_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means feeding IVF — the end-to-end training story: one
    Lloyd's iteration over the seed centroids (collected as a k·d
    parameter fetch), then IVF recall@10 at nprobe=1 under seed vs
    trained centroid sets, side by side. The oracle replays the full
    chain in SQL: assignment → per-dim means (rounded 6 dp, the same
    literals Spark feeds back) → re-assignment → probe → in-list
    cosine ranking → recall join."""
    emb, qvec = _ann_query(spark, sf_dir)
    cents0 = similarity.centroid_vectors(emb, _IVF_CENTROID_IDS)
    cents1 = similarity.kmeans_centroids(emb, cents0)
    return _recall_rows(emb, qvec, [
        ({"centroids": tag},
         similarity.ivf_topk(emb, cents, qvec, k=10, nprobe=1))
        for tag, cents in (("seed", cents0), ("trained", cents1))
    ]).drop("n_retrieved")


# ---------------------------------------------------------------- API

def queries() -> Dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every entry, in registration order (``__spark_entry__`` orders
    them for the driver)."""
    return dict(_QUERIES)


def oracle_sql() -> Dict[str, str]:
    return dict(_ORACLES)
