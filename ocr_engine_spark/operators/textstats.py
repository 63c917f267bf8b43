"""Text-analysis operators over a document table (brief: language-ID,
quality scoring, token counting, fingerprinting). All native Catalyst
— no Python in any of these paths except ``winnow_fingerprints``;
each has a DuckDB oracle in ``ocr_engine_spark.catalog``. Operators
read the ``doc_id`` and ``text`` columns of the documents table."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import textfns as X
from .util import spread_to_parallelism


def token_counts(docs: DataFrame) -> DataFrame:
    return spread_to_parallelism(docs).select(
        F.col("doc_id"),
        X.ws_token_count_col("text").alias("ws_tokens"),
        X.bpe_ish_token_count_col("text").alias("bpe_tokens"),
    )


def langid(docs: DataFrame) -> DataFrame:
    return spread_to_parallelism(docs).select(
        F.col("doc_id"),
        X.langid_col("text").alias("lang_pred"),
        X.devanagari_char_count_col("text").cast("int").alias("dev_chars"),
        X.cjk_char_count_col("text").cast("int").alias("cjk_chars"),
    )


def quality(docs: DataFrame) -> DataFrame:
    return spread_to_parallelism(docs).select(
        F.col("doc_id"),
        X.ws_token_count_col("text").alias("n_tokens"),
        X.quality_score_col("text").alias("quality"),
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    return spread_to_parallelism(docs).select(
        F.col("doc_id"), X.fingerprint_col("text").alias("fingerprint")
    )


def simhash(docs: DataFrame) -> DataFrame:
    """SimHash over the normalized token stream, 60-bit engine-portable
    hashes. Shape: explode tokens → per-bit ±1 vote sums (single
    partial-aggregating groupBy) → fold votes into one BIGINT.

    Scale: the shuffle moves pre-aggregated (doc, 60 ints) rows, not
    tokens — map-side combine does the heavy lifting."""
    toks = spread_to_parallelism(docs).select(
        F.col("doc_id"), F.explode(X.tokens_col("text")).alias("token")
    ).withColumn("h", X.hash60_col("token"))
    votes, finish = X.simhash_cols(F.col("h"))
    return (
        toks.groupBy("doc_id")
        .agg(*votes)
        .select(F.col("doc_id"), finish().alias("simhash"))
    )


def top_terms(docs: DataFrame, top_k: int = 3) -> DataFrame:
    """Per-document top-k keywords by a BM25-style rational idf score:

        score = tf · (N − df + 0.5) / (df + 0.5)

    deliberately log-free — every input is integer-valued, so +,−,×,÷
    are IEEE-exact-rounded and the scores are bit-identical across
    engines (a ln()-based idf is NOT correctly-rounded and could flip
    the 6-dp rounding / ranking between Spark and the oracle).

    Scale shape: tf is one partial-aggregating groupBy on
    (doc, term); df aggregates the tf table on term (vocabulary-sized
    — broadcastable at scale, AQE picks the strategy); N is a 1-row
    broadcast; the final top-k is a row_number window per doc.
    Ties rank deterministically by (score DESC, term ASC)."""
    from pyspark.sql import Window

    toks = spread_to_parallelism(docs).select(
        F.col("doc_id"), F.explode(X.tokens_col("text")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("doc_id"), "term", "tf", "df",
            (
                F.col("tf")
                * (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            ).alias("raw_score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("raw_score").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            F.col("doc_id"), "term", "tf", "df",
            F.round("raw_score", 6).alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def winnow_fingerprints(docs: DataFrame, k: int = 8,
                        window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003
    shape): hash every k-char gram of the normalized text, slide a
    window of ``window`` gram-hashes, keep each window's minimum, then
    distinct — the classic rolling-hash fingerprint set for plagiarism
    / near-dup detection.

    Implemented as an Arrow-batched ``mapInPandas`` kernel — a
    deliberate exception to the all-native rule, with measurements:
    two native formulations were built first and both went
    super-linear under Catalyst's CollapseProject alias inlining (an
    aliased array referenced from a per-element ``transform`` lambda
    re-evaluates its defining subtree per element: 139 s for 5k small
    docs; a slice+zip_with refactor still multiplied nested
    re-evaluations: 25 s). The per-row rolling-hash loop is exactly
    the shape the engine's Python crossing exists for — data-local,
    stateless per row, O(n·window) — and runs the same workload in
    ~2 s. Hashes stay md5-based so the DuckDB oracle is unchanged.

    Normalization matches ``textfns.normalized_text_col`` byte-for-byte
    (lower → collapse ``[ \\t\\n\\r]+`` to one space → trim)."""
    import hashlib
    import re as _re

    import pandas as pd

    id_type = docs.schema["doc_id"].dataType.simpleString()
    ddl = f"doc_id {id_type}, fingerprint long"
    ws_rx = _re.compile(r"[ \t\n\r]+")

    def run(pdfs):
        for pdf in pdfs:
            ids, fps = [], []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                nt = ws_rx.sub(" ", (t or "").lower()).strip(" ")
                m = len(nt) - k + 1
                if m <= 0:
                    continue
                hs = [
                    int(hashlib.md5(nt[j : j + k].encode()).hexdigest()[:15], 16)
                    for j in range(m)
                ]
                seen = set()
                for j in range(len(hs) - window + 1):
                    v = min(hs[j : j + window])
                    if v not in seen:
                        seen.add(v)
                        ids.append(i)
                        fps.append(v)
            yield pd.DataFrame({"doc_id": ids, "fingerprint": fps})

    return spread_to_parallelism(docs).select(
        F.col("doc_id"), F.col("text")
    ).mapInPandas(run, ddl)


def vocab_pair_counts(docs: DataFrame, k: int = 50) -> DataFrame:
    """Adjacent token-pair frequencies, top-``k`` by (count desc, pair
    asc) — the counting core of one BPE/vocab-induction merge step
    (count all adjacent symbol pairs, take the most frequent). Pairs
    keep MULTIPLICITY (unlike shingles): zip of the token array with
    its shift, exploded, counted.

    Scale: the explode fan-out is ~tokens-per-doc × docs, but the
    groupBy(pair) partial-aggregates map-side, so the exchange carries
    (pair, partial count) — vocabulary-sized, not corpus-sized. The
    top-k is ORDER BY + LIMIT, which Spark runs as TakeOrdered
    (per-partition heaps, k rows shuffled — no global sort)."""
    toks = X.tokens_col("text")
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        docs.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(k)
    )


def repetition_stats_full(docs: DataFrame) -> DataFrame:
    """The repetition-filter family of Gopher (Rae et al. 2021,
    appendix A1.1, Table A1), as **stream-fraction variants** of its 13
    metrics — the one repetition operator; callers select the columns
    they need and column pruning drops the arrays the rest would
    build:

    - ``n_lines`` — non-empty trimmed lines;
    - ``dup_line_frac`` / ``dup_para_frac`` — fraction of non-empty
      trimmed lines / paragraphs that repeat an earlier one;
    - ``dup_line_char_frac`` / ``dup_para_char_frac`` — fraction of
      line/paragraph characters inside items occurring more than once
      (ALL occurrences charged once the item repeats);
    - ``top_2gram`` — the most frequent word 2-gram (ties break toward
      the lexicographically smallest gram);
    - ``top_{2,3,4}gram_frac`` — fraction of n-gram-stream characters
      covered by the most frequent word n-gram (same tie-break);
    - ``dup_{5..10}gram_frac`` — fraction of n-gram-stream characters
      inside n-grams occurring more than once.

    The paper charges the union of duplicated characters over the
    document's characters; these columns charge every occurrence of a
    duplicated n-gram (overlaps count again) over the characters of the
    n-gram stream. Published gate thresholds (e.g. dup_5gram ≤ 0.15)
    therefore do not transfer to them.

    Scale: ZERO shuffle, no explode/groupBy — per-row sorted-array run
    folds (``array_sort`` + ``aggregate`` HOFs), a scan-side JVM
    projection; the explode→count formulation would shuffle the
    corpus-sized n-gram stream. The work is staged in ``select``s so
    each expensive array is a named column computed at most once per
    row: HOF ``aggregate`` and ``transform`` are CodegenFallback, and an
    inlined array re-evaluates its whole subtree at every reference —
    the gram lambdas index the token array per element, so inlined
    tokens would re-split the text per gram (at sf0.01 on 4 cores,
    6× slower for 3 metrics and 40× slower for all 13). Tokens, lines
    and paragraphs come first, then the 11 sorted arrays (lines,
    paragraphs, grams n=2..10), then one fold per metric that carries
    its denominator in the accumulator struct, so every array is
    traversed exactly once. Paragraphs split on a literal blank line
    ("\\n\\n"), trimmed, empties dropped — mirrored verbatim in the
    oracle.
    """
    # stage 0: tokens, lines and paragraphs once per row — every gram
    # array below indexes the token array, which must not be re-split
    # per element
    base = spread_to_parallelism(docs).select(
        F.col("doc_id"),
        X.tokens_col("text").alias("_t"),
        X.trimmed_items_col("text", "\n").alias("_lines"),
        X.trimmed_items_col("text", "\n\n").alias("_paras"),
    )
    t, lines, paras = F.col("_t"), F.col("_lines"), F.col("_paras")
    n = F.size(t)
    empty = F.array().cast("array<string>")

    def _grams(k: int):
        if k == 2:
            return F.when(
                n >= 2,
                F.zip_with(
                    F.slice(t, 1, n - 1), F.slice(t, 2, n - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                ),
            ).otherwise(empty)
        return F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(t, i + j) for j in range(k)]
                ),
            ),
        ).otherwise(empty)

    def _dup_item_frac(items):
        cnt = F.size(items)
        return F.when(
            cnt > 0,
            F.round(F.lit(1.0) - F.size(F.array_distinct(items)) / cnt, 6),
        ).otherwise(F.lit(0.0))

    # stage 1: every sorted array once; the cheap scalar fracs inline
    staged = base.select(
        F.col("doc_id"),
        F.size(lines).cast("int").alias("n_lines"),
        _dup_item_frac(lines).alias("dup_line_frac"),
        _dup_item_frac(paras).alias("dup_para_frac"),
        F.array_sort(lines).alias("_ls"),
        F.array_sort(paras).alias("_ps"),
        *[F.array_sort(_grams(k)).alias(f"_g{k}s") for k in range(2, 11)],
    )

    zero = F.lit(0).cast("long")

    # one traversal per sorted array: run-length fold that also
    # accumulates the char denominator
    def _dup_fold(col):
        def step(acc, x):
            run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                F.lit(1).cast("long")
            )
            add = (
                F.when(run == 2, F.length(x) * 2)
                .when(run > 2, F.length(x))
                .otherwise(F.lit(0))
            ).cast("long")
            return F.struct(
                x.alias("prev"), run.alias("run"),
                (acc["dup"] + add).alias("dup"),
                (acc["den"] + F.length(x)).alias("den"),
            )

        return F.aggregate(
            col,
            F.struct(F.lit("").alias("prev"), zero.alias("run"),
                     zero.alias("dup"), zero.alias("den")),
            step,
        )

    def _top_fold(col):
        def step(acc, x):
            run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                F.lit(1).cast("long")
            )
            better = run > acc["best"]
            return F.struct(
                x.alias("prev"), run.alias("run"),
                F.when(better, run).otherwise(acc["best"]).alias("best"),
                F.when(better, x).otherwise(acc["bestg"]).alias("bestg"),
                (acc["den"] + F.length(x)).alias("den"),
            )

        return F.aggregate(
            col,
            F.struct(F.lit("").alias("prev"), zero.alias("run"),
                     zero.alias("best"), F.lit("").alias("bestg"),
                     zero.alias("den")),
            step,
        )

    # stage 2: one fold column per metric family
    folded = staged.select(
        F.col("doc_id"), F.col("n_lines"), F.col("dup_line_frac"),
        F.col("dup_para_frac"),
        _dup_fold(F.col("_ls")).alias("_lf"),
        _dup_fold(F.col("_ps")).alias("_pf"),
        *[_top_fold(F.col(f"_g{k}s")).alias(f"_t{k}") for k in (2, 3, 4)],
        *[_dup_fold(F.col(f"_g{k}s")).alias(f"_d{k}") for k in range(5, 11)],
    )

    def _dup_frac(name):
        s = F.col(name)
        return F.when(
            s["den"] > 0, F.round(s["dup"] / s["den"], 6)
        ).otherwise(F.lit(0.0))

    def _top_frac(name):
        s = F.col(name)
        return F.when(
            s["den"] > 0,
            F.round(s["best"] * F.length(s["bestg"]) / s["den"], 6),
        ).otherwise(F.lit(0.0))

    # stage 3: cheap field arithmetic
    return folded.select(
        F.col("doc_id"),
        F.col("n_lines"),
        F.col("dup_line_frac"),
        _dup_frac("_lf").alias("dup_line_char_frac"),
        F.col("dup_para_frac"),
        _dup_frac("_pf").alias("dup_para_char_frac"),
        F.col("_t2")["bestg"].alias("top_2gram"),
        *[_top_frac(f"_t{k}").alias(f"top_{k}gram_frac") for k in (2, 3, 4)],
        *[_dup_frac(f"_d{k}").alias(f"dup_{k}gram_frac")
          for k in range(5, 11)],
    )


GOPHER_REQUIRED_STOPWORDS = ("the", "be", "to", "of", "and",
                             "that", "have", "with")


def gopher_quality_signals(docs: DataFrame) -> DataFrame:
    """The Gopher quality-signal battery (Rae et al. 2021 app. A1.1,
    Table A1 — the filters BESIDE the repetition family): 50 to
    100,000 words, mean word length in [3, 10], '#' and '...'
    symbol-to-word ratios ≤ 0.1, ≤90% bullet-started lines, ≤30%
    ellipsis-ended lines, ≥80% words containing an alphabetic
    character, and ≥2 hits from the 8 required stopwords — plus the
    combined pass flag a Gopher-style gate would threshold on.

    Pure scan-side projection: token/line arrays are materialized once
    per row and every signal is an HOF fold or regex count over them —
    no shuffle, no UDF; at 100 TB this widens the scan and nothing
    else. The DuckDB oracle replays each signal with list functions,
    so the numbers (and the boolean) are engine-bit-identical."""
    out = (
        spread_to_parallelism(docs)
        .select(
            F.col("doc_id"),
            F.coalesce(F.col("text"), F.lit("")).alias("_t"),
            X.tokens_col("text").alias("_toks"),
            X.trimmed_items_col("text", "\n").alias("_ls"),
        )
        .select(
            F.col("doc_id"),
            F.col("_t"),
            F.col("_ls"),
            F.col("_toks"),
            F.size("_toks").alias("n_words"),
        )
    )
    n = F.col("n_words")
    n1 = F.greatest(n, F.lit(1))
    nl1 = F.greatest(F.size("_ls"), F.lit(1))
    wordlen_sum = F.aggregate(
        "_toks", F.lit(0), lambda acc, x: acc + F.length(x)
    )
    hash_cnt = X.match_chars_col("_t", "#")
    ellipsis_cnt = X.match_chars_col("_t", "\\.\\.\\.") / F.lit(3)
    bullet_lines = F.size(F.filter("_ls", lambda x: x.rlike("^[-*•]")))
    ellipsis_lines = F.size(F.filter("_ls", lambda x: x.rlike("\\.{3}$")))
    alpha_words = F.size(F.filter("_toks", lambda x: x.rlike("[a-z]")))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct("_toks"),
            F.array(*[F.lit(w) for w in GOPHER_REQUIRED_STOPWORDS]),
        )
    )
    sig = out.select(
        F.col("doc_id"),
        n.cast("int").alias("n_words"),
        F.round(wordlen_sum.cast("double") / n1, 6).alias("mean_word_len"),
        F.round(hash_cnt.cast("double") / n1, 6).alias("hash_word_ratio"),
        F.round(ellipsis_cnt.cast("double") / n1, 6).alias(
            "ellipsis_word_ratio"
        ),
        F.round(bullet_lines.cast("double") / nl1, 6).alias(
            "bullet_line_frac"
        ),
        F.round(ellipsis_lines.cast("double") / nl1, 6).alias(
            "ellipsis_line_frac"
        ),
        F.round(alpha_words.cast("double") / n1, 6).alias("alpha_word_frac"),
        stop_hits.cast("int").alias("stop_hits"),
    )
    def gate(min_w: int, min_stops: int):
        return (
            (F.col("n_words") >= min_w)
            & (F.col("n_words") <= 100_000)
            & (F.col("mean_word_len") >= 3.0)
            & (F.col("mean_word_len") <= 10.0)
            & (F.col("hash_word_ratio") <= 0.1)
            & (F.col("ellipsis_word_ratio") <= 0.1)
            & (F.col("bullet_line_frac") <= 0.9)
            & (F.col("ellipsis_line_frac") <= 0.3)
            & (F.col("alpha_word_frac") >= 0.8)
            & (F.col("stop_hits") >= min_stops)
        )

    # passes_gopher uses the PUBLISHED thresholds (≥50 words, ≥2 of
    # the 8 required stopwords) and is near-constant FALSE on the
    # synthetic corpus (it is not English prose); passes_adapted
    # relaxes only the corpus-shaped knobs (≥25 words, ≥1 stopword)
    # so the conjunction logic is exercised in BOTH directions by the
    # oracle hash — the signal columns pin the arithmetic either way.
    return sig.withColumn("passes_gopher", gate(50, 2)).withColumn(
        "passes_adapted", gate(25, 1)
    )
