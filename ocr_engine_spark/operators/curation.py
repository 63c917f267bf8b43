"""Training-data curation operators (brief: the ops a large-scale
LLM training-data pipeline needs beyond the reference's own surface —
graded first-class alongside SURVEY.md §2).

Five operators, all native ``pyspark.sql.functions`` (JVM-side,
whole-stage codegen — zero Python in any hot path), each with an exact
DuckDB-SQL oracle mirror in ``ocr_engine_spark.catalog``:

- :func:`stratified_sample` — deterministic hash-based sampling with
  per-stratum keep rates (down-weight dominant languages/sources).
- :func:`quota_per_source` — per-source document quota: keep the
  top-N by quality score (domain-mixing cap).
- :func:`pack_sequences` — shard-local greedy sequence packing into
  fixed token budgets (the batch-assembly step before training).
- :func:`decontaminate` — benchmark n-gram overlap flagging (test-set
  decontamination à la GPT-3 appendix C / Lee et al. 2022): a document
  is contaminated iff it shares ≥1 word 3-shingle with the benchmark
  set.
- :func:`shuffle_permutation` — deterministic global training-order
  permutation computed WITHOUT a single-partition window (bucketed
  prefix-sum enumeration).

100 TB scale notes are on each function; the shared principles:
deterministic hash decisions (md5-derived, engine-portable — a rerun
makes identical choices, so the pipeline is resumable and auditable),
no global windows, benchmark/offset sides broadcast, corpus side
touched by exactly one scan. Operators read the documents table's
``doc_id``, ``text``, ``lang`` and ``source`` columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import textfns as X

SAMPLE_MOD = 100


def _decision_hash(salt: str):
    """Engine-portable per-row decision hash in [0, 2^60): first 15
    hex chars of md5(doc_id || ':' || salt) as a BIGINT. Deterministic
    in the row alone — independent of partitioning, parallelism, and
    execution order, so sampling/shuffle decisions are reproducible
    across reruns and cluster sizes (the property that makes curation
    auditable at 100 TB)."""
    return X.hash60_col(
        F.concat(F.col("doc_id").cast("string"), F.lit(":" + salt))
    )


def stratified_sample(docs: DataFrame, rates: dict,
                      default_pct: int = 100) -> DataFrame:
    """Deterministic stratified sampling: keep a row iff
    ``hash60(doc_id:'sample') % 100 < rates[lang]`` (percent, default
    ``default_pct``). The standard corpus-mixing move: down-sample
    over-represented strata to hit a target language/domain mix.

    Scale: a pure scan-side filter — no shuffle, no state, pushdown
    keeps only surviving rows flowing. The keep decision depends only
    on the doc_id, never on which executor sees the row.
    """
    rate = F.lit(default_pct)
    for k, v in sorted(rates.items()):
        rate = F.when(F.col("lang") == k, F.lit(int(v))).otherwise(rate)
    kept = F.pmod(_decision_hash("sample"), F.lit(SAMPLE_MOD)) < rate
    return docs.where(kept)


def quota_per_source(docs: DataFrame, n: int, salt_buckets: int = 1) -> DataFrame:
    """Per-source quota: keep each source's top-``n`` documents by
    quality score (ties → lowest id). Caps any one domain's share of
    the corpus — the domain-mixing knob next to
    :func:`stratified_sample`'s rate knob.

    Scale: one shuffle on ``source``. Source is a natural skew hazard
    (a crawl is dominated by a few hosts); ``salt_buckets > 1``
    switches to the salt-then-re-rank rewrite: rank within
    (source, hash-salt) first — every task bounded at ~rows/salt of
    the hottest source — keep each shard's top-n, then re-rank the
    ≤ salt·n survivors per source (a tiny second window). Output is
    IDENTICAL for any salt (the survivor set provably contains the
    true top-n: a row in the true top-n is in the top-n of its own
    shard), pinned by test."""
    q = X.quality_score_col("text")
    scored = docs.select("source", "doc_id", q.alias("quality"))
    order = (F.desc("quality"), F.col("doc_id").asc())
    if salt_buckets > 1:
        shard_w = Window.partitionBy("source", "_salt").orderBy(*order)
        scored = (
            scored.withColumn(
                "_salt", F.pmod(_decision_hash("quota"), F.lit(salt_buckets))
            )
            .withColumn("_srk", F.row_number().over(shard_w))
            .where(F.col("_srk") <= n)
            .drop("_salt", "_srk")
        )
    w = Window.partitionBy("source").orderBy(*order)
    return scored.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= n
    )


def pack_sequences(docs: DataFrame, budget: int = 512,
                   shard_rows: int = 200) -> DataFrame:
    """Shard-local greedy sequence packing: within each
    ``(lang, pack_shard)`` group (shard = doc_id // shard_rows), walk
    documents in id order and assign each to the bin where its running
    token count starts: ``bin = floor(cum_tokens_before / budget)``.
    The deterministic batch-assembly step that turns a curated corpus
    into fixed-budget training sequences.

    Scale: packing is deliberately SHARD-local, not global — a global
    running sum is a sequential dependency no engine parallelizes.
    Sharding by id keeps every window partition at ≤ shard_rows rows
    (bounded memory, embarrassingly parallel), at the cost of at most
    one under-filled trailing bin per shard — exactly the trade real
    packers make. One shuffle on (lang, shard).
    """
    toks = X.ws_token_count_col("text")
    shard = (F.col("doc_id") / F.lit(shard_rows)).cast("long")
    w = (
        Window.partitionBy("lang", "pack_shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.select(
            "doc_id",
            "lang",
            shard.alias("pack_shard"),
            toks.cast("long").alias("n_tokens"),
        )
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            "lang",
            "pack_shard",
            "n_tokens",
            "cum_tokens",
            F.floor((F.col("cum_tokens") - F.col("n_tokens")) / F.lit(budget))
            .cast("long")
            .alias("bin_idx"),
        )
    )


def decontaminate(docs: DataFrame, bench_mod: int = 97) -> DataFrame:
    """Benchmark-overlap decontamination: flag every document sharing
    at least one word 3-shingle with the benchmark set (here: the
    deterministic subset ``id % bench_mod == 0``, standing in for an
    eval suite). Returns one row per document with ``contaminated``
    and the count of distinct overlapping shingles — the flag feeds an
    anti-join in the pipeline proper.

    Scale: the benchmark side is small by construction (eval suites
    are thousands of docs, the corpus is billions) — its distinct
    shingle set is BROADCAST, so the corpus is never shuffled: one
    scan, shingle explode, broadcast-hash semi-match, partial-agg
    count by id. The only shuffle is the final per-id aggregation of
    hit counts, keyed on the corpus' own id (uniform).
    """
    toks = X.tokens_col("text")
    sh = docs.select(
        "doc_id", F.explode(X.shingles_from_tokens(toks)).alias("shingle")
    )
    bench = (
        sh.where(F.col("doc_id") % bench_mod == 0)
        .select("shingle")
        .distinct()
    )
    hits = (
        sh.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").alias("n_hit_shingles"))
    )
    return docs.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.col("n_hit_shingles").isNotNull().alias("contaminated"),
        F.coalesce("n_hit_shingles", F.lit(0)).cast("long").alias(
            "n_hit_shingles"
        ),
    )


def shuffle_permutation(docs: DataFrame, buckets: int = 256) -> DataFrame:
    """Deterministic global training-order permutation:
    ``shuffle_pos = rank of hash60(doc_id:'shuffle')`` (1-based, dense,
    total).
    Semantically a global ``row_number() OVER (ORDER BY hash)`` — but
    computed WITHOUT a single-partition window:

    1. bucket each row by the top bits of its hash (``hash >> 52`` for
       256 buckets — hash is uniform, so buckets are balanced);
    2. count rows per bucket (one tiny agg), prefix-sum the counts on
       the driver (≤ ``buckets`` rows — a parameter fetch, not a
       collect-the-data anti-pattern);
    3. broadcast-join the offsets back and enumerate within each
       bucket (row_number over a bounded, balanced partition).

    Scale: this is how a 1000-executor cluster enumerates a total
    order — range-partitioned local enumeration plus an offset table.
    No task ever sees more than ~rows/buckets rows; raise ``buckets``
    with the data.
    """
    key = _decision_hash("shuffle")
    d = docs.select(F.col("doc_id"), key.alias("skey")).withColumn(
        "bucket", F.shiftright("skey", 60 - int(buckets).bit_length() + 1)
    )
    counts = {
        r["bucket"]: r["cnt"]
        for r in d.groupBy("bucket").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = [], 0
    for b in range(buckets):
        offsets.append((b, acc))
        acc += counts.get(b, 0)
    off_df = d.sparkSession.createDataFrame(offsets, "bucket INT, offset LONG")
    w = Window.partitionBy("bucket").orderBy("skey", "doc_id")
    return (
        d.join(F.broadcast(off_df), "bucket")
        .withColumn("pos_in_bucket", F.row_number().over(w))
        .select(
            "doc_id",
            (F.col("offset") + F.col("pos_in_bucket")).alias("shuffle_pos"),
        )
    )


PII_PATTERNS = (
    # (tag, regex) — applied in order; conservative patterns that parse
    # identically under Java regex (Spark) and RE2 (DuckDB/production
    # scanners): no backrefs, no lookaround.
    ("<email>", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"),
    ("<phone>", "\\+?[0-9][0-9 ()-]{7,}[0-9]"),
    ("<digits>", "[0-9]{6,}"),
)


def redact_pii(docs: DataFrame) -> DataFrame:
    """PII scrubbing: replace email / phone-shaped / long-digit-run
    matches with typed placeholder tags and count what was redacted
    per category. The pre-training privacy pass next to
    :func:`decontaminate`'s eval-leak pass.

    Scale: pure per-row native ``regexp_replace`` / ``regexp_count``
    projections — no shuffle, no UDF, whole-stage codegen; ordering of
    the patterns is fixed so a phone inside an email never
    double-counts (each pattern runs on the previous pattern's
    output)."""
    out = F.coalesce(F.col("text"), F.lit(""))
    counts = []
    for tag, rx in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(out, F.lit(rx), 0))
            .cast("long")
            .alias("n_" + tag.strip("<>"))
        )
        out = F.regexp_replace(out, rx, tag)
    return docs.select(F.col("doc_id"), out.alias("redacted"), *counts)


def c4_line_filter(docs: DataFrame) -> DataFrame:
    """C4-inspired heuristic cleaning (after Raffel et al. 2020 §2.2),
    applied line-by-line then document-wide. It is not the C4 rule
    set: lines need at least 3 words where the paper asks for 5, and
    the paper's page rule (drop pages with fewer than 3 sentences) is
    absent. The oracle mirrors these rules, so the hash gate pins them,
    not the paper's:

    line rules (a line survives iff ALL hold, on the trimmed line):
      - ends in terminal punctuation (``.`` ``!`` ``?`` ``"``);
      - has at least 3 words;
      - does not mention ``javascript`` (case-insensitive);
    document rules (a failing document keeps ZERO lines):
      - does not contain ``lorem ipsum`` (case-insensitive);
      - does not contain a curly brace ``{`` (code leakage).

    Returns per document: line counts before/after, the document-rule
    verdict, and the cleaned text (surviving lines re-joined) — the
    caller filters on ``n_kept > 0`` to drop empty survivors.

    Scale: pure scan-side JVM projection — ``split``/``filter``/
    ``array_join`` higher-order functions; no shuffle, no UDF, no
    explode, no Arrow crossing. Line decisions are per-row, so the
    operator is partition- and parallelism-invariant by construction.
    """
    text = F.coalesce(F.col("text"), F.lit(""))
    lower = F.lower(text)
    doc_ok = (~lower.contains("lorem ipsum")) & (~text.contains("{"))
    lines = X.trimmed_items_col("text", "\n")

    def _keep(x):
        words = F.size(F.filter(F.split(x, " "), lambda w: w != ""))
        return (
            x.rlike('[.!?"]$')
            & (words >= 3)
            & ~F.lower(x).contains("javascript")
        )

    kept = F.when(doc_ok, F.filter(lines, _keep)).otherwise(
        F.array().cast("array<string>")
    )
    return docs.select(
        F.col("doc_id"),
        F.size(lines).cast("int").alias("n_lines"),
        F.size(kept).cast("int").alias("n_kept"),
        doc_ok.alias("doc_ok"),
        F.array_join(kept, "\n").alias("clean_text"),
    )
