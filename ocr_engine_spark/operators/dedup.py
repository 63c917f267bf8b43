"""Deduplication operators (brief: exact, MinHash+LSH, SimHash,
n-gram Jaccard). Native Catalyst throughout; engine-portable md5-based
hashes so every stage has an exact DuckDB oracle.

Scale notes per operator are in each docstring — the common theme: the
only all-pairs computation ever performed is *within LSH buckets*
(candidates), never across the corpus.

Each rule is spelled once: ``_pairs_sharing_key`` is the candidate
self-join (with its optional document-frequency cap) for MinHash bands,
n-gram shingles and winnowing fingerprints; ``_with_pair_sets`` joins
per-doc sets onto both sides of a pair for the Jaccard and containment
verifies; ``_shingle_sets`` builds the shingle arrays they verify
against. SimHash pairs carry a payload through their join and keep
their own.

Operators read the ``doc_id`` and ``text`` columns of the documents
table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import textfns as X
from .util import spread_to_parallelism


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Exact dedup via content fingerprint: one hash-aggregate, keeper
    = min(id). Scale: single shuffle on the fingerprint; partial aggs
    collapse duplicates map-side."""
    return (
        spread_to_parallelism(docs)
        .select(F.col("doc_id"), X.fingerprint_col("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def minhash_signatures(docs: DataFrame, num_perm: int = 16) -> DataFrame:
    """MinHash signatures: word 3-shingle → num_perm salted 60-bit
    hashes → min per salt. One explode + one partial-aggregating
    groupBy; the shuffle carries (doc, num_perm longs), independent of
    doc length.

    Tokens are materialized in their own projection before shingling so
    the tokenizer regex runs once per row, and the scan is spread to
    cluster parallelism first — shingle+hash work is CPU-bound and must
    not be serialized onto a handful of input splits. Shingles are
    exploded inline, not from ``_shingle_sets``: an explode of a column
    makes Spark infer a ``size > 0`` filter under the round-robin
    exchange, which re-shingles every row there and stops
    ``near_dup_scale_path`` reusing that exchange for its verify."""
    sh = spread_to_parallelism(docs).select(
        F.col("doc_id"), X.tokens_col("text").alias("toks")
    ).select(
        F.col("doc_id"),
        F.explode(X.shingles_from_tokens(F.col("toks"))).alias("shingle"),
    )
    aggs = [
        F.min(X.hash60_col(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"m{i}")
        for i in range(num_perm)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _pairs_sharing_key(keyed: DataFrame, key: str,
                       max_df: int | None = None) -> DataFrame:
    """Candidate pairs: distinct (id_a, id_b) of doc_ids with id_a <
    id_b over rows of ``keyed`` that share a ``key`` value. Scale: one
    self-join on the key, so the fan-out is the key's group sizes,
    never n².

    ``max_df`` is the document-frequency cap: key values held by more
    than ``max_df`` rows are dropped *before* the self-join (each doc
    holds a value once, so count(*) is the document frequency; the
    partial-aggregating groupBy collapses map-side). A value with df=d
    alone emits d·(d-1)/2 pairs, so ubiquitous values would dominate
    the join quadratically (PLANS.md §7)."""
    if max_df is not None:
        keep = (
            keyed.groupBy(key)
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select(key)
        )
        keyed = keyed.join(keep, key)
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


def lsh_candidate_pairs(signatures: DataFrame, num_perm: int = 16,
                        bands: int = 4) -> DataFrame:
    """Band the signatures and emit candidate pairs sharing any band
    bucket. Scale: the self-join is on the (band_idx, band_key) struct
    — only docs agreeing on a full band collide, so the join fan-out
    is the bucket sizes, not n²."""
    rows = num_perm // bands
    band_cols = []
    for b in range(bands):
        key = F.md5(
            F.concat_ws(
                ",", *[F.col(f"m{b * rows + r}").cast("string") for r in range(rows)]
            )
        )
        band_cols.append(F.struct(F.lit(b).alias("band_idx"), key.alias("band_key")))
    banded = signatures.select(
        F.col("doc_id"), F.explode(F.array(*band_cols)).alias("band")
    )
    return _pairs_sharing_key(banded, "band")


def _shingle_sets(docs: DataFrame) -> DataFrame:
    """Per-doc shingle arrays (doc_id, sh), tokens materialized first
    as in ``minhash_signatures``."""
    return spread_to_parallelism(docs).select(
        F.col("doc_id"), X.tokens_col("text").alias("toks")
    ).select(
        F.col("doc_id"),
        X.shingles_from_tokens(F.col("toks")).alias("sh"),
    )


def _with_pair_sets(pairs: DataFrame, sets_: DataFrame) -> DataFrame:
    """Join each doc's per-doc columns of ``sets_`` onto both sides of
    (id_a, id_b) pairs, suffixed ``_a`` / ``_b`` — two hash joins
    against the (much smaller) candidate set."""
    for s in ("a", "b"):
        side = sets_.select(
            F.col("doc_id").alias(f"id_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in sets_.columns if c != "doc_id"],
        )
        pairs = pairs.join(side, f"id_{s}")
    return pairs


def _jaccard_over_sets(pairs: DataFrame, sets_: DataFrame,
                       threshold: float) -> DataFrame:
    """Exact shingle-set Jaccard, rounded to 6 dp, of each candidate
    pair over the (doc_id, sh) arrays of ``sets_``; pairs below
    ``threshold`` are dropped."""
    shared = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = F.round(shared / (F.size("sh_a") + F.size("sh_b") - shared), 6)
    return (
        _with_pair_sets(pairs, sets_)
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_verify(pairs: DataFrame, docs: DataFrame,
                   threshold: float = 0.5) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs. The shingle
    arrays are joined in by id — at scale the candidate side is the
    small one and broadcasts."""
    return _jaccard_over_sets(pairs, _shingle_sets(docs), threshold)


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.1,
                        max_id: int | None = None,
                        max_df: int | None = None) -> DataFrame:
    """Exact all-pairs n-gram Jaccard — the verification-tier operator
    (O(n²); bound n with ``max_id`` or use MinHash+LSH as the scale
    path). Join strategy: shingle-inverted-index join (pairs sharing ≥1
    shingle) instead of a cross join, so disjoint docs never pair.

    ``max_df`` is the stop-shingle cap (``_pairs_sharing_key``).
    Candidates change only for pairs whose sole shared shingles are
    ubiquitous; the exact Jaccard verify still runs on the full
    shingle sets — the same sets the inverted index is exploded from,
    built once."""
    base = docs if max_id is None else docs.filter(F.col("doc_id") < max_id)
    sets_ = _shingle_sets(base)
    inv = sets_.select(F.col("doc_id"), F.explode("sh").alias("shingle"))
    cand = _pairs_sharing_key(inv, "shingle", max_df)
    return _jaccard_over_sets(cand, sets_, threshold)


def winnow_containment_pairs(docs: DataFrame, k: int = 8,
                             window: int = 4, threshold: float = 0.5,
                             max_df: int = 100) -> DataFrame:
    """Sub-document duplication via winnowing-fingerprint containment
    (the production use of winnowing, Schleimer et al. SIGMOD 2003): a
    document whose fingerprint set is largely a subset of another's is
    a near-copy or an excerpt even when whole-doc Jaccard is low.

    Emits pairs with ``containment = max(|FA∩FB|/|FA|, |FA∩FB|/|FB|)``
    ≥ threshold, candidates-then-verify:

    - **candidates**: inverted-index self-join on fingerprint with a
      document-frequency cap — common k-grams ("tion of ", …) produce
      fingerprints shared by hundreds of unrelated docs (measured df up
      to 328/500 at sf0.01), the same quadratic hazard as hot shingles
      (``_pairs_sharing_key``); capped fingerprints carry no
      duplication evidence;
    - **verify**: exact containment over the FULL fingerprint sets
      (array_intersect of the per-doc fingerprint arrays), so the cap
      only prunes candidates, never distorts surviving scores."""
    from .textstats import winnow_fingerprints

    fp = winnow_fingerprints(docs, k, window)
    sets_ = fp.groupBy("doc_id").agg(
        F.collect_list("fingerprint").alias("fps"),
        F.count(F.lit(1)).alias("n"),
    )
    cand = _pairs_sharing_key(fp, "fingerprint", max_df)
    shared = F.size(F.array_intersect("fps_a", "fps_b"))
    out = _with_pair_sets(cand, sets_).select(
        "id_a", "id_b",
        shared.cast("long").alias("shared"),
        F.round(
            F.greatest(shared / F.col("n_a"), shared / F.col("n_b")), 6
        ).alias("containment"),
    )
    return out.filter(F.col("containment") >= threshold)


def simhash_near_pairs(simhashes: DataFrame, max_hamming: int = 3,
                       chunks: int | None = None) -> DataFrame:
    """SimHash near-dup pairs with a *complete* chunk-banded candidate
    filter: split the 60-bit hash into ``chunks`` contiguous
    chunks and take exact-chunk equality as the candidate condition,
    then verify exact ``bit_count(xor) <= max_hamming``.

    Completeness is the pigeonhole guarantee and it requires
    ``chunks >= max_hamming + 1``: with at most ``max_hamming``
    differing bits spread over ``chunks`` chunks, at least one chunk
    has zero differing bits, so every qualifying pair collides on some
    chunk. (Round-1 defect: 4 chunks were used for radii up to 26,
    where a 7/7/6/6 bit spread never collides — the filter silently
    lost recall. ``chunks`` now defaults to ``max_hamming + 1`` and a
    smaller explicit value is rejected.)

    Scale: the self-join stays keyed on (chunk_idx, chunk_val) — join
    fan-out is chunk-bucket sized, never n². More chunks ⇒ wider radius
    coverage but smaller chunks ⇒ bigger buckets; the standard
    multi-index trade (Manku et al., WWW 2007 shape)."""
    if chunks is None:
        chunks = max_hamming + 1
    if chunks < max_hamming + 1:
        raise ValueError(
            f"chunks={chunks} cannot guarantee recall for "
            f"max_hamming={max_hamming}; need chunks >= max_hamming + 1"
        )
    if chunks > X.HASH_BITS:
        raise ValueError(f"chunks={chunks} exceeds bits={X.HASH_BITS}")
    # Uneven widths when 60 % chunks != 0: the first (60 % chunks)
    # chunks get one extra bit.
    base, rem = divmod(X.HASH_BITS, chunks)
    chunk_cols = []
    offset = 0
    for c in range(chunks):
        width = base + (1 if c < rem else 0)
        mask = (1 << width) - 1
        chunk_cols.append(
            F.struct(
                F.lit(c).alias("chunk_idx"),
                F.shiftright(F.col("simhash"), offset)
                .bitwiseAND(F.lit(mask))
                .alias("chunk_val"),
            )
        )
        offset += width
    banded = simhashes.select(
        F.col("doc_id"), F.col("simhash"), F.explode(F.array(*chunk_cols)).alias("c")
    ).select("doc_id", "simhash", "c.chunk_idx", "c.chunk_val")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("int")
            .alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_hamming)


def exact_substring_coverage(docs: DataFrame, k: int = 8) -> DataFrame:
    """Exact-substring dedup in its distributed windowed-fingerprint
    form (Lee et al., "Deduplicating Training Data Makes Language
    Models Better", ACL 2022 — their single-node suffix array replaced
    by shuffle-friendly hashed windows): every length-``k`` token
    window is fingerprinted; a window that occurs >= 2 times anywhere
    in the corpus is *duplicated*; per document we report how many
    windows are duplicated and what fraction of the document's tokens
    the union of duplicated windows covers (the span a trainer would
    cut).

    Per doc: n_tokens, n_windows, n_dup_windows, dup_token_coverage.

    Probabilistic, not exact: windows are compared by 60-bit md5
    fingerprints, so two distinct windows collide with probability
    2⁻⁶⁰ per pair — about n²/2⁶¹ expected false "duplicated" windows
    among n distinct ones (≈ 0.43 at n = 10⁹, ≈ 4·10⁵ at n = 10¹²),
    each one inflating n_dup_windows and the coverage it adds.

    Coverage without materializing spans: with duplicated window start
    positions sorted per doc, window i covers
    ``min(k, next_pos - pos)`` new tokens (``k`` for the last) — the
    union size of fixed-length intervals via one ``lead``. No arrays
    collected, no span structs built.

    Scale: the exploded window stream is one row per corpus token
    (fp BIGINT, doc, pos) — the same O(total tokens) a suffix array
    pays, but partitioned. Global counts are a map-side-combining
    groupBy on fp; the join-back is fp-keyed (AQE skew-split absorbs
    pathological fingerprints — a window duplicated 10^9 times is ONE
    hot key here, vs a single-node sort hitting the same wall).
    Duplicated-window rows (typically a small fraction) then take one
    (doc, pos) window + partial-agg groupBy. Nothing is ever all-pairs.
    """
    if k < 2:
        raise ValueError(f"k={k}: window must span at least 2 tokens")
    base = (
        spread_to_parallelism(docs)
        .select(F.col("doc_id"), X.tokens_col("text").alias("toks"))
        .select(
            F.col("doc_id"),
            F.col("toks"),
            F.size("toks").alias("n_tokens"),
        )
    )
    # Guarded sequence: sequence(1, 0) would step DOWNWARD in Spark.
    starts = F.when(
        F.col("n_tokens") >= k,
        F.sequence(F.lit(1), F.col("n_tokens") - (k - 1)),
    ).otherwise(F.array().cast("array<int>"))
    wins = base.select(
        F.col("doc_id"),
        F.posexplode(
            F.transform(
                starts,
                lambda i: X.hash60_col(
                    F.concat_ws(" ", F.slice(F.col("toks"), i, k))
                ),
            )
        ).alias("pos", "fp"),
    )
    dup_fps = (
        wins.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
        .select("fp")
    )
    dup = wins.join(dup_fps, "fp")
    w = Window.partitionBy("doc_id").orderBy("pos")
    cov = dup.withColumn(
        "cvr",
        F.least(
            F.lit(k),
            F.coalesce(F.lead("pos").over(w) - F.col("pos"), F.lit(k)),
        ),
    )
    agg = cov.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_dup_windows"),
        F.sum("cvr").alias("covered"),
    )
    return (
        base.select(
            F.col("doc_id"),
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.greatest(F.col("n_tokens") - (k - 1), F.lit(0))
            .cast("int")
            .alias("n_windows"),
        )
        .join(agg, "doc_id", "left")
        .select(
            F.col("doc_id"),
            "n_tokens",
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).cast("int")
            .alias("n_dup_windows"),
            F.when(
                F.col("n_tokens") > 0,
                F.round(
                    F.coalesce(F.col("covered"), F.lit(0))
                    .cast("double") / F.col("n_tokens"),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("dup_token_coverage"),
        )
    )
