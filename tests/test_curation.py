"""Properties of the training-data curation operators that the
DuckDB oracle can't express directly: partitioning invariance of the
hash decisions, the permutation totality/equivalence to a global
window, packing bin monotonicity, and quota/contamination invariants.
"""

from pyspark.sql import Window
from pyspark.sql import functions as F

from ocr_engine_spark.operators import curation


def _docs(spark, n=180):
    rows = []
    langs = ["en", "en", "en", "hi", "zh", "fr"]
    for i in range(n):
        words = ["the", "quick", "dog", f"w{i % 13}", "and"] * (1 + i % 9)
        rows.append(
            (i, " ".join(words[: 3 + i % 17]), langs[i % len(langs)],
             f"src{i % 4}", 0)
        )
    return spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )


def test_stratified_sample_partition_invariant(spark):
    docs = _docs(spark)
    a = curation.stratified_sample(docs, {"en": 30}).select("doc_id")
    b = curation.stratified_sample(docs.repartition(7), {"en": 30}).select(
        "doc_id"
    )
    assert sorted(r[0] for r in a.collect()) == sorted(
        r[0] for r in b.collect()
    )
    # non-en strata untouched at default 100%
    kept = curation.stratified_sample(docs, {"en": 30})
    n_docs = docs.where("lang <> 'en'").count()
    assert kept.where("lang <> 'en'").count() == n_docs


def test_stratified_sample_rate_zero_and_full(spark):
    docs = _docs(spark)
    assert curation.stratified_sample(docs, {"en": 0}).where(
        "lang = 'en'"
    ).count() == 0
    assert (
        curation.stratified_sample(docs, {}, default_pct=100).count()
        == docs.count()
    )


def test_quota_per_source_cap_and_order(spark):
    docs = _docs(spark)
    out = curation.quota_per_source(docs, 5).collect()
    per = {}
    for r in out:
        per.setdefault(r["source"], []).append(r)
    for src, rows in per.items():
        assert len(rows) <= 5
        rows.sort(key=lambda r: r["rk"])
        # quality non-increasing down the ranks, ids break ties upward
        for a, b in zip(rows, rows[1:]):
            assert (a["quality"], -a["doc_id"]) >= (b["quality"], -b["doc_id"])


def test_pack_sequences_bins_monotone_and_bounded(spark):
    docs = _docs(spark)
    out = curation.pack_sequences(docs, budget=32, shard_rows=50).collect()
    groups = {}
    for r in out:
        groups.setdefault((r["lang"], r["pack_shard"]), []).append(r)
    for key, rows in groups.items():
        rows.sort(key=lambda r: r["doc_id"])
        cum = 0
        prev_bin = 0
        for r in rows:
            # bin = floor(start offset / budget), computed from running sum
            assert r["bin_idx"] == cum // 32
            cum += r["n_tokens"]
            assert r["cum_tokens"] == cum
            assert r["bin_idx"] >= prev_bin
            prev_bin = r["bin_idx"]


def test_decontaminate_benchmark_self_hits(spark):
    docs = _docs(spark)
    out = {r["doc_id"]: r for r in curation.decontaminate(docs, 7).collect()}
    assert len(out) == docs.count()
    from ocr_engine_spark.functions import textfns as X

    ntoks = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", X.ws_token_count_col("text").alias("n")
        ).collect()
    }
    for i, r in out.items():
        if i % 7 == 0 and ntoks[i] >= 3:
            # benchmark docs with >=1 shingle always self-contaminate
            assert r["contaminated"] and r["n_hit_shingles"] >= 1
        assert r["contaminated"] == (r["n_hit_shingles"] > 0)


def test_shuffle_permutation_total_and_matches_global_window(spark):
    docs = _docs(spark, n=300)
    out = curation.shuffle_permutation(docs, buckets=16)
    got = {r["doc_id"]: r["shuffle_pos"] for r in out.collect()}
    assert sorted(got.values()) == list(range(1, 301))
    # equivalence to the single-partition global window it replaces
    key = curation._decision_hash("shuffle")
    ref = docs.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(key, "doc_id"))
        .alias("pos"),
    )
    want = {r["doc_id"]: r["pos"] for r in ref.collect()}
    assert got == want
    # partitioning must not change the permutation
    got2 = {
        r["doc_id"]: r["shuffle_pos"]
        for r in curation.shuffle_permutation(
            docs.repartition(11), buckets=16
        ).collect()
    }
    assert got2 == got


def test_quota_salted_rewrite_identical(spark):
    docs = _docs(spark, n=240)
    base = sorted(
        (r["source"], r["doc_id"], r["rk"])
        for r in curation.quota_per_source(docs, 5).collect()
    )
    for salt in (2, 4, 7):
        salted = sorted(
            (r["source"], r["doc_id"], r["rk"])
            for r in curation.quota_per_source(
                docs, 5, salt_buckets=salt
            ).collect()
        )
        assert salted == base
