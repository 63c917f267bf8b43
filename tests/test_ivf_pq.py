"""IVF sweep / IVF×PQ consistency invariants (round 4) on a small
deterministic embedding table — the driver gate hash-verifies the
end-to-end queries; these pin the composition laws the catalog
entries rely on."""

from __future__ import annotations

import hashlib

import pytest

from ocr_engine_spark.operators import similarity


def _vec(i: int, dims: int = 8):
    # deterministic pseudo-random floats in [-1, 1)
    return [
        (int(hashlib.md5(f"{i}:{d}".encode()).hexdigest()[:4], 16) / 32768.0) - 1.0
        for d in range(dims)
    ]


@pytest.fixture(scope="module")
def emb(spark):
    rows = [(i, _vec(i)) for i in range(60)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_sweep_matches_per_nprobe_topk(spark, emb):
    cents = [_vec(100), _vec(101), _vec(102), _vec(103)]
    q = _vec(999)
    sweep = {
        (r["nprobe"], r["vec_id"])
        for r in similarity.ivf_topk_sweep(
            emb, cents, q, similarity.cosine_to_col(q), k=5
        ).collect()
    }
    for np_ in (1, 2, 3, 4):
        want = {
            (np_, r["vec_id"])
            for r in similarity.ivf_topk(emb, cents, q, k=5, nprobe=np_).collect()
        }
        got = {t for t in sweep if t[0] == np_}
        assert got == want, f"nprobe={np_}"


def test_pq_sweep_matches_per_nprobe_ivf_pq_topk(spark, emb):
    """The IVF×PQ recall sweep scores one coded projection by ADC; each
    nprobe's rows must be ``ivf_pq_topk``'s at that nprobe."""
    cents = [_vec(100), _vec(101), _vec(102), _vec(103)]
    cb = similarity.pq_codebooks(2, 4, 4)
    q = _vec(999)
    coded = emb.withColumn("pq_code", similarity.pq_code_col(cb))
    score = similarity.pq_adc_score_col(similarity.pq_adc_lut(q, cb))
    sweep = {
        (r["nprobe"], r["vec_id"], r["score"])
        for r in similarity.ivf_topk_sweep(coded, cents, q, score, k=5).collect()
    }
    for np_ in (1, 2, 3, 4):
        want = {
            (np_, r["vec_id"], r["adc_score"])
            for r in similarity.ivf_pq_topk(emb, cents, cb, q, k=5, nprobe=np_).collect()
        }
        assert {t for t in sweep if t[0] == np_} == want, f"nprobe={np_}"


def test_ivf_pq_all_lists_equals_pq_alone(spark, emb):
    """nprobe = num_lists prunes nothing, so IVFADC must reduce to the
    plain ADC ranking — the endpoint the recall query pins."""
    cents = [_vec(100), _vec(101), _vec(102), _vec(103)]
    cb = similarity.pq_codebooks(2, 4, 4)
    q = _vec(999)
    ivfpq = [
        (r["vec_id"], r["adc_score"])
        for r in similarity.ivf_pq_topk(emb, cents, cb, q, k=5, nprobe=4).collect()
    ]
    pq = [
        (r["vec_id"], r["adc_score"])
        for r in similarity.pq_adc_topk(emb, cb, q, k=5).collect()
    ]
    assert ivfpq == pq


def test_ivf_pq_candidates_subset_of_probed_lists(spark, emb):
    cents = [_vec(100), _vec(101), _vec(102), _vec(103)]
    cb = similarity.pq_codebooks(2, 4, 4)
    q = _vec(999)
    probes = set(similarity.ivf_probe_lists(cents, q, 2))
    assign = {
        r["vec_id"]: r["centroid"]
        for r in similarity.ivf_assignments(emb, cents).collect()
    }
    got = similarity.ivf_pq_topk(emb, cents, cb, q, k=50, nprobe=2).collect()
    assert got, "probed lists must not be empty on this fixture"
    for r in got:
        assert assign[r["vec_id"]] in probes
