"""Multi-probe LSH mask properties (similarity.multiprobe_masks) —
the driver gate covers the end-to-end queries; these pin the probe-set
arithmetic itself."""

from __future__ import annotations

from math import comb

from ocr_engine_spark.operators.similarity import bucket_of, multiprobe_masks


def test_mask_counts_are_binomial_sums():
    for n in (4, 8):
        for r in range(0, 3):
            masks = multiprobe_masks(n, r)
            assert len(masks) == sum(comb(n, i) for i in range(r + 1))
            assert len(set(masks)) == len(masks)


def test_masks_have_bounded_popcount_and_width():
    masks = multiprobe_masks(8, 2)
    assert 0 in masks  # radius 0 probe = the query bucket itself
    for m in masks:
        assert m < 2 ** 8
        assert bin(m).count("1") <= 2


def test_probe_sets_nest_by_radius():
    prev: set = set()
    for r in range(0, 4):
        cur = set(multiprobe_masks(8, r))
        assert prev <= cur
        prev = cur


def test_bucket_of_matches_mask_flip_semantics():
    # flipping exactly the sign of plane j moves the bucket by xor(1<<j)
    planes = [[1, -1], [-1, 1]]
    vec = [2.0, 1.0]  # plane0 dot = 1 > 0; plane1 dot = -1 < 0
    assert bucket_of(vec, planes) == 1
    flipped = [[-1, 1], [-1, 1]]  # negate plane 0
    assert bucket_of(vec, flipped) == bucket_of(vec, planes) ^ 1


def test_pq_code_packs_16_segments_of_2_bits():
    from ocr_engine_spark.operators.similarity import pq_codebooks

    cb = pq_codebooks(16, 4, 4)
    assert len(cb) == 16 and len(cb[0]) == 4 and len(cb[0][0]) == 4
    assert all(v in (-1.0, -0.5, 0.5, 1.0) for s in cb for c in s for v in c)
    # no segment may have two identical codewords (argmax would tie
    # permanently and waste a code)
    for s in cb:
        assert len({tuple(c) for c in s}) == 4


def test_pq_adc_lut_matches_manual_dot():
    from ocr_engine_spark.operators.similarity import pq_adc_lut, pq_codebooks

    cb = pq_codebooks(2, 4, 4)
    q = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]
    lut = pq_adc_lut(q, cb)
    assert len(lut) == 2 and len(lut[0]) == 4
    expect = sum(a * b for a, b in zip(q[4:], cb[1][2]))
    assert lut[1][2] == expect


def test_ivf_probe_lists_rank_and_nest():
    from ocr_engine_spark.operators.similarity import ivf_probe_lists

    cents = [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0], [0.5, 0.5]]
    q = [2.0, 1.0]
    # dots: 2.0, 1.0, -2.0, 1.5 → ranking 1, 4, 2, 3
    assert ivf_probe_lists(cents, q, 4) == [1, 4, 2, 3]
    # probe sets nest: probes(n) is a prefix of probes(n+1) — the
    # invariant ivf_topk_sweep's sequence-explode relies on
    for n in range(1, 4):
        assert ivf_probe_lists(cents, q, n) == ivf_probe_lists(cents, q, 4)[:n]


def test_ivf_probe_lists_tie_breaks_lowest_index():
    from ocr_engine_spark.operators.similarity import ivf_probe_lists

    cents = [[1.0, 0.0], [1.0, 0.0], [0.0, 1.0]]
    assert ivf_probe_lists(cents, [1.0, 0.0], 2) == [1, 2]


def test_multiprobe_topk_is_one_filtered_scan(spark, tmp_path):
    """Multi-probe search filters on the bucket expression over the
    one scan: ``embeddings`` is read once and the plan has no join
    back to the source and no exchange before the final TakeOrdered."""
    from ocr_engine_spark.operators.similarity import (
        lsh_multiprobe_topk,
        plane_weight_lists,
    )

    rows = [(i, [float((i * 7 + d * 3) % 11 - 5) for d in range(8)])
            for i in range(64)]
    path = str(tmp_path / "embeddings.parquet")
    spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>").write.parquet(path)
    planes = plane_weight_lists(4, 8)
    query = rows[0][1]
    out = lsh_multiprobe_topk(spark.read.parquet(path), planes, query, k=5, radius=1)

    qe = out._jdf.queryExecution()
    optimized = qe.optimizedPlan().toString()
    assert optimized.count("Relation") == 1
    assert "Join" not in optimized
    assert "Exchange" not in qe.executedPlan().toString()

    probe = {bucket_of(query, planes) ^ m for m in multiprobe_masks(4, 1)}
    got = [r["vec_id"] for r in out.collect()]
    assert 0 < len(got) <= 5
    assert all(bucket_of(rows[i][1], planes) in probe for i in got)
