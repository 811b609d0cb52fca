"""Similarity-search semantics: exact cosine top-k, and the LSH bucketed
path agreeing with brute force on what it retrieves."""

from __future__ import annotations

import math

import pytest

from graven_spark.operators import simsearch


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite
        (4, [0.7, 0.7, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_order(spark, vecs):
    got = simsearch.cosine_topk(vecs, [1.0, 0.0, 0.0, 0.0], k=3).collect()
    assert [r.vec_id for r in got] == [0, 1, 4]
    assert got[0].cos_sim == 1.0
    assert abs(got[1].cos_sim - 0.9 / math.sqrt(0.82)) < 1e-3


def test_lsh_bucket_contains_query_neighborhood(spark, vecs):
    q = [1.0, 0.0, 0.0, 0.0]
    got = simsearch.lsh_bucketed_topk(vecs, q, k=5, n_planes=2).collect()
    ids = [r.vec_id for r in got]
    assert 0 in ids  # the identical vector always lands in the query bucket
    # every returned vector's own SRP bucket equals the query bucket
    qb = simsearch._query_bucket(q, 2)
    planes = [simsearch._hyperplane(4, p) for p in range(2)]
    for r in got:
        row = [v for v in vecs.collect() if v.vec_id == r.vec_id][0]
        b = 0
        for p, plane in enumerate(planes):
            if sum(x * y for x, y in zip(row.embedding, plane)) >= 0:
                b |= 1 << p
        assert b == qb


def test_brute_force_superset_of_lsh(spark, vecs):
    q = [1.0, 0.0, 0.0, 0.0]
    brute = {r.vec_id: r.cos_sim for r in simsearch.cosine_topk(vecs, q, k=5).collect()}
    lsh = {r.vec_id: r.cos_sim for r in simsearch.lsh_bucketed_topk(vecs, q, k=5, n_planes=2).collect()}
    for vid, sim in lsh.items():
        assert brute[vid] == sim  # same scores for what both retrieve


def test_embed_near_dup_pairs_and_drop(spark):
    """Planted near-dups are found once (id_a < id_b) with the right cosine;
    far pairs and cross-bucket pairs are absent; drop list keeps lowest id."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 0
        (2, [0.998, 0.02, 0.0, 0.0]),   # near-dup of 0 and 1
        (3, [0.0, 1.0, 0.0, 0.0]),      # orthogonal: below threshold
        (4, [-1.0, 0.0, 0.0, 0.0]),     # opposite: different SRP bucket
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = simsearch.embed_near_dup(vecs, threshold=0.9, dim=4, n_planes=2)
    got = {(r.id_a, r.id_b): r.cos_sim for r in pairs.collect()}
    assert set(got) == {(0, 1), (0, 2), (1, 2)}
    assert all(r[0] < r[1] for r in got)
    assert got[(0, 1)] > 0.999
    drops = {r.drop_id for r in simsearch.near_dup_drop_ids(pairs).collect()}
    assert drops == {1, 2}  # 0 survives as the lowest id of its cluster


def test_embed_near_dup_never_crosses_buckets(spark):
    """Identical vectors in DIFFERENT SRP buckets are never compared — the
    bucket key bounds the candidate set (recall/cost tradeoff by design)."""
    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [-1.0, 0.0, 0.0, 0.0])]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # cosine(0,1) = -1 < any threshold anyway; use threshold=-2 so ONLY the
    # bucket rule can exclude the pair
    pairs = simsearch.embed_near_dup(vecs, threshold=-2.0, dim=4, n_planes=2)
    assert pairs.count() == 0


def test_embed_near_dup_zero_norm_survives_ansi(spark):
    """A zero-norm embedding (empty document) shares the all-ones SRP bucket
    with every dot>=0 vector; under ANSI (Spark 4 default) a plain ``/``
    cosine would abort the whole job with DIVIDE_BY_ZERO. try_divide yields
    NULL, which the threshold filter drops — the job completes and real
    pairs are unaffected."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),      # zero-norm: must not kill the run
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = simsearch.embed_near_dup(vecs, threshold=0.9, dim=4, n_planes=2)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(0, 1)}


def test_cosine_topk_drops_null_scores(spark):
    """Zero-norm vectors score NULL (try_divide). With more of them than
    scored vectors and k above the scored count, the top-k must return only
    the scored vectors, not pad the limit with NULL rows."""
    rows = [(i, [0.0, 0.0, 0.0, 0.0]) for i in range(10, 16)] + [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = simsearch.cosine_topk(vecs, [1.0, 0.0, 0.0, 0.0], k=5).collect()
    assert [(r.vec_id, r.cos_sim) for r in got] == [(0, 1.0), (1, 0.0)]
