"""Product quantization: codebook determinism, encode invariance,
ADC+re-rank recall vs exact cosine."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def emb(spark):
    # clustered embeddings: 8 well-separated centers, 40 points each
    rng = np.random.default_rng(7)
    centers = rng.normal(0, 10, (8, 64))
    rows = []
    i = 0
    for c in range(8):
        for _ in range(40):
            v = centers[c] + rng.normal(0, 0.5, 64)
            rows.append((i, [float(x) for x in v]))
            i += 1
    return spark.createDataFrame(rows, "id long, vec array<float>")


def test_pq_encode_deterministic_and_partitioning_invariant(spark, emb):
    from data_curator_spark.operators.similarity import (
        _training_matrix,
        pq_encode,
        train_pq_codebooks,
    )

    books = train_pq_codebooks(_training_matrix(emb.toArrow(), 64), m=8, k=16)
    assert len(books) == 8 and all(len(b[0]) == 8 for b in books)
    a = {r.id: tuple(r.pq_code) for r in pq_encode(emb, "id", "vec", books).collect()}
    b = {
        r.id: tuple(r.pq_code)
        for r in pq_encode(
            emb.repartition(16, F.rand(1)), "id", "vec", books
        ).collect()
    }
    assert a == b
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c) for c in a.values())
    # clustered data: same-cluster points share most code positions
    codes = list(a.values())
    same = sum(
        sum(x == y for x, y in zip(codes[i], codes[i + 1]))
        for i in range(0, 300, 40)
    )
    assert same > 40  # near-identical codes within clusters


def test_pq_ann_recall_vs_exact(spark, emb):
    from data_curator_spark.operators.similarity import (
        cosine_topk,
        pq_ann_topk,
    )

    queries = emb.filter(F.col("id") % 40 == 0)  # one per cluster
    exact = cosine_topk(queries, emb, "id", "vec", k=10)
    approx = pq_ann_topk(
        queries, emb, "id", "vec", k=10, m=8, n_codes=16, refine=4, dim=64
    )
    e = {}
    for r in exact.collect():
        e.setdefault(r.query_id, set()).add(r.neighbor_id)
    g = {}
    for r in approx.collect():
        g.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(g) == set(e)
    recalls = [len(e[q] & g[q]) / len(e[q]) for q in e]
    assert sum(recalls) / len(recalls) >= 0.8, recalls
    # the re-rank similarity is EXACT cosine: every returned sim must
    # match the exact query's sim for the same pair
    exact_sim = {(r.query_id, r.neighbor_id): r.sim for r in exact.collect()}
    for r in approx.collect():
        key = (r.query_id, r.neighbor_id)
        if key in exact_sim:
            assert abs(r.sim - exact_sim[key]) < 1e-9


def test_pq_ann_refuses_more_queries_than_the_cap(spark, emb, monkeypatch):
    """Past PQ_MAX_QUERIES, pq_ann_topk raises; it never drops the
    queries beyond the cap. Past TRAIN_MAX_VECTORS corpus rows, both
    trained ANN operators raise; they never train on a truncated
    corpus. At the caps every query is answered."""
    from data_curator_spark.operators import similarity

    monkeypatch.setattr(similarity, "PQ_MAX_QUERIES", 2)
    opts = dict(k=3, m=8, n_codes=16, refine=2, dim=64)
    three = emb.filter(F.col("id").isin(0, 40, 80))
    with pytest.raises(ValueError, match="PQ_MAX_QUERIES=2"):
        similarity.pq_ann_topk(three, emb, "id", "vec", **opts)
    two = emb.filter(F.col("id").isin(0, 40))
    monkeypatch.setattr(similarity, "TRAIN_MAX_VECTORS", 319)
    with pytest.raises(ValueError, match="TRAIN_MAX_VECTORS=319"):
        similarity.pq_ann_topk(two, emb, "id", "vec", **opts)
    with pytest.raises(ValueError, match="TRAIN_MAX_VECTORS=319"):
        similarity.ivf_ann_topk(two, emb, "id", "vec", k=3, dim=64)
    monkeypatch.setattr(similarity, "TRAIN_MAX_VECTORS", 320)
    got = similarity.pq_ann_topk(two, emb, "id", "vec", **opts).collect()
    assert {r.query_id for r in got} == {0, 40}


def test_pq_validation_and_nulls(spark):
    from data_curator_spark.operators.similarity import (
        _training_matrix,
        pq_encode,
        train_pq_codebooks,
    )

    df = spark.createDataFrame(
        [(1, [float(i) for i in range(64)]), (2, None), (3, [1.0, 2.0])],
        "id long, vec array<double>",
    )
    x = _training_matrix(df.toArrow(), 64)
    assert x.shape == (1, 64)
    with pytest.raises(ValueError, match="m=7"):
        train_pq_codebooks(x, m=7)
    books = train_pq_codebooks(x, m=8, k=2)
    out = {r.id: r.pq_code for r in pq_encode(df, "id", "vec", books).collect()}
    assert out[1] is not None
    assert out[2] is None and out[3] is None  # null / wrong width
