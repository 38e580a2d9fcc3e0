"""Similarity-search operators: exact top-k vs numpy baseline; LSH
recall against the exact result."""

from __future__ import annotations

import numpy as np
import pytest

from data_curator_spark.operators import similarity as S


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(13)
    # 3 clusters of 20 vectors in 16-d
    centers = rng.standard_normal((3, 16)) * 5
    vecs = []
    for ci in range(3):
        for _ in range(20):
            vecs.append(centers[ci] + rng.standard_normal(16) * 0.5)
    arr = np.array(vecs, dtype=np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in arr[i]]) for i in range(len(arr))],
        "vec_id long, embedding array<float>",
    )
    return df, arr


def _numpy_topk(arr, qids, k):
    a = arr.astype(np.float64)
    norms = np.linalg.norm(a, axis=1)
    sims = (a @ a.T) / np.outer(norms, norms)
    out = {}
    for q in qids:
        s = np.round(sims[q], 6)
        order = sorted(
            (i for i in range(len(a)) if i != q), key=lambda i: (-s[i], i)
        )
        out[q] = [(i, s[i]) for i in order[:k]]
    return out


def test_cosine_topk_matches_numpy(spark, vectors):
    df, arr = vectors
    queries = df.filter("vec_id < 4")
    out = S.cosine_topk(queries, df, "vec_id", "embedding", k=5).collect()
    want = _numpy_topk(arr, range(4), 5)
    got = {}
    for r in out:
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["sim"]))
    for q in range(4):
        got_q = [(n, s) for _, n, s in sorted(got[q])]
        for (gn, gs), (wn, ws) in zip(got_q, want[q]):
            assert gn == wn
            assert gs == pytest.approx(ws, abs=1e-6)


def test_topk_same_cluster(spark, vectors):
    df, arr = vectors
    out = S.cosine_topk(df.filter("vec_id = 0"), df, "vec_id", "embedding", k=5).collect()
    # neighbors of a cluster-0 vector are cluster-0 vectors (ids 0..19)
    assert all(r["neighbor_id"] < 20 for r in out)


def test_lsh_ann_recall(spark, vectors):
    df, arr = vectors
    queries = df.filter("vec_id < 4")
    exact = S.cosine_topk(queries, df, "vec_id", "embedding", k=5).collect()
    approx = S.lsh_ann_topk(
        queries, df, "vec_id", "embedding", k=5, n_planes=6, n_tables=6, dim=16
    ).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    assert np.mean(recalls) >= 0.8  # clustered data, 6 tables → high recall


def test_norm_and_dot_precision(spark, vectors):
    df, arr = vectors
    from pyspark.sql import functions as F

    out = df.select("vec_id", S.l2_norm(F.col("embedding")).alias("l2")).collect()
    a = arr.astype(np.float64)
    for r in out:
        # left-to-right double fold == numpy cumulative within fp tolerance
        assert r["l2"] == pytest.approx(np.linalg.norm(a[r["vec_id"]]), rel=1e-12)


def test_ivf_ann_recall(spark, vectors):
    """IVF with enough probes recovers the exact top-k on clustered data;
    centroids converge to the true cluster structure."""
    df, arr = vectors
    queries = df.filter("vec_id < 4")
    exact = S.cosine_topk(queries, df, "vec_id", "embedding", k=5).collect()
    approx = S.ivf_ann_topk(
        queries, df, "vec_id", "embedding", k=5,
        n_centroids=6, n_probe=3, iters=4, dim=16,
    ).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    import numpy as np

    assert np.mean(recalls) >= 0.8


def test_ivf_centroids_deterministic(spark, vectors):
    df, _ = vectors
    x = S._training_matrix(df.toArrow(), 16)
    c1 = S.train_ivf_centroids(x, n_centroids=4, iters=2)
    c2 = S.train_ivf_centroids(x, n_centroids=4, iters=2)
    assert c1 == c2


def test_embedding_near_dup_pairs(spark, vectors):
    """LSH-blocked cosine near-dup: perturbed copies are found, far
    pairs excluded; candidates verified by exact cosine."""
    import numpy as np
    from pyspark.sql import functions as F

    df, arr = vectors
    # append near-dups of vectors 0..2 (tiny perturbation of one coord)
    pert = df.filter("vec_id < 3").select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x, i: F.when(i == 0, x + F.lit(0.01)).otherwise(x)
        ).cast("array<float>").alias("embedding"),
    )
    u = df.unionByName(pert)
    out = S.embedding_near_dup_pairs(
        u, "vec_id", "embedding", threshold=0.999, n_planes=8, n_tables=8, dim=16
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in out}
    for i in range(3):
        assert (i, i + 1000) in got
    # verify step bounds sims: everything reported really is >= threshold
    a = arr.astype(np.float64)
    norms = np.linalg.norm(a, axis=1)
    sims = (a @ a.T) / np.outer(norms, norms)
    for pa, pb in got:
        if pa < 1000 and pb < 1000:
            assert sims[pa, pb] >= 0.999 - 1e-6


def test_ivf_cells_partition_pruned_storage(spark, vectors, tmp_path):
    """The IVF docstring's scale claim made real: cells written as a
    partition column let a probed query scan ONLY the probed cells
    (PartitionFilters metadata pruning), not the whole corpus."""
    from pyspark.sql import functions as F

    df, arr = vectors
    cents = S.train_ivf_centroids(arr, n_centroids=4, iters=2)
    out = str(tmp_path / "ivf_cells")
    cell = F.element_at(S._nearest_expr("embedding", cents, 1), 1)
    df.withColumn("cell", cell).write.partitionBy("cell").parquet(out)
    probed = spark.read.parquet(out).filter(F.col("cell").isin([0, 2]))
    plan = probed._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "cell" in pf_line
    # and the probed scan reads only the probed cells' files
    files = {f for f in probed.inputFiles()} if hasattr(probed, "inputFiles") else set()
    # inputFiles is pre-pruning on some versions; the PartitionFilters
    # assertion above is the load-bearing check
    assert probed.count() > 0


def test_pandas_assigner_bit_matches_expression_path(spark, vectors):
    """The broadcast-matrix pandas assigner (large-centroid path) must
    produce IDENTICAL cell ids to the expression tree — same sequential
    fold over dimensions, same first-min tie-break — or the trained
    cascade and the oracle replica desynchronize."""
    from pyspark.sql import functions as F

    df, arr = vectors
    cents = S.train_ivf_centroids(arr, n_centroids=8, iters=2)
    expr = df.select(
        "vec_id", F.element_at(S._nearest_expr("embedding", cents, 1), 1).alias("cell")
    ).collect()
    udf = df.select(
        "vec_id",
        F.element_at(S._nearest_cells_udf(cents, 1)(F.col("embedding")), 1).alias("cell"),
    ).collect()
    assert {r["vec_id"]: r["cell"] for r in expr} == {
        r["vec_id"]: r["cell"] for r in udf
    }
    # probe lists too: top-3 cells per vector, same order
    dists = np.zeros((len(arr), len(cents)))
    C = np.array(cents)
    a = arr.astype(np.float64)
    for j in range(C.shape[1]):
        t = a[:, j, None] - C[None, :, j]
        dists += t * t
    want = np.argsort(dists, axis=1, kind="stable")[:, :3]
    got = df.select(
        "vec_id",
        S._nearest_cells_udf(cents, 3)(F.col("embedding")).alias("p"),
        S._nearest_expr("embedding", cents, 3).alias("e"),
    ).collect()
    for r in got:
        assert list(r["p"]) == list(r["e"]) == [int(x) for x in want[r["vec_id"]]]


def test_ivf_256_centroids_reasonable(spark):
    """VERDICT r2 #6 'done' criterion: training + assignment with 256
    centroids completes sanely (the expression path would build a
    256-fold Catalyst tree per row; the pandas path must kick in above
    ASSIGN_EXPR_MAX_CENTROIDS)."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    assert 256 > S.ASSIGN_EXPR_MAX_CENTROIDS
    x = S._training_matrix(emb.select("vec_id", "embedding").toArrow(), 64)
    cents = S.train_ivf_centroids(x, n_centroids=256, iters=2, seed=42)
    assert len(cents) == 256 and len(cents[0]) == 64
    out = S.ivf_ann_topk(
        emb.filter(F.col("vec_id") < 3), emb, "vec_id", "embedding",
        k=3, n_centroids=256, n_probe=8, iters=2,
    )
    rows = out.collect()
    assert len(rows) > 0
    assert all(0 <= r["rank"] <= 3 for r in rows)


def test_assigners_agree_on_null_and_ragged_vectors(spark):
    """Review r3: both assignment paths must yield NULL for null /
    wrong-width vectors — previously the expression path silently put
    them in cell 0 while the UDF crashed or nulled, breaking the
    bit-identical contract between the small- and large-centroid paths."""
    from pyspark.sql import functions as F

    cents = [[0.0, 0.0], [1.0, 1.0]]
    df = spark.createDataFrame(
        [(0, [0.9, 0.9]), (1, None), (2, [0.5]), (3, [0.1, 0.1])],
        "vec_id long, embedding array<float>",
    )
    expr = {
        r["vec_id"]: r["cell"]
        for r in df.select(
            "vec_id", F.element_at(S._nearest_expr("embedding", cents, 1), 1).alias("cell")
        ).collect()
    }
    udf = {
        r["vec_id"]: r["cell"]
        for r in df.select(
            "vec_id",
            F.element_at(S._nearest_cells_udf(cents, 1)(F.col("embedding")), 1).alias("cell"),
        ).collect()
    }
    assert expr == udf == {0: 1, 1: None, 2: None, 3: 0}


def test_ivf_tolerates_bad_corpus_and_query_vectors(spark):
    """Review r3b: ragged/null vectors anywhere in IVF must be skipped,
    not crash training (None group key) or emit sim=NULL rankings —
    and the expression and UDF probe branches must agree on dropping
    bad queries."""
    from pyspark.sql import Row

    good = [Row(vec_id=i, embedding=[float(i), float(i) + 1.0]) for i in range(8)]
    bad = [Row(vec_id=100, embedding=None), Row(vec_id=101, embedding=[0.5])]
    df = spark.createDataFrame(good + bad, "vec_id long, embedding array<float>")

    x = S._training_matrix(df.toArrow(), 2)
    assert x.shape == (8, 2)
    cents = S.train_ivf_centroids(x, n_centroids=2, iters=2, seed=1)
    assert len(cents) == 2 and all(len(c) == 2 for c in cents)

    out = S.ivf_ann_topk(
        df, df, "vec_id", "embedding", k=2, n_centroids=2, n_probe=2, iters=2, dim=2, seed=1
    )
    rows = out.collect()
    qids = {r["query_id"] for r in rows}
    assert 100 not in qids and 101 not in qids  # bad queries dropped
    assert all(r["sim"] is not None for r in rows)
    # force the UDF branch by lowering the threshold: identical output
    import data_curator_spark.operators.similarity as sim_mod

    old = sim_mod.ASSIGN_EXPR_MAX_CENTROIDS
    sim_mod.ASSIGN_EXPR_MAX_CENTROIDS = 1
    try:
        out_udf = S.ivf_ann_topk(
            df, df, "vec_id", "embedding", k=2, n_centroids=2, n_probe=2, iters=2, dim=2, seed=1
        ).collect()
    finally:
        sim_mod.ASSIGN_EXPR_MAX_CENTROIDS = old
    assert sorted(map(tuple, out_udf)) == sorted(map(tuple, rows))


def test_training_matrix_spark_equals_duckdb(spark, tmp_path):
    """ivf_ann_topk and pq_ann_topk train on the matrix built from
    Spark's toArrow(), the ann_ivf and pq_ann oracles on the one built
    from DuckDB's arrow(); the trainer is one function, so the models
    agree when the matrices do. Checked on sf0.01 embeddings, and on
    them plus hand rows read back through shuffled partitions: a NULL
    vector, a wrong-width vector and ids above 2^31. A NULL element
    inside a full-width vector raises."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    emb = "/root/testdata/sf0.01/embeddings.parquet"
    big = 1 << 31
    hand = pa.table(
        {
            "vec_id": pa.array([big + 9, big + 1, 3 * big, big + 5], pa.int64()),
            "embedding": pa.array(
                [[0.5] * 64, [-1.25] * 64, None, [1.0, 2.0]], pa.list_(pa.float32())
            ),
        }
    )
    pq.write_table(hand, tmp_path / "hand.parquet")
    n = pq.read_metadata(emb).num_rows

    def both(paths, shuffle):
        df = spark.read.parquet(*paths).select("vec_id", "embedding")
        if shuffle:
            df = df.repartition(7, F.rand(5))
        listed = ", ".join(f"'{p}'" for p in paths)
        duck = duckdb.sql(f"SELECT vec_id, embedding FROM read_parquet([{listed}])").arrow()
        return S._training_matrix(df.toArrow(), 64), S._training_matrix(duck, 64)

    got, want = both([emb], shuffle=False)
    assert got.shape == (n, 64) and got.dtype == np.float64
    assert np.array_equal(got, want)
    got, want = both([emb, str(tmp_path / "hand.parquet")], shuffle=True)
    assert got.shape == (n + 2, 64)
    assert np.array_equal(got, want)
    assert np.array_equal(got[-2:], [[-1.25] * 64, [0.5] * 64])  # ids big+1, big+9

    holed = pa.table({"vec_id": [1, 2], "embedding": [[1.0, 2.0], [None, 2.0]]})
    with pytest.raises(ValueError, match="NULL element"):
        S._training_matrix(holed, 2)


def _outliers(df, k, **kw):
    """The centroid_outliers gate query's top-k form: semdedup_prune's
    rows filtered to outlier_rank <= k."""
    return S.semdedup_prune(df, "vec_id", "vec", "grp", eps=0.5, **kw).filter(
        f"outlier_rank <= {k}"
    )


def test_centroid_outliers_flags_the_planted_outlier(spark):
    # group 'a': 9 vectors near (1, 0), one planted at (-1, 0)
    rows = [(i, "a", [1.0, 0.01 * i]) for i in range(9)]
    rows.append((99, "a", [-1.0, 0.0]))
    rows += [(200 + i, "b", [0.0, 1.0]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, grp string, vec array<float>")
    out = _outliers(df, 2)
    got = {(r.grp, r.outlier_rank): r.vec_id for r in out.collect()}
    assert got[("a", 1)] == 99  # the planted outlier ranks first
    assert len([k for k in got if k[0] == "a"]) == 2
    assert len([k for k in got if k[0] == "b"]) == 2


def test_centroid_outliers_null_and_zero_vectors(spark):
    rows = [
        (1, "g", [1.0, 1.0]),
        (2, "g", [1.0, 0.9]),
        (3, "g", [0.0, 0.0]),   # zero vector -> null sim, ranks first
        (4, "g", None),         # null vector -> excluded entirely
    ]
    df = spark.createDataFrame(rows, "vec_id long, grp string, vec array<float>")
    out = _outliers(df, 10).collect()
    ids = [r.vec_id for r in sorted(out, key=lambda r: r.outlier_rank)]
    assert 4 not in ids
    assert ids[0] == 3
    assert next(r for r in out if r.vec_id == 3).centroid_sim is None


def test_centroid_outliers_validation(spark):
    df = spark.createDataFrame([(1, "g", [1.0])], "vec_id long, grp string, vec array<float>")
    with pytest.raises(ValueError, match="scale_bits"):
        _outliers(df, 1, scale_bits=30)


def test_centroid_outliers_dim_filter_excludes_ragged(spark):
    rows = [
        (1, "g", [1.0, 0.0]),
        (2, "g", [0.9, 0.1]),
        (3, "g", [1.0]),  # ragged
    ]
    df = spark.createDataFrame(rows, "vec_id long, grp string, vec array<float>")
    out = _outliers(df, 10, dim=2).collect()
    assert {r.vec_id for r in out} == {1, 2}


def test_semdedup_prune_drops_redundant_keeps_diverse(spark):
    from data_curator_spark.operators.similarity import semdedup_prune

    # three near-identical vectors + one orthogonal; the survivor of
    # the near-dup trio is the member LEAST similar to the centroid
    rows = [
        (1, "a", [1.0, 0.0]),
        (2, "a", [1.0, 0.01]),
        (3, "a", [1.0, -0.01]),
        (4, "a", [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, grp string, vec array<float>")
    out = {r.vec_id: r for r in
           semdedup_prune(df, "vec_id", "vec", "grp", eps=0.9).collect()}
    assert len(out) == 4  # every valid row gets a decision
    # v3 has the lowest centroid_sim of the trio -> survives; 1,2 drop
    assert not out[3].semdedup_drop and out[3].drop_against is None
    assert not out[4].semdedup_drop  # orthogonal: no near-dup at 0.9
    assert out[1].semdedup_drop and out[1].drop_against == 3
    assert out[2].semdedup_drop and out[2].drop_against == 3
    # outlier rank: 1 = farthest from the centroid
    assert out[4].outlier_rank == 1
    # and the decision columns are consistent with the sims
    assert out[3].centroid_sim < out[1].centroid_sim
    assert out[3].centroid_sim < out[2].centroid_sim


def test_semdedup_null_sim_rows_never_drop_nor_defeat(spark):
    from data_curator_spark.operators.similarity import semdedup_prune

    rows = [
        (1, "g", [1.0, 0.0]),
        (2, "g", [1.0, 0.001]),
        (3, "g", [0.0, 0.0]),  # zero vector: null centroid_sim
    ]
    df = spark.createDataFrame(rows, "vec_id long, grp string, vec array<float>")
    out = {r.vec_id: r for r in
           semdedup_prune(df, "vec_id", "vec", "grp", eps=0.5).collect()}
    assert out[3].centroid_sim is None
    assert not out[3].semdedup_drop          # null never drops
    assert out[2].drop_against == 1          # and never defeats: 2 falls to 1
    assert not out[1].semdedup_drop


def test_semdedup_oversized_cluster_skips_pruning(spark):
    from data_curator_spark.operators.similarity import semdedup_prune

    rows = [(i, "g", [1.0, 0.0001 * i]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, grp string, vec array<float>")
    out = semdedup_prune(
        df, "vec_id", "vec", "grp", eps=0.5, max_cluster=3
    ).collect()
    assert len(out) == 5
    assert all(not r.semdedup_drop for r in out)  # guard degrades to keep-all



def test_hyperplane_signature_sql_matches_column_reference(spark):
    """The SQL-text hyperplane signature gives the buckets of the
    Column-built reference, with the plane sets of both LSH queries, on
    sf0.01 embeddings and on hand-built rows: a NULL vector, a NULL
    element, a zero vector and a vector shorter than the planes."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from __spark_entry__ import SF0001
    from data_curator_spark.operators.similarity import hyperplane_signature, plane_tables
    from tests import kernel_references as ref

    emb = spark.read.parquet(str(Path(SF0001).with_name("sf0.01") / "embeddings.parquet"))
    hand = spark.createDataFrame(
        [
            (-1, None),
            (-2, [0.25] * 10 + [None] + [-0.5] * 53),
            (-3, [0.0] * 64),
            (-4, [1.0, -2.0, 3.0]),
            (-5, [float(i % 7) - 3.0 for i in range(64)]),
        ],
        "vec_id long, embedding array<float>",
    )
    frame = emb.select("vec_id", "embedding").unionByName(hand)
    # lsh_ann_topk's and embedding_near_dup_pairs's default plane sets
    planes = plane_tables(8, 4, 64, 42) + plane_tables(12, 6, 64, 7)
    got = [hyperplane_signature("embedding", p).alias(f"s{t}") for t, p in enumerate(planes)]
    want = [
        ref.hyperplane_signature(F.col("embedding"), p).alias(f"r{t}")
        for t, p in enumerate(planes)
    ]
    out = frame.select("vec_id", *got, *want)
    assert {f.dataType.simpleString() for f in out.schema.fields} == {"bigint"}
    rows = {r.vec_id: r for r in out.collect()}
    assert len(rows) == emb.count() + 5
    for r in rows.values():
        assert [r[f"s{t}"] for t in range(len(planes))] == [
            r[f"r{t}"] for t in range(len(planes))
        ], r.vec_id
    full = (1 << 12) - 1
    assert rows[-1].s4 == rows[-2].s4 == rows[-4].s4 == 0  # NULL dot: bit off
    assert rows[-3].s4 == full  # dot 0 >= 0: every bit on
    assert 0 < rows[-5].s4 < full
