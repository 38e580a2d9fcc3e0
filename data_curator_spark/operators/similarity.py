"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k as the exact baseline, and a random-hyperplane
LSH-bucketed variant as the scale path. All math is JVM-side
(``F.zip_with``/``F.aggregate`` fold into whole-stage codegen) — no
Python in the scoring loop.

Scale notes: brute force is a broadcast nested loop (queries broadcast,
corpus streamed — linear scan, embarrassingly parallel); the LSH variant
shuffles on the bucket key so each candidate set is a tiny fraction of
the corpus. Top-k per query uses a window rank over the per-bucket
candidates, not a global sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# pq_ann_topk collects its query vectors to the driver and builds one
# m×k lookup table per query there; more queries than this raise
# instead of collecting (~2M × 64 doubles ≈ 1 GB of driver memory at
# dim=64)
PQ_MAX_QUERIES = 2_000_000


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision (left-to-right fold, deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    d = l2_norm(a) * l2_norm(b)
    return F.when(d != 0, dot(a, b) / d)


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    sim_decimals: int | None = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Queries are broadcast (small side); the corpus is scanned once. Ties
    broken by neighbor id for determinism. ``sim_decimals`` rounds the
    similarity before ranking (oracle hash stability)."""
    # norms are precomputed ONCE PER ROW before the cross join — the
    # per-pair expression was re-folding l2_norm(q) and l2_norm(c) for
    # every (query, neighbor) combination (higher-order folds are
    # interpreted, not codegen'd: 3 array folds per pair → 1). The
    # product norm_q·norm_c is the identical IEEE multiplication the
    # fused cosine() computed, so similarities are bit-equal.
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qvec"),
            l2_norm(F.col(vec_col)).alias("__qnorm"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        l2_norm(F.col(vec_col)).alias("__cnorm"),
    )
    denom = F.col("__qnorm") * F.col("__cnorm")
    sim = F.when(denom != 0, dot(F.col("__qvec"), F.col("__cvec")) / denom)
    if sim_decimals is not None:
        sim = F.round(sim, sim_decimals)
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def plane_tables(
    n_planes: int, n_tables: int, dim: int, seed: int
) -> list[list[list[float]]]:
    """THE seeded hyperplane matrix — single source of truth shared by
    lsh_ann_topk, embedding_near_dup_pairs AND the DuckDB oracle
    generators (queries._bucket_cte_sql): the rng draw order here IS
    the contract; changing it in one consumer would silently desynchronize
    Spark buckets from oracle buckets."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return [
        [list(rng.standard_normal(dim)) for _ in range(n_planes)]
        for _ in range(n_tables)
    ]


def hyperplane_signature(vec_col: str, planes: list[list[float]]) -> Column:
    """LSH bucket id: sign pattern of dot products with fixed random
    hyperplanes, packed into a long.

    One SQL expression, not ``dim`` literal Columns per plane: bit ``i``
    is ``1 << i`` when the ``dot`` fold (double products summed left to
    right) with plane ``i`` is >= 0, and 0 when it is NULL (a NULL
    vector or element). Each plane is a string array cast to
    ``ARRAY<DOUBLE>``, so every float round-trips exactly through its
    ``repr``. The Column-built form is
    ``tests/kernel_references.py:hyperplane_signature``."""

    def bit(i: int, plane: list[float]) -> str:
        w = ", ".join(f"'{float(x)!r}'" for x in plane)
        d = (
            f"aggregate(zip_with(`{vec_col}`, CAST(array({w}) AS ARRAY<DOUBLE>), "
            "(x, y) -> CAST(x AS DOUBLE) * y), 0D, (acc, v) -> acc + v)"
        )
        return f"IF({d} >= 0, {1 << i}, 0)"

    return F.expr(
        "CAST(" + " + ".join(bit(i, p) for i, p in enumerate(planes)) + " AS BIGINT)"
    )


def lsh_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: ``n_tables`` independent random-hyperplane
    signatures; candidates = corpus rows sharing a (table, bucket) with
    the query; exact cosine re-rank within candidates.

    At 10^12 scale this replaces the linear scan with a bucket-key
    shuffle; recall grows with n_tables (union of candidate sets).

    Shuffle discipline (round-2 verdict fix): ONLY (id, table, bucket)
    rows cross the band self-join — the ×n_tables explode never carries
    a vector, and ``dropDuplicates`` runs over 2-column id pairs. Query
    and corpus vectors are re-attached exactly once AFTER pair-dedup
    (each join broadcast or shuffled as the session's byte threshold
    decides).
    Same shape as embedding_near_dup_pairs; plan-guarded by
    tests/test_plans.py::test_lsh_ann_band_join_is_ids_only."""
    tables = plane_tables(n_planes, n_tables, dim, seed)

    def with_buckets(df: DataFrame, side: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"{side}_id"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("table"),
                            hyperplane_signature(vec_col, planes).alias("bucket"),
                        )
                        for t, planes in enumerate(tables)
                    ]
                )
            ).alias("tb"),
        ).select(f"{side}_id", "tb.table", "tb.bucket")

    qb = with_buckets(queries, "query")
    cb = with_buckets(corpus, "neighbor")
    pairs = (
        qb.join(cb, on=["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__queryvec")
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__neighborvec")
    )
    sim = F.round(cosine(F.col("__queryvec"), F.col("__neighborvec")), 6)
    scored = (
        pairs.join(qv, "query_id")
        .join(cv, "neighbor_id")
        .select("query_id", "neighbor_id", sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 12,
    n_tables: int = 6,
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: random-hyperplane LSH
    blocks the corpus against itself (ids + bucket keys only through the
    self-join), exact cosine verifies candidates at ``threshold``.

    Output: (id_a, id_b, sim) with id_a < id_b, sim rounded to 6.
    Recall at threshold t grows with n_tables: a pair at angle θ
    collides in one table with p=(1−θ/π)^n_planes; defaults give
    ≥ 0.999 for cosine ≥ 0.95. At 10^12 scale this is the standard
    embedding-dedup shape: no all-pairs scan, vectors shuffle once for
    the verify re-attach, candidates shuffle on bucket keys."""
    tables = plane_tables(n_planes, n_tables, dim, seed)
    buckets = corpus.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("table"),
                        hyperplane_signature(vec_col, planes).alias("bucket"),
                    )
                    for t, planes in enumerate(tables)
                ]
            )
        ).alias("tb"),
    ).select(id_col, "tb.table", "tb.bucket")
    a = buckets.select(F.col(id_col).alias("id_a"), "table", "bucket")
    b = buckets.select(F.col(id_col).alias("id_b"), "table", "bucket")
    pairs = (
        a.join(b, on=["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    va = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    sim = F.round(cosine(F.col("__va"), F.col("__vb")), 6)
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means coarse quantizer + probed re-rank
# ---------------------------------------------------------------------------


# above this many centroids the per-centroid expression tree becomes a
# Catalyst liability (n_centroids aggregate-folds per row: ~dozens fine,
# 1024 pathological) — switch to the Arrow-batched matrix assigner, which
# ships ONE broadcast centroid matrix per task and does the distance math
# as numpy matrix ops
ASSIGN_EXPR_MAX_CENTROIDS = 32

# ivf_ann_topk and pq_ann_topk collect the corpus vectors to the driver
# to train there; more rows than this raise instead of collecting
# (1M × 64 doubles ≈ 0.5 GB per copy, and _training_matrix holds up to
# three while it filters, sorts and converts; the trainer's distances
# stay at 2 × TRAIN_BLOCK × k doubles, 256 MB at 256 centroids)
TRAIN_MAX_VECTORS = 1_000_000
# rows per distance block in train_ivf_centroids
TRAIN_BLOCK = 65_536


def _sq_dists(x, c):
    """(n, k) squared L2 distances between the rows of ``x`` (n × dim)
    and of ``c`` (k × dim), accumulated as a SEQUENTIAL fold over
    dimensions (d += (x_j − c_j)² in j order). That is the order of
    _nearest_expr's SQL aggregate fold and of the oracles' DuckDB
    list_sum; numpy's pairwise sum, einsum or matmul can differ by an
    ulp and flip a near-tie between the engines."""
    import numpy as np

    d = np.zeros((x.shape[0], c.shape[0]))
    t = np.empty_like(d)
    for j in range(c.shape[1]):
        np.subtract(x[:, j, None], c[None, :, j], out=t)
        np.multiply(t, t, out=t)
        d += t
    return d


def _nearest_expr(vec_col: str, centroids: list[list[float]], n: int) -> Column:
    """The ``n`` nearest centroid indexes of ``vec_col``, ascending by
    (squared L2, index): the _sq_dists fold written once as a SQL
    ``aggregate``, with each centroid a string array cast to
    ``ARRAY<DOUBLE>`` (exact round trip through ``repr``, as in
    hyperplane_signature) so that the expression costs one py4j call,
    not one per coordinate. A NULL or wrong-width vector yields NULL;
    unguarded, its null-poisoned distances would sort first and land
    every bad row in cells 0..n-1."""
    v = f"`{vec_col}`"

    def dist(c: list[float]) -> str:
        w = ", ".join(f"'{float(x)!r}'" for x in c)
        return (
            f"aggregate(zip_with({v}, CAST(array({w}) AS ARRAY<DOUBLE>), "
            "(a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)), "
            "0D, (acc, x) -> acc + x)"
        )

    ds = ", ".join(
        f"named_struct('d', {dist(c)}, 'i', {i})" for i, c in enumerate(centroids)
    )
    return F.expr(
        f"IF({v} IS NOT NULL AND size({v}) = {len(centroids[0])}, "
        f"transform(slice(array_sort(array({ds})), 1, {n}), s -> s.i), NULL)"
    )


def _per_vector_udf(width: int, kernel):
    """Arrow-batched pandas UDF returning ``array<int>`` per row:
    ``kernel`` maps the (n, width) float64 matrix of a batch's
    well-formed vectors to an (n, ·) int matrix. A NULL or wrong-width
    vector gets NULL, as in _nearest_expr, and must neither crash
    np.asarray (ragged rows) nor land in cell 0."""
    import numpy as np
    import pandas as pd

    # no type hints: PEP-563 string annotations (future-import above)
    # break pandas-UDF type inference; the explicit returnType governs
    def run(batch):
        rows = batch.tolist()
        valid = [i for i, r in enumerate(rows) if r is not None and len(r) == width]
        out = [None] * len(rows)
        if valid:
            got = kernel(np.asarray([rows[i] for i in valid], dtype=np.float64))
            for i, r in zip(valid, got.tolist()):
                out[i] = r
        return pd.Series(out)

    return F.pandas_udf(run, "array<int>")


def _nearest_cells_udf(centroids: list[list[float]], n_probe: int):
    """Arrow-batched assigner for LARGE centroid counts: embedding →
    array of the ``n_probe`` nearest cell ids, ascending by (distance,
    cell id) — the big-n_centroids twin of _nearest_expr, on the same
    _sq_dists fold and therefore bit-compatible with it and with the
    trainer. Ties break to the lowest cell id (stable argsort ==
    first-min struct)."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)  # (k, dim); broadcast per task
    return _per_vector_udf(
        C.shape[1],
        lambda X: np.argsort(_sq_dists(X, C), axis=1, kind="stable")[:, :n_probe],
    )


def _nearest_cells(vec_col: str, centroids: list[list[float]], n: int) -> Column:
    """The ``n`` nearest cell ids of ``vec_col``: the expression tree for
    small centroid counts, the broadcast-matrix pandas UDF above
    ASSIGN_EXPR_MAX_CENTROIDS (bit-identical by construction)."""
    if len(centroids) <= ASSIGN_EXPR_MAX_CENTROIDS:
        return _nearest_expr(vec_col, centroids, n)
    return _nearest_cells_udf(centroids, n)(F.col(vec_col))


def _training_matrix(tbl, dim: int):
    """The (n, dim) float64 training matrix of an Arrow table whose two
    columns are (id, vector): rows with a NULL or wrong-width vector
    dropped, the rest in id order (a stable sort). ivf_ann_topk and
    pq_ann_topk build it from Spark's ``toArrow()``, the ann_ivf and
    pq_ann oracle generators from DuckDB's ``arrow()``, so both engines
    train on the same matrix. Raises ValueError past TRAIN_MAX_VECTORS
    rows, and on a NULL element inside a kept vector (it would train as
    NaN)."""
    import numpy as np
    import pyarrow.compute as pc

    if tbl.num_rows > TRAIN_MAX_VECTORS:
        raise ValueError(
            f"k-means training takes at most TRAIN_MAX_VECTORS={TRAIN_MAX_VECTORS} "
            "vectors; refusing to collect more to the driver"
        )
    tbl = tbl.filter(pc.fill_null(pc.equal(pc.list_value_length(tbl.column(1)), dim), False))
    flat = pc.list_flatten(tbl.take(pc.sort_indices(tbl.column(0))).column(1))
    if flat.null_count:
        raise ValueError("a training vector holds a NULL element")
    return flat.to_numpy().astype(np.float64).reshape(-1, dim)


def train_ivf_centroids(
    x, n_centroids: int = 16, iters: int = 5, seed: int = 42
) -> list[list[float]]:
    """Lloyd's k-means on the driver over ``x``, an (n, dim) float64
    matrix in id order (_training_matrix). Deterministic, so an oracle
    generator that trains on the same matrix emits the same centroids:
    the seeded init picks from the first n_centroids·20 rows, each row
    goes to its first-min centroid under the _sq_dists fold (the
    struct-min tie-break of the Spark assigners), and each iteration's
    means are rounded to 6 decimals with Python's round. A centroid
    that loses all its rows keeps its position."""
    import numpy as np

    x = np.asarray(x, dtype=np.float64)
    rng = np.random.default_rng(seed)
    sample = x[: n_centroids * 20]
    idx = rng.choice(len(sample), size=min(n_centroids, len(sample)), replace=False)
    centroids = [list(map(float, sample[i])) for i in idx]
    for _ in range(iters):
        c = np.array(centroids)
        assign = np.concatenate(
            [
                _sq_dists(x[i : i + TRAIN_BLOCK], c).argmin(axis=1)
                for i in range(0, len(x), TRAIN_BLOCK)
            ]
        )
        for ci in np.unique(assign):
            centroids[ci] = [round(float(v), 6) for v in x[assign == ci].mean(axis=0)]
    return centroids


def ivf_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    iters: int = 5,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """IVF ANN: assign the corpus to coarse k-means cells once, probe the
    ``n_probe`` nearest cells per query, exact cosine re-rank within the
    probed candidates.

    Training collects the corpus (id, vector) pairs once, in one Spark
    job, and runs train_ivf_centroids on the driver, the trainer the
    ann_ivf oracle uses; past TRAIN_MAX_VECTORS corpus rows it raises.
    The cell assignment and the probes are column expressions (pandas
    UDF above ASSIGN_EXPR_MAX_CENTROIDS) and stay distributed: the cell
    is a write-once partition column (cluster-pruned scans); queries
    touch n_probe/n_centroids of the corpus instead of all of it."""
    x = _training_matrix(
        corpus.select(id_col, vec_col).limit(TRAIN_MAX_VECTORS + 1).toArrow(), dim
    )
    centroids = train_ivf_centroids(x, n_centroids, iters, seed)

    cells = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        F.element_at(_nearest_cells(vec_col, centroids, 1), 1).alias("cell"),
    )
    # a bad query vector probes no cell: explode drops its NULL
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        F.explode(_nearest_cells(vec_col, centroids, n_probe)).alias("cell"),
    )

    # NO dedup needed: each corpus row sits in exactly ONE cell and a
    # query's probe cells are distinct indexes, so (query_id,
    # neighbor_id) cannot repeat. The r3 dropDuplicates here was not
    # just redundant — it forced a full-width exchange carrying BOTH
    # embedding vectors per candidate pair (the anti-pattern
    # lsh_ann_topk fixed in r2). Without it the only post-join shuffle
    # is the ids+sim window partitioning.
    cand = probes.join(cells, on="cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    sim = F.round(cosine(F.col("__qvec"), F.col("__cvec")), 6)
    scored = cand.select("query_id", "neighbor_id", sim.alias("sim"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


# ---------------------------------------------------------------------------
# Product quantization (memory-bounded ANN: training is capped at
# TRAIN_MAX_VECTORS corpus rows, encode / scan / re-rank are not)
# ---------------------------------------------------------------------------


def train_pq_codebooks(
    x, m: int = 8, k: int = 16, iters: int = 5, seed: int = 42
) -> list[list[list[float]]]:
    """Product-quantization codebooks over ``x``, an (n, dim) float64
    matrix in id order (_training_matrix): the vector is split into
    ``m`` equal subspaces and each gets its own ``k``-centroid
    train_ivf_centroids with seed+s, so the whole model is
    m·k·(dim/m) floats. A PQ code is then m small ints — 8 bytes/vector
    at m=8, so the encoded index is 32× smaller than the raw vectors
    (raw float32x64 = 256 B/vec, PQ8x16 = 8 B/vec; distances stay
    ~cosine-faithful after re-rank). Training itself runs on the driver
    over at most TRAIN_MAX_VECTORS rows."""
    dim = x.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    sub = dim // m
    return [
        train_ivf_centroids(x[:, s * sub : (s + 1) * sub], k, iters, seed + s)
        for s in range(m)
    ]


def _pq_encode_udf(codebooks: list[list[list[float]]]):
    """Arrow-batched encoder: per subspace, the first-min index under
    the _sq_dists fold over the (k × sub) codebook, the tie-break of
    the Spark assigners."""
    import numpy as np

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    sub = books[0].shape[1]
    return _per_vector_udf(
        len(books) * sub,
        lambda X: np.stack(
            [
                _sq_dists(X[:, s * sub : (s + 1) * sub], b).argmin(axis=1)
                for s, b in enumerate(books)
            ],
            axis=1,
        ),
    )


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """(id, pq_code array<int>) for every well-formed vector; null /
    wrong-width vectors encode as null (dropped by pq_ann_topk, like
    every ANN entry point). Map-only: the output is ids + m smallints,
    the compressed index a 10^12-row corpus ships to every consumer."""
    return df.select(
        F.col(id_col),
        _pq_encode_udf(codebooks)(F.col(vec_col)).alias("pq_code"),
    )


def pq_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    refine: int = 4,
    iters: int = 5,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """PQ ANN with asymmetric distance (ADC) + exact re-rank: corpus
    vectors are PQ-encoded once; each query precomputes a per-subspace
    lookup table LUT[s][c] = ||q_s − codebook[s][c]||² on the driver
    (m·k doubles, the _sq_dists fold), approximate distance is the
    pure-JVM fold Σ_s LUT[s][code[s]] over the m-int code — NO floating
    vectors move for the scan — and the ``refine·k`` best candidates per
    query are re-ranked with exact cosine against the full vectors.

    The codebooks train on the driver: one Spark job collects the
    corpus (id, vector) pairs for train_pq_codebooks, the trainer the
    pq_ann oracle uses, and a corpus of more than TRAIN_MAX_VECTORS rows
    raises. The encode, scan and re-rank are distributed: the scan
    touches only (id, 8-byte code) + a broadcast LUT literal; full
    vectors are read for refine·k·|queries| rows via an ids-only
    semi-join. Determinism: seeded training, first-min encode,
    (dist, id) tie-breaks end-to-end."""
    import numpy as np

    x = _training_matrix(
        corpus.select(id_col, vec_col).limit(TRAIN_MAX_VECTORS + 1).toArrow(), dim
    )
    books = train_pq_codebooks(x, m=m, k=n_codes, iters=iters, seed=seed)
    codes = pq_encode(corpus, id_col, vec_col, books).filter(
        F.col("pq_code").isNotNull()
    ).withColumnRenamed(id_col, "neighbor_id")

    qrows = (
        queries.select(id_col, vec_col)
        .filter(F.col(vec_col).isNotNull() & (F.size(vec_col) == dim))
        .orderBy(id_col)
        .limit(PQ_MAX_QUERIES + 1)
        .collect()
    )
    if len(qrows) > PQ_MAX_QUERIES:
        raise ValueError(
            f"pq_ann_topk takes at most PQ_MAX_QUERIES={PQ_MAX_QUERIES} "
            "query vectors; refusing to collect more to the driver"
        )
    sub = dim // m
    q = np.asarray([r[vec_col] for r in qrows], dtype=np.float64).reshape(-1, dim)
    luts = [
        _sq_dists(q[:, s * sub : (s + 1) * sub], np.asarray(b, dtype=np.float64))
        for s, b in enumerate(books)
    ]
    lut_rows = [
        (r[id_col], [lut[i].tolist() for lut in luts]) for i, r in enumerate(qrows)
    ]
    spark = queries.sparkSession
    qlut = F.broadcast(
        spark.createDataFrame(
            lut_rows, f"query_id {queries.schema[id_col].dataType.simpleString()}, lut array<array<double>>"
        )
    )

    # ADC fold: pure JVM, no vectors — element_at is 1-based
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.element_at(F.col("lut"), s + 1),
            F.element_at(F.col("pq_code"), s + 1) + 1,
        ),
    )
    cand = codes.crossJoin(qlut).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    # 6-decimal rounding before ranking: Spark's fold and the oracle's
    # SUM may order the m terms differently (~1e-13 relative error);
    # rounding makes the shortlist boundary engine-stable, and ties
    # break by neighbor_id
    short = (
        cand.select(
            "query_id", "neighbor_id", F.round(adc, 6).alias("adc_dist")
        )
        .withColumn("__r", F.row_number().over(w_adc))
        .filter(F.col("__r") <= refine * k)
        .drop("__r")
    )

    # exact re-rank: ids-only shortlist joins the full vectors back
    nvec = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
    )
    qvec = F.broadcast(
        spark.createDataFrame(
            [(r[id_col], list(map(float, r[vec_col]))) for r in qrows],
            f"query_id {queries.schema[id_col].dataType.simpleString()}, __qvec array<double>",
        )
    )
    sim = F.round(cosine(F.col("__qvec"), F.col("__cvec")), 6)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        short.join(nvec, on="neighbor_id")
        .join(qvec, on="query_id")
        .select("query_id", "neighbor_id", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def _centroid_scored(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    group_col: str,
    scale_bits: int,
    dim: int | None,
) -> DataFrame:
    """Per-group embedding centrality, semdedup_prune's scoring kernel:
    per valid row, (id, group, __xq quantized vector, centroid_sim),
    the cosine to the integer-exact group centroid. The SemDeDup /
    self-curation pruning signal: ranked ascending per group it puts
    mislabeled, off-topic or garbage documents first.

    Rows with a null vector, any null element, or (when ``dim`` is
    given) the wrong length are excluded (Spark's fold would
    null-poison where DuckDB's list_sum skips nulls — excluding the
    whole malformed vector keeps both engines and both aggregation
    layers consistent); an all-zero vector (or group) gets a null
    similarity.

    PRECONDITION: vectors within a group share one dimension. A ragged
    row zip_with-pads against the centroid (null sim) in Spark but gets
    a partial dot in a range-indexed SQL oracle — pass ``dim`` to
    filter ragged rows out deterministically when the source cannot
    guarantee uniform length.

    Determinism (what makes this oracle-able when a float centroid is
    not): coordinates are quantized to integers with
    FLOOR(x · 2^scale_bits) — floor of an exactly-scaled dyadic is
    EXACT, no rounding ties — so the per-group coordinate sums are
    all-integer (order-independent, unlike double sums, which
    reassociate differently across engines), and the centroid is the
    truncating integer division sum/n (Spark ``DIV`` and DuckDB ``//``
    both truncate toward zero). The only floats are the final per-row
    scalar dot/norm chain — association-order-free — rounded to 6
    places on both sides (the established 'rounded6' class for cosine
    outputs). Overflow-safe by construction: |dot| ≤ dim·2^(2·scale_bits)
    = 2^36 at the defaults, far inside BIGINT.

    Scale shape: (1) posexplode → (group, pos) integer partial sums —
    map-side combine, 16 B per coordinate. (2) collect the per-group
    centroid arrays (n_groups × dim rows) and join them back onto the
    corpus with no hint: while the table is under the session's byte
    threshold it broadcasts and vectors never shuffle for the join."""
    if not 1 <= scale_bits <= 24:
        # 2·scale_bits + log2(dim) must stay far inside the 63-bit
        # budget even for high-dim embeddings (4096-dim at 24 bits:
        # 2^60 — the cap keeps misuse impossible)
        raise ValueError(f"scale_bits must be in [1, 24], got {scale_bits}")

    q = float(1 << scale_bits)
    xq = F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * F.lit(q)).cast("long")
    )
    valid = F.col(vec_col).isNotNull() & ~F.exists(
        F.col(vec_col), lambda x: x.isNull()
    )
    if dim is not None:
        valid = valid & (F.size(vec_col) == dim)
    base = df.filter(valid).select(
        F.col(id_col), F.col(group_col), xq.alias("__xq")
    )

    ex = base.select(group_col, F.posexplode("__xq").alias("pos", "v"))
    sums = ex.groupBy(group_col, "pos").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
    )
    # truncating integer division, portable: Spark DIV and DuckDB //
    # both truncate toward zero (verified on negative operands)
    cent = sums.groupBy(group_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("pos", F.expr("s DIV n").alias("c")))
            ),
            lambda s: s.getField("c"),
        ).alias("__cq")
    )

    # no hint: SemDeDup-style usage can have millions of cluster groups
    # × high dim, so the session's byte threshold picks broadcast or
    # shuffle for the n_groups×dim centroid table
    joined = base.join(cent, on=group_col)
    dot = F.aggregate(
        F.zip_with("__xq", "__cq", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    nx = F.aggregate(
        F.transform("__xq", lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    nc = F.aggregate(
        F.transform("__cq", lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sim = F.round(
        F.try_divide(
            dot.cast("double"),
            F.sqrt(nx.cast("double")) * F.sqrt(nc.cast("double")),
        ),
        6,
    )
    return joined.select(
        F.col(id_col), F.col(group_col), "__xq", sim.alias("centroid_sim")
    )


# clusters larger than this skip intra-cluster pairwise pruning (the
# same oversized-bucket guard philosophy as dedup.DEFAULT_MAX_BUCKET):
# SemDeDup's within-cluster scan is O(c²) BY DESIGN — the k-means step
# is what bounds c — so a degenerate giant cluster must degrade to
# "keep everything" rather than a quadratic blowup.
DEFAULT_MAX_CLUSTER = 20_000


def semdedup_prune(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    group_col: str,
    eps: float,
    scale_bits: int = 15,
    dim: int | None = None,
    max_cluster: int = DEFAULT_MAX_CLUSTER,
) -> DataFrame:
    """SemDeDup pruning decisions (Abbas et al. 2023, "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication" — public): within each cluster (``group_col`` — in
    production the k-means cell id, e.g. from ivf machinery), rows
    whose pairwise cosine ≥ ``eps`` form semantic-duplicate
    neighborhoods; all but one member of each neighborhood are marked
    for dropping. Following the paper's keep rule, the survivor is the
    member with the LOWEST similarity to the cluster centroid (keep
    the diverse extreme, drop the redundant middle); ties break by id.

    Output (ALL valid rows, one per input): (id, group, centroid_sim,
    outlier_rank, semdedup_drop, drop_against) where outlier_rank is
    the row's rank in its group by (centroid_sim, id), nulls first
    (1 = farthest from centroid — the top-k outlier query is this
    output filtered to rank ≤ k; see _centroid_scored),
    semdedup_drop is true iff a strictly-better near-duplicate exists
    (y beats x when cos(x,y) ≥ eps and (y.centroid_sim, y.id) <
    (x.centroid_sim, x.id)), and drop_against is that best partner's
    id (null when kept). Rows with null centroid_sim never drop and
    never defeat others (Kleene: the priority comparison is null) —
    zero vectors are the outlier query's business, not dedup's.

    Exactness: pairwise cosine uses the same floor-quantized integer
    vectors as the centroid (integer dots, exact), ROUND(,6) on the
    final scalar — the established 'rounded6' oracle class; the eps
    comparison is on the rounded value, identical in both engines.

    Scale shape: ONE exchange of the quantized vectors keyed by
    group for the self-join (AQE-planned), after the centroid join of
    _centroid_scored. ``scored`` is not persisted: build + collect at
    sf0.01 and sf0.1 timed the same with and without the persist, and
    without it the query runs 6 fewer jobs and leaves nothing cached.
    Clusters above ``max_cluster`` rows skip the pairwise scan entirely
    (semdedup_drop=false, the documented degrade — k-means sizing, not
    this operator, bounds cluster cardinality). The drop aggregation is
    min_by over (sim-partner) pairs — ids and two doubles through the
    final shuffle, never vectors.
    """
    scored = _centroid_scored(df, id_col, vec_col, group_col, scale_bits, dim)

    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.col("centroid_sim").asc_nulls_first(), F.col(id_col).asc()
    )
    ranked = scored.select(
        id_col, group_col, "centroid_sim",
        F.row_number().over(w).alias("outlier_rank"),
    )

    sizes = scored.groupBy(group_col).agg(F.count(F.lit(1)).alias("__gn"))
    small = scored.join(sizes.filter(F.col("__gn") <= max_cluster), on=group_col)
    # integer square-norms computed ONCE PER ROW before the self-join —
    # the per-pair expression re-folded both sides' norms for every
    # (x, y) combination (interpreted higher-order folds; 3 per pair →
    # 1). sqrt(cast(double)) of the same exact integer is the identical
    # IEEE value, so pair_sim is bit-equal.
    nrm = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda v: v * v),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    small = small.withColumn("__n2", nrm("__xq"))
    x = small.select(
        F.col(group_col),
        F.col(id_col).alias("__xid"),
        F.col("__xq").alias("__xv"),
        F.col("__n2").alias("__xn2"),
        F.col("centroid_sim").alias("__xcs"),
    )
    y = small.select(
        F.col(group_col),
        F.col(id_col).alias("__yid"),
        F.col("__xq").alias("__yv"),
        F.col("__n2").alias("__yn2"),
        F.col("centroid_sim").alias("__ycs"),
    )
    dot = F.aggregate(
        F.zip_with("__xv", "__yv", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    pair_sim = F.round(
        F.try_divide(
            dot.cast("double"),
            F.sqrt(F.col("__xn2").cast("double"))
            * F.sqrt(F.col("__yn2").cast("double")),
        ),
        6,
    )
    beats = (F.col("__ycs") < F.col("__xcs")) | (
        (F.col("__ycs") == F.col("__xcs")) & (F.col("__yid") < F.col("__xid"))
    )
    drops = (
        x.join(y, on=group_col)
        .filter(F.col("__xid") != F.col("__yid"))
        .filter(beats)
        .select(group_col, "__xid", "__yid", "__ycs", pair_sim.alias("__sim"))
        .filter(F.col("__sim") >= F.lit(float(eps)))
        .groupBy("__xid")
        .agg(
            F.min_by(
                F.col("__yid"), F.struct(F.col("__ycs"), F.col("__yid"))
            ).alias("drop_against")
        )
    )
    return (
        ranked.join(
            drops.withColumnRenamed("__xid", id_col), on=id_col, how="left"
        )
        .select(
            id_col,
            group_col,
            "centroid_sim",
            "outlier_rank",
            F.col("drop_against").isNotNull().alias("semdedup_drop"),
            "drop_against",
        )
    )
