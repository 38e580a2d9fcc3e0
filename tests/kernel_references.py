"""Spark-expression references for the Arrow text kernels and the
SQL-text LSH projections.

Each text function is the JVM expression path (split/trim, explode, md5,
groupBy) of one producer built on ``operators/kernels.py``, written
with Spark built-ins only. The two LSH functions are the Column-built
form of ``dedup.lsh_candidate_ids``/``lsh_candidate_pairs``, and
``hyperplane_signature`` that of ``similarity.hyperplane_signature``;
the library builds all three from SQL text. The differential tests
compare every library function with its reference on adversarial
inputs and sf0.01 data; the library itself runs only the Arrow kernels
and the SQL text.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_curator_spark.engine.cache import persist_tracked
from data_curator_spark.operators.classifier import NB_DEFAULT_BUCKETS, NB_DEFAULT_GRAM
from data_curator_spark.operators.dedup import (
    BROADCAST_LABEL_CAP,
    P31,
    WS_RE,
    hex_prefix_long,
    minhash_params,
    size_gated_broadcast,
    span_window_grams,
    word_shingles,
)
from data_curator_spark.operators.similarity import dot


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    content_col: str,
    k: int = 32,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """``dedup.minhash_signatures``: explode distinct shingles, ONE md5
    base hash per shingle, k affine permutations, one groupBy computing
    the k mins."""
    params = minhash_params(k, seed)
    sh = df.select(
        F.col(id_col), F.explode(word_shingles(F.col(content_col), shingle_n)).alias("s")
    )
    x = (hex_prefix_long(F.col("s"), 8) % F.lit(P31)).alias("x")
    hx = sh.select(F.col(id_col), x)
    aggs = [
        F.min((F.lit(a) * F.col("x") + F.lit(b)) % F.lit(P31)).alias(f"mh_{i}")
        for i, (a, b) in enumerate(params)
    ]
    return hx.groupBy(id_col).agg(*aggs)


def shingle_hash_rows(
    df: DataFrame, id_col: str, content_col: str, shingle_n: int
) -> DataFrame:
    """``dedup._shingle_hash_rows`` (contamination_overlap's producer)."""
    return df.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(content_col), shingle_n)).alias("s"),
    ).select(id_col, hex_prefix_long(F.col("s"), 15).alias("h"))


def segment_hash_rows(
    df: DataFrame, id_col: str, text_col: str, delimiter: str, min_len: int
) -> DataFrame:
    """``dedup._segment_hash_rows`` (dedup_segments_global's producer)."""
    segs = F.split(F.col(text_col), _re.escape(delimiter))
    arr = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), segs.alias("__segs")
    )
    return arr.select(
        F.col(id_col), F.posexplode("__segs").alias("pos", "seg")
    ).filter(F.length("seg") >= min_len).select(
        F.col(id_col), "pos", hex_prefix_long(F.col("seg"), 15).alias("h")
    )


def span_hash_rows(
    df: DataFrame, id_col: str, text_col: str, span_len: int
) -> DataFrame:
    """``dedup._span_hash_rows`` (exact_substring_dedup's producer)."""
    words = F.split(F.trim(F.col(text_col)), WS_RE)
    base = df.filter(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    ).select(F.col(id_col), words.alias("__ws"))
    return base.filter(F.size("__ws") >= span_len).select(
        F.col(id_col),
        F.explode(span_window_grams(F.col("__ws"), span_len)).alias("pg"),
    ).select(
        id_col,
        F.col("pg.pos").alias("pos"),
        hex_prefix_long(F.col("pg.g"), 15).alias("h"),
    )


def strip_hot_segments(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int,
    delimiter: str = "\n",
    out_col: str = "text_stripped",
) -> DataFrame:
    """``dedup.strip_hot_segments`` with two explodes: document
    frequency per-doc-distinct by segment STRING, hot positions by a
    posexplode joined against the hot hashes."""
    segs = F.split(F.col(text_col), _re.escape(delimiter))
    base = df.select(F.col(id_col), F.col(text_col))
    # per-doc-distinct BEFORE the shuffle: a segment repeated 10^4
    # times inside one doc is one (hash) row, and DF semantics want
    # distinct docs anyway
    doc_hashes = base.filter(F.col(text_col).isNotNull()).select(
        F.explode(F.array_distinct(segs)).alias("seg")
    ).select(hex_prefix_long(F.col("seg"), 15).alias("h"))
    hot = persist_tracked(
        doc_hashes.groupBy("h").count().filter(F.col("count") >= min_df).select("h")
    )
    hint = F.broadcast if hot.count() <= BROADCAST_LABEL_CAP else (lambda d: d)
    arr = base.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), segs.alias("__segs")
    )
    hot_pos = arr.select(
        F.col(id_col), F.posexplode("__segs").alias("pos", "seg")
    ).join(
        hint(hot),
        on=hex_prefix_long(F.col("seg"), 15) == F.col("h"),
        how="inner",
    ).groupBy(id_col).agg(F.collect_list("pos").alias("__hpos"))
    kept = F.when(
        F.col("__hpos").isNull(), F.col("__segs")
    ).otherwise(
        F.filter(
            "__segs", lambda x, i: ~F.array_contains(F.col("__hpos"), i)
        )
    )
    rebuilt = arr.join(
        size_gated_broadcast(hot_pos), on=id_col, how="left"
    ).select(F.col(id_col), F.array_join(kept, delimiter).alias(out_col))
    null_rows = base.filter(F.col(text_col).isNull()).select(
        F.col(id_col), F.lit(None).cast("string").alias(out_col)
    )
    return rebuilt.unionByName(null_rows)


def bigram_repetition_stats(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """``lm.bigram_repetition_stats``: explode bigrams →
    groupBy(id, gram) → groupBy(id)."""
    words = F.split(F.trim(F.col(text_col)), WS_RE)
    idx = F.sequence(F.lit(1), F.size(words) - 1)
    grams = df.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size(words) >= 2,
                F.transform(
                    idx, lambda i: F.array_join(F.slice(words, i, 2), " ")
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("g"),
    )
    counts = grams.groupBy(id_col, "g").agg(F.count(F.lit(1)).alias("n"))
    return counts.groupBy(id_col).agg(
        F.sum("n").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_unique_bigrams"),
        F.max("n").alias("top_count"),
    )


def char_gram_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram_len: int = NB_DEFAULT_GRAM,
    n_buckets: int = NB_DEFAULT_BUCKETS,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Explode documents into hashed character ``gram_len``-gram
    feature rows: (id, [extra_cols...,] bucket) — one row per gram
    occurrence. Docs shorter than ``gram_len`` chars emit nothing.
    Bucket = 60-bit md5 prefix of the gram, mod ``n_buckets``."""
    if gram_len < 1:
        raise ValueError(f"gram_len must be >= 1, got {gram_len}")
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    g = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.length(text_col) - gram_len + 1),
            lambda i: F.substring(F.col(text_col), i, F.lit(gram_len)),
        )
    )
    return (
        df.filter(
            F.col(text_col).isNotNull()
            & (F.length(text_col) >= gram_len)
        )
        .select(F.col(id_col), *[F.col(c) for c in extra_cols], g.alias("g"))
        .select(
            id_col,
            *extra_cols,
            F.pmod(hex_prefix_long(F.col("g"), 15), F.lit(n_buckets)).alias(
                "bucket"
            ),
        )
    )


def doc_feats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_cols: tuple[str, ...],
    gram_len: int,
    n_buckets: int,
) -> DataFrame:
    """``classifier._doc_feats``: explode char grams, groupBy counts."""
    return (
        char_gram_buckets(
            df,
            id_col,
            text_col,
            gram_len=gram_len,
            n_buckets=n_buckets,
            extra_cols=label_cols,
        )
        .groupBy(id_col, *label_cols, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def lsh_candidate_ids(
    signatures: DataFrame,
    id_col: str,
    k: int = 32,
    bands: int = 8,
    max_bucket: int | None = None,
) -> DataFrame:
    """``dedup.lsh_candidate_ids``: the band structs built as Columns,
    exploded, then the (band, key) self-join."""
    r = k // bands
    banded = signatures.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.array(*[F.col(f"mh_{b * r + j}") for j in range(r)]).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.key")

    if max_bucket is not None:
        sizes = banded.groupBy("band", "key").agg(F.count(F.lit(1)).alias("__n"))
        banded = (
            banded.join(
                F.broadcast(sizes.filter(F.col("__n") > max_bucket)),
                on=["band", "key"],
                how="left_anti",
            )
        )

    a = banded.select(F.col(id_col).alias("id_a"), "band", "key")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "key")
    return (
        a.join(b, on=["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str, k: int = 32, bands: int = 8
) -> DataFrame:
    """``dedup.lsh_candidate_pairs``: 2×k aliased Columns per side and a
    k-term ``F.when`` sum for the equal-component count."""
    mh_cols = [f"mh_{i}" for i in range(k)]
    pairs = lsh_candidate_ids(signatures, id_col, k, bands)
    sig_a = signatures.select(
        F.col(id_col).alias("id_a"), *[F.col(c).alias(f"a_{c}") for c in mh_cols]
    )
    sig_b = signatures.select(
        F.col(id_col).alias("id_b"), *[F.col(c).alias(f"b_{c}") for c in mh_cols]
    )
    matches = sum(
        F.when(F.col(f"a_{c}") == F.col(f"b_{c}"), 1).otherwise(0) for c in mh_cols
    )
    return (
        pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select(
            "id_a", "id_b", (matches.cast("double") / F.lit(float(k))).alias("est_jaccard")
        )
    )


def hyperplane_signature(vec: Column, planes: list[list[float]]) -> Column:
    """LSH bucket id: sign pattern of dot products with fixed random
    hyperplanes, packed into a long (pure column expression)."""
    bits = [
        F.when(dot(vec, F.array(*[F.lit(float(x)) for x in p])) >= 0, F.lit(1 << i)).otherwise(
            F.lit(0)
        )
        for i, p in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")
