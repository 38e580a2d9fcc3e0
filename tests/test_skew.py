"""Skew stress: a hot key must not land in one task. The pipeline's
salted bucket id spreads a mega-repo over every bucket, AQE's skew-join
split stands in for a hand-salted join, and the LSH band join's bucket
cap keeps a boilerplate mega-bucket from exploding the self-join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_curator_spark.pipeline.runner import with_bucket


def test_salt_spreads_hot_key(spark):
    # repo 'hot' holds 5000 files, 20 other repos hold 10 each
    hot = spark.range(5000).select(
        F.lit("hot").alias("repo"), F.concat(F.lit("f"), F.col("id").cast("string")).alias("path")
    )
    rest = spark.range(200).select(
        F.concat(F.lit("r"), (F.col("id") % 20).cast("string")).alias("repo"),
        F.concat(F.lit("f"), F.col("id").cast("string")).alias("path"),
    )
    df = with_bucket(hot.unionByName(rest), 8)
    per_bucket = df.filter("repo = 'hot'").groupBy("bucket").count().collect()
    assert len(per_bucket) == 8  # all buckets used
    counts = [r["count"] for r in per_bucket]
    assert max(counts) < 5000 * 0.5  # no bucket holds the majority
    # the path in the hash is what spreads it: keyed by repo alone, the
    # hot repo would be one bucket
    assert hot.select(F.pmod(F.xxhash64("repo"), F.lit(8))).distinct().count() == 1


def test_salted_join_matches_plain(spark):
    """AQE's skew-join split stands in for a hand-salted join: the hot
    key's shuffle partition is split and the other side's matching
    partition replicated to each split. The session enables it; only the
    size thresholds are lowered so a test-sized hot key counts as skewed.
    The split join must equal the unsplit one, row for row."""
    skewed = spark.range(5000).select(
        F.lit("hot").alias("k"), (F.col("id") % 97).cast("double").alias("v")
    ).unionByName(
        spark.range(200).select(
            F.concat(F.lit("k"), (F.col("id") % 20).cast("string")).alias("k"),
            F.col("id").cast("double").alias("v"),
        )
    )
    dim = spark.createDataFrame(
        [("hot", 1.5)] + [(f"k{i}", float(i)) for i in range(20)], "k string, w double"
    )
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"

    def run(skew_join: str):
        conf = {
            "spark.sql.adaptive.skewJoin.enabled": skew_join,
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1k",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        }
        old = {k: spark.conf.get(k, None) for k in conf}
        for k, v in conf.items():
            spark.conf.set(k, v)
        try:
            out = skewed.join(dim, "k").agg(
                F.sum(F.col("v") * F.col("w")).alias("t"), F.count("*").alias("n")
            )
            row = out.collect()[0]
            return row, out._jdf.queryExecution().executedPlan().toString()
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    split, split_plan = run("true")
    plain, plain_plan = run("false")
    assert "skew=true" in split_plan and "skew=true" not in plain_plan
    assert split["t"] == pytest.approx(plain["t"])
    assert split["n"] == plain["n"] == 5200  # no row duplicated or lost


def test_boilerplate_mega_bucket_band_join(spark):
    """Skew stress (VERDICT r2 #9): 30% of the corpus is ONE template →
    one (band, key) bucket holds 90 docs and the band self-join's output
    is quadratic in it. Uncapped: completes and yields the full 90·89/2
    boilerplate clique (plus real near-dups). Capped (max_bucket): the
    mega-bucket is dropped before the join, real near-dups survive via
    their unskewed bands, and exact dups are dedup_exact's job."""
    import numpy as np

    from data_curator_spark.operators.dedup import (
        lsh_candidate_ids,
        minhash_signatures,
    )

    rng = np.random.default_rng(99)
    vocab = [f"tok{i}" for i in range(500)]
    template = " ".join(rng.choice(vocab, 80))
    docs = [(i, template) for i in range(90)]  # 30% boilerplate
    # a genuine near-dup pair, distinct from the template
    base = " ".join(rng.choice(vocab, 80))
    words = base.split(); words[3] = "CHANGED"
    docs += [(1000, base), (1001, " ".join(words))]
    docs += [(2000 + i, " ".join(rng.choice(vocab, 80))) for i in range(208)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    sigs = minhash_signatures(df, "doc_id", "text", k=32).persist()
    try:
        uncapped = lsh_candidate_ids(sigs, "doc_id", k=32, bands=16)
        n_unc = uncapped.count()
        clique = 90 * 89 // 2
        assert n_unc >= clique  # the full boilerplate clique materialized
        assert uncapped.filter("id_a = 1000 and id_b = 1001").count() == 1

        capped = lsh_candidate_ids(sigs, "doc_id", k=32, bands=16, max_bucket=50)
        capped_rows = capped.collect()
        ids = {(r["id_a"], r["id_b"]) for r in capped_rows}
        assert (1000, 1001) in ids          # real near-dup survives
        assert len(capped_rows) < clique    # mega-clique suppressed
        assert not any(a < 90 and b < 90 for a, b in ids)
    finally:
        sigs.unpersist()
