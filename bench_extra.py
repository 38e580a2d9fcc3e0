"""Component-isolation benchmarks (guide §1.4): time sub-stages of the
expensive queries with the noop sink so the computation is measured, not
the sink. NOT part of the frozen bench.py contract — numbers here feed
OPTIMIZATION_r07.md only.

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py [part ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(spark, name: str, fn, reps: int = 2) -> float:
    best = float("inf")
    for _ in range(reps):
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(name)
        t0 = time.time()
        noop(fn())
        best = min(best, time.time() - t0)
    spark.sparkContext.setJobDescription(None)
    return round(best, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    want = set(sys.argv[1:])

    from data_curator_spark.session import build_session

    spark = build_session("bench_extra")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()  # warm JVM

    docs = lambda: spark.read.parquet(f"{sf_dir}/documents.parquet")  # noqa: E731
    out: dict[str, float] = {}

    def run(name: str, fn) -> None:
        if want and not any(name.startswith(w) for w in want):
            return
        out[name] = timed(spark, name, fn)
        print(f"  {name}: {out[name]}s", file=sys.stderr)

    # ---- doc_quality_stats decomposition -------------------------------
    from data_curator_spark.pipeline.stages import with_heuristics
    from data_curator_spark.functions import text as T

    def dq_heuristics():
        d = docs().select("doc_id", F.col("text").alias("content"))
        return with_heuristics(d)

    run("dq.heuristics", dq_heuristics)

    def dq_tokens():
        d = docs().select("doc_id", F.col("text").alias("content"))
        c = F.col("content")
        return d.select(
            "doc_id",
            T.whitespace_token_count(c).alias("ws_tokens"),
            T.bpe_token_count(c).alias("bpe_tokens"),
            T.mean_word_length(c).alias("mean_word_len"),
            T.punct_ratio(c).alias("punct_ratio"),
            T.stopword_ratio(c, ["the", "a", "and", "of", "to"]).alias("stop_ratio"),
        )

    run("dq.token_stats", dq_tokens)

    def dq_nb_feats():
        from data_curator_spark.operators.classifier import _doc_feats

        return _doc_feats(
            docs().filter(F.col("lang").isNotNull()),
            "doc_id", "text", ("lang",), 3, 32768,
        )

    run("dq.nb_feats", dq_nb_feats)

    def dq_nb_full():
        from data_curator_spark.operators.classifier import nb_langid

        return nb_langid(docs(), "doc_id", "text", "lang")

    run("dq.nb_full", dq_nb_full)

    # ---- line_repetition decomposition ---------------------------------
    from data_curator_spark.operators.dedup import (
        dedup_segments_global,
        exact_substring_dedup,
        hex_prefix_long,
        span_window_grams,
    )
    from data_curator_spark.operators.kernels import nonblank, ws_tokens

    from data_curator_spark.queries import _spread

    dnn = lambda: _spread(docs().filter(F.col("text").isNotNull()))  # noqa: E731

    run("lr.seg_dedup", lambda: dedup_segments_global(dnn(), "doc_id", "text", delimiter=" "))
    run(
        "lr.span_stats",
        lambda: exact_substring_dedup(dnn(), "doc_id", "text", span_len=8, removal=False),
    )
    run("lr.exact_substr_both", lambda: exact_substring_dedup(dnn(), "doc_id", "text", span_len=8))
    run(
        "lr.exact_substr_grams_only",
        lambda: nonblank(dnn(), "text")
        .select("doc_id", ws_tokens("text").alias("__ws"))
        .filter(F.size("__ws") >= 8)
        .select("doc_id", F.explode(span_window_grams(F.col("__ws"), 8)).alias("pg"))
        .select(
            "doc_id",
            F.col("pg.pos").alias("pos"),
            hex_prefix_long(F.col("pg.g"), 15).alias("h"),
        ),
    )

    # ---- minhash / clusters --------------------------------------------
    from data_curator_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from data_curator_spark.queries import _spread

    def mh_sigs():
        return minhash_signatures(_spread(docs()), "doc_id", "text", k=32)

    run("mh.signatures", mh_sigs)

    def mh_pairs():
        from data_curator_spark.engine.cache import persist_tracked

        sigs = persist_tracked(mh_sigs())
        return lsh_candidate_pairs(sigs, "doc_id", k=32, bands=8).filter(
            F.col("est_jaccard") >= 0.5
        )

    run("mh.pairs_full", mh_pairs)

    # ---- full queries for reference (noop) -----------------------------
    from data_curator_spark.queries import QUERIES

    for q in (
        "doc_quality_stats",
        "line_repetition",
        "dedup_clusters",
        "minhash_lsh",
        "bigram_surprisal",
        "heldout_perplexity",
        "decontaminate",
        "ann_cosine_topk",
        "hypertable_rollup",
        "bpe_encode",
    ):
        run(f"q.{q}", lambda q=q: QUERIES[q](spark, sf_dir))

    print(json.dumps({"sf_dir": sf_dir, "timings": out}))


if __name__ == "__main__":
    main()
