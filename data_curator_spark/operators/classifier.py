"""Corpus-trained supervised language-ID classifier.

The north-rule names "fastText language identification"; the pipeline's
fixed broadcast model (pipeline/model.py:LangIdModel) covers the
SCORING side of that story. This module adds the TRAINING side as a
Spark-first one-pass algorithm: multinomial Naive Bayes over hashed
character n-gram features — the same feature family as fastText's
langid (char n-grams, hashing trick), with the closed-form trainer
that needs exactly TWO hash aggregations instead of gradient
iterations, which is what makes supervised training tractable in one
pass over a 100-TB corpus (an SGD loop would re-shuffle the corpus
per epoch; NB's sufficient statistics are a groupBy).

`nb_langid` trains and scores over ONE per-doc feature pass: the
self-train audit mode the gate query uses.

Reference analog: none (the reference has no ML); engine-added for the
north-rule pipeline.

Why integer micro-nats (same argument as operators/lm.py): per-class
document scores are sums of per-feature log-probs; quantizing each
(class, bucket) log-prob ONCE to FLOOR(ln(p)·2^20) makes every doc
score an integer sum — exact, commutative, engine-portable, so the
DuckDB oracle reproduces predictions and margins bit-for-bit. The
feature hash is the module-standard 60-bit md5 prefix mod n_buckets,
portable to any engine.
"""

from __future__ import annotations

import math
from collections import Counter
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_curator_spark.engine.cache import persist_tracked
from data_curator_spark.operators.kernels import map_docs, md5_60
from data_curator_spark.operators.lm import LP_SCALE_BITS

NB_DEFAULT_BUCKETS = 32768
NB_DEFAULT_GRAM = 3


@dataclass(frozen=True)
class NBModel:
    """Trained multinomial-NB model: a (bucket → per-class quantized
    log-prob) DataFrame (column per class, name = class label) plus the
    driver-held per-class constants. ``model`` has at most
    ``n_buckets`` rows — broadcastable by construction."""

    model: DataFrame
    classes: tuple[str, ...]
    default_q: dict[str, int]
    prior_q: dict[str, int]


def _doc_feats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_cols: tuple[str, ...],
    gram_len: int,
    n_buckets: int,
) -> DataFrame:
    """Per-doc hashed-gram counts: (id, [labels...,] bucket, cnt) —
    ONE ``map_docs`` corpus pass. Docs shorter than ``gram_len`` chars
    emit nothing.

    The grouping key is the document, so no explode and no gram
    shuffle exist at all, and the core's bounded memo hashes each
    DISTINCT char gram once (corpus trigram vocabularies repeat
    massively across docs). The bucket of a gram is
    ``md5_60(gram) % n_buckets`` == ``pmod(hex_prefix_long(gram, 15),
    n_buckets)`` for the non-negative 60-bit prefix — engine-portable;
    Python slicing matches Spark ``substring`` on code points."""
    if gram_len < 1:
        raise ValueError(f"gram_len must be >= 1, got {gram_len}")
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")

    def per_doc(txt):
        return list(
            Counter(
                md5_60(txt[i : i + gram_len]) % n_buckets
                for i in range(len(txt) - gram_len + 1)
            ).items()
        )

    out = [("bucket", pa.int64()), ("cnt", pa.int64())]
    return map_docs(df, text_col, per_doc, out, keep=(id_col, *label_cols))


def _train_from_feats(
    feats: DataFrame,
    id_col: str,
    label_col: str,
    n_buckets: int,
) -> NBModel:
    """Closed-form NB training from a per-doc feature table — the class
    sufficient statistics are aggregates of ``feats``, so training
    never re-scans the corpus. One bounded collect (|label alphabet|
    rows) for totals + doc counts; Laplace log-probs quantized to
    integer micro-nats."""
    class_counts = feats.groupBy(label_col, "bucket").agg(
        F.sum("cnt").alias("c")
    )
    stats_rows = (
        feats.groupBy(label_col)
        .agg(
            F.sum("cnt").alias("t"),
            F.countDistinct(id_col).alias("n"),
        )
        .collect()
    )
    totals = {r[label_col]: int(r["t"]) for r in stats_rows}
    doc_counts = {r[label_col]: int(r["n"]) for r in stats_rows}
    classes = sorted(totals)
    if not classes:
        raise ValueError("no trainable rows (all texts null/too short)")
    n_docs = sum(doc_counts.values())
    scale = float(1 << LP_SCALE_BITS)
    # per-class constants, quantized once on the driver: unseen-bucket
    # log-prob and class prior. math.log on the same IEEE quotient the
    # oracle's LN sees — the lm.py ulp argument applies.
    default_q = {
        c: math.floor(math.log(1.0 / (totals[c] + n_buckets)) * scale)
        for c in classes
    }
    prior_q = {
        c: math.floor(math.log(doc_counts[c] / n_docs) * scale)
        for c in classes
    }
    total_map = F.create_map(
        *[x for c in classes for x in (F.lit(c), F.lit(totals[c]))]
    )
    lp = class_counts.select(
        label_col,
        "bucket",
        F.floor(
            F.log(
                (F.col("c") + F.lit(1).cast("double"))
                / (
                    total_map[F.col(label_col)] + F.lit(n_buckets)
                ).cast("double")
            )
            * F.lit(scale)
        )
        .cast("long")
        .alias("lp_q"),
    )
    model = lp.groupBy("bucket").pivot(label_col, classes).agg(
        F.first("lp_q")
    )
    return NBModel(
        model=model,
        classes=tuple(classes),
        default_q=default_q,
        prior_q=prior_q,
    )


def _score_from_feats(
    feats: DataFrame,
    nb: NBModel,
    id_col: str,
    label_col: str,
) -> DataFrame:
    """Score a per-doc feature table against a trained model: broadcast
    join on bucket, per-class whole-stage-codegen integer sums in one
    groupBy(id, label), (score DESC, class DESC) tie-break."""
    # model rows are bounded by n_buckets BY CONSTRUCTION — broadcast
    # without a count probe
    scored = feats.join(F.broadcast(nb.model), on="bucket", how="left")
    score_cols = [
        F.sum(
            F.col("cnt")
            * F.coalesce(F.col(f"`{c}`"), F.lit(nb.default_q[c]))
        ).alias(f"__s_{i}")
        for i, c in enumerate(nb.classes)
    ]
    per_doc = scored.groupBy(id_col, label_col).agg(*score_cols)
    ranked = F.sort_array(
        F.array(
            *[
                F.struct(
                    (F.col(f"__s_{i}") + F.lit(nb.prior_q[c])).alias("s"),
                    F.lit(c).alias("cls"),
                )
                for i, c in enumerate(nb.classes)
            ]
        ),
        asc=False,
    )
    margin = (
        (F.col("__r")[0]["s"] - F.col("__r")[1]["s"]).cast("long")
        if len(nb.classes) > 1
        else F.lit(0).cast("long")
    )
    return per_doc.select(id_col, label_col, ranked.alias("__r")).select(
        id_col,
        label_col,
        F.col("__r")[0]["cls"].alias("nb_pred"),
        margin.alias("nb_margin_unats"),
    )


def nb_langid(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    gram_len: int = NB_DEFAULT_GRAM,
    n_buckets: int = NB_DEFAULT_BUCKETS,
) -> DataFrame:
    """Train multinomial Naive Bayes on (text, label) and score every
    document — supervised language identification, self-trained on the
    corpus's own labels (the audit mode: grade each doc's CLAIMED
    language; rows whose text disagrees with their label surface as
    low-margin or mispredicted).

    Model: P(class) · Π P(bucket|class) with Laplace smoothing over the
    full bucket space; every log-prob quantized ONCE to integer
    micro-nats (FLOOR(ln(p)·2^20)) so doc scores are exact integer
    sums. Prediction = argmax class; ties broken by class name
    DESCENDING (deterministic in both engines).

    Output: one row per doc with ≥ ``gram_len`` chars —
    (id, label, nb_pred, nb_margin_unats) where nb_margin_unats =
    best score − runner-up score ≥ 0 (0 means an exact tie).

    Scale shape: ONE corpus pass builds per-doc bucket counts
    (groupBy(id, label, bucket) with map-side combine) — the SAME
    persisted table feeds training (its aggregates are the sufficient
    statistics) and scoring (broadcast model join + integer sums in
    one groupBy(id)), so self-train never scans the corpus twice.
    Class list and totals are driver-collected — bounded by the label
    alphabet, not the data.

    Rows with a NULL label are excluded — no claimed language to train
    on or audit (without the filter a None key would crash the sorted()
    class list, and the oracle would silently train a NULL class —
    divergent failure modes)."""
    feats = persist_tracked(
        _doc_feats(
            df.filter(F.col(label_col).isNotNull()),
            id_col,
            text_col,
            (label_col,),
            gram_len,
            n_buckets,
        )
    )
    nb = _train_from_feats(feats, id_col, label_col, n_buckets)
    return _score_from_feats(feats, nb, id_col, label_col)
