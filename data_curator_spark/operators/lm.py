"""Corpus-trained unigram language-model scoring.

The KenLM-style perplexity gate in the quality pipeline
(pipeline/model.py) scores against a FIXED broadcast model; this
operator trains the simplest useful LM — unigram MLE — on the corpus
ITSELF and scores every document against it, the self-scoring pass
that flags statistically-anomalous documents (gibberish, wrong
language, binary spill) without any external artifact.

Reference analog: none (the reference has no language modeling);
engine-added for corpus curation, same family as the north-rule's
"KenLM-style n-gram perplexity scoring".

Why integer micro-nats: a document's log-probability is a SUM of
per-token doubles, and double addition reassociates differently across
engines/partitionings — un-oracle-able. Quantizing each WORD's log-prob
once to an integer (FLOOR(ln(p)·2^20), computed per VOCAB entry, not
per token) makes the per-doc sum an integer sum: exact, commutative,
identical in any engine. ln is evaluated on the same IEEE double
count/total quotient in both engines; a 1-ulp libm divergence flips a
FLOOR only when ln(p)·2^20 sits within an ulp of an integer
(~2^-32 per vocab entry — and fixed per dataset, so the oracle gate
catches it deterministically rather than flaking).
"""

from __future__ import annotations

from collections import Counter

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_curator_spark.engine.cache import persist_tracked
from data_curator_spark.operators.dedup import size_gated_broadcast
from data_curator_spark.operators.kernels import WS_RE, map_docs, tokens

# micro-nat quantization: FLOOR(ln(p) · 2^20). |ln(p)| < 50 for any
# vocab above 1e-22 probability → |lp_q| < 2^26; a doc of 10^9 tokens
# sums to < 2^56 — inside BIGINT with headroom.
LP_SCALE_BITS = 20

# vocab tables above this row count are joined by shuffle instead of
# broadcast (same convention as dedup.BROADCAST_LABEL_CAP)
VOCAB_BROADCAST_CAP = 5_000_000

# stupid-backoff discount (Brants et al. 2007, "Large Language Models in
# Machine Translation" — the standard web-scale n-gram backoff: no
# normalization, fixed alpha = 0.4), quantized ONCE to integer
# micro-nats. The backoff score of an unseen bigram is defined as this
# integer PLUS the unigram's quantized lp (sum of quantized components,
# not a re-quantized product — exact and engine-portable by
# construction). Oracles must import this constant, never re-derive it.
STUPID_BACKOFF_LP = -960801  # == math.floor(math.log(0.4) * 2**20)


def unigram_surprisal(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Per-document surprisal under the corpus's own unigram MLE:

        surprisal_unats = Σ_tokens −FLOOR(ln(count_w / total) · 2^20)

    (positive; higher = more surprising). Also emits n_tokens and the
    mean per-token surprisal as an exact integer division — callers
    divide by 2^20 for nats, or keep the integers for thresholding.
    Docs with null text or zero tokens are excluded (no distribution
    to score them under).

    Scale shape: training is ONE hash aggregation (word → count) with
    map-side combine; the resulting vocab table (word, quantized
    log-prob) is bounded by DISTINCT-word count, size-gated to
    broadcast (VOCAB_BROADCAST_CAP) with shuffle-join fallback for
    web-scale vocabularies. Scoring is explode → vocab join → ONE
    groupBy(id) summing integers (8 B per token through the final
    shuffle). Every token hits the vocab by construction (trained on
    the same corpus), so the join is inner with no loss.
    """
    words = F.split(F.trim(F.col(text_col)), WS_RE)
    toks = df.filter(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    ).select(F.col(id_col), F.explode(words).alias("w"))

    # persist BEFORE the total: the scalar collect and the vocab
    # materialization are two consumers of the same corpus-wide
    # explode+groupBy — unpersisted, training would run twice.
    # (A per-doc (id, w, cnt) pre-aggregation like bigram_surprisal's
    # was tried and REVERTED: single-word explode is cheap enough that
    # persisting the per-doc counts measured ~0.3s SLOWER at sf1.0 —
    # the bigram win comes from its far costlier pair construction.)
    counts = persist_tracked(toks.groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    total_row = counts.agg(F.sum("c").alias("t")).collect()[0]
    total = int(total_row["t"] or 0)
    if total == 0:
        # empty frame with the INPUT's id type — hardcoding long would
        # flip the schema between the empty and non-empty paths
        from pyspark.sql.types import LongType, StructField, StructType

        id_field = df.schema[id_col]
        schema = StructType([
            StructField(id_col, id_field.dataType, id_field.nullable),
            StructField("n_tokens", LongType(), False),
            StructField("surprisal_unats", LongType(), False),
            StructField("mean_surprisal_unats", LongType(), False),
        ])
        return df.sparkSession.createDataFrame([], schema)
    lp_q = F.floor(
        F.log(F.col("c").cast("double") / F.lit(float(total)))
        * F.lit(float(1 << LP_SCALE_BITS))
    ).cast("long")
    vocab = counts.select("w", lp_q.alias("lp"))
    return (
        toks.join(size_gated_broadcast(vocab, VOCAB_BROADCAST_CAP), on="w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (-F.sum("lp")).alias("surprisal_unats"),
        )
        .select(
            id_col,
            "n_tokens",
            "surprisal_unats",
            F.expr("surprisal_unats DIV n_tokens").alias("mean_surprisal_unats"),
        )
    )


def bigram_surprisal(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Per-document surprisal under the corpus's own BIGRAM MLE — the
    n-gram step of "KenLM-style n-gram perplexity scoring"
    (BASELINE.json north_star), self-trained like unigram_surprisal:

        P(w_i | w_{i-1}) = count(w_{i-1} w_i) / count_left(w_{i-1})

    where count_left counts w_{i-1} occurrences AS A LEFT CONTEXT
    (tokens 1..n-1), so every conditional is well-formed and ≤ 1 by
    construction. A doc's surprisal is the sum of −ln P over its n−1
    bigram positions, quantized per VOCAB BIGRAM to integer micro-nats
    exactly like unigram_surprisal (per-doc integer sums — exact,
    order-free, engine-portable). Docs with < 2 tokens have no bigram
    positions and are excluded.

    An MLE bigram model has no smoothing — unseen transitions cannot
    occur when scoring the training corpus itself, which is the point:
    this is a SELF-scoring anomaly gate (templated/spammy text scores
    near 0; incoherent token salad scores high), not a held-out LM.

    Scale shape: two hash aggregations (bigram counts; left-context
    counts), one size-gated broadcast join between them to form the
    conditional table, then explode → vocab join → ONE integer
    groupBy(id). The bigram vocab is the big table — it shuffles as
    (pair, count) with map-side combine and falls back to a shuffle
    join past VOCAB_BROADCAST_CAP.
    """
    pairs = _bigram_pairs(df, id_col, text_col)

    # per-doc bigram counts aggregated ONCE and persisted — same shape
    # as unigram_surprisal's gcounts: the trainer re-aggregates this
    # table (never the corpus) and the scorer consumes it with integer
    # sums weighted by __cnt, so the corpus explodes once, not twice
    gpairs = persist_tracked(
        pairs.groupBy(id_col, "l", "r").agg(F.count(F.lit(1)).alias("__cnt"))
    )
    bigram_counts = persist_tracked(
        gpairs.groupBy("l", "r").agg(F.sum("__cnt").alias("c_lr"))
    )
    # c_l(l) = Σ_r c_lr(l, r): derive the marginal from the (tiny)
    # bigram-vocab table instead of re-aggregating the corpus-sized
    # pairs stream — removes an entire corpus pass
    left_counts = bigram_counts.groupBy("l").agg(F.sum("c_lr").alias("c_l"))
    lp_q = F.floor(
        F.log(F.col("c_lr").cast("double") / F.col("c_l").cast("double"))
        * F.lit(float(1 << LP_SCALE_BITS))
    ).cast("long")

    vocab = persist_tracked(
        bigram_counts.join(
            size_gated_broadcast(left_counts, VOCAB_BROADCAST_CAP), on="l"
        ).select("l", "r", lp_q.alias("lp"))
    )
    return (
        gpairs.join(size_gated_broadcast(vocab, VOCAB_BROADCAST_CAP), on=["l", "r"])
        .groupBy(id_col)
        .agg(
            F.sum("__cnt").alias("n_bigrams"),
            (-F.sum(F.col("__cnt") * F.col("lp"))).alias("surprisal_unats"),
        )
        .select(
            id_col,
            "n_bigrams",
            "surprisal_unats",
            F.expr("surprisal_unats DIV n_bigrams").alias("mean_surprisal_unats"),
        )
    )


def _tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, word) explode of non-empty docs — the shared tokenizer of
    every LM op in this module (WS_RE, trim, null/blank exclusion)."""
    words = F.split(F.trim(F.col(text_col)), WS_RE)
    return df.filter(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    ).select(F.col(id_col), F.explode(words).alias("w"))


def _laplace_vocab(toks: DataFrame) -> tuple[DataFrame, int]:
    """Train an add-one (open-vocab Laplace) unigram model from a
    (.., w) token frame: returns the (w, lp) quantized vocab table and
    the single quantized UNK log-prob. lp = FLOOR(ln((c+1)/(T+V+1)) ·
    2^20); UNK = FLOOR(ln(1/(T+V+1)) · 2^20). One hash aggregation +
    one bounded scalar collect."""
    import math

    counts = persist_tracked(toks.groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    row = counts.agg(F.sum("c").alias("t"), F.count(F.lit(1)).alias("v")).collect()[0]
    total, vsize = int(row["t"] or 0), int(row["v"] or 0)
    denom = total + vsize + 1
    unk_lp = math.floor(math.log(1.0 / denom) * (1 << LP_SCALE_BITS))
    lp_q = F.floor(
        F.log((F.col("c") + 1).cast("double") / F.lit(float(denom)))
        * F.lit(float(1 << LP_SCALE_BITS))
    ).cast("long")
    return counts.select("w", lp_q.alias("lp")), unk_lp


def _bigram_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, l, r) bigram positions 1..n-1 of each ≥2-token doc, in doc
    order — the shared bigram extractor of this module (same WS_RE
    tokenizer as _tokens)."""
    words = F.split(F.trim(F.col(text_col)), WS_RE)
    toked = df.filter(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    ).select(F.col(id_col), words.alias("__ws"))
    return toked.filter(F.size("__ws") >= 2).select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__ws") - 1),
                lambda i: F.struct(
                    F.element_at("__ws", i).alias("l"),
                    F.element_at("__ws", i + 1).alias("r"),
                ),
            )
        ).alias("bg"),
    ).select(id_col, F.col("bg.l").alias("l"), F.col("bg.r").alias("r"))


def heldout_surprisal(
    train_df: DataFrame,
    score_df: DataFrame,
    id_col: str,
    text_col: str,
    laplace_model: tuple[DataFrame, int] | None = None,
) -> DataFrame:
    """Held-out perplexity: train a Laplace-smoothed unigram LM on one
    corpus, score ANOTHER — the actual KenLM-style quality gate of the
    north rule (score web documents under a clean-reference LM), where
    unigram_surprisal/bigram_surprisal are the self-scoring anomaly
    variants.

    Smoothing (add-one over an open vocabulary):

        P(w)   = (c_w + 1) / (T + V + 1)    for w in the train vocab
        P(UNK) = 1         / (T + V + 1)    for any unseen word

    (T = train token count, V = train vocab size; probabilities sum to
    (T+V)/(T+V+1) + mass for one unseen type — the standard open-vocab
    Laplace estimator.) Per-vocab-entry integer micro-nat quantization
    exactly as unigram_surprisal; the single UNK log-prob is one more
    quantized integer, computed driver-side from the two scalars.

    Scale shape: training is one hash aggregation over the train split;
    the vocab (word, lp) is size-gated to broadcast with shuffle-join
    fallback. Scoring is explode → LEFT join (misses coalesce to the
    UNK row — the "one left-anti UNK path" folded into the join) → ONE
    integer groupBy(id). The T/V scalars are a single bounded collect.

    ``laplace_model`` lets a caller that ALSO trains a bigram scorer on
    the same split (q_heldout_perplexity) pass the already-trained
    (vocab, unk_lp) pair so the unigram model is trained once, not
    twice.
    """
    vocab, unk_lp = (
        laplace_model
        if laplace_model is not None
        else _laplace_vocab(_tokens(train_df, id_col, text_col))
    )
    scored = _tokens(score_df, id_col, text_col).join(
        size_gated_broadcast(vocab, VOCAB_BROADCAST_CAP), on="w", how="left"
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (-F.sum(F.coalesce(F.col("lp"), F.lit(unk_lp)))).alias(
                "surprisal_unats"
            ),
        )
        .select(
            id_col,
            "n_tokens",
            "surprisal_unats",
            F.expr("surprisal_unats DIV n_tokens").alias("mean_surprisal_unats"),
        )
    )


def heldout_bigram_surprisal(
    train_df: DataFrame,
    score_df: DataFrame,
    id_col: str,
    text_col: str,
    laplace_model: tuple[DataFrame, int] | None = None,
) -> DataFrame:
    """Held-out BIGRAM scoring with stupid backoff — the n-gram step of
    the north-rule's KenLM-style gate, able to score transitions the
    training corpus never saw (which a self-trained MLE bigram cannot):

        S(r|l) = c_train(l,r) / c_left(l)          if bigram seen
               = 0.4 · P_laplace(r)                otherwise

    (Brants et al. 2007: unnormalized backoff scores, the accepted
    trade-off at web scale where a properly-normalized Katz/Kneser-Ney
    backoff would need per-context mass bookkeeping over 10^11
    bigrams.) Quantization: seen bigrams carry the usual per-vocab-entry
    FLOOR(ln(c_lr/c_l)·2^20); backoff positions carry STUPID_BACKOFF_LP
    + the Laplace-unigram lp of r (UNK row for unseen words) — a sum of
    two already-quantized integers, so per-doc totals stay exact
    integer sums. Docs with < 2 tokens have no bigram positions and are
    excluded.

    Scale shape: training = two hash aggregations over the train split
    (bigram counts; Laplace unigram via _laplace_vocab), with the
    left-context marginal derived from the bigram-vocab table (no
    second corpus pass). Scoring = bigram explode → LEFT join bigram
    vocab on (l,r) → LEFT join unigram vocab on r → ONE integer
    groupBy(id). Both vocab joins are size-gated broadcasts with
    shuffle fallback past VOCAB_BROADCAST_CAP.
    """
    bigram_counts = persist_tracked(
        _bigram_pairs(train_df, id_col, text_col)
        .groupBy("l", "r")
        .agg(F.count(F.lit(1)).alias("c_lr"))
    )
    left_counts = bigram_counts.groupBy("l").agg(F.sum("c_lr").alias("c_l"))
    bg_lp = F.floor(
        F.log(F.col("c_lr").cast("double") / F.col("c_l").cast("double"))
        * F.lit(float(1 << LP_SCALE_BITS))
    ).cast("long")
    bg_vocab = persist_tracked(
        bigram_counts.join(
            size_gated_broadcast(left_counts, VOCAB_BROADCAST_CAP), on="l"
        ).select("l", "r", bg_lp.alias("lp_bg"))
    )
    uni_vocab, unk_lp = (
        laplace_model
        if laplace_model is not None
        else _laplace_vocab(_tokens(train_df, id_col, text_col))
    )

    scored = (
        _bigram_pairs(score_df, id_col, text_col)
        .join(
            size_gated_broadcast(bg_vocab, VOCAB_BROADCAST_CAP),
            on=["l", "r"],
            how="left",
        )
        .join(
            size_gated_broadcast(
                uni_vocab.withColumnsRenamed({"w": "r", "lp": "lp_uni"}),
                VOCAB_BROADCAST_CAP,
            ),
            on="r",
            how="left",
        )
    )
    pos_lp = F.coalesce(
        F.col("lp_bg"),
        F.lit(STUPID_BACKOFF_LP)
        + F.coalesce(F.col("lp_uni"), F.lit(unk_lp)),
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (-F.sum(pos_lp)).alias("surprisal_unats"),
        )
        .select(
            id_col,
            "n_bigrams",
            "surprisal_unats",
            F.expr("surprisal_unats DIV n_bigrams").alias(
                "mean_surprisal_unats"
            ),
        )
    )


def bigram_repetition_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Per-document word-bigram repetition counts — the Gopher-style
    signals' aggregation core: (id, n_bigrams, n_unique_bigrams,
    top_count) for every doc with ≥ 2 whitespace tokens.

    ONE ``map_docs`` pass: the grouping key is the document, so per-doc
    Counters need no explode and no shuffle at all. Tokens are
    ``split(trim(text), WS_RE)``; bigram identity by token PAIR equals
    the space-joined gram string because tokens cannot contain
    whitespace."""

    def per_doc(txt):
        words = tokens(txt)
        if len(words) < 2:
            return ()
        c = Counter(zip(words, words[1:]))
        return [(len(words) - 1, len(c), max(c.values()))]

    out = [
        ("n_bigrams", pa.int64()),
        ("n_unique_bigrams", pa.int64()),
        ("top_count", pa.int64()),
    ]
    return map_docs(df, text_col, per_doc, out, keep=(id_col,))


def dsir_log_weights(
    target_df: DataFrame,
    source_df: DataFrame,
    score_df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling" — public): score
    each raw document by how much more likely it is under a TARGET
    distribution (e.g. a clean reference corpus) than under the raw
    SOURCE distribution:

        log w(doc) = Σ_tokens [ln P_target(w) − ln P_source(w)]

    with both unigram models Laplace-smoothed over open vocabularies
    (_laplace_vocab) so unseen words take each side's UNK log-prob.
    Integer micro-nat quantization per vocab entry keeps the per-doc
    sum an exact, engine-portable integer (can be negative: more
    source-like than target-like). Downstream, sampling ∝ w completes
    DSIR; the weights themselves are the operator — selection policy
    (top-k, threshold, Gumbel resampling) is the caller's.

    Scale shape: two hash aggregations (one per training corpus), two
    size-gated broadcast vocab tables, then explode → two LEFT joins →
    ONE integer groupBy(id). The score corpus streams through once.
    """
    vt, unk_t = _laplace_vocab(_tokens(target_df, id_col, text_col))
    vs, unk_s = _laplace_vocab(_tokens(source_df, id_col, text_col))
    scored = (
        _tokens(score_df, id_col, text_col)
        .join(
            size_gated_broadcast(vt.withColumnRenamed("lp", "lp_t"),
                                 VOCAB_BROADCAST_CAP),
            on="w", how="left",
        )
        .join(
            size_gated_broadcast(vs.withColumnRenamed("lp", "lp_s"),
                                 VOCAB_BROADCAST_CAP),
            on="w", how="left",
        )
    )
    delta = F.coalesce(F.col("lp_t"), F.lit(unk_t)) - F.coalesce(
        F.col("lp_s"), F.lit(unk_s)
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(delta).alias("log_weight_unats"),
        )
        .select(
            id_col,
            "n_tokens",
            "log_weight_unats",
            F.expr("log_weight_unats DIV n_tokens").alias(
                "mean_log_weight_unats"
            ),
        )
    )
