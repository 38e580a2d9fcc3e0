"""Corpus-trained n-gram language models: one core, five scorers.

The KenLM-style perplexity gate in the quality pipeline
(pipeline/model.py) scores against a FIXED broadcast model. The scorers
here train on the corpus itself, or on a train split of it, and score
documents against that model, with no external artifact:

- ``unigram_surprisal`` / ``bigram_surprisal``: self-scoring MLE
  anomaly gates (gibberish, wrong language, binary spill, token salad);
- ``heldout_scores``: a Laplace unigram and a stupid-backoff bigram
  trained on one split and scored on another, the held-out gate;
- ``dsir_log_weights``: DSIR importance weights under two Laplace
  unigrams;
- ``bigram_repetition_stats``: per-doc bigram repetition counts.

The core every trainer and scorer shares:

- ``_tokens`` (id, w) and ``_bigram_pairs`` (id, l, r) tokenize the
  docs that ``kernels.nonblank`` keeps with the package's one
  tokenizer, ``kernels.ws_tokens`` (``kernels.tokens`` is its Python
  twin).
- Training is a hash aggregation to a count table. A denominator (the
  token total T for MLE, T + V + 1 for Laplace) is a one-row aggregate
  cross-joined into the plan, never collected, so building a scorer
  launches no Spark job.
- Count tables join the token stream as LEFT joins with no hint, so
  Spark can build only the count side. The session's byte threshold
  (``autoBroadcastJoinThreshold``, applied when planning and again by
  AQE at run time) chooses broadcast or shuffle. For the self-trained
  models every token hits the table, so LEFT equals inner.
- ``_lp`` is the one quantizer and ``_per_doc`` the one per-doc
  scoring block.

Reference analog: none (the reference has no language modeling);
engine-added for corpus curation, same family as the north-rule's
"KenLM-style n-gram perplexity scoring".

Why integer micro-nats: a document's log-probability is a SUM of
per-token doubles, and double addition reassociates differently across
engines/partitionings — un-oracle-able. Quantizing a word's log-prob to
an integer (FLOOR(ln(p)·2^20), a function of the word's count and the
denominator only, so every token of a word gets the same integer) makes
the per-doc sum an integer sum: exact, commutative, identical in any
engine. ln is evaluated on the same IEEE double count/total quotient in
both engines; a 1-ulp libm divergence flips a FLOOR only when
ln(p)·2^20 sits within an ulp of an integer (~2^-32 per vocab entry —
and fixed per dataset, so the oracle gate catches it deterministically
rather than flaking).
"""

from __future__ import annotations

from collections import Counter

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_curator_spark.operators.kernels import map_docs, nonblank, tokens, ws_tokens

# micro-nat quantization: FLOOR(ln(p) · 2^20). |ln(p)| < 50 for any
# vocab above 1e-22 probability → |lp_q| < 2^26; a doc of 10^9 tokens
# sums to < 2^56 — inside BIGINT with headroom.
LP_SCALE_BITS = 20

# stupid-backoff discount (Brants et al. 2007, "Large Language Models in
# Machine Translation" — the standard web-scale n-gram backoff: no
# normalization, fixed alpha = 0.4), quantized ONCE to integer
# micro-nats. The backoff score of an unseen bigram is defined as this
# integer PLUS the unigram's quantized lp (sum of quantized components,
# not a re-quantized product — exact and engine-portable by
# construction). Oracles must import this constant, never re-derive it.
STUPID_BACKOFF_LP = -960801  # == math.floor(math.log(0.4) * 2**20)


def _lp(num: Column, den: Column) -> Column:
    """FLOOR(ln(num / den) · 2^20) as BIGINT, on the double quotient."""
    return F.floor(
        F.log(num.cast("double") / den.cast("double"))
        * F.lit(float(1 << LP_SCALE_BITS))
    ).cast("long")


def _tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w): one row per token."""
    return (
        nonblank(df, text_col)
        .select(F.col(id_col), ws_tokens(text_col).alias("__ws"))
        .select(id_col, F.explode("__ws").alias("w"))
    )


def _bigram_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, l, r): bigram positions 1..n-1 of each ≥2-token doc."""
    ws = (
        nonblank(df, text_col)
        .select(F.col(id_col), ws_tokens(text_col).alias("__ws"))
        .filter(F.size("__ws") >= 2)
    )
    pair = F.transform(
        F.sequence(F.lit(1), F.size("__ws") - 1),
        lambda i: F.struct(
            F.element_at("__ws", i).alias("l"),
            F.element_at("__ws", i + 1).alias("r"),
        ),
    )
    return ws.select(id_col, F.explode(pair).alias("bg")).select(
        id_col, "bg.l", "bg.r"
    )


def _laplace(toks: DataFrame, sfx: str = "") -> tuple[DataFrame, DataFrame]:
    """Add-one unigram model over an open vocabulary, trained on a
    (.., w) token frame: the count table (w, c<sfx>) and its one-row
    denominator den<sfx> = T + V + 1. On an empty train split SUM over
    no rows is NULL; the COALESCE makes den 1 there. Score a word with
    ``_laplace_lp``."""
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias(f"c{sfx}"))
    den = counts.agg(
        F.expr(f"COALESCE(SUM(c{sfx}), 0) + COUNT(*) + 1").alias(f"den{sfx}")
    )
    return counts, den


def _laplace_lp(sfx: str = "") -> Column:
    """lp = FLOOR(ln((c + 1) / den) · 2^20). An unseen word has c NULL
    after the LEFT join and takes UNK's FLOOR(ln(1 / den) · 2^20)."""
    return _lp(F.coalesce(F.col(f"c{sfx}"), F.lit(0)) + 1, F.col(f"den{sfx}"))


def _bigram_lp(pairs: DataFrame) -> DataFrame:
    """(l, r, lp): the MLE conditional FLOOR(ln(c_lr / c_l) · 2^20) of
    every bigram in a (.., l, r) position frame. One hash aggregation
    gives c_lr; the left-context marginal c_l = Σ_r c_lr is a window
    over l on that count table. A self-join of the count table with its
    l-marginal aggregated the pairs twice (its two sides differ in
    inferred null filters, so they share no exchange): bigram_surprisal
    took 0.65 s against 0.40 s at sf0.1."""
    counts = pairs.groupBy("l", "r").agg(F.count(F.lit(1)).alias("c_lr"))
    c_l = F.sum("c_lr").over(Window.partitionBy("l"))
    return counts.select("l", "r", _lp(F.col("c_lr"), c_l).alias("lp"))


def _per_doc(
    scored: DataFrame,
    id_col: str,
    n_col: str,
    n: Column,
    s_col: str,
    s: Column,
    mean_col: str | None = None,
) -> DataFrame:
    """ONE groupBy(id) → (id, n_col, s_col, mean = s_col DIV n_col):
    integer sums, exact in any order."""
    mean_col = mean_col or f"mean_{s_col}"
    return (
        scored.groupBy(id_col)
        .agg(n.alias(n_col), s.alias(s_col))
        .select(
            id_col, n_col, s_col, F.expr(f"{s_col} DIV {n_col}").alias(mean_col)
        )
    )


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
    to score them under); an empty input gives an empty frame.

    Scale shape: training is ONE hash aggregation (word → count) with
    map-side combine; the total is a one-row aggregate over it, cross-
    joined into the token stream. Scoring is explode → count-table LEFT
    join → ONE groupBy(id) summing integers (8 B per token through the
    final shuffle). A per-doc (id, w, cnt) pre-aggregation like
    bigram_surprisal's measured ~0.3 s SLOWER at sf1.0: single-word
    explode is cheap; the bigram win comes from its far costlier pair
    construction.
    """
    toks = _tokens(df, id_col, text_col)
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = counts.agg(F.sum("c").alias("t"))
    scored = toks.join(counts, on="w", how="left").crossJoin(total)
    return _per_doc(
        scored, id_col,
        "n_tokens", F.count(F.lit(1)),
        "surprisal_unats", -F.sum(_lp(F.col("c"), F.col("t"))),
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

    Scale shape: training is one hash aggregation over the bigram
    positions plus a window over the (small) bigram table for the left
    context. Scoring pre-aggregates (id, l, r, cnt) per doc on the
    doc-partitioned input (no exchange), LEFT joins the conditional
    table, and sums integers weighted by cnt in ONE groupBy(id). The
    pair explode runs once per branch: persisting the per-doc counts for
    both left the cached plan's partitioning unknown until it had run,
    so the per-doc sum shuffled on id again.
    """
    pairs = _bigram_pairs(df, id_col, text_col)
    gpairs = pairs.groupBy(id_col, "l", "r").agg(F.count(F.lit(1)).alias("__cnt"))
    return _per_doc(
        gpairs.join(_bigram_lp(pairs), on=["l", "r"], how="left"), id_col,
        "n_bigrams", F.sum("__cnt"),
        "surprisal_unats", -F.sum(F.col("__cnt") * F.col("lp")),
    )


def heldout_scores(
    train_df: DataFrame,
    score_df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Held-out KenLM-style scoring, both n-gram orders in one row per
    scored doc: train on ``train_df``, score ``score_df`` — the actual
    quality gate of the north rule (score web documents under a
    clean-reference LM), where unigram_surprisal/bigram_surprisal are
    the self-scoring anomaly variants.

    Unigram (n_tokens, surprisal_unats, mean_surprisal_unats): add-one
    smoothing over an open vocabulary,

        P(w)   = (c_w + 1) / (T + V + 1)    for w in the train vocab
        P(UNK) = 1         / (T + V + 1)    for any unseen word

    (T = train token count, V = train vocab size; probabilities sum to
    (T+V)/(T+V+1) + mass for one unseen type — the standard open-vocab
    Laplace estimator).

    Bigram (n_bigrams, bg_surprisal_unats, bg_mean_surprisal_unats):
    stupid backoff (Brants et al. 2007), able to score transitions the
    training corpus never saw,

        S(r|l) = c_train(l,r) / c_left(l)          if bigram seen
               = 0.4 · P_laplace(r)                otherwise

    (unnormalized backoff scores, the accepted trade-off at web scale
    where a properly-normalized Katz/Kneser-Ney backoff would need
    per-context mass bookkeeping over 10^11 bigrams). Backoff positions
    carry STUPID_BACKOFF_LP + the Laplace lp of r — a sum of two
    quantized integers, so per-doc totals stay exact. Docs with < 2
    tokens have NULL bigram columns.

    Scale shape: the Laplace unigram is trained ONCE (one hash
    aggregation over the train split, its T + V + 1 a one-row aggregate)
    and serves both the unigram scorer and the bigram backoff. The
    bigram trainer is one more hash aggregation, with the left-context
    marginal derived from the bigram table. Scoring is explode → LEFT
    joins → ONE integer groupBy(id) per order; the two per-doc tables
    join on id.
    """
    counts, den = _laplace(_tokens(train_df, id_col, text_col))
    uni = _per_doc(
        _tokens(score_df, id_col, text_col)
        .join(counts, on="w", how="left")
        .crossJoin(den),
        id_col,
        "n_tokens", F.count(F.lit(1)),
        "surprisal_unats", -F.sum(_laplace_lp()),
    )
    bg_lp = _bigram_lp(_bigram_pairs(train_df, id_col, text_col))
    scored = (
        _bigram_pairs(score_df, id_col, text_col)
        .join(bg_lp, on=["l", "r"], how="left")
        .join(counts.withColumnRenamed("w", "r"), on="r", how="left")
        .crossJoin(den)
    )
    pos_lp = F.coalesce(F.col("lp"), F.lit(STUPID_BACKOFF_LP) + _laplace_lp())
    bg = _per_doc(
        scored, id_col,
        "n_bigrams", F.count(F.lit(1)),
        "bg_surprisal_unats", -F.sum(pos_lp),
        mean_col="bg_mean_surprisal_unats",
    )
    return uni.join(bg, on=id_col, how="left")


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
    ``kernels.tokens``; bigram identity by token PAIR equals
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
    (``_laplace``) so unseen words take each side's UNK log-prob; an
    empty target gives every token lp_t = 0. Integer micro-nat
    quantization keeps the per-doc sum an exact, engine-portable
    integer (can be negative: more source-like than target-like).
    Downstream, sampling ∝ w completes DSIR; the weights themselves are
    the operator — selection policy (top-k, threshold, Gumbel
    resampling) is the caller's.

    Scale shape: two hash aggregations (one per training corpus), their
    two one-row denominators, then explode → two LEFT joins → ONE
    integer groupBy(id). The score corpus streams through once.
    """
    ct, den_t = _laplace(_tokens(target_df, id_col, text_col), "_t")
    cs, den_s = _laplace(_tokens(source_df, id_col, text_col), "_s")
    scored = (
        _tokens(score_df, id_col, text_col)
        .join(ct, on="w", how="left")
        .join(cs, on="w", how="left")
        .crossJoin(den_t.crossJoin(den_s))
    )
    return _per_doc(
        scored, id_col,
        "n_tokens", F.count(F.lit(1)),
        "log_weight_unats", F.sum(_laplace_lp("_t") - _laplace_lp("_s")),
    )
