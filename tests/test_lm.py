"""Corpus-trained LM scorers: anomaly ordering, exact held-out and
DSIR values, edge cases (empty input, empty train split),
partitioning invariance."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_curator_spark.operators.lm import unigram_surprisal


def test_rare_word_docs_are_more_surprising(spark):
    rows = [(i, "the cat sat on the mat") for i in range(20)]
    rows.append((99, "zyzzogeton quux flarn the"))  # rare words
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in unigram_surprisal(df, "doc_id", "text").collect()}
    common_mean = out[0].mean_surprisal_unats
    rare_mean = out[99].mean_surprisal_unats
    assert rare_mean > common_mean
    # all docs scored, integer outputs, positive surprisal
    assert len(out) == 21
    assert all(r.surprisal_unats > 0 for r in out.values())


def test_null_and_empty_text_excluded(spark):
    df = spark.createDataFrame(
        [(1, "a b"), (2, None), (3, "   "), (4, "")],
        "doc_id long, text string",
    )
    out = unigram_surprisal(df, "doc_id", "text").collect()
    assert {r.doc_id for r in out} == {1}


def test_empty_corpus_returns_empty_frame(spark):
    df = spark.createDataFrame([], "doc_id long, text string")
    out = unigram_surprisal(df, "doc_id", "text")
    assert out.count() == 0
    assert set(out.columns) == {
        "doc_id", "n_tokens", "surprisal_unats", "mean_surprisal_unats"
    }


def test_partitioning_invariance(spark):
    rows = [(i, f"w{i % 7} w{i % 3} common") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, unigram_surprisal(df, "doc_id", "text").collect()))
    b = sorted(
        map(tuple, unigram_surprisal(df.repartition(13), "doc_id", "text").collect())
    )
    assert a == b


def test_bigram_surprisal_flags_token_salad(spark):
    from data_curator_spark.operators.lm import bigram_surprisal

    # 20 copies of a rigid template (deterministic transitions,
    # surprisal ~0) + one doc with the SAME words jumbled
    rows = [(i, "a b c d a b c d a b c d") for i in range(20)]
    rows.append((99, "d a c b d c a d b c b a"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in bigram_surprisal(df, "doc_id", "text").collect()}
    assert out[99].mean_surprisal_unats > out[0].mean_surprisal_unats
    assert out[0].n_bigrams == 11


def test_bigram_surprisal_excludes_short_docs(spark):
    from data_curator_spark.operators.lm import bigram_surprisal

    df = spark.createDataFrame(
        [(1, "only"), (2, None), (3, "two words")],
        "doc_id long, text string",
    )
    out = bigram_surprisal(df, "doc_id", "text").collect()
    assert {r.doc_id for r in out} == {3}
    # a lone transition has probability 1 -> surprisal exactly 0
    assert out[0].surprisal_unats == 0


def test_heldout_unseen_words_take_unk_logprob(spark):
    """A held-out doc of entirely unseen words scores exactly
    n_tokens · (−unk_lp); mixed docs land between all-seen and
    all-unseen; UNK is the most surprising value in the model."""
    import math

    from data_curator_spark.operators.lm import LP_SCALE_BITS, heldout_scores

    train = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(10)],
        "doc_id long, text string",
    )
    score = spark.createDataFrame(
        [
            (100, "the cat sat"),          # all seen
            (101, "zyzzogeton flarn quux"),  # all UNK
            (102, "the zyzzogeton"),       # mixed
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in heldout_scores(train, score, "doc_id", "text").collect()
    }
    assert set(out) == {100, 101, 102}
    # replicate the Laplace estimator: T=60 tokens, V=5 types
    total, vsize = 60, 5
    denom = total + vsize + 1
    unk_lp = math.floor(math.log(1.0 / denom) * (1 << LP_SCALE_BITS))
    assert out[101].surprisal_unats == 3 * (-unk_lp)
    assert out[101].mean_surprisal_unats == -unk_lp
    # UNK is rarer than any trained word → strictly most surprising
    assert (
        out[100].mean_surprisal_unats
        < out[102].mean_surprisal_unats
        < out[101].mean_surprisal_unats
    )


def test_heldout_train_and_score_are_independent_frames(spark):
    """Scoring must not leak score-split tokens into training: the same
    score doc gets a different surprisal when the train corpus changes,
    and an identical one when only the SCORE set grows."""
    from data_curator_spark.operators.lm import heldout_scores

    train_a = spark.createDataFrame(
        [(1, "alpha beta gamma")], "doc_id long, text string"
    )
    train_b = spark.createDataFrame(
        [(1, "alpha alpha alpha beta gamma")], "doc_id long, text string"
    )
    score = spark.createDataFrame([(9, "alpha beta")], "doc_id long, text string")
    score_more = spark.createDataFrame(
        [(9, "alpha beta"), (10, "alpha alpha alpha alpha")],
        "doc_id long, text string",
    )
    a = heldout_scores(train_a, score, "doc_id", "text").collect()[0]
    b = heldout_scores(train_b, score, "doc_id", "text").collect()[0]
    assert a.surprisal_unats != b.surprisal_unats
    a2 = {
        r.doc_id: r
        for r in heldout_scores(train_a, score_more, "doc_id", "text").collect()
    }[9]
    assert a2.surprisal_unats == a.surprisal_unats


def test_dsir_weights_favor_target_like_docs(spark):
    """A raw doc written in the target's vocabulary must get a higher
    log weight than one written in the source's own vocabulary; weights
    are exact integers and can be negative."""
    from data_curator_spark.operators.lm import dsir_log_weights

    target = spark.createDataFrame(
        [(i, "clean prose about science and history") for i in range(10)],
        "doc_id long, text string",
    )
    source = spark.createDataFrame(
        [(100 + i, "buy cheap pills now click here") for i in range(10)]
        + [(200, "clean prose about science"), (201, "buy pills here now")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in dsir_log_weights(
            target, source, source, "doc_id", "text"
        ).collect()
    }
    assert len(out) == 12
    # target-like doc scores above the spammy one
    assert out[200].log_weight_unats > out[201].log_weight_unats
    # spam dominates the source corpus -> spam doc is source-like (negative)
    assert out[201].log_weight_unats < 0
    assert all(isinstance(r.log_weight_unats, int) for r in out.values())


def test_heldout_bigram_backoff_values_exact(spark):
    """Seen transitions score the MLE conditional; unseen transitions
    take STUPID_BACKOFF_LP + Laplace unigram (UNK for unseen words);
    1-token docs have NULL bigram columns — all hand-computed integers."""
    import math

    from data_curator_spark.operators.lm import (
        LP_SCALE_BITS,
        STUPID_BACKOFF_LP,
        heldout_scores,
    )

    train = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c")], "doc_id long, text string"
    )
    score = spark.createDataFrame(
        [(10, "a b"), (11, "b a"), (12, "a z"), (13, "a")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in heldout_scores(train, score, "doc_id", "text").collect()
    }
    q = 1 << LP_SCALE_BITS
    # train: c(a,b)=2, c(a,c)=1, c_l(a)=3; unigram T=6, V=3, denom=10
    lp_ab = math.floor(math.log(2 / 3) * q)
    lp_uni_a = math.floor(math.log(4 / 10) * q)
    unk = math.floor(math.log(1 / 10) * q)
    assert set(out) == {10, 11, 12, 13}
    # "a" has no bigram positions
    assert (out[13].n_bigrams, out[13].bg_surprisal_unats) == (None, None)
    assert out[10].bg_surprisal_unats == -lp_ab
    assert out[11].bg_surprisal_unats == -(STUPID_BACKOFF_LP + lp_uni_a)
    assert out[12].bg_surprisal_unats == -(STUPID_BACKOFF_LP + unk)
    assert all(out[i].n_bigrams == 1 for i in (10, 11, 12))
    assert out[13].surprisal_unats == -lp_uni_a


def test_heldout_bigram_prefers_seen_transitions(spark):
    """A doc made of trained transitions must score lower surprisal
    than token salad over the same vocabulary."""
    from data_curator_spark.operators.lm import heldout_scores

    train = spark.createDataFrame(
        [(i, "the quick brown fox jumps") for i in range(5)],
        "doc_id long, text string",
    )
    score = spark.createDataFrame(
        [(100, "the quick brown fox"), (101, "fox the jumps brown")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in heldout_scores(train, score, "doc_id", "text").collect()
    }
    assert (
        out[100].bg_mean_surprisal_unats < out[101].bg_mean_surprisal_unats
    )


def test_heldout_empty_train_split_scores_zero(spark):
    """An empty train split has T = V = 0, so the Laplace denominator is
    1 and every word, seen or not, has lp = FLOOR(ln(1/1) · 2^20) = 0:
    every held-out doc scores 0 at both orders (STUPID_BACKOFF_LP on
    each bigram position). SUM over no rows is NULL, so a denominator
    without its COALESCE would score NULL instead."""
    from data_curator_spark.operators.lm import STUPID_BACKOFF_LP, heldout_scores

    train = spark.createDataFrame([(1, None), (2, "   ")], "doc_id long, text string")
    score = spark.createDataFrame(
        [(10, "a b c"), (11, "z")], "doc_id long, text string"
    )
    out = {
        r.doc_id: tuple(r)[1:]
        for r in heldout_scores(train, score, "doc_id", "text").collect()
    }
    backoff = -STUPID_BACKOFF_LP
    assert out == {
        10: (3, 0, 0, 2, 2 * backoff, backoff),
        11: (1, 0, 0, None, None, None),
    }


def test_dsir_empty_target_takes_zero_target_lp(spark):
    """An empty target corpus gives every token lp_t = 0, so a doc's
    log weight is −Σ lp_s under the source's Laplace unigram."""
    import math

    from data_curator_spark.operators.lm import LP_SCALE_BITS, dsir_log_weights

    q = 1 << LP_SCALE_BITS
    target = spark.createDataFrame([], "doc_id long, text string")
    source = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id long, text string"
    )
    out = {
        r.doc_id: (r.n_tokens, r.log_weight_unats)
        for r in dsir_log_weights(target, source, source, "doc_id", "text").collect()
    }
    # source: T=5, V=3, denom=9; c(a)=2, c(b)=2, c(c)=1
    lp = {w: math.floor(math.log((c + 1) / 9) * q) for w, c in
          {"a": 2, "b": 2, "c": 1}.items()}
    assert out == {
        1: (3, -(2 * lp["a"] + lp["b"])),
        2: (2, -(lp["b"] + lp["c"])),
    }


def test_bigram_repetition_stats_arrow_matches_expression(spark):
    """Arrow per-doc bigram Counter pass == explode+groupBy expression
    reference, adversarial docs + sf0.01 corpus."""
    from data_curator_spark.operators.lm import bigram_repetition_stats
    from tests import kernel_references as ref

    adversarial = [
        (1, "a b c a b c a b"),
        (2, None),
        (3, ""),
        (4, "single"),
        (5, "\nnl lead tok tok"),
        (6, "x  y   z x  y"),
        (7, "wörd café wörd café"),
    ]
    df = spark.createDataFrame(adversarial, "doc_id long, text string")

    def rows(frame, fn):
        return sorted(tuple(r) for r in fn(frame, "doc_id", "text").collect())

    assert rows(df, bigram_repetition_stats) == rows(
        df, ref.bigram_repetition_stats
    )
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    assert rows(docs, bigram_repetition_stats) == rows(
        docs, ref.bigram_repetition_stats
    )
