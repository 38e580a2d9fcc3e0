"""Supervised NB language-ID: one-pass trainer over hashed char
n-grams, integer micro-nat scores (operators/classifier.py)."""

from __future__ import annotations

import pytest

from data_curator_spark.operators.classifier import _doc_feats, nb_langid


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_nb_langid_separable_classes(spark):
    """Two classes with disjoint alphabets classify perfectly, with
    strictly positive margins, on both train-set docs and held-in
    repeats."""
    import random

    rng = random.Random(13)
    rows = []
    i = 0
    for _ in range(30):
        rows.append(
            (i, " ".join(
                "".join(rng.choice("abcdef") for _ in range(5))
                for _ in range(12)
            ), "aa")
        )
        i += 1
        rows.append(
            (i, " ".join(
                "".join(rng.choice("uvwxyz") for _ in range(5))
                for _ in range(12)
            ), "zz")
        )
        i += 1
    out = nb_langid(_mk(spark, rows), "doc_id", "text", "lang").collect()
    assert len(out) == 60
    for r in out:
        assert r["nb_pred"] == r["lang"]
        assert r["nb_margin_unats"] > 0


def test_nb_langid_deterministic(spark):
    """Same input → identical (pred, margin) across two runs — the
    integer-quantized scores leave no float reassociation to vary."""
    rows = [
        (1, "hello world the quick brown fox", "en"),
        (2, "der schnelle braune fuchs springt", "de"),
        (3, "hello welt the quick fuchs", "en"),
        (4, "der brown world springt quick", "de"),
    ]
    a = {
        r["doc_id"]: (r["nb_pred"], r["nb_margin_unats"])
        for r in nb_langid(_mk(spark, rows), "doc_id", "text", "lang").collect()
    }
    b = {
        r["doc_id"]: (r["nb_pred"], r["nb_margin_unats"])
        for r in nb_langid(_mk(spark, rows), "doc_id", "text", "lang").collect()
    }
    assert a == b


def test_nb_langid_tie_breaks_class_desc(spark):
    """Two classes trained on IDENTICAL text with equal doc counts tie
    exactly; the deterministic rule picks the lexicographically LAST
    class and reports margin 0."""
    rows = [
        (1, "mirror mirror text", "aa"),
        (2, "mirror mirror text", "zz"),
    ]
    out = nb_langid(_mk(spark, rows), "doc_id", "text", "lang").collect()
    for r in out:
        assert r["nb_pred"] == "zz"
        assert r["nb_margin_unats"] == 0


def test_nb_langid_single_class(spark):
    rows = [(1, "only one class here", "en"), (2, "more of it", "en")]
    out = nb_langid(_mk(spark, rows), "doc_id", "text", "lang").collect()
    assert all(r["nb_pred"] == "en" and r["nb_margin_unats"] == 0 for r in out)


def test_nb_langid_short_and_null_excluded(spark):
    """Docs with < gram_len chars or null text emit no features and no
    output row (nothing to score)."""
    rows = [(1, "long enough text", "en"), (2, "ab", "en"), (3, None, "en")]
    out = nb_langid(_mk(spark, rows), "doc_id", "text", "lang").collect()
    assert [r["doc_id"] for r in out] == [1]


def test_doc_feats_validates(spark):
    df = _mk(spark, [(1, "abc", "en")])
    with pytest.raises(ValueError, match="gram_len"):
        _doc_feats(df, "doc_id", "text", ("lang",), 0, 64)
    with pytest.raises(ValueError, match="n_buckets"):
        _doc_feats(df, "doc_id", "text", ("lang",), 3, 1)


def test_nb_langid_all_null_raises(spark):
    df = _mk(spark, [(1, None, "en")])
    with pytest.raises(ValueError, match="trainable"):
        nb_langid(df, "doc_id", "text", "lang")


def test_doc_feats_arrow_matches_expression(spark):
    """The Arrow per-doc bucket-count kernel must equal the JVM
    explode+groupBy reference exactly (same md5 buckets, same counts),
    adversarial docs + sf0.01 corpus."""
    from tests.kernel_references import doc_feats

    adversarial = [
        (1, "en", "plain text document with letters"),
        (2, "fr", None),
        (3, "de", ""),
        (4, "en", "ab"),              # < gram_len: no rows
        (5, "fr", "ñandú café naïve"),
        (6, None, "null label row"),
        (7, "en", "aaaaaaaaaaaaaaaa"),  # heavy gram repetition
    ]
    df = spark.createDataFrame(adversarial, "doc_id long, lang string, text string")

    def rows(frame, fn):
        return sorted(
            tuple(r)
            for r in fn(
                frame.filter(frame.lang.isNotNull()),
                "doc_id", "text", ("lang",), 3, 32768,
            ).collect()
        )

    assert rows(df, _doc_feats) == rows(df, doc_feats)
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    assert rows(docs, _doc_feats) == rows(docs, doc_feats)
