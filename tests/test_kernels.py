"""The Arrow doc-kernel core (operators/kernels.py): its tokenizer and
hash against the Spark expressions the oracles mirror, and exact id and
label pass-through in every producer built on it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_curator_spark.operators.classifier import _doc_feats
from data_curator_spark.operators.dedup import (
    _segment_hash_rows,
    _span_hash_rows,
    contamination_overlap,
    hex_prefix_long,
    minhash_signatures,
)
from data_curator_spark.operators.kernels import P31, md5_60, tokens, ws_tokens
from data_curator_spark.operators.lm import bigram_repetition_stats

# the adversarial strings of the differential tests in test_dedup.py,
# test_lm.py and test_classifier.py
ADVERSARIAL = [
    None,
    "",
    "   ",
    "\n\nleading newline then words follow",
    "\nnl lead tok tok",
    "tab\tseparated\twords\tfour",
    "trailing spaces words here   ",
    "multi   space    words   here",
    " \t mixed \r\n ends \t",
    "unicode wörds café naïve résumé",
    "ñandú café naïve",
    "x " * 500,
]


def test_tokenizer_and_hash_match_spark_expressions(spark):
    df = spark.createDataFrame(
        list(enumerate(ADVERSARIAL)), "i int, text string"
    ).select(
        "i",
        ws_tokens("text").alias("toks"),
        hex_prefix_long(F.col("text"), 15).alias("h60"),
        (hex_prefix_long(F.col("text"), 8) % F.lit(P31)).alias("base"),
    )
    for r in df.collect():
        txt = ADVERSARIAL[r.i]
        assert tokens(txt) == r.toks, repr(txt)
        if txt is None:
            assert r.h60 is None and r.base is None
            continue
        assert md5_60(txt) == r.h60, repr(txt)
        # the MinHash base: md5[:8] is the top 32 of the 60 bits
        assert (md5_60(txt) >> 28) % P31 == r.base, repr(txt)


def test_md5_memo_evicts_the_older_half_when_full(monkeypatch):
    from data_curator_spark.operators import kernels

    monkeypatch.setattr(kernels, "MEMO_SIZE", 4)
    monkeypatch.setattr(kernels, "_MEMO", {})
    grams = [f"g{i}" for i in range(5)]
    want = [md5_60(g) for g in grams]  # the fifth miss evicts g0, g1
    assert list(kernels._MEMO) == ["g2", "g3", "g4"]
    assert [md5_60(g) for g in grams] == want
    assert len(kernels._MEMO) <= 4


TEXT = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
# (doc_id, lang): 2**62 + 1 has no float64 image, so a pandas detour
# would return 2**62 for it
ROWS = [(1, 7), (None, None), (2**62 + 1, 2**62 + 3)]

PRODUCERS = {
    "minhash_signatures": lambda df: minhash_signatures(df, "doc_id", "text", k=4),
    "bigram_repetition_stats": lambda df: bigram_repetition_stats(
        df, "doc_id", "text"
    ),
    "contamination_overlap": lambda df: contamination_overlap(
        df, df, "doc_id", "text"
    ),
    "segment_hash_rows": lambda df: _segment_hash_rows(df, "doc_id", "text", " ", 1),
    "span_hash_rows": lambda df: _span_hash_rows(df, "doc_id", "text", 8),
    "doc_feats": lambda df: _doc_feats(df, "doc_id", "text", ("lang",), 3, 64),
}


@pytest.mark.parametrize("name", sorted(PRODUCERS))
def test_producers_return_nullable_bigint_ids_exactly(spark, name):
    df = spark.createDataFrame(
        [(i, lang, TEXT) for i, lang in ROWS],
        "doc_id long, lang long, text string",
    ).coalesce(1)
    out = PRODUCERS[name](df)
    assert dict(out.dtypes)["doc_id"] == "bigint"
    if name == "doc_feats":
        assert dict(out.dtypes)["lang"] == "bigint"
        assert {(r.doc_id, r.lang) for r in out.collect()} == set(ROWS)
    else:
        assert {r.doc_id for r in out.collect()} == {i for i, _ in ROWS}
