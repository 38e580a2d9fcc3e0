"""Distributed BPE tokenizer training + corpus encoding.

The BPE family in this engine mirrors how production tokenizer
pipelines actually split the work at 10^12-token scale (SentencePiece /
HF tokenizers, both public):

- the CORPUS-sized stage — word counting — is distributed (one Spark
  hash aggregation with map-side combine; the only pass over text);
- the merge-learning loop runs driver-side over the BOUNDED word-count
  table (vocabularies are ~10^6-10^8 distinct pre-tokens even for
  100 TB corpora — the same bounded-collect pattern as the IVF k-means
  centroid step in operators/similarity.py), gated by ``max_vocab_rows``
  so a degenerate tokenization can never silently collect a corpus;
- corpus ENCODING is distributed again, with Python touching only the
  DISTINCT-word table: each unique word is encoded once by an Arrow
  batch UDF, and the per-doc token counts come from a join of that
  table (broadcast or shuffled, as the session's byte threshold
  decides) + integer aggregation — the token stream itself never
  enters Python.

The single-iteration pair-mining view of this loop is
queries.py:q_bpe_merge_candidates; this module is the full trainer.

Reference analog: none (the reference has no tokenizer); engine-added
for the LLM-training-data mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_curator_spark.operators.kernels import nonblank, ws_tokens

# word-count tables above this row count abort training: a vocabulary
# this large means pre-tokenization is broken (binary spill, no
# whitespace), and collecting it would be a driver OOM, not a model
MAX_VOCAB_ROWS = 10_000_000


def train_bpe_merges(
    word_counts: list[tuple[str, int]], num_merges: int
) -> list[tuple[str, str]]:
    """Greedy BPE merge learning over a (word, count) table — pure
    Python, deterministic: each round merges the adjacent symbol pair
    with the highest corpus-weighted count, ties broken by
    lexicographic pair order. Stops early when no pair occurs twice.

    Incremental bookkeeping (pair counts + pair→word index updated only
    for words containing the merged pair) plus a lazy-deletion heap for
    the argmax keeps each round O(words-touched · log pairs), not
    O(all distinct pairs) — the textbook indexed trainer. (-count, pair)
    heap entries make heapq's min-pop return the highest count with
    lexicographic pair tie-break; every count CHANGE pushes a fresh
    entry, and pops that disagree with the live count are stale and
    skipped, so the heap never needs in-place decrease-key.
    """
    if num_merges < 0:
        raise ValueError(f"num_merges must be >= 0, got {num_merges}")
    import heapq

    symbols: list[list[str]] = []
    counts: list[int] = []
    for w, c in word_counts:
        if w:
            symbols.append(list(w))
            counts.append(int(c))

    from collections import defaultdict

    pair_counts: dict[tuple[str, str], int] = defaultdict(int)
    pair_words: dict[tuple[str, str], set[int]] = defaultdict(set)
    for wi, syms in enumerate(symbols):
        c = counts[wi]
        for a, b in zip(syms, syms[1:]):
            pair_counts[(a, b)] += c
            pair_words[(a, b)].add(wi)

    heap = [(-c, p) for p, c in pair_counts.items() if c >= 2]
    heapq.heapify(heap)

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        best = None
        while heap:
            negc, p = heapq.heappop(heap)
            if pair_counts.get(p, 0) == -negc:
                best = (p, -negc)
                break
        if best is None:
            break
        pair = best[0]
        merges.append(pair)
        merged = pair[0] + pair[1]
        for wi in list(pair_words.get(pair, ())):
            syms = symbols[wi]
            c = counts[wi]
            # retract this word's old pair contributions
            for a, b in zip(syms, syms[1:]):
                pair_counts[(a, b)] -= c
                if pair_counts[(a, b)] <= 0:
                    del pair_counts[(a, b)]
                elif pair_counts[(a, b)] >= 2:
                    heapq.heappush(heap, (-pair_counts[(a, b)], (a, b)))
                pw = pair_words.get((a, b))
                if pw is not None:
                    pw.discard(wi)
                    if not pw:
                        del pair_words[(a, b)]
            # apply the merge left-to-right
            out: list[str] = []
            i = 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == pair[0]
                    and syms[i + 1] == pair[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            symbols[wi] = out
            # add back the new contributions
            for a, b in zip(out, out[1:]):
                pair_counts[(a, b)] += c
                pair_words[(a, b)].add(wi)
                if pair_counts[(a, b)] >= 2:
                    heapq.heappush(heap, (-pair_counts[(a, b)], (a, b)))
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply trained merges to one word: repeatedly merge the
    lowest-rank adjacent pair present — the standard (GPT-2-style)
    rank-greedy BPE encoder, deterministic for any merge table."""
    syms = list(word)
    while len(syms) >= 2:
        best_i, best_r = -1, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_r is None or r < best_r):
                best_i, best_r = i, r
        if best_r is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def _word_counts(df: DataFrame, text_col: str) -> DataFrame:
    return (
        nonblank(df, text_col)
        .select(F.explode(ws_tokens(text_col)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def bpe_train(
    df: DataFrame,
    text_col: str,
    num_merges: int,
    max_vocab_rows: int = MAX_VOCAB_ROWS,
) -> list[tuple[str, str]]:
    """Train BPE merges on a corpus: ONE distributed word-count
    aggregation (the only text pass), a gated bounded collect of the
    (word, count) vocabulary, then the driver-side indexed merge loop.
    Collect order does not matter — training depends only on the count
    multiset and lexicographic tie-breaks."""
    # ONE action: collect at most cap+1 rows; an overfull vocab aborts
    # before anything larger reaches the driver
    collected = _word_counts(df, text_col).limit(max_vocab_rows + 1).collect()
    if len(collected) > max_vocab_rows:
        raise ValueError(
            f"vocabulary exceeds max_vocab_rows={max_vocab_rows}; "
            "refusing driver-side collect (check pre-tokenization)"
        )
    rows = [(r["w"], r["c"]) for r in collected]
    rows.sort()  # determinism regardless of collect partition order
    return train_bpe_merges(rows, num_merges)


def bpe_encode_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Per-document token counts under a trained merge table:
    (id, n_words, n_bpe_tokens). The encoder runs ONCE PER DISTINCT
    WORD (Arrow batch UDF over the deduplicated word table — at web
    scale that is vocab-sized Python work, corpus-sized never enters
    Python); per-doc counts are a join of the (word → n_pieces) table
    onto the per-doc word counts plus one integer aggregation. The join
    carries no hint: the session's byte threshold broadcasts the table
    while it is small and shuffles it otherwise. Docs with null/blank
    text are excluded (no tokens to encode)."""
    import pandas as pd

    ranks = {p: i for i, p in enumerate(merges)}

    toks = (
        nonblank(df, text_col)
        .select(F.col(id_col), F.explode(ws_tokens(text_col)).alias("w"))
        .filter(F.col("w") != "")
    )

    def enc(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "w": pdf["w"],
                    "n_pieces": [
                        len(encode_word(w, ranks)) for w in pdf["w"]
                    ],
                }
            )

    from data_curator_spark.engine.cache import persist_tracked

    # ONE corpus explode: per-doc word counts are aggregated first and
    # persisted, then feed BOTH the distinct-word encode table and the
    # final per-doc sums — the earlier shape exploded the corpus twice
    # (once for distinct, once for the join), and the (id, w, cnt)
    # table is also far smaller than the token stream when words repeat
    # within documents. When the input is hash-partitioned by id (the
    # gate query spreads by doc_id) both groupBys reuse that exchange.
    gcounts = persist_tracked(
        toks.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("__cnt"))
    )
    pieces = gcounts.select("w").distinct().mapInPandas(enc, "w string, n_pieces long")
    return (
        gcounts.join(pieces, on="w")
        .groupBy(id_col)
        .agg(
            F.sum("__cnt").alias("n_words"),
            F.sum(F.col("__cnt") * F.col("n_pieces")).alias("n_bpe_tokens"),
        )
    )
