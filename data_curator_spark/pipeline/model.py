"""Model artifacts for the quality-filter pipeline.

Two small, deterministic, broadcast-able models:

- ``LangIdModel`` — fastText-style linear classifier over hashed char
  trigrams (multinomial-NB weights). Trained at build time from the
  per-language keyword pools (no external data); weights are a dense
  ``(n_buckets, n_langs)`` float32 matrix, broadcast to executors.
- ``BigramLM`` — KenLM-style character-bigram language model with
  additive smoothing; emits per-file log-perplexity.

Scoring is fully numpy-vectorized over whole Arrow batches: documents
are concatenated into one code-point array, n-gram hash buckets computed
with strided arithmetic, and per-document scores accumulated with
``np.add.at`` — zero per-row Python (north_rule).

Why these models are NOT import-gated on real fasttext/kenlm (unlike
the multimodal codecs, which do prefer PIL/librosa when present): the
correctness contract is keep/drop F1 ≥ 0.99 against the reference
labeler, and the labeler is defined over THESE model scores — swapping
in an external model when one happens to be installed would silently
change labels and break the gate's meaning. The deployment path for a
real fastText/KenLM artifact is the same shape (broadcast weights, one
vectorized pandas UDF, gate inside the UDF): load the artifact into
``LangIdModel.weights``-style arrays and retrain the labeler contract
against it deliberately, not via import luck.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import lru_cache

import numpy as np

N_BUCKETS = 4096
_HASH_MUL = 31
_SEP = 0  # document separator code point (never a real char)


def _concat_codes(docs: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate documents into one uint32 code-point array separated by
    sentinel 0s. Returns (codes, doc_lengths incl. +1 separator)."""
    bufs = [np.frombuffer((d + "\x00").encode("utf-32-le"), dtype=np.uint32) for d in docs]
    codes = np.concatenate(bufs) if bufs else np.zeros(0, dtype=np.uint32)
    lens = np.array([len(b) for b in bufs], dtype=np.int64)
    return codes, lens


def _ngram_buckets(codes: np.ndarray, lens: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Hash buckets for every n-gram window + owning doc id, excluding
    windows that cross a document boundary (contain the sentinel).

    int32 arithmetic throughout: max code point (0x10FFFF) × 31^(n-1)
    stays under 2^31 for n ≤ 3, and N_BUCKETS is a power of two so the
    modulo is a bitwise AND — ~2× less memory traffic than the naive
    int64 + ``%`` formulation (this is the pipeline's hottest loop)."""
    total = len(codes)
    if total < n:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    m = total - n + 1
    zero = codes == _SEP
    h = codes[:m].astype(np.int32)
    valid = ~zero[:m]
    for k in range(1, n):
        h *= _HASH_MUL
        h += codes[k : m + k].astype(np.int32)
        valid &= ~zero[k : m + k]
    buckets = h & (N_BUCKETS - 1)
    doc_ids = np.repeat(np.arange(len(lens), dtype=np.int32), lens)[:m]
    return buckets[valid], doc_ids[valid]


def _segment_sums(gathered: np.ndarray, sorted_doc_ids: np.ndarray, n_docs: int) -> np.ndarray:
    """Per-document column sums of ``gathered`` (m, k) given sorted doc
    ids — one np.add.reduceat pass; empty documents fixed up to 0 (a
    reduceat quirk: an empty segment yields the element at its start)."""
    cnt = np.bincount(sorted_doc_ids, minlength=n_docs)
    starts = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(cnt[:-1], out=starts[1:])
    if len(gathered) == 0:
        return np.zeros((n_docs, gathered.shape[1]))
    out = np.add.reduceat(
        gathered, np.minimum(starts, len(gathered) - 1), axis=0
    ).astype(np.float64)
    out[cnt == 0] = 0.0
    return out


@dataclass
class LangIdModel:
    """Hashed char-trigram NB classifier; ``weights`` is (N_BUCKETS, L)."""

    langs: tuple[str, ...]
    weights: np.ndarray  # float32 (N_BUCKETS, n_langs) log-likelihood
    priors: np.ndarray  # float32 (n_langs,) log prior

    def predict(self, docs: list[str]) -> tuple[np.ndarray, np.ndarray]:
        """Returns (argmax lang index, margin = best − second-best score
        per char) for a batch of documents."""
        n = len(docs)
        scores = np.tile(self.priors, (n, 1)).astype(np.float64)
        codes, lens = _concat_codes(docs)
        buckets, doc_ids = _ngram_buckets(codes, lens, 3)
        # doc_ids is sorted → segment sums via one gather + reduceat
        # (~2× over per-class bincount, ~10× over np.add.at scatter)
        scores += _segment_sums(self.weights[buckets], doc_ids, n)
        order = np.argsort(scores, axis=1)
        best = order[:, -1]
        doc_len = np.maximum(lens - 1, 1)
        margin = (
            scores[np.arange(n), best] - scores[np.arange(n), order[:, -2]]
        ) / doc_len
        return best, margin


@dataclass
class BigramLM:
    """Character-bigram LM; ``logp`` is (N_BUCKETS,) log-probability."""

    logp: np.ndarray  # float32

    def log_perplexity(self, docs: list[str]) -> np.ndarray:
        """Mean negative log2 probability per bigram, per document."""
        n = len(docs)
        codes, lens = _concat_codes(docs)
        buckets, doc_ids = _ngram_buckets(codes, lens, 2)
        cnt = np.bincount(doc_ids, minlength=n).astype(np.float64)
        tot = _segment_sums(-self.logp[buckets, None], doc_ids, n)[:, 0]
        return np.where(cnt > 0, tot / np.maximum(cnt, 1.0), np.inf)


def _training_text(lang: str, rng: np.random.Generator) -> list[str]:
    """Deterministic pseudo-corpus from the language's keyword pool."""
    from data_curator_spark.pipeline.corpus import _IDENTS, _KEYWORDS

    kw = _KEYWORDS[lang]
    docs = []
    for _ in range(200):
        n = int(rng.integers(6, 14))
        words = [
            kw[int(rng.integers(0, len(kw)))] if rng.random() < 0.5 else _IDENTS[int(rng.integers(0, len(_IDENTS)))]
            for _ in range(n)
        ]
        docs.append(" ".join(words))
    return docs


def _frozen(a: np.ndarray) -> np.ndarray:
    # builders are memoized, so every caller shares one instance: a
    # read-only array makes an accidental in-place edit raise
    a.setflags(write=False)
    return a


@lru_cache(maxsize=None)
def build_langid_model(seed: int = 7) -> LangIdModel:
    """Train the NB trigram model on deterministic synthetic text. A pure
    function of ``seed``, memoized so a pipeline run does not retrain it
    on the driver."""
    from data_curator_spark.pipeline.corpus import LANGS

    counts = np.ones((N_BUCKETS, len(LANGS)), dtype=np.float64)  # add-one
    for li, lang in enumerate(LANGS):
        rng = np.random.default_rng(seed + li)
        docs = _training_text(lang, rng)
        codes, lens = _concat_codes(docs)
        buckets, _ = _ngram_buckets(codes, lens, 3)
        np.add.at(counts[:, li], buckets, 1.0)
    weights = np.log(counts / counts.sum(axis=0, keepdims=True)).astype(np.float32)
    priors = np.zeros(len(LANGS), dtype=np.float32)
    return LangIdModel(langs=LANGS, weights=_frozen(weights), priors=_frozen(priors))


@lru_cache(maxsize=None)
def build_bigram_lm(seed: int = 11) -> BigramLM:
    """Train the char-bigram LM on the union of all languages' clean
    text. Memoized like ``build_langid_model``."""
    from data_curator_spark.pipeline.corpus import LANGS

    counts = np.full(N_BUCKETS, 0.5, dtype=np.float64)
    for li, lang in enumerate(LANGS):
        rng = np.random.default_rng(seed + li)
        docs = _training_text(lang, rng)
        codes, lens = _concat_codes(docs)
        buckets, _ = _ngram_buckets(codes, lens, 2)
        np.add.at(counts, buckets, 1.0)
    logp = (np.log2(counts) - np.log2(counts.sum())).astype(np.float32)
    return BigramLM(logp=_frozen(logp))
