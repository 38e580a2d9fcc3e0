"""The Arrow document-kernel core shared by the text producers.

Every Python text kernel in ``operators/`` (the MinHash, shingle,
segment and span hashers in dedup.py, the bigram counter in lm.py, the
char-gram bucket counter in classifier.py) is a per-document function
handed to ``map_docs``: one ``mapInArrow`` pass that owns the batch
loop, skips null text, and carries the id/label columns through with
Arrow ``take`` — their type and nulls survive exactly (a nullable
bigint id never detours through a pandas float64).

The tokenizer, gram builder and hash are defined here once, each equal
to the Spark expression the DuckDB oracles mirror:

- ``ws_tokens(c)`` is the one whitespace tokenizer of the package,
  ``split(trim(c), WS_RE)`` as a Column; ``nonblank(df, c)`` keeps the
  docs whose text is neither NULL nor blank, the rows it has tokens
  for. ``tokens(x)`` is its Python twin: Spark's ``trim`` strips 0x20
  only (Python ``.strip(" ")``), and ``re.split`` keeps leading and
  trailing empty fields like Java ``split`` with limit −1.
- ``md5_60(g)`` == ``hex_prefix_long(g, 15)``, the first 60 bits of
  md5 as a non-negative long; ``md5_60(g) >> 28`` is the first 32 bits
  (``md5[:8]``), the MinHash base before ``% P31``.
"""

from __future__ import annotations

import hashlib
import itertools
import re

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import StructField, StructType

WS_RE = "[ \\n\\t\\r]+"
P31 = 2_147_483_647  # Mersenne prime 2^31 - 1: affine-hash modulus
# distinct grams remembered per Python worker; gram vocabularies repeat
# heavily across docs, and the bound caps worker memory at tens of MB
MEMO_SIZE = 1 << 18

_WS = re.compile(WS_RE)
_MEMO: dict[str, int] = {}


def ws_tokens(c: Column | str) -> Column:
    """Whitespace tokens of text column ``c``: ``split(trim(c), WS_RE)``."""
    return F.split(F.trim(c), WS_RE)


def nonblank(df: DataFrame, text_col: str) -> DataFrame:
    """The rows of ``df`` whose ``text_col`` is neither NULL nor blank."""
    return df.filter(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    )


def tokens(txt: str | None) -> list[str] | None:
    """Whitespace tokens of ``txt``, exactly ``split(trim(txt), WS_RE)``."""
    return None if txt is None else _WS.split(txt.strip(" "))


def word_grams(words: list[str], n: int) -> list[str]:
    """Every space-joined ``n``-token window of ``words``, in order."""
    return [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)]


def md5_60(g: str) -> int:
    """First 15 hex digits of md5(g) as an int: ``hex_prefix_long(g, 15)``.

    Memoized per Python worker in ``_MEMO``; when it holds ``MEMO_SIZE``
    grams the older half (dict insertion order) is evicted, so the memo
    never starts over empty. A plain dict behind a Python function, not
    ``functools.lru_cache``: a cache hit through the lru_cache wrapper
    took ~45% longer on sf0.1 char trigrams (4-vCPU x86 host)."""
    h = _MEMO.get(g)
    if h is None:
        if len(_MEMO) >= MEMO_SIZE:
            for old in list(itertools.islice(_MEMO, MEMO_SIZE // 2)):
                del _MEMO[old]
        h = _MEMO[g] = int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16)
    return h


def map_docs(
    df: DataFrame,
    text_col: str,
    per_doc,
    out: list[tuple[str, pa.DataType]],
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """One ``mapInArrow`` pass of ``per_doc`` over the non-null texts.

    ``per_doc(text)`` returns a sequence of output tuples, one per
    output row, with fields in ``out`` order; an empty sequence emits
    nothing. Each output row leads with the ``keep`` columns of its
    source row, taken from the input batch with their Spark type."""
    schema = StructType(
        [df.schema[c] for c in keep]
        + [StructField(name, from_arrow_type(t)) for name, t in out]
    )
    types = [t for _, t in out]

    def run(batches):
        for batch in batches:
            src: list[int] = []
            rows: list[tuple] = []
            for i, txt in enumerate(batch.column(text_col).to_pylist()):
                if txt is not None:
                    got = per_doc(txt)
                    rows.extend(got)
                    src.extend([i] * len(got))
            idx = pa.array(src, pa.int64())
            cols = [batch.column(c).take(idx) for c in keep]
            cols += [
                pa.array([r[j] for r in rows], type=t)
                for j, t in enumerate(types)
            ]
            yield pa.RecordBatch.from_arrays(cols, names=schema.names)

    return df.select(*keep, text_col).mapInArrow(run, schema)
