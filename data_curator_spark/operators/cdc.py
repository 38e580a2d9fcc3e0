"""Content-defined chunking (CDC) — shift-robust segment dedup.

Every other dedup granularity in this engine is POSITION-defined
(lines, word windows, whole docs): inserting one word at the top of a
document shifts every downstream window and invalidates all its
hashes. CDC (Gear hash; Xia et al. 2016 FastCDC, USENIX ATC) cuts
chunk boundaries where a rolling content hash hits a divisor
condition, so boundaries RE-SYNCHRONIZE a few bytes after any local
edit — the standard technique when near-dup detection must survive
prepended headers, injected ads, or shifted boilerplate.

Spark shape: the rolling hash is inherently sequential per byte, so
this is a legitimate Arrow UDF case (mapInPandas) — but NOT a per-byte
Python loop: the Gear recurrence h_i = (h_{i-1} << 1) + gear[b_i]
unrolls to h_i = Σ_{j=0..63} gear[b_{i-j}] << j (older terms shift
out of the 64-bit word), which is computed VECTORIZED as 64 shifted
numpy adds PER DOCUMENT (concatenating a batch would be wrong: each
doc's first 63 hashes would absorb the previous doc's tail bytes, and
chunk boundaries would then vary with nondeterministic Arrow batch
composition). Only the sparse candidate boundaries (hash % avg == 0)
are walked in Python, to enforce min/max chunk bounds per doc. Chunk
identity is the engine's portable 60-bit md5 prefix, so chunk hashes
feed every existing hash-based operator (count windows, groupBy dedup,
decontamination).

Reference analog: none; engine-added for corpus curation.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

CDC_MIN_LEN = 32
CDC_AVG_LEN = 256
CDC_MAX_LEN = 1024

# 256 deterministic 64-bit gear values: md5 of the byte index — fixed
# forever (a gear change re-chunks every corpus), reproducible anywhere
_GEAR = np.array(
    [
        int.from_bytes(hashlib.md5(bytes([b])).digest()[:8], "little")
        for b in range(256)
    ],
    dtype="<u8",
)


def _gear_hashes(data: np.ndarray) -> np.ndarray:
    """Vectorized Gear rolling hash over a uint8 array: out[i] is the
    hash of the (up to) 64 bytes ending at i — 64 shifted adds, no
    per-byte Python."""
    n = len(data)
    g = _GEAR[data]
    acc = np.zeros(n, dtype="<u8")
    with np.errstate(over="ignore"):
        for j in range(64):
            if j >= n:
                break
            acc[j:] += g[: n - j] << np.uint64(j)
    return acc


def _chunk_doc(
    n: int,
    hashes: np.ndarray,
    mask: int,
    min_len: int,
    max_len: int,
) -> list[tuple[int, int]]:
    """(start, length) chunk spans for one doc of ``n`` bytes: cut
    after position i (0-based) when hashes[i] & mask == 0 and the open
    chunk is at least min_len long; force a cut at max_len; the tail
    remainder may be shorter than min_len. Candidate positions come
    pre-vectorized; only they are walked in Python."""
    spans = []
    start = 0
    cand = np.nonzero((hashes & np.uint64(mask)) == 0)[0]
    ci = 0
    while start < n:
        # first candidate usable for this chunk (≥ min_len bytes in)
        while ci < len(cand) and cand[ci] < start + min_len - 1:
            ci += 1
        if ci < len(cand) and cand[ci] + 1 - start <= max_len and cand[ci] + 1 < n:
            cut = int(cand[ci]) + 1
            ci += 1
        elif n - start > max_len:
            # no candidate inside the window: forced cut (the candidate
            # pointer is NOT advanced — a beyond-window candidate can
            # still serve the next chunk)
            cut = start + max_len
        else:
            cut = n
        spans.append((start, cut - start))
        start = cut
    return spans


def cdc_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = CDC_MIN_LEN,
    avg_len: int = CDC_AVG_LEN,
    max_len: int = CDC_MAX_LEN,
) -> DataFrame:
    """Chunk every document at content-defined boundaries. Output: one
    row per chunk — (doc_id, chunk_idx, chunk_pos, chunk_len,
    chunk_hash) with chunk_hash the 60-bit md5 prefix of the chunk's
    UTF-8 bytes; doc_id keeps its INPUT type. Null-text docs emit nothing;
    a doc shorter than min_len is one chunk. avg_len must be a power of
    two (the divisor is a bit mask, the FastCDC convention).

    Scale shape: one mapInPandas pass (vectorized Gear hash over each
    Arrow batch, Python only at the sparse candidate boundaries);
    the output carries ids + 8-byte hashes only — chunk TEXT never
    leaves the batch, so downstream dedup (groupBy chunk_hash, count
    windows, decontamination probes) shuffles hashes, not content.
    Stateless per document — safe on streaming DataFrames."""
    if avg_len < 2 or avg_len & (avg_len - 1):
        raise ValueError(f"avg_len must be a power of two >= 2, got {avg_len}")
    if not (1 <= min_len <= avg_len <= max_len):
        raise ValueError(
            f"need 1 <= min_len <= avg_len <= max_len, got "
            f"{min_len}/{avg_len}/{max_len}"
        )
    mask = avg_len - 1

    schema = StructType(
        [StructField("doc_id", df.schema[id_col].dataType, False)]
        + [
            StructField("chunk_idx", LongType(), False),
            StructField("chunk_pos", LongType(), False),
            StructField("chunk_len", LongType(), False),
            StructField("chunk_hash", LongType(), False),
        ]
    )

    def chunk(batches):
        import pandas as pd

        for pdf in batches:
            ids, idxs, poss, lens, hs = [], [], [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None or (isinstance(text, float) and pd.isna(text)):
                    continue
                raw = str(text).encode("utf-8")
                if not raw:
                    continue
                data = np.frombuffer(raw, dtype="<u1")
                hashes = _gear_hashes(data)
                for i, (start, length) in enumerate(
                    _chunk_doc(len(raw), hashes, mask, min_len, max_len)
                ):
                    ids.append(doc_id)
                    idxs.append(i)
                    poss.append(start)
                    lens.append(length)
                    hs.append(
                        int(
                            hashlib.md5(raw[start : start + length])
                            .hexdigest()[:15],
                            16,
                        )
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids),
                    "chunk_idx": pd.Series(idxs, dtype="int64"),
                    "chunk_pos": pd.Series(poss, dtype="int64"),
                    "chunk_len": pd.Series(lens, dtype="int64"),
                    "chunk_hash": pd.Series(hs, dtype="int64"),
                }
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(chunk, schema=schema)


def cdc_dup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = CDC_MIN_LEN,
    avg_len: int = CDC_AVG_LEN,
    max_len: int = CDC_MAX_LEN,
) -> DataFrame:
    """Per-document shift-robust duplication signal: of the doc's CDC
    chunks, how many (and how many bytes) occur verbatim more than once
    corpus-wide — another doc OR another position of the SAME doc, the
    identical occurrence-count rule as exact_substring_dedup (a
    self-repeating template doc IS duplicated content) — at
    content-defined granularity, immune to position shifts. Output:
    (id, n_chunks, n_dup_chunks, dup_bytes, dup_chunk_bp).

    Scale shape: chunk rows carry ids + hashes only; duplication is ONE
    count window partitioned by chunk_hash (the same ids-only exchange
    as the span marker); per-doc rollup is one groupBy(id)."""
    from pyspark.sql import Window

    chunks = cdc_chunks(
        df, id_col, text_col,
        min_len=min_len, avg_len=avg_len, max_len=max_len,
    )
    marked = chunks.select(
        "doc_id",
        "chunk_len",
        F.count(F.lit(1))
        .over(Window.partitionBy("chunk_hash"))
        .alias("__c"),
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("__c") > 1, 1).otherwise(0)).alias(
                "n_dup_chunks"
            ),
            F.sum(
                F.when(F.col("__c") > 1, F.col("chunk_len")).otherwise(0)
            ).alias("dup_bytes"),
            F.sum("chunk_len").alias("n_bytes"),
        )
        .select(
            F.col("doc_id").alias(id_col) if id_col != "doc_id" else F.col("doc_id"),
            "n_chunks",
            "n_dup_chunks",
            "dup_bytes",
            F.expr("dup_bytes * 10000 DIV n_bytes").alias("dup_chunk_bp"),
        )
    )
