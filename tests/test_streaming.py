"""Stateless operators inside Structured Streaming: chunking, FIM and
PQ encoding run unchanged on a streaming DataFrame and emit exactly the
batch results."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq


def test_chunk_and_fim_are_streaming_safe(spark, tmp_path):
    """chunk_documents and fim_transform are stateless projections —
    they must run unchanged inside a Structured Streaming query (no
    state store, no watermark) and emit exactly the batch results."""
    import pandas as pd

    from data_curator_spark.operators.sampling import (
        chunk_documents,
        fim_transform,
    )

    land = tmp_path / "docs"
    land.mkdir()
    pdf = pd.DataFrame(
        {"doc_id": range(40), "text": [("abcdefgh" * (i % 7 + 1)) for i in range(40)]}
    )
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), str(land / "d.parquet"))

    batch_df = spark.read.parquet(str(land))
    stream_df = spark.readStream.schema(batch_df.schema).parquet(str(land))

    from data_curator_spark.operators.similarity import (
        pq_encode,
        train_pq_codebooks,
    )

    # pq_encode with pre-trained codebooks is a stateless projection
    # too — train on the batch side, encode inside the stream
    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 13) for j in range(16)]) for i in range(40)],
        "doc_id long, vec array<double>",
    )
    books = train_pq_codebooks(emb, "vec", m=4, k=4, iters=2, dim=16, id_col="doc_id")
    epath = tmp_path / "emb"
    epath.mkdir()
    emb.toPandas().to_parquet(str(epath / "e.parquet"), index=False)

    for name, op in (
        ("chunks", lambda d: chunk_documents(d, "doc_id", "text", 16, 4)),
        ("fim", lambda d: fim_transform(d, "doc_id", "text")),
    ):
        out = str(tmp_path / f"out_{name}")
        q = (
            op(stream_df)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {tuple(r) for r in spark.read.parquet(out).collect()}
        want = {tuple(r) for r in op(batch_df).collect()}
        assert got == want

    ebatch = spark.read.parquet(str(epath))
    estream = spark.readStream.schema(ebatch.schema).parquet(str(epath))
    out = str(tmp_path / "out_pq")
    q = (
        pq_encode(estream, "doc_id", "vec", books)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt_pq"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.doc_id, tuple(r.pq_code)) for r in spark.read.parquet(out).collect()}
    want = {
        (r.doc_id, tuple(r.pq_code))
        for r in pq_encode(ebatch, "doc_id", "vec", books).collect()
    }
    assert got == want
