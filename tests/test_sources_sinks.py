"""Sources: the binaryFile reader feeds the multimodal operators.
Every other read in the package is plain ``spark.read`` with a declared
schema (``queries._t`` for the testdata tables)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_curator_spark.operators.multimodal import extract_features


def test_binary_reader_media_ingest(spark, tmp_path):
    """binaryFile source feeds the multimodal operator: bytes arrive
    opaque with per-file metadata, and extract_features consumes them."""
    payload = bytes(range(48))
    (tmp_path / "a.bin").write_bytes(payload)
    (tmp_path / "b.bin").write_bytes(payload * 2)
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(str(tmp_path))
    )
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in df.collect()}
    assert rows["a.bin"]["length"] == 48 and bytes(rows["a.bin"]["content"]) == payload
    media = df.select(
        F.col("path").alias("media_id"), F.lit("image").alias("kind"),
        F.col("content").alias("payload"), F.lit(None).cast("string").alias("mime"),
        F.lit(4).alias("width"), F.lit(4).alias("height"),
        F.lit(None).cast("int").alias("sample_rate"), F.lit(None).cast("int").alias("n_frames"),
    )
    feats = extract_features(media).collect()
    assert len(feats) == 2 and all(len(r["feature"]) == 8 for r in feats)
