"""The corpus reader both pipeline layouts share (runner.read_corpus):
the input is read with the declared CORPUS_SCHEMA, a file without a
declared column or with a non-string one fails instead of reading
NULLs or bytes, and extra input columns change nothing."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_curator_spark.pipeline.corpus import generate_corpus
from data_curator_spark.pipeline.mvcc import read_current, run_pipeline_mvcc
from data_curator_spark.pipeline.runner import OUTPUT_COLS, read_corpus, run_pipeline

LAYOUTS = {
    "runner": lambda spark, src, out, man: run_pipeline(spark, src, out, man, n_buckets=4),
    "mvcc": lambda spark, src, out, man: run_pipeline_mvcc(spark, src, out, man, n_buckets=4),
}


@pytest.fixture(scope="module")
def corpus() -> pa.Table:
    return pa.Table.from_pandas(generate_corpus(60, 17), preserve_index=False)


def _write(table: pa.Table, path) -> str:
    pq.write_table(table, path)
    return str(path)


def _output(spark, layout: str, out: str, man: str) -> list[str]:
    df = spark.read.parquet(out) if layout == "runner" else read_current(spark, out, man)
    return sorted(repr(tuple(r)) for r in df.select("bucket", *OUTPUT_COLS).collect())


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_missing_content_column_raises(spark, tmp_path, corpus, layout):
    src = _write(corpus.drop(["content"]), tmp_path / "c.parquet")
    with pytest.raises(ValueError, match="'content': 'missing'"):
        LAYOUTS[layout](spark, src, str(tmp_path / "out"), str(tmp_path / "m"))


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_binary_content_column_fails(spark, tmp_path, corpus, layout):
    """A declared-schema read would decode an unannotated BINARY column
    as STRING without complaint; the footer check refuses it."""
    i = corpus.schema.get_field_index("content")
    binary = corpus.set_column(
        i, "content", corpus.column("content").cast(pa.binary())
    )
    src = _write(binary, tmp_path / "c.parquet")
    with pytest.raises(ValueError, match="'content': 'binary'"):
        LAYOUTS[layout](spark, src, str(tmp_path / "out"), str(tmp_path / "m"))


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_extra_input_column_changes_nothing(spark, tmp_path, corpus, layout):
    extra = corpus.append_column("stars", pa.array(range(corpus.num_rows), pa.int64()))
    got = {}
    for name, table in (("plain", corpus), ("extra", extra)):
        src = _write(table, tmp_path / f"{name}.parquet")
        out, man = str(tmp_path / f"out-{name}"), str(tmp_path / f"m-{name}")
        stats = LAYOUTS[layout](spark, src, out, man)
        got[name] = (stats["rows_total"], stats["rows_kept"], _output(spark, layout, out, man))
    assert got["plain"][0] == corpus.num_rows
    assert got["extra"] == got["plain"]


def test_reader_reads_declared_columns_without_a_job(spark, tmp_path, corpus):
    src = _write(corpus.select(["content", "repo"]), tmp_path / "c.parquet")
    sc = spark.sparkContext
    sc.setJobGroup("read-corpus", "read", True)
    try:
        df = read_corpus(spark, src, ["content"])
        jobs = sc.statusTracker().getJobIdsForGroup("read-corpus")
    finally:
        sc.setJobGroup("", "", False)
    assert df.columns == ["content"] and jobs == []
    assert df.count() == corpus.num_rows
    with pytest.raises(ValueError, match="'path': 'missing'"):
        read_corpus(spark, src)
