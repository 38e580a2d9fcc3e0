"""Query construction is cheap and job-free.

- Every testdata table is read with its declared schema
  (``queries.TABLE_SCHEMAS``), which must equal what Spark infers from
  the parquet footer; a file whose types drift, or that lacks a declared
  column, fails instead of being cast or padded with NULLs.
- Building a gate query's DataFrame launches a pinned number of Spark
  jobs: none for the six perfbench ``operators`` queries, the four LM
  queries and the queries whose join sizes are left to the byte
  threshold, a ceiling for the queries that still train or count on
  the driver.
"""

from __future__ import annotations

import sys
import uuid
from pathlib import Path

import pytest

from __spark_entry__ import SF0001
from data_curator_spark.queries import QUERIES, TABLE_SCHEMAS, _t

ROOT = Path(__file__).resolve().parents[1]
SF_DIRS = tuple(str(Path(SF0001).with_name(f"sf{sf}")) for sf in ("0.001", "0.01", "0.1"))


def _inferred_drift(spark, sf_dir: str) -> dict[str, tuple[str, str]]:
    """table -> (declared DDL, inferred DDL) for every table that differs."""
    out = {}
    for name in TABLE_SCHEMAS:
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        declared = _t(spark, sf_dir, name).schema
        if declared != inferred:
            out[name] = (declared.simpleString(), inferred.simpleString())
    return out


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=lambda p: p.rsplit("/", 1)[-1])
def test_declared_schemas_match_parquet_footers(spark, sf_dir):
    assert _inferred_drift(spark, sf_dir) == {}


def test_declared_schemas_match_perfbench_tables(spark, tmp_path):
    """The benchmark's seeded tables read with the same schemas."""
    sys.path.insert(0, str(ROOT / "perfbench"))
    try:
        import tables
    finally:
        sys.path.remove(str(ROOT / "perfbench"))
    assert set(tables.TABLES) == set(TABLE_SCHEMAS)
    tables.write_tables(str(tmp_path), 7)
    assert _inferred_drift(spark, str(tmp_path)) == {}


def test_drifted_column_type_fails_instead_of_casting(spark, tmp_path):
    """A documents file whose doc_id is a string must fail when read,
    never be cast to the declared BIGINT."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({
            "doc_id": ["1", "2"],
            "text": ["a b c", "d e f"],
            "lang": ["en", "en"],
            "source": ["s", "s"],
            "n_chars": pa.array([5, 5], pa.int64()),
        }),
        tmp_path / "documents.parquet",
    )
    with pytest.raises(Exception, match=r"DATA_TYPE_MISMATCH[^\n]*\[doc_id\]"):
        _t(spark, str(tmp_path), "documents").collect()


def test_missing_column_fails_instead_of_reading_nulls(spark, tmp_path):
    """A documents file without n_chars must fail in ``_t``, never be
    read with n_chars as NULLs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({
            "doc_id": pa.array([1, 2], pa.int64()),
            "text": ["a b c", "d e f"],
            "lang": ["en", "en"],
            "source": ["s", "s"],
        }),
        tmp_path / "documents.parquet",
    )
    with pytest.raises(ValueError, match=r"lacks declared column\(s\) \['n_chars'\]"):
        _t(spark, str(tmp_path), "documents")


# Spark jobs launched while building each query, before any action
# (the counts are the same at sf0.001 and sf0.01). The six perfbench
# ``operators`` queries build with none, and so do the four LM queries,
# line_repetition, centroid_outliers and ann_lsh: their denominators are
# one-row aggregates inside the plan, and their joins are left to the
# byte threshold, with no size probe. What remains is driver-side
# training: dedup_clusters' connected-components rounds, the NB model's
# class totals in doc_quality_stats, the BPE model, and ann_ivf's one
# collect of the vectors its k-means trains on; and boilerplate_strip's
# document count. A ceiling, not an exact count: a memoized driver model
# built by an earlier test lowers it.
BUILD_JOB_CEILINGS = {
    "minhash_lsh": 0,
    "decontaminate": 0,
    "pricing_summary": 0,
    "revenue_by_nation": 0,
    "rolling_features": 0,
    "sessionize": 0,
    "heldout_perplexity": 0,
    "dsir_importance": 0,
    "bigram_surprisal": 0,
    "unigram_surprisal": 0,
    "line_repetition": 0,
    "centroid_outliers": 0,
    "ann_lsh": 0,
    "dedup_clusters": 17,
    "doc_quality_stats": 5,
    "ann_ivf": 1,
    "boilerplate_strip": 3,
    "bpe_encode": 3,
}


def test_build_job_ceilings(spark):
    sc = spark.sparkContext
    tag = uuid.uuid4().hex[:8]
    got = {}
    for name in BUILD_JOB_CEILINGS:
        spark.catalog.clearCache()
        group = f"build-{tag}-{name}"
        sc.setJobGroup(group, name, True)
        try:
            QUERIES[name](spark, SF0001)
            got[name] = len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setJobGroup("", "", False)
    spark.catalog.clearCache()
    over = {n: (got[n], cap) for n, cap in BUILD_JOB_CEILINGS.items() if got[n] > cap}
    assert over == {}, f"query: (build jobs, ceiling) {over}"
