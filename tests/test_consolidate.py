"""Merge/consolidation kernel tests — mirrors the reference's toolkit test
matrix (tests/unit/services/data_provider_toolkit/, SURVEY §5.3)."""

from __future__ import annotations

import pytest

from data_curator_spark.engine import consolidate as CN


@pytest.fixture(scope="module")
def endpoints(spark):
    ep1 = spark.createDataFrame(
        [(1, 10.0, "x"), (2, None, "y"), (3, 30.0, None)],
        "pk int, a double, b string",
    )
    ep2 = spark.createDataFrame(
        [(2, 20.0, 200.0), (3, 33.0, 300.0), (4, 40.0, 400.0)],
        "pk int, a double, c double",
    )
    return ep1, ep2


def test_coalescing_merge_first_non_null_wins(spark, endpoints):
    ep1, ep2 = endpoints
    out = CN.coalescing_merge([ep1, ep2], pk=["pk"])
    got = {r["pk"]: (r["a"], r["b"], r["c"]) for r in out.collect()}
    assert set(got) == {1, 2, 3, 4}  # union of PKs
    assert got[1] == (10.0, "x", None)
    assert got[2] == (20.0, "y", 200.0)  # ep1 null → ep2 value fills
    assert got[3] == (30.0, None, 300.0)  # ep1 non-null wins over ep2's 33
    assert got[4] == (40.0, None, 400.0)


def test_missing_rows_null_safe(spark):
    common = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c")], "k1 int, k2 string"
    )
    subset = spark.createDataFrame([(1, "a"), (2, None)], "k1 int, k2 string")
    out = CN.missing_rows(common, subset, ["k1", "k2"])
    got = [r["k1"] for r in out.collect()]
    assert got == [3]  # null keys match null-safely, (2,null) is NOT missing


def test_duplicate_pk_detection(spark):
    df = spark.createDataFrame([(1,), (2,), (2,), (3,), (3,), (3,)], "pk int")
    out = {r["pk"]: r["count"] for r in CN.duplicate_pk_rows(df, ["pk"]).collect()}
    assert out == {2: 2, 3: 3}


def test_discrepancy_scan(spark, endpoints):
    ep1, ep2 = endpoints
    out = CN.discrepancy_scan([ep1, ep2], pk=["pk"]).collect()
    # shared column 'a' on common rows {2,3}: pk2 (null vs 20) and pk3 (30 vs 33)
    conflicts = {(r["pk"], r["field"]): (r["value_a"], r["value_b"]) for r in out}
    assert (3, "a") in conflicts
    assert conflicts[(3, "a")] == ("30.0", "33.0")
    assert (2, "a") in conflicts  # null vs 20.0 is a discrepancy (not eqNullSafe)


def test_clear_rows_by_pk(spark, endpoints):
    ep1, _ = endpoints
    bad = spark.createDataFrame([(1,)], "pk int")
    out = {r["pk"]: (r["a"], r["b"]) for r in CN.clear_rows_by_pk(ep1, bad, ["pk"]).collect()}
    assert out[1] == (None, None)  # nulled
    assert out[2] == (None, "y")  # untouched
    assert out[3] == (30.0, None)


def test_consolidate_with_repair(spark, endpoints):
    ep1, ep2 = endpoints
    merged, quarantine = CN.consolidate_with_repair([ep1, ep2], pk=["pk"])
    got = {r["pk"]: (r["a"], r["b"], r["c"]) for r in merged.collect()}
    # conflicting rows (2,3) are nulled in both endpoints pre-merge
    assert got[2][0] is None and got[3][0] is None
    # but non-conflicting rows survive
    assert got[1] == (10.0, "x", None)
    assert got[4] == (40.0, None, 400.0)
    assert quarantine.count() == 2
