"""Null-poisoning kernel semantics — port of the reference's DataColumn
unit-test layer (tests/unit/modules/data_column/*, SURVEY §5.1)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from data_curator_spark.engine import columns as C

NAN = float("nan")


@pytest.fixture(scope="module")
def df(spark):
    rows = [
        # a,    b
        (1.0, 2.0),
        (None, 2.0),
        (1.0, None),
        (NAN, 2.0),
        (1.0, 0.0),
        (-6.0, 4.0),
        (6.0, -4.0),
    ]
    return spark.createDataFrame(rows, "a double, b double")


def _col(df, expr):
    return [r[0] for r in df.select(expr.alias("x")).collect()]


def test_add_null_poisoning(df):
    out = _col(df, C.add(F.col("a"), F.col("b")))
    assert out == [3.0, None, None, None, 1.0, -2.0, 2.0]


def test_div_zero_and_null(df):
    out = _col(df, C.div(F.col("a"), F.col("b")))
    assert out[0] == 0.5
    assert out[1] is None and out[2] is None and out[3] is None
    assert out[4] is None  # division by zero → null, not Inf/error
    assert out[5] == -1.5


def test_mod_python_floored_semantics(df):
    # reference synthesizes mod as a − (a//b)·b → sign follows divisor
    out = _col(df, C.mod(F.col("a"), F.col("b")))
    assert out[5] == pytest.approx(2.0)  # -6 mod 4 = 2 (not -2)
    assert out[6] == pytest.approx(-2.0)  # 6 mod -4 = -2
    assert out[4] is None  # mod 0 → null


def test_nan_treated_as_null(df):
    out = _col(df, C.mul(F.col("a"), F.col("b")))
    assert out[3] is None  # NaN operand → null, not NaN


def test_boolean_non_kleene_default(spark):
    rows = [(True, None), (False, None), (None, None), (True, False), (True, True)]
    bdf = spark.createDataFrame(rows, "p boolean, q boolean")
    out = [r[0] for r in bdf.select(C.and_(F.col("p"), F.col("q")).alias("x")).collect()]
    # null-poisoning: False AND null → null (Kleene would give False)
    assert out == [None, None, None, False, True]
    out_k = [r[0] for r in bdf.select((F.col("p") & F.col("q")).alias("x")).collect()]
    assert out_k == [None, False, None, False, True]  # Spark's native & is Kleene


def test_concat_with_null_replacement(spark):
    sdf = spark.createDataFrame([("a", "b"), ("a", None)], "x string, y string")
    poisoned = [
        r[0]
        for r in sdf.select(
            C.concat_with_null_replacement("-", F.col("x"), F.col("y")).alias("c")
        ).collect()
    ]
    assert poisoned == ["a-b", None]
    replaced = [
        r[0]
        for r in sdf.select(
            C.concat_with_null_replacement(
                "-", F.col("x"), F.col("y"), null_replacement="NA"
            ).alias("c")
        ).collect()
    ]
    assert replaced == ["a-b", "a-NA"]


def test_scrub_infinite(spark):
    sdf = spark.createDataFrame(
        [(1.0,), (float("inf",),), (float("-inf"),), (NAN,), (None,)], "x double"
    )
    out = [r[0] for r in sdf.select(C.scrub_infinite(F.col("x")).alias("c")).collect()]
    assert out == [1.0, None, None, None, None]


def test_safe_ln(spark):
    sdf = spark.createDataFrame([(math.e,), (0.0,), (-1.0,)], "x double")
    out = [r[0] for r in sdf.select(C.safe_ln(F.col("x")).alias("c")).collect()]
    assert out[0] == pytest.approx(1.0)
    assert out[1] is None and out[2] is None
