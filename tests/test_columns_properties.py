"""Property-based tests (hypothesis) for the null-poisoning kernel —
Spark results vs a direct Python evaluation of the §1.3 contract on
randomized operand vectors. One Spark round-trip per property."""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from data_curator_spark.engine import columns as C

finite = st.floats(
    allow_nan=False, allow_infinity=False, min_value=-1e12, max_value=1e12
)
operand = st.one_of(st.none(), st.just(float("nan")), finite)
pairs = st.lists(st.tuples(operand, operand), min_size=1, max_size=40)


def _is_missing(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


def _run(spark, data, expr):
    df = spark.createDataFrame(data, "a double, b double")
    return [r["x"] for r in df.select(expr(F.col("a"), F.col("b")).alias("x")).collect()]


@settings(max_examples=25, deadline=None)
@given(data=pairs)
def test_add_poisoning_property(spark, data):
    got = _run(spark, data, C.add)
    for (a, b), g in zip(data, got):
        if _is_missing(a) or _is_missing(b):
            assert g is None
        else:
            assert g == pytest.approx(a + b, rel=1e-12, abs=1e-9, nan_ok=False)


@settings(max_examples=25, deadline=None)
@given(data=pairs)
def test_div_property(spark, data):
    got = _run(spark, data, C.div)
    for (a, b), g in zip(data, got):
        if _is_missing(a) or _is_missing(b) or b == 0:
            assert g is None
        else:
            assert g == pytest.approx(a / b, rel=1e-12, nan_ok=False)


@settings(max_examples=25, deadline=None)
@given(data=pairs)
def test_mod_matches_python_floored_semantics(spark, data):
    got = _run(spark, data, C.mod)
    for (a, b), g in zip(data, got):
        if _is_missing(a) or _is_missing(b) or b == 0:
            assert g is None
        elif abs(a / b) < 2**52:  # quotient floor exactly representable
            want = a - math.floor(a / b) * b  # the reference's synthesis
            assert g == pytest.approx(want, rel=1e-9, abs=1e-6)


@settings(max_examples=25, deadline=None)
@given(
    data=st.lists(
        st.tuples(st.one_of(st.none(), st.booleans()), st.one_of(st.none(), st.booleans())),
        min_size=1,
        max_size=40,
    )
)
def test_boolean_poisoning_vs_kleene(spark, data):
    df = spark.createDataFrame(data, "a boolean, b boolean")
    rows = df.select(
        C.and_(F.col("a"), F.col("b")).alias("p"),
        (F.col("a") & F.col("b")).alias("k"),  # Spark's native & is Kleene
    ).collect()
    for (a, b), r in zip(data, rows):
        if a is None or b is None:
            assert r["p"] is None  # poisoning
            # Kleene: False dominates null
            if a is False or b is False:
                assert r["k"] is False
            else:
                assert r["k"] is None
        else:
            assert r["p"] == (a and b) and r["k"] == (a and b)
