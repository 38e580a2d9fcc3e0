"""Row-contract masks + derived-column DAG planner tests
(reference layers: entity contracts SURVEY §5.6; dependency resolution
§5.5). The planner is ``functions/calculations.py:_closure`` over the
``CALC_DEPS`` registry."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_curator_spark.engine import contracts as K
from data_curator_spark.functions.calculations import (
    ALL_CALCULATIONS,
    CALC_DEPS,
    _closure,
    build_features,
)


def test_apply_contracts_split_and_metrics(spark):
    df = spark.createDataFrame(
        [(1.0, 2.0, "USD"), (-1.0, 2.0, "USD"), (3.0, 1.0, "usd"), (None, 5.0, "EUR")],
        "low double, high double, ccy string",
    )
    cs = [
        K.non_negative(F.col("low"), "low_nonneg"),
        K.low_le_high(F.col("low"), F.col("high"), "low_le_high"),
        K.matches(F.col("ccy"), K.CURRENCY_RE, "ccy_iso"),
    ]
    clean, metrics = K.apply_contracts(df, cs)
    assert clean.count() == 2  # row2 fails nonneg, row3 fails both low_le_high & regex
    m = {r["contract"]: r["violations"] for r in metrics.collect()}
    assert m == {"low_nonneg": 1, "low_le_high": 1, "ccy_iso": 1}


def test_contract_null_passes_value_checks(spark):
    df = spark.createDataFrame([(None,)], "x double")
    clean, _ = K.apply_contracts(df, [K.non_negative(F.col("x"), "nn")])
    assert clean.count() == 1  # nullability is a separate contract
    clean2, _ = K.apply_contracts(df, [K.not_null(F.col("x"), "nnull")])
    assert clean2.count() == 0



def _fundamentals_frame(spark):
    return spark.createDataFrame(
        [("AAA", "2024-01-02", 10.0, 5.0, 25.0, 2023, "FY")],
        "main_identifier string, m_date string, m_close_split_adjusted double, "
        "fis_weighted_average_diluted_shares_outstanding double, fis_net_income double, "
        "f_fiscal_year int, f_fiscal_period string",
    ).withColumn("m_date", F.to_date("m_date"))


def test_dag_topo_and_build(spark):
    requested = ["c_earnings_to_price"]
    order = _closure(requested)
    assert order == [
        "c_last_twelve_months_net_income", "c_market_cap", "c_earnings_to_price"
    ]
    row = build_features(_fundamentals_frame(spark), requested, period="annual").collect()[0]
    assert row["c_last_twelve_months_net_income"] == 25.0
    assert row["c_market_cap"] == 50.0
    assert row["c_earnings_to_price"] == 0.5


def test_dag_requested_projection(spark):
    df = _fundamentals_frame(spark)
    out = build_features(df, ["c_earnings_to_price"], period="annual")
    # exactly the requested column and its transitive c_ dependencies,
    # appended in plan order; no helper columns leak
    assert out.columns == df.columns + _closure(["c_earnings_to_price"])


def test_dag_circular_dependency():
    # the registry is acyclic: over every calculation, each c_ dependency
    # comes before its dependent (the seen-set DFS would emit a cycle out
    # of order rather than loop)
    order = _closure(ALL_CALCULATIONS)
    assert sorted(order) == ALL_CALCULATIONS
    pos = {name: i for i, name in enumerate(order)}
    for name, deps in CALC_DEPS.items():
        for d in deps:
            if d.startswith("c_"):
                assert pos[d] < pos[name], (d, name)


def test_dag_unresolved_dependency():
    with pytest.raises(KeyError):
        _closure(["c_missing"])
    # every c_ dependency the registry names is itself registered
    unresolved = {
        d for deps in CALC_DEPS.values() for d in deps
        if d.startswith("c_") and d not in CALC_DEPS
    }
    assert unresolved == set()
