"""Window/feature library — golden-oracle tests.

EMA/RSI oracles re-derive the reference recursion
(features/helpers.py:154-225, 387-474) in straightforward Python here, an
independent path from the vectorized kernels under test — the same
golden-fixture strategy as the reference's Excel-computed CSVs
(SURVEY §5.2)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_curator_spark.engine import features as FT


@pytest.fixture(scope="module")
def series_df(spark):
    # one identifier, 12 points incl. a null mid-series (reset path)
    vals = [10.0, 11.0, 12.0, 11.5, 13.0, None, 14.0, 15.0, 14.5, 16.0, 17.0, 16.5]
    rows = [("A", i, v) for i, v in enumerate(vals)]
    return spark.createDataFrame(rows, "id string, t int, v double"), vals


def _sorted_vals(df, col):
    return [r[col] for r in df.orderBy("t").collect()]


def test_sma_gating(spark, series_df):
    df, vals = series_df
    w = FT.series_window("id", "t")
    out = df.withColumn("sma", FT.simple_moving_average(F.col("v"), w, 3))
    got = _sorted_vals(out, "sma")
    assert got[0] is None and got[1] is None
    assert got[2] == pytest.approx((10 + 11 + 12) / 3)
    # windows containing the null at index 5 are null
    assert got[5] is None and got[6] is None and got[7] is None
    assert got[8] == pytest.approx((14 + 15 + 14.5) / 3)


def test_annualized_volatility(spark, series_df):
    df, vals = series_df
    w = FT.series_window("id", "t")
    out = df.withColumn("vol", FT.annualized_volatility(F.col("v"), w, 3))
    got = _sorted_vals(out, "vol")
    expected = np.std([10, 11, 12], ddof=1) * math.sqrt(252)
    assert got[2] == pytest.approx(expected)


def test_log_returns(spark, series_df):
    df, vals = series_df
    w = FT.series_window("id", "t")
    out = df.withColumn("lr", FT.log_returns(F.col("v"), w))
    got = _sorted_vals(out, "lr")
    assert got[0] is None
    assert got[1] == pytest.approx(math.log(11 / 10))
    assert got[5] is None and got[6] is None  # null poisons both sides


def test_chaikin_money_flow(spark):
    rows = []
    for i in range(25):
        h, low, c, v = 10.0 + i * 0.1, 9.0, 9.5 + i * 0.05, 100.0
        rows.append(("A", i, h, low, c, v))
    df = spark.createDataFrame(rows, "id string, t int, h double, l double, c double, v double")
    w = FT.series_window("id", "t")
    out = df.withColumn(
        "cmf", FT.chaikin_money_flow(F.col("h"), F.col("l"), F.col("c"), F.col("v"), w, 21)
    )
    got = _sorted_vals(out, "cmf")
    assert all(g is None for g in got[:20])
    # manual expectation for the first full window
    mfv = [
        ((rows[i][4] - rows[i][3]) - (rows[i][2] - rows[i][4]))
        / (rows[i][2] - rows[i][3])
        * rows[i][5]
        for i in range(21)
    ]
    assert got[20] == pytest.approx(sum(mfv) / (21 * 100.0))


def test_cmf_high_eq_low_nulls(spark):
    rows = [("A", i, 10.0, 10.0, 10.0, 100.0) for i in range(22)]
    df = spark.createDataFrame(rows, "id string, t int, h double, l double, c double, v double")
    w = FT.series_window("id", "t")
    out = df.withColumn(
        "cmf", FT.chaikin_money_flow(F.col("h"), F.col("l"), F.col("c"), F.col("v"), w, 21)
    )
    assert all(r["cmf"] is None for r in out.collect())


def test_asof_join(spark):
    left = spark.createDataFrame(
        [("A", 5, "e1"), ("A", 10, "e2"), ("A", 3, "e0"), ("B", 7, "e3")],
        "k string, ts int, tag string",
    )
    right = spark.createDataFrame(
        [("A", 4, 40.0), ("A", 10, 100.0), ("B", 9, 90.0)], "k string, ts int, val double"
    )
    out = FT.asof_join(left, right, on="k", left_time="ts", right_time="ts", value_cols=["val"])
    got = {r["tag"]: r["val"] for r in out.collect()}
    assert got["e0"] is None  # no right row ≤ 3
    assert got["e1"] == 40.0
    assert got["e2"] == 100.0  # same-timestamp right row visible (≤)
    assert got["e3"] is None  # B's only right row is later


def test_indexed_rolling_sum(spark):
    # 2 rows per key; rolling window of 2 unique keys
    rows = []
    for key in [1, 2, 3]:
        for j in range(2):
            rows.append(("A", key, float(key * 10), key * 10 + j))
    df = spark.createDataFrame(rows, "id string, k int, v double, ord int")
    uniq_first = df.groupBy("id", "k").agg(F.min("v").alias("v"))
    out = FT.indexed_rolling_sum(uniq_first, "id", "k", "v", 2, "ltm").join(
        df.select("id", "k", "ord"), on=["id", "k"]
    )
    got = {r["k"]: r["ltm"] for r in out.collect()}
    assert got[1] is None  # only 1 unique key in window
    assert got[2] == 30.0  # 10+20
    assert got[3] == 50.0  # 20+30


def test_expand_dated_factors(spark):
    dates = spark.createDataFrame(
        [("A", 1), ("A", 2), ("A", 3)], "id string, d int"
    )
    events = spark.createDataFrame(
        [("A", 2, None, 0.5)], "id string, ex_date int, pay_date int, amount double"
    )
    out = FT.expand_dated_factors(
        dates, events, "id", "d", ["ex_date", "pay_date"], ["amount"]
    )
    got = {r["d"]: (r["ex_date__amount"], r["pay_date__amount"]) for r in out.collect()}
    assert got[2] == (0.5, None)  # value lands only on its exact date
    assert got[1] == (None, None) and got[3] == (None, None)


def test_irregular_filing_mask(spark):
    # filings sorted by period-end desc; an amended filing breaks cum-min
    from pyspark.sql import Window

    rows = [
        ("A", 4, 104),  # latest period, filed day 104
        ("A", 3, 110),  # AMENDED: filed after the later period's filing
        ("A", 2, 102),
        ("A", 1, 101),
    ]
    df = spark.createDataFrame(rows, "id string, period_end int, filing int")
    w = Window.partitionBy("id").orderBy(F.desc("period_end"))
    out = df.withColumn("irr", FT.irregular_filing_mask(F.col("filing"), w))
    got = {r["period_end"]: r["irr"] for r in out.collect()}
    assert got[4] is False
    assert got[3] is True  # 110 > cumulative min 104
    assert got[2] is False and got[1] is False


def test_dividend_adjustment_factor(spark):
    rows = [("A", 1, None, 100.0), ("A", 2, 1.0, 100.0), ("A", 3, None, 100.0), ("A", 4, 2.0, 100.0)]
    df = spark.createDataFrame(rows, "id string, d int, div double, close double")
    out = df.withColumn(
        "adj", FT.dividend_adjustment_factor("id", "d", F.col("div"), F.col("close"))
    )
    got = {r["d"]: r["adj"] for r in out.collect()}
    # day 4: no future ex-dates → 1.0
    assert got[4] == pytest.approx(1.0)
    # day 3: future div 2/100 → 0.98
    assert got[3] == pytest.approx(0.98)
    # day 1: (1-0.01)(1-0.02) = 0.9702
    assert got[1] == pytest.approx(0.9702)


# ---------------------------------------------------------------------------
# Recursive kernels vs straight-line reference recursion
# ---------------------------------------------------------------------------


def _ema_oracle(data: list, days: int) -> list:
    """Direct port of the reference EMA loop semantics (helpers.py:194-214)."""
    alpha = 2.0 / (days + 1)
    out, window, cur = [], [], None
    for v in data:
        if v is None:
            out.append(None)
            window, cur = [], None
            continue
        window.append(v)
        if len(window) < days:
            out.append(None)
        elif len(window) == days:
            cur = sum(window) / days
            out.append(cur)
        else:
            cur = v * alpha + cur * (1 - alpha)
            out.append(cur)
    return out


def _rsi_oracle(data: list, days: int) -> list:
    """Direct port of the reference RSI loop semantics (helpers.py:438-464)."""
    n = len(data)
    gain = [None] * n
    loss = [None] * n
    for i in range(1, n):
        if data[i - 1] is None or data[i] is None:
            continue
        d = data[i] - data[i - 1]
        gain[i] = d if d > 0 else 0.0
        loss[i] = -d if d < 0 else 0.0
    out = [None] * n
    cg = cl = None
    wg, wl = [], []
    for i in range(n):
        if gain[i] is None:
            wg, wl, cg, cl = [], [], None, None
            continue
        if cg is None:
            wg.append(gain[i])
            wl.append(loss[i])
            if len(wg) < days:
                continue
            cg, cl = sum(wg) / days, sum(wl) / days
        else:
            cg = (cg * (days - 1) + gain[i]) / days
            cl = (cl * (days - 1) + loss[i]) / days
        out[i] = None if cl == 0 else 100.0 - 100.0 / (1.0 + cg / cl)
    return out


@pytest.mark.parametrize("days", [3, 5])
def test_ema_matches_reference_recursion(spark, days):
    rng = np.random.default_rng(1)
    vals = [float(round(v, 2)) for v in rng.uniform(10, 20, 40)]
    vals[7] = None
    vals[8] = None
    vals[25] = None
    rows = [("A", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id string, t int, v double")
    out = FT.apply_recursive_features(df, "id", "t", [("ema", "ema", "v", days)])
    got = _sorted_vals(out, "ema")
    want = _ema_oracle(vals, days)
    for g, w in zip(got, want):
        if w is None:
            assert g is None
        else:
            assert g == pytest.approx(w, rel=1e-9)


def test_rsi_matches_reference_recursion(spark):
    rng = np.random.default_rng(2)
    vals = [float(round(v, 2)) for v in rng.uniform(10, 20, 50)]
    vals[20] = None
    rows = [("A", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id string, t int, v double")
    out = FT.apply_recursive_features(df, "id", "t", [("rsi", "rsi", "v", 14)])
    got = _sorted_vals(out, "rsi")
    want = _rsi_oracle(vals, 14)
    for g, w in zip(got, want):
        if w is None:
            assert g is None
        else:
            assert g == pytest.approx(w, rel=1e-9)


def test_macd_composition(spark):
    """MACD = EMA12 − EMA26; signal = EMA9 of MACD
    (calculations.py:1489-1724) — composes from the EMA kernel."""
    rng = np.random.default_rng(3)
    vals = [float(round(v, 2)) for v in rng.uniform(50, 60, 60)]
    rows = [("A", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id string, t int, v double")
    out = FT.apply_recursive_features(
        df, "id", "t", [("ema12", "ema", "v", 12), ("ema26", "ema", "v", 26)]
    ).withColumn("macd", F.col("ema12") - F.col("ema26"))
    got = _sorted_vals(out, "macd")
    e12, e26 = _ema_oracle(vals, 12), _ema_oracle(vals, 26)
    want = [None if (a is None or b is None) else a - b for a, b in zip(e12, e26)]
    for g, w in zip(got, want):
        if w is None:
            assert g is None
        else:
            assert g == pytest.approx(w, rel=1e-9)


def test_recursive_oracle_sql_matches_kernel_with_nulls(spark, tmp_path):
    """The DuckDB recursive-CTE oracles (queries._ema_oracle_sql /
    _rsi_oracle_sql) must reproduce the kernels BIT-EXACTLY including
    the reset paths (nulls, ±Inf) — the driver's sf0.01 events table has
    no nulls, so this pins the oracle's segment logic on data that does."""
    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_curator_spark.queries import _ema_oracle_sql, _rsi_oracle_sql

    rng = np.random.default_rng(11)
    rows = []
    eid = 0
    for u in range(6):
        n = int(rng.integers(30, 80))
        vals = np.round(rng.uniform(10, 500, n), 2)
        # inject nulls and infs at random positions
        for _ in range(int(rng.integers(1, 6))):
            vals[int(rng.integers(0, n))] = np.nan
        for _ in range(int(rng.integers(0, 3))):
            vals[int(rng.integers(0, n))] = np.inf
        for i, v in enumerate(vals):
            rows.append((eid, f"u{u}", i, None if np.isnan(v) else float(v)))
            eid += 1
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "ts", "value"])
    path = str(tmp_path / "events.parquet")
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)

    from data_curator_spark.engine.features import apply_recursive_features

    ev = spark.read.parquet(path)
    out = apply_recursive_features(
        ev, "user_id", "ts", [("ema12", "ema", "value", 12), ("rsi14", "rsi", "value", 14)]
    )
    got = {r["event_id"]: (r["ema12"], r["rsi14"]) for r in out.collect()}

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    ema = dict(con.execute(_ema_oracle_sql(12, "ema12")).fetchall())
    rsi = dict(con.execute(_rsi_oracle_sql(14, "rsi14")).fetchall())

    n_ema = n_rsi = 0
    for eid, (ge, gr) in got.items():
        we, wr = ema[eid], rsi[eid]
        assert (ge is None) == (we is None), f"ema null mismatch at {eid}"
        assert (gr is None) == (wr is None), f"rsi null mismatch at {eid}"
        if ge is not None:
            assert ge == we, f"ema bits differ at {eid}: {ge!r} vs {we!r}"
            n_ema += 1
        if gr is not None:
            assert gr == wr, f"rsi bits differ at {eid}: {gr!r} vs {wr!r}"
            n_rsi += 1
    # the reset paths actually produced post-reset values to compare
    assert n_ema > 50 and n_rsi > 50


def test_apply_recursive_features_empty_and_singleton(spark):
    """mapInPandas rewrite edges: an EMPTY input yields an empty frame
    with the full output schema (no batches -> no yield); a single-row
    group gets null EMA (window never fills) without touching the
    boundary-slicing logic."""
    from data_curator_spark.engine.features import apply_recursive_features

    empty = spark.createDataFrame([], "event_id long, user_id long, ts timestamp, value double")
    out = apply_recursive_features(
        empty, "user_id", "ts", [("ema3", "ema", "value", 3)], tiebreak_col="event_id"
    )
    assert out.columns == ["event_id", "user_id", "ts", "value", "ema3"]
    assert out.count() == 0

    import datetime as dt

    one = spark.createDataFrame(
        [(1, 7, dt.datetime(2024, 1, 1), 5.0)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    rows = apply_recursive_features(
        one, "user_id", "ts", [("ema3", "ema", "value", 3)], tiebreak_col="event_id"
    ).collect()
    assert len(rows) == 1 and rows[0]["ema3"] is None


def test_apply_recursive_features_null_order_key_folds_last(spark):
    """Review r4b: a null order key must fold at the END of its series
    (pandas sort_values na_position='last' == DuckDB NULLS LAST), not
    Spark's default nulls-first — and a null value resets the EMA
    segment wherever it lands."""
    import datetime as dt

    from data_curator_spark.engine.features import _ema_array, apply_recursive_features
    import numpy as np

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, 7, base, 1.0),
        (2, 7, base + dt.timedelta(1), 2.0),
        (3, 7, base + dt.timedelta(2), 3.0),
        (4, 7, None, 99.0),  # null ts: must be LAST in the fold order
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    got = {
        r["event_id"]: r["ema2"]
        for r in apply_recursive_features(
            df, "user_id", "ts", [("ema2", "ema", "value", 2)],
            tiebreak_col="event_id",
        ).collect()
    }
    expect = _ema_array(np.array([1.0, 2.0, 3.0, 99.0]), 2)
    for i, eid in enumerate([1, 2, 3, 4]):
        e = expect[i]
        assert (got[eid] is None) == bool(np.isnan(e))
        if got[eid] is not None:
            assert got[eid] == e, (eid, got[eid], e)
