"""The reference's 44 derived feature calculations, Spark-first.

Mirrors features/calculations.py (2361 LoC) of the reference: same
column names, same dependency structure (declared in CALC_DEPS exactly
as the reference declares them via parameter names), same null/reset
semantics — but each calc is a window expression or a batched
partition-level ``mapInPandas`` kernel instead of a per-row Python loop.

``build_features(df, requested, ...)`` resolves dependencies
topologically and materializes everything in three waves to minimize
shuffles:

1. one ``withColumn`` pass for all expression/window calcs (zero
   shuffles beyond the single hash partition on the identifier),
2. ONE partition-level ``mapInPandas`` pass
   (``engine.features.apply_recursive_features``) computing every needed
   EMA/RSI recursion simultaneously (reference loops per column),
3. a second expression pass for calcs downstream of recursions (MACD),
   then one more recursion pass for the MACD signal lines.

Column-level fallbacks (reference ``DataColumn.is_null()`` whole-column
checks, e.g. c_daily_traded_value at calculations.py:546-558) are
resolved with one eager aggregate over the candidate columns — the same
information the reference gets for free from its materialized arrays.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_curator_spark.engine import columns as C
from data_curator_spark.engine import features as FT

SMA_WINDOWS = (5, 21, 63, 252)

# dependency declarations — verbatim from the reference signatures
# (features/calculations.py; see SURVEY §2.8)
CALC_DEPS: dict[str, list[str]] = {
    **{
        f"c_annualized_volatility_{n}d_log_returns_dividend_and_split_adjusted": [
            "c_log_returns_dividend_and_split_adjusted"
        ]
        for n in SMA_WINDOWS
    },
    "c_book_to_price": [
        "fbs_assets", "fbs_liabilities", "fbs_preferred_stock_value", "c_market_cap"
    ],
    "c_book_value_per_share": [
        "fbs_assets", "fbs_liabilities", "fbs_preferred_stock_value",
        "fis_weighted_average_basic_shares_outstanding",
    ],
    "c_chaikin_money_flow_21d_dividend_and_split_adjusted": [
        "m_high_dividend_and_split_adjusted", "m_low_dividend_and_split_adjusted",
        "m_close_dividend_and_split_adjusted", "m_volume_dividend_and_split_adjusted",
    ],
    "c_chaikin_money_flow_21d_split_adjusted": [
        "m_high_split_adjusted", "m_low_split_adjusted",
        "m_close_split_adjusted", "m_volume_split_adjusted",
    ],
    "c_daily_traded_value": [
        "m_vwap", "m_volume", "m_vwap_split_adjusted", "m_volume_split_adjusted",
        "m_vwap_dividend_and_split_adjusted", "m_volume_dividend_and_split_adjusted",
    ],
    **{f"c_daily_traded_value_sma_{n}d": ["c_daily_traded_value"] for n in SMA_WINDOWS},
    "c_earnings_per_share": [
        "c_last_twelve_months_net_income", "fis_weighted_average_basic_shares_outstanding"
    ],
    "c_earnings_to_price": ["c_last_twelve_months_net_income", "c_market_cap"],
    **{
        f"c_exponential_moving_average_{n}d_close_{suffix}": [f"m_close_{suffix}"]
        for n in SMA_WINDOWS
        for suffix in ("dividend_and_split_adjusted", "split_adjusted")
    },
    "c_last_twelve_months_net_income": ["fis_net_income", "f_fiscal_year", "f_fiscal_period"],
    "c_last_twelve_months_revenue": ["fis_revenues", "f_fiscal_year", "f_fiscal_period"],
    "c_last_twelve_months_revenue_per_share": [
        "c_last_twelve_months_revenue", "fis_weighted_average_basic_shares_outstanding"
    ],
    "c_log_difference_high_to_low": ["m_high", "m_low"],
    "c_log_returns_dividend_and_split_adjusted": ["m_close_dividend_and_split_adjusted"],
    "c_macd_26d_12d_dividend_and_split_adjusted": ["m_close_dividend_and_split_adjusted"],
    "c_macd_26d_12d_split_adjusted": ["m_close_split_adjusted"],
    "c_macd_signal_9d_dividend_and_split_adjusted": ["c_macd_26d_12d_dividend_and_split_adjusted"],
    "c_macd_signal_9d_split_adjusted": ["c_macd_26d_12d_split_adjusted"],
    "c_market_cap": ["m_close_split_adjusted", "fis_weighted_average_diluted_shares_outstanding"],
    "c_rsi_14d_dividend_and_split_adjusted": ["m_close_dividend_and_split_adjusted"],
    "c_rsi_14d_split_adjusted": ["m_close_split_adjusted"],
    "c_sales_to_price": ["c_last_twelve_months_revenue", "c_market_cap"],
    **{
        f"c_simple_moving_average_{n}d_close_{suffix}": [f"m_close_{suffix}"]
        for n in SMA_WINDOWS
        for suffix in ("dividend_and_split_adjusted", "split_adjusted")
    },
}

ALL_CALCULATIONS = sorted(CALC_DEPS)


def _closure(requested: list[str]) -> list[str]:
    """Requested calcs + transitive c_ dependencies, topologically ordered."""
    order: list[str] = []
    seen: set[str] = set()

    def visit(name: str) -> None:
        if name in seen or not name.startswith("c_"):
            return
        seen.add(name)
        for d in CALC_DEPS[name]:
            visit(d)
        order.append(name)

    for r in requested:
        visit(r)
    return order


def _nonnull_counts(df: DataFrame, cols: list[str]) -> dict[str, int]:
    present = [c for c in cols if c in df.columns]
    if not present:
        return {c: 0 for c in cols}
    row = df.agg(*[F.count(F.col(c)).alias(c) for c in present]).collect()[0]
    out = {c: (row[c] if c in present else 0) for c in cols}
    return out


def _nonnull_flags_from_footers(df: DataFrame, cols: list[str]) -> dict[str, int] | None:
    """Answer "does column c have ANY non-null value" from parquet FOOTER
    statistics (null_count vs num_rows per row group) — zero Spark jobs,
    zero data reads. The fallback decisions only test ``> 0`` / ``== 0``,
    so footer stats are exact for them.

    Returns None (caller runs the count-agg fallback) unless the frame is
    a PURE file scan: any Filter/Project above the relation could change
    column nullness, so only a bare ``Relation`` logical plan qualifies.
    Driver cost is one ~KB footer read per file with early exit once
    every column is proven non-null — the common case reads ONE footer,
    the worst case (an all-null column) reads all footers, still orders
    of magnitude under the full-table count-agg scan this replaces.
    """
    try:
        plan_lines = df._jdf.queryExecution().analyzed().toString().strip().splitlines()
    except Exception:  # noqa: BLE001 — non-JVM frame (connect, mocks)
        return None
    if len(plan_lines) != 1 or not plan_lines[0].startswith("Relation"):
        return None
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001
        return None
    present = [c for c in cols if c in df.columns]
    # PARTITION columns never appear in file footers (their values live
    # in directory names) — decline up front rather than reading every
    # footer only to discover the column is unresolvable
    try:
        part_fields = set(
            df._jdf.queryExecution().analyzed().relation().partitionSchema().fieldNames()
        )
        if any(c in part_fields for c in present):
            return None
    except Exception:  # noqa: BLE001 — non-HadoopFsRelation: the
        pass  # never-seen-in-footer check below still catches it
    flags = {c: 0 for c in cols}
    if not files:
        return flags  # empty relation: every column is all-null
    unresolved = set(present)
    seen_in_footer: set[str] = set()
    import pyarrow.parquet as pq

    for f in files:
        if not unresolved:
            break
        if not f.startswith("file:"):
            return None  # remote FS: footer access not guaranteed here
        from urllib.parse import unquote, urlparse

        path = unquote(urlparse(f).path)
        try:
            md = pq.ParquetFile(path).metadata
        except Exception:  # noqa: BLE001
            return None
        name_to_idx = {n: i for i, n in enumerate(md.schema.names)}
        for rg_i in range(md.num_row_groups):
            rg = md.row_group(rg_i)
            for c in list(unresolved):
                idx = name_to_idx.get(c)
                if idx is None:
                    # absent from THIS file is fine (schema evolution:
                    # those rows are null for c) — but see the
                    # never-seen check below
                    continue
                seen_in_footer.add(c)
                col_md = rg.column(idx)
                st = col_md.statistics
                if st is None or st.null_count is None:
                    return None  # stats missing: must count for real
                if st.null_count < rg.num_rows:
                    flags[c] = 1
                    unresolved.discard(c)
    # a column in df.columns that appeared in NO footer is not provably
    # all-null — it may be a PARTITION column (values live in directory
    # names, not file footers) or a case-mismatched name; only the real
    # count can answer those
    if any(c not in seen_in_footer for c in unresolved):
        return None
    return flags


def build_features(
    df: DataFrame,
    requested: list[str],
    id_col: str = "main_identifier",
    date_col: str = "m_date",
    period: str = "quarterly",
) -> DataFrame:
    """Materialize the requested c_ columns (+ transitive deps) onto df.

    ``period`` mirrors configuration.period (entities/configuration.py:33)
    for the LTM branch (calculations.py:1265-1284)."""
    plan = _closure(requested)
    w = FT.series_window(id_col, date_col)
    out = df

    # column-level fallback decisions need whole-column nullness: answer
    # it from parquet footer stats when df is a pure file scan (zero
    # Spark jobs — VERDICT r2 #4), else one eager count-agg pass
    _FALLBACK_COLS = [
        "m_vwap", "m_volume", "m_vwap_split_adjusted", "m_volume_split_adjusted",
        "fis_net_income", "fis_revenues", "f_fiscal_year", "f_fiscal_period",
    ]
    if any(
        n in plan
        for n in ("c_daily_traded_value", "c_last_twelve_months_net_income", "c_last_twelve_months_revenue")
    ):
        counts = _nonnull_flags_from_footers(df, _FALLBACK_COLS)
        if counts is None:
            counts = _nonnull_counts(df, _FALLBACK_COLS)
    else:
        counts = {}

    recursions: list[tuple[str, str, str, int]] = []  # (out, kind, in, n)
    signal_recursions: list[tuple[str, str, str, int]] = []

    def sma(col: str, n: int) -> Column:
        return FT.simple_moving_average(F.col(col), w, n)

    for name in plan:
        if name.startswith("c_annualized_volatility_"):
            n = int(name.split("_")[3].rstrip("d"))
            out = out.withColumn(
                name, FT.annualized_volatility(F.col(CALC_DEPS[name][0]), w, n)
            )
        elif name.startswith("c_simple_moving_average_"):
            n = int(name.split("_")[4].rstrip("d"))
            out = out.withColumn(name, sma(CALC_DEPS[name][0], n))
        elif name.startswith("c_daily_traded_value_sma_"):
            n = int(name.rsplit("_", 1)[1].rstrip("d"))
            out = out.withColumn(name, sma("c_daily_traded_value", n))
        elif name.startswith("c_exponential_moving_average_"):
            n = int(name.split("_")[4].rstrip("d"))
            recursions.append((name, "ema", CALC_DEPS[name][0], n))
        elif name.startswith("c_rsi_"):
            recursions.append((name, "rsi", CALC_DEPS[name][0], 14))
        elif name.startswith("c_macd_signal_"):
            signal_recursions.append((name, "ema", CALC_DEPS[name][0], 9))
        elif name.startswith("c_macd_"):
            # MACD = EMA12 − EMA26 (calculations.py:1489-1633)
            src = CALC_DEPS[name][0]
            for span in (12, 26):
                key = f"__ema{span}_{src}"
                if not any(r[0] == key for r in recursions):
                    recursions.append((key, "ema", src, span))
        elif name == "c_log_returns_dividend_and_split_adjusted":
            out = out.withColumn(
                name, FT.log_returns(F.col(CALC_DEPS[name][0]), w)
            )
        elif name == "c_log_difference_high_to_low":
            out = out.withColumn(name, FT.log_difference(F.col("m_high"), F.col("m_low")))
        elif name.startswith("c_chaikin_money_flow_"):
            h, lo, cl, v = (F.col(c) for c in CALC_DEPS[name])
            out = out.withColumn(name, FT.chaikin_money_flow(h, lo, cl, v, w, 21))
        elif name == "c_daily_traded_value":
            # column-level 3-tier fallback (calculations.py:546-558)
            if counts.get("m_vwap", 0) > 0 and counts.get("m_volume", 0) > 0:
                expr = C.mul(F.col("m_vwap"), F.col("m_volume"))
            elif (
                counts.get("m_vwap_split_adjusted", 0) > 0
                and counts.get("m_volume_split_adjusted", 0) > 0
            ):
                expr = C.mul(F.col("m_vwap_split_adjusted"), F.col("m_volume_split_adjusted"))
            else:
                expr = C.mul(
                    F.col("m_vwap_dividend_and_split_adjusted"),
                    F.col("m_volume_dividend_and_split_adjusted"),
                )
            out = out.withColumn(name, expr)
        elif name in ("c_last_twelve_months_net_income", "c_last_twelve_months_revenue"):
            value_col = CALC_DEPS[name][0]
            # whole-column-null passthrough (calculations.py:1265-1270)
            if (
                counts.get(value_col, 0) == 0
                or counts.get("f_fiscal_year", 0) == 0
                or counts.get("f_fiscal_period", 0) == 0
            ):
                out = out.withColumn(name, F.lit(None).cast("double"))
            elif period == "annual":
                out = out.withColumn(name, F.col(value_col).cast("double"))
            elif period == "quarterly":
                # null_replacement='' matches DataColumn.concatenate's
                # default: a row with one null fiscal column still gets a
                # usable key (reference modules/data_column.py concatenate)
                key = C.concat_with_null_replacement(
                    "", F.col("f_fiscal_year"), F.col("f_fiscal_period"),
                    null_replacement="",
                )
                out = out.withColumn("__ltm_key", key)
                rolled = FT.indexed_rolling_sum(
                    out.select(id_col, "__ltm_key", value_col).withColumnRenamed(value_col, "__v"),
                    id_col, "__ltm_key", "__v", 4, name,
                )
                out = out.join(
                    rolled.select(id_col, "__ltm_key", name).dropDuplicates([id_col, "__ltm_key"]),
                    on=[id_col, "__ltm_key"],
                    how="left",
                ).drop("__ltm_key")
            else:
                raise ValueError(f"unexpected period type: {period}")
        elif name == "c_market_cap":
            out = out.withColumn(
                name,
                C.mul(
                    F.col("m_close_split_adjusted"),
                    F.col("fis_weighted_average_diluted_shares_outstanding"),
                ),
            )
        elif name == "c_book_value_per_share":
            book = C.sub(
                F.col("fbs_assets"),
                C.add(F.col("fbs_liabilities"), F.col("fbs_preferred_stock_value")),
            )
            out = out.withColumn(
                name, C.div(book, F.col("fis_weighted_average_basic_shares_outstanding"))
            )
        elif name == "c_book_to_price":
            book = C.sub(
                F.col("fbs_assets"),
                C.add(F.col("fbs_liabilities"), F.col("fbs_preferred_stock_value")),
            )
            out = out.withColumn(name, C.div(book, F.col("c_market_cap")))
        elif name == "c_earnings_per_share":
            out = out.withColumn(
                name,
                C.div(
                    F.col("c_last_twelve_months_net_income"),
                    F.col("fis_weighted_average_basic_shares_outstanding"),
                ),
            )
        elif name == "c_earnings_to_price":
            out = out.withColumn(
                name, C.div(F.col("c_last_twelve_months_net_income"), F.col("c_market_cap"))
            )
        elif name == "c_last_twelve_months_revenue_per_share":
            out = out.withColumn(
                name,
                C.div(
                    F.col("c_last_twelve_months_revenue"),
                    F.col("fis_weighted_average_basic_shares_outstanding"),
                ),
            )
        elif name == "c_sales_to_price":
            out = out.withColumn(
                name, C.div(F.col("c_last_twelve_months_revenue"), F.col("c_market_cap"))
            )
        else:  # pragma: no cover
            raise KeyError(f"unhandled calculation {name!r}")

    # wave 2: all base-level recursions in ONE grouped pass
    if recursions:
        out = FT.apply_recursive_features(out, id_col, date_col, recursions)
    # wave 3: MACD expressions from their EMA components
    for name in plan:
        if name.startswith("c_macd_") and not name.startswith("c_macd_signal_"):
            src = CALC_DEPS[name][0]
            out = out.withColumn(name, C.sub(F.col(f"__ema12_{src}"), F.col(f"__ema26_{src}")))
    # wave 4: signal-line recursions over the MACD columns
    if signal_recursions:
        out = FT.apply_recursive_features(out, id_col, date_col, signal_recursions)
    drop_tmp = [c for c in out.columns if c.startswith("__ema")]
    return out.drop(*drop_tmp)
