"""The engine's top-level curation orchestrator — the Spark analog of the
reference's ``kaxanuk.data_curator.main`` (data_curator.py:42-243).

The reference loops identifiers sequentially: fetch 4 datasets → validate
→ consolidate → build columns → write, logging-and-continuing per
identifier (:136-233). Here the same pipeline is ONE distributed job over
all identifiers; per-row contract violations are counted into a metrics
table instead of aborting a dataset.

Inputs are DataFrames (read with a declared schema) with the reference's
column namespace:

- market:      main_identifier, m_date + m_* price/volume columns
- fundamentals: main_identifier, f_filing_date, f_fiscal_year,
               f_fiscal_period + fis_*/fbs_*/fcf_* statement columns
- dividends:   main_identifier, d_ex_dividend_date (+3 more date fields),
               d_dividend, d_dividend_split_adjusted
- splits:      main_identifier, s_split_date, s_numerator, s_denominator

``Configuration`` mirrors entities/configuration.py:30-76.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_curator_spark.engine import contracts as K
from data_curator_spark.engine.features import asof_join, expand_dated_factors, irregular_filing_mask
from data_curator_spark.functions.calculations import ALL_CALCULATIONS, build_features

DIVIDEND_DATE_FIELDS = [  # entities/dividend_data_row.py:12-21
    "d_declaration_date", "d_ex_dividend_date", "d_record_date", "d_payment_date",
]
DIVIDEND_FACTOR_FIELDS = ["d_dividend", "d_dividend_split_adjusted"]
SPLIT_DATE_FIELDS = ["s_split_date"]  # entities/split_data_row.py:11-17
SPLIT_FACTOR_FIELDS = ["s_numerator", "s_denominator"]


@dataclass
class Configuration:
    """Job parameters (reference entities/configuration.py:30-76)."""

    start_date: str | None = None
    end_date: str | None = None
    period: str = "quarterly"  # annual | quarterly
    columns: list[str] = field(default_factory=lambda: list(ALL_CALCULATIONS))


def market_contracts() -> list[K.Contract]:
    """Reference row contracts (market_data_daily_row.py:49-75)."""
    cs = [K.matches(F.col("main_identifier"), K.IDENTIFIER_RE, "identifier_regex")]
    for c in ("m_open", "m_high", "m_low", "m_close", "m_vwap", "m_volume"):
        cs.append(K.non_negative(F.col(c), f"{c}_non_negative"))
    cs.append(K.low_le_high(F.col("m_low"), F.col("m_high"), "low_le_high"))
    return cs


def fundamentals_contracts() -> list[K.Contract]:
    """Reference contracts (fundamental_data_row.py:50-64 et al.)."""
    return [
        K.matches(F.col("f_reported_currency"), K.CURRENCY_RE, "currency_iso"),
        K.matches(F.col("f_fiscal_year").cast("string"), K.FISCAL_YEAR_RE, "fiscal_year_regex"),
        K.isin(F.col("f_fiscal_period"), K.FISCAL_PERIODS, "fiscal_period_domain"),
        K.non_negative(
            F.col("fis_weighted_average_basic_shares_outstanding"), "basic_shares_non_negative"
        ),
    ]


def curate(
    market: DataFrame,
    fundamentals: DataFrame | None = None,
    dividends: DataFrame | None = None,
    splits: DataFrame | None = None,
    configuration: Configuration | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full curation: validate → quality-gate → point-in-time infill →
    event expansion → derived features. Returns (curated, metrics).

    The distributed rewrite of reference main(): one shuffle on
    main_identifier covers every window/infill step; dividends/splits
    broadcast; fundamentals attach via the as-of join on filing date
    (point-in-time correctness, data_blocks/fundamentals/__init__.py:34).
    """
    cfg = configuration or Configuration()
    metrics_parts: list[DataFrame] = []

    if cfg.start_date:
        market = market.filter(F.col("m_date") >= F.lit(cfg.start_date))
    if cfg.end_date:
        market = market.filter(F.col("m_date") <= F.lit(cfg.end_date))

    market, m_metrics = K.apply_contracts(market, market_contracts())
    metrics_parts.append(m_metrics.select(F.lit("market").alias("dataset"), "*"))

    base = market
    if fundamentals is not None:
        fundamentals, f_metrics = K.apply_contracts(fundamentals, fundamentals_contracts())
        metrics_parts.append(f_metrics.select(F.lit("fundamentals").alias("dataset"), "*"))
        # amended/late filing gate (fundamentals/__init__.py:96-163)
        from pyspark.sql import Window

        w = Window.partitionBy("main_identifier").orderBy(F.desc("f_period_end_date"))
        fundamentals = fundamentals.withColumn(
            "__irregular", irregular_filing_mask(F.col("f_filing_date"), w)
        )
        irregular_count = fundamentals.filter("__irregular")
        metrics_parts.append(
            irregular_count.groupBy()
            .agg(F.count(F.lit(1)).alias("violations"))
            .select(
                F.lit("fundamentals").alias("dataset"),
                F.lit("irregular_filing").alias("contract"),
                "violations",
            )
        )
        fundamentals = fundamentals.filter(~F.col("__irregular")).drop("__irregular")
        # point-in-time as-of attach on the market clock
        value_cols = [
            c for c in fundamentals.columns
            if c.startswith(("fis_", "fbs_", "fcf_")) or c in ("f_fiscal_year", "f_fiscal_period")
        ]
        base = asof_join(
            base,
            fundamentals.select("main_identifier", "f_filing_date", *value_cols),
            on="main_identifier",
            left_time="m_date",
            right_time="f_filing_date",
            value_cols=value_cols,
        )

    if dividends is not None:
        date_fields = [c for c in DIVIDEND_DATE_FIELDS if c in dividends.columns]
        base = expand_dated_factors(
            base, dividends, "main_identifier", "m_date", date_fields, DIVIDEND_FACTOR_FIELDS
        )
    if splits is not None:
        base = expand_dated_factors(
            base, splits, "main_identifier", "m_date", SPLIT_DATE_FIELDS, SPLIT_FACTOR_FIELDS
        )

    requested = [c for c in cfg.columns if c.startswith("c_")]
    buildable = []
    from data_curator_spark.functions.calculations import CALC_DEPS

    def deps_present(name: str) -> bool:
        return all(
            d.startswith("c_") and deps_present(d) or d in base.columns
            for d in CALC_DEPS.get(name, [])
        )

    for name in requested:
        if deps_present(name):
            buildable.append(name)
    curated = build_features(base, buildable, period=cfg.period)

    metrics = metrics_parts[0]
    for m in metrics_parts[1:]:
        metrics = metrics.unionByName(m)
    return curated, metrics
