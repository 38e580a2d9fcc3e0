"""Driver-contract operator queries + DuckDB oracle SQL.

Each query exercises one operator family from SURVEY.md §2 over the
TPC-H-ish testdata, and is declared once, as a Query record in REGISTRY
at the end of this file. Conventions for hash-stable oracle comparison:

- Money/rate doubles in the testdata are exact 2-decimal values, so both
  engines cast them to DECIMAL before SUM/AVG (exact arithmetic), then
  cast the final aggregate back to DOUBLE — bit-identical results with no
  dependence on floating summation order.
- Any genuinely-float output (stddev, ln, cosine) is ROUND(x, 6) on both
  sides; engine math differs only in the last ulp (~1e-12 relative), far
  below the rounding grain.
- Every computed column is aliased identically in Spark and SQL.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_curator_spark.engine.cache import persist_tracked
from data_curator_spark.operators import kernels

MONEY = "decimal(14,2)"  # covers all money/qty/rate columns in testdata

# The ten testdata tables, each with exactly the schema Spark infers from
# its parquet footer (identical at sf0.001, sf0.01, sf0.1 and in the
# seeded tables perfbench generates; tests/test_query_build.py checks it).
# A read with a declared schema is planned without the schema-inference
# job (~100 ms) an undeclared read runs on every call. A file whose
# column types drift fails at scan instead of being planned with
# whatever types it happens to carry; one that lacks a declared column
# fails in ``_t`` (Spark would read the missing column as NULLs).
TABLE_SCHEMAS: dict[str, str] = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, "
        "c_mktsegment STRING"
    ),
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
        "p_size INT, p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
        "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
    ),
    "events": (
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    ),
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The one reader of the testdata tables: ``name`` at ``sf_dir`` with
    its declared schema. In production these are Iceberg tables
    (``spark.read.format("iceberg").load(...)``); plain parquet exercises
    the same columnar scan and pushdown path.

    Raises ``ValueError`` if the file lacks a declared column: the
    check reads only the parquet footer, on the driver, with no Spark
    job."""
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(TABLE_SCHEMAS[name]).parquet(path)
    present = set(pq.read_schema(path).names)
    missing = [c for c in df.columns if c not in present]
    if missing:
        raise ValueError(f"{path} lacks declared column(s) {missing}")
    return df


def _spread(df: DataFrame, by: str | None = None) -> DataFrame:
    """Repartition a small scan up to the session's default parallelism
    BEFORE a map-heavy stage (shingle explode, per-token hashing).
    Locally the testdata tables are single parquet files = one input
    split, which would serialize the expensive projection onto one
    core; at cluster scale inputs arrive in many splits and this is a
    no-op (partitions already ≥ parallelism).

    ``by``: HASH-partition on that column instead of round-robin. Use
    it when the downstream pipeline aggregates per ``by`` (per-doc
    token/gram groupBys): HashPartitioning(by) satisfies the clustered
    distribution of every groupBy whose keys include ``by``, so those
    aggregations reuse THIS exchange instead of shuffling the (much
    larger) exploded gram rows — measured one Exchange total for
    repartition→explode→groupBy(id,g)→groupBy(id) vs three (guide
    §2.4: operations keyed the same way share one exchange)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, F.col(by)) if by else df.repartition(target)
    return df


def _dec(c, typ: str = MONEY):
    return F.col(c).cast(typ) if isinstance(c, str) else c.cast(typ)


# ---------------------------------------------------------------------------
# §2.4 aggregations — TPC-H Q1-style pricing summary
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GroupBy aggregation with partial (map-side) combine; decimal-exact
    sums (SURVEY §2.4; reference group_by at data_provider_toolkit.py:1556)."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(3,0)") - _dec("l_discount", "decimal(4,2)"))
    charge = disc_price * (F.lit(1).cast("decimal(3,0)") + _dec("l_tax", "decimal(4,2)"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count("l_quantity")).alias("avg_qty"),
            (F.sum(_dec("l_extendedprice")).cast("double") / F.count("l_extendedprice")).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = f"""
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS {MONEY})) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS {MONEY})) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS {MONEY}) * (CAST(1 AS DECIMAL(3,0)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS {MONEY}) * (CAST(1 AS DECIMAL(3,0)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(3,0)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS {MONEY})) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS {MONEY})) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
  COUNT(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# §2.3 joins — broadcast dim join + aggregation (revenue by nation)
# ---------------------------------------------------------------------------


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way join: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region.

    nation/region are broadcast (tiny dims); lineitem⋈orders is the
    shuffle join; AQE coalesces post-shuffle partitions (SURVEY §4)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(3,0)") - _dec("l_discount", "decimal(4,2)"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


SQL_REVENUE_BY_NATION = f"""
SELECT
  r_name,
  n_name,
  CAST(SUM(CAST(l_extendedprice AS {MONEY}) * (CAST(1 AS DECIMAL(3,0)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


# ---------------------------------------------------------------------------
# §2.3 coalescing merge — N-way outer combine, first non-null wins
# ---------------------------------------------------------------------------


def q_coalescing_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two overlapping 'endpoint' views of orders merged by PK with
    first-non-null coalesce (data_provider_toolkit.py:478-529)."""
    from data_curator_spark.engine.consolidate import coalescing_merge

    o = _t(spark, sf_dir, "orders")
    ep1 = o.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    ep2 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    merged = coalescing_merge([ep1, ep2], pk=["o_orderkey"])
    return merged.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        "o_orderstatus",
    )


SQL_COALESCING_MERGE = """
WITH ep1 AS (
  SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 3 <> 0
), ep2 AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderkey % 2 = 0
)
SELECT
  o_orderkey,
  ep1.o_custkey AS o_custkey,
  CAST(COALESCE(ep1.o_totalprice, ep2.o_totalprice) AS DOUBLE) AS o_totalprice,
  ep2.o_orderstatus AS o_orderstatus
FROM ep1 FULL OUTER JOIN ep2 USING (o_orderkey)
"""


# ---------------------------------------------------------------------------
# §2.3 null-safe anti-join — missing rows mask
# ---------------------------------------------------------------------------


def q_missing_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders — the reference's 186-LoC null-safe
    missing-rows mask collapsed into one anti-join
    (data_provider_toolkit.py:571-756)."""
    from data_curator_spark.engine.consolidate import missing_rows

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return missing_rows(
        c.select("c_custkey", "c_name"), o.select(F.col("o_custkey").alias("c_custkey")), ["c_custkey"]
    ).select("c_custkey", "c_name")


SQL_MISSING_ROWS = """
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F'
)
"""


# ---------------------------------------------------------------------------
# §2.3 duplicate-PK detection
# ---------------------------------------------------------------------------


def q_duplicate_pk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orderkeys with more than one lineitem — groupBy-count dup check
    (data_provider_toolkit.py:1556-1567)."""
    from data_curator_spark.engine.consolidate import duplicate_pk_rows

    li = _t(spark, sf_dir, "lineitem")
    return duplicate_pk_rows(li, ["l_orderkey"]).withColumnRenamed("count", "n_rows")


SQL_DUPLICATE_PK = """
SELECT l_orderkey, COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_orderkey
HAVING COUNT(*) > 1
"""


# ---------------------------------------------------------------------------
# §2.3 as-of join — point-in-time forward fill
# ---------------------------------------------------------------------------


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each 'click' event attach the latest 'view' value at-or-before
    it per user — the point-in-time infill join
    (column_builder.py:507-569), via union + forward-fill window."""
    from data_curator_spark.engine.features import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("view_value")
    )
    out = asof_join(
        clicks, views, on="user_id", left_time="ts", right_time="ts", value_cols=["view_value"]
    )
    return out.select("user_id", "event_id", F.col("view_value").cast("double").alias("view_value"))


SQL_ASOF_JOIN = """
SELECT
  c.user_id,
  c.event_id,
  CAST((
    SELECT v.value FROM events v
    WHERE v.event_type = 'view' AND v.user_id = c.user_id AND v.ts <= c.ts
    ORDER BY v.ts DESC LIMIT 1
  ) AS DOUBLE) AS view_value
FROM events c
WHERE c.event_type = 'click'
"""


# ---------------------------------------------------------------------------
# §2.5 windows — SMA and volatility over per-user event series
# ---------------------------------------------------------------------------


def q_sma_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-row simple moving average per user, null until window full
    (features/helpers.py:477-505). Decimal-exact averaging."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(-4, Window.currentRow)
    dec = F.col("value").cast(MONEY)
    sma = F.when(
        F.count("value").over(frame) == 5,
        F.sum(dec).over(frame).cast("double") / F.lit(5),
    )
    return ev.select("event_id", sma.alias("sma5"))


SQL_SMA_WINDOW = f"""
SELECT
  event_id,
  CASE WHEN COUNT(value) OVER w = 5
       THEN CAST(SUM(CAST(value AS {MONEY})) OVER w AS DOUBLE) / 5
  END AS sma5
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""


def q_volatility_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """21-row annualized volatility (stddev_samp × √252), rounded to the
    shared 6-decimal grain (features/helpers.py:12-55)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(-20, Window.currentRow)
    vol = F.when(
        F.count("value").over(frame) == 21,
        F.round(F.stddev_samp("value").over(frame) * F.sqrt(F.lit(252.0)), 6),
    )
    return ev.select("event_id", vol.alias("vol21"))


SQL_VOLATILITY_WINDOW = """
SELECT
  event_id,
  CASE WHEN COUNT(value) OVER w = 21
       THEN ROUND(STDDEV_SAMP(value) OVER w * SQRT(252.0), 6)
  END AS vol21
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# §2.5 cumulative-min irregularity mask + posterior-duplicate mask
# ---------------------------------------------------------------------------


def q_order_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged r6 gate query: the cumulative-min irregularity mask AND
    the posterior-duplicate mask in one pass over orders (the driver
    gate caps at 50 rows — see tests/test_driver_gate.py). The two
    window specs partition on different keys, so the plan carries two
    exchanges — the same shuffle work two separate queries would do,
    one scan fewer."""
    o = _t(spark, sf_dir, "orders")
    w_irr = (
        Window.partitionBy("o_custkey")
        .orderBy(F.desc("o_totalprice"), F.desc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_dup = Window.partitionBy("o_custkey", "o_orderdate").orderBy("o_orderkey")
    return o.select(
        "o_orderkey",
        (F.min("o_orderdate").over(w_irr) != F.col("o_orderdate")).alias(
            "is_irregular"
        ),
        (F.row_number().over(w_dup) > 1).alias("is_posterior_dup"),
    )


SQL_ORDER_MASKS = """
SELECT
  o_orderkey,
  MIN(o_orderdate) OVER (
    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey DESC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) <> o_orderdate AS is_irregular,
  ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey) > 1 AS is_posterior_dup
FROM orders
"""


# ---------------------------------------------------------------------------
# §2.5 indexed rolling (LTM-style): rolling agg over unique keys, mapped back
# ---------------------------------------------------------------------------


def q_indexed_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 4-unique-key sum repeated across all rows of each key —
    the LTM indexed-rolling shape (features/helpers.py:228-330): daily
    per-user totals, rolled over the last 4 distinct active days, mapped
    back onto every event row."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.sum(F.col("value").cast(MONEY)).alias("day_total"))
    )
    w = Window.partitionBy("user_id").orderBy("day").rowsBetween(-3, Window.currentRow)
    rolled = daily.select(
        "user_id",
        "day",
        F.when(F.count("day_total").over(w) == 4, F.sum("day_total").over(w))
        .cast("double")
        .alias("rolling4"),
    )
    return (
        ev.select("event_id", "user_id", F.to_date("ts").alias("day"))
        .join(rolled, on=["user_id", "day"], how="left")
        .select("event_id", "rolling4")
    )


SQL_INDEXED_ROLLING = f"""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, SUM(CAST(value AS {MONEY})) AS day_total
  FROM events GROUP BY user_id, CAST(ts AS DATE)
), rolled AS (
  SELECT user_id, day,
    CAST(CASE WHEN COUNT(day_total) OVER w = 4 THEN SUM(day_total) OVER w END AS DOUBLE) AS rolling4
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
)
SELECT e.event_id, r.rolling4
FROM events e LEFT JOIN rolled r ON e.user_id = r.user_id AND CAST(e.ts AS DATE) = r.day
"""


# ---------------------------------------------------------------------------
# §2.2 row contracts → violation metrics
# ---------------------------------------------------------------------------


def q_contract_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row contracts as mask columns with violation counts — the Spark
    rewrite of the reference's per-row __post_init__ aborts (SURVEY §2.2)."""
    from data_curator_spark.engine import contracts as K

    li = _t(spark, sf_dir, "lineitem")
    cs = [
        K.non_negative(F.col("l_quantity"), "quantity_non_negative"),
        K.non_negative(F.col("l_extendedprice"), "price_non_negative"),
        K.isin(F.col("l_returnflag"), ("A", "N", "R"), "returnflag_domain"),
        K.matches(F.col("l_linestatus"), "^[A-Z]$", "linestatus_regex"),
        K.low_le_high(F.col("l_discount"), F.col("l_tax") + 1.0, "discount_le_tax_plus_1"),
        K.not_null(F.col("l_orderkey"), "orderkey_not_null"),
    ]
    _, metrics = K.apply_contracts(li, cs)
    return metrics


SQL_CONTRACT_METRICS = """
WITH agg AS (
  SELECT
    CAST(SUM(CASE WHEN NOT COALESCE(l_quantity IS NULL OR l_quantity >= 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS quantity_non_negative,
    CAST(SUM(CASE WHEN NOT COALESCE(l_extendedprice IS NULL OR l_extendedprice >= 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS price_non_negative,
    CAST(SUM(CASE WHEN NOT COALESCE(l_returnflag IS NULL OR l_returnflag IN ('A','N','R'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS returnflag_domain,
    CAST(SUM(CASE WHEN NOT COALESCE(l_linestatus IS NULL OR regexp_matches(l_linestatus, '^[A-Z]$'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS linestatus_regex,
    CAST(SUM(CASE WHEN NOT COALESCE(l_discount IS NULL OR (l_tax + 1.0) IS NULL OR l_discount <= l_tax + 1.0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS discount_le_tax_plus_1,
    CAST(SUM(CASE WHEN NOT COALESCE(l_orderkey IS NOT NULL, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS orderkey_not_null
  FROM lineitem
)
SELECT contract, violations FROM (
  SELECT 'quantity_non_negative' AS contract, quantity_non_negative AS violations FROM agg
  UNION ALL SELECT 'price_non_negative', price_non_negative FROM agg
  UNION ALL SELECT 'returnflag_domain', returnflag_domain FROM agg
  UNION ALL SELECT 'linestatus_regex', linestatus_regex FROM agg
  UNION ALL SELECT 'discount_le_tax_plus_1', discount_le_tax_plus_1 FROM agg
  UNION ALL SELECT 'orderkey_not_null', orderkey_not_null FROM agg
)
"""


# ---------------------------------------------------------------------------
# §1.3 null semantics — poisoned arithmetic / zero-division / non-Kleene bool
# ---------------------------------------------------------------------------


def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DataColumn arithmetic contract on real data: div-by-zero → null,
    null-poisoned add, non-Kleene AND (SURVEY §1.3)."""
    from data_curator_spark.engine import columns as C

    li = _t(spark, sf_dir, "lineitem")
    # synthesize nulls/zeros deterministically from the data
    a = F.when(F.col("l_linenumber") % 7 != 0, F.col("l_extendedprice"))
    b = F.when(F.col("l_linenumber") % 3 == 0, F.lit(0.0)).otherwise(F.col("l_quantity"))
    p = F.when(F.col("l_linenumber") % 2 == 0, F.col("l_discount") > 0.02)
    q = F.col("l_tax") > 0.04
    return li.select(
        "l_orderkey",
        "l_linenumber",
        # no rounding: +/÷ of identical doubles is IEEE-bit-identical in
        # both engines, while ROUND on decimal-aligned quotients hits
        # half-up (Spark) vs half-even (DuckDB) tie divergence
        C.add(a, b).alias("poisoned_add"),
        C.div(a, b).alias("safe_div"),
        C.and_(p, q).alias("non_kleene_and"),
        C.or_kleene(p, q).alias("kleene_or"),
    )


SQL_NULL_SEMANTICS = """
WITH base AS (
  SELECT
    l_orderkey, l_linenumber,
    CASE WHEN l_linenumber % 7 <> 0 THEN l_extendedprice END AS a,
    CASE WHEN l_linenumber % 3 = 0 THEN 0.0 ELSE l_quantity END AS b,
    CASE WHEN l_linenumber % 2 = 0 THEN l_discount > 0.02 END AS p,
    l_tax > 0.04 AS q
  FROM lineitem
)
SELECT
  l_orderkey,
  l_linenumber,
  CASE WHEN a IS NULL OR isnan(a) OR b IS NULL OR isnan(b) THEN NULL ELSE a + b END AS poisoned_add,
  CASE WHEN a IS NULL OR isnan(a) OR b IS NULL OR isnan(b) THEN NULL WHEN b <> 0 THEN a / b END AS safe_div,
  CASE WHEN p IS NULL OR q IS NULL THEN NULL ELSE p AND q END AS non_kleene_and,
  p OR q AS kleene_or
FROM base
"""


# ---------------------------------------------------------------------------
# §2.3 discrepancy scan → quarantine table
# ---------------------------------------------------------------------------


def q_discrepancy_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cross-endpoint value reconciliation: two views of orders
    with injected conflicts; emit the conflict/quarantine rows
    (data_provider_toolkit.py:365-476)."""
    from data_curator_spark.engine.consolidate import discrepancy_scan

    o = _t(spark, sf_dir, "orders")
    ep1 = o.select("o_orderkey", F.col("o_totalprice").cast(MONEY).alias("totalprice"), "o_orderstatus")
    ep2 = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 10 == 0, F.col("o_totalprice").cast(MONEY) + 1)
        .otherwise(F.col("o_totalprice").cast(MONEY))
        .alias("totalprice"),
        "o_orderstatus",
    )
    out = discrepancy_scan([ep1, ep2], pk=["o_orderkey"])
    return out.select("o_orderkey", "field", "value_a", "value_b")


SQL_DISCREPANCY_SCAN = f"""
WITH ep1 AS (
  SELECT o_orderkey, CAST(o_totalprice AS {MONEY}) AS totalprice, o_orderstatus FROM orders
), ep2 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 10 = 0 THEN CAST(o_totalprice AS {MONEY}) + 1
              ELSE CAST(o_totalprice AS {MONEY}) END AS totalprice,
         o_orderstatus
  FROM orders
)
SELECT * FROM (
  SELECT ep1.o_orderkey AS o_orderkey, 'totalprice' AS field,
         CAST(ep1.totalprice AS VARCHAR) AS value_a, CAST(ep2.totalprice AS VARCHAR) AS value_b
  FROM ep1 JOIN ep2 USING (o_orderkey)
  WHERE NOT (ep1.totalprice IS NOT DISTINCT FROM ep2.totalprice)
  UNION ALL
  SELECT ep1.o_orderkey, 'o_orderstatus', ep1.o_orderstatus, ep2.o_orderstatus
  FROM ep1 JOIN ep2 USING (o_orderkey)
  WHERE NOT (ep1.o_orderstatus IS NOT DISTINCT FROM ep2.o_orderstatus)
)
"""


# ---------------------------------------------------------------------------
# Training-data operators: text analysis over `documents`
# ---------------------------------------------------------------------------


# Fragment of SQL_DOC_QUALITY_STATS: token statistics (functions/text.py).
SQL_DOC_TOKEN_STATS = r"""
SELECT
  doc_id,
  CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(string_split_regex(trim(text), '[ 
	
]+')) END AS ws_tokens,
  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 
	
]')) AS bpe_tokens,
  CASE WHEN len(string_split_regex(trim(text), '[ 
	
]+')) > 0
       THEN CAST(list_sum(list_transform(string_split_regex(trim(text), '[ 
	
]+'), x -> length(x))) AS DOUBLE)
            / len(string_split_regex(trim(text), '[ 
	
]+')) END AS mean_word_len,
  CASE WHEN length(text) > 0
       THEN CAST(length(regexp_replace(text, '[^.,;:!?''"()\[\]{}]', '', 'g')) AS DOUBLE) / length(text) END AS punct_ratio,
  CASE WHEN len(string_split_regex(trim(lower(text)), '[ 
	
]+')) > 0
       THEN CAST(len(list_filter(string_split_regex(trim(lower(text)), '[ 
	
]+'),
                                 x -> x IN ('the','a','and','of','to'))) AS DOUBLE)
            / len(string_split_regex(trim(lower(text)), '[ 
	
]+')) END AS stop_ratio
FROM documents
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content md5 fingerprint (functions/text.py)."""
    from data_curator_spark.functions import text as T

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))


SQL_DOC_FINGERPRINT = """
SELECT doc_id, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
FROM documents
"""


# ---------------------------------------------------------------------------
# Training-data operators: deduplication over `documents`
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups by sha256 (operators/dedup.py:exact_duplicates).

    The documents table has no exact dups, so every doc_id % 7 == 0 row is
    re-appended under doc_id+1000000 — deterministic known duplicates."""
    from data_curator_spark.operators.dedup import exact_duplicates

    d = _spread(_t(spark, sf_dir, "documents")).select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return exact_duplicates(d.unionByName(dup), "doc_id", "text")


SQL_DEDUP_EXACT = """
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
)
SELECT sha256(text) AS content_sha, MIN(doc_id) AS canonical_id, COUNT(*) AS n_members
FROM base
GROUP BY sha256(text)
HAVING COUNT(*) > 1
"""


# --- portable-hash oracle builders (operators/dedup.py uses the same
# md5-prefix + affine-mod-2^31−1 scheme, so DuckDB reproduces the exact
# MinHash/SimHash integers) -------------------------------------------------

_WS_SQL = f"'{kernels.WS_RE}'"  # the tokenizer's regex as a SQL literal


def _hex_long_sql(col: str, n_hex: int) -> str:
    """DuckDB expression: first n_hex hex digits of ``col`` as BIGINT."""
    return (
        f"list_sum(list_transform(range({n_hex}), i -> "
        f"(strpos('0123456789abcdef', substr({col}, CAST(i+1 AS INT), 1)) - 1)::BIGINT"
        f" << (4*({n_hex}-1-i))))"
    )


def _shingle_cte() -> str:
    """Distinct word-3-gram shingles per doc (matches dedup.word_shingles)."""
    return f"""w AS (
  SELECT doc_id, string_split_regex(trim(text), {_WS_SQL}) AS ws FROM documents
), sh AS (
  SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(ws) - 1),
                         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
  FROM w WHERE len(ws) >= 3
)"""


def _minhash_sig_cte(k: int, seed: int = 42) -> str:
    """CTE chain ending in sig(doc_id, mh_0..mh_{k-1})."""
    from data_curator_spark.operators.dedup import P31, minhash_params

    params = minhash_params(k, seed)
    mins = ",\n         ".join(
        f"MIN(({a} * x + {b}) % {P31}) AS mh_{i}" for i, (a, b) in enumerate(params)
    )
    return f"""{_shingle_cte()}, hh AS (
  SELECT doc_id, md5(s) AS h FROM sh
), hx AS (
  SELECT doc_id, ({_hex_long_sql('h', 8)}) % {P31} AS x FROM hh
), sig AS (
  SELECT doc_id, {mins}
  FROM hx GROUP BY doc_id
)"""


def _band_collision_sql(k: int, bands: int) -> str:
    """OR-of-bands predicate between sig aliases p and q."""
    r = k // bands
    terms = []
    for b in range(bands):
        conj = " AND ".join(f"p.mh_{b*r+j} = q.mh_{b*r+j}" for j in range(r))
        terms.append(f"({conj})")
    return "\n    OR ".join(terms)


def _minhash_lsh_oracle_sql(k: int = 32, bands: int = 8, threshold: float = 0.5) -> str:
    est = " + ".join(f"CASE WHEN p.mh_{i} = q.mh_{i} THEN 1 ELSE 0 END" for i in range(k))
    return f"""
WITH {_minhash_sig_cte(k)}
SELECT id_a, id_b, est_jaccard FROM (
  SELECT p.doc_id AS id_a, q.doc_id AS id_b,
         CAST({est} AS DOUBLE) / CAST('{float(k)!r}' AS DOUBLE) AS est_jaccard
  FROM sig p JOIN sig q ON p.doc_id < q.doc_id
  WHERE {_band_collision_sql(k, bands)}
)
WHERE est_jaccard >= {threshold}
"""


SQL_MINHASH_LSH = _minhash_lsh_oracle_sql(32, 8, 0.5)


def _ngram_jaccard_blocked_oracle_sql(
    k: int = 32, bands: int = 8, threshold: float = 0.5
) -> str:
    """LSH-candidate pairs (same portable minhash) → exact Jaccard verify."""
    return f"""
WITH {_minhash_sig_cte(k)}, cand AS (
  SELECT p.doc_id AS id_a, q.doc_id AS id_b
  FROM sig p JOIN sig q ON p.doc_id < q.doc_id
  WHERE {_band_collision_sql(k, bands)}
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), common AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b,
       ROUND(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= {threshold}
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard >= 0.5 over LSH-RECALLED candidate pairs —
    the blocked scale plan (lsh_candidate_ids blocks at ~0.99 recall for
    J>=0.5 with r=2 bands, ngram_jaccard_verify computes the exact
    Jaccard), oracled end-to-end: the oracle reproduces the identical
    portable-minhash candidates, so the composed result matches exactly
    (VERDICT r1 item #6 — no full shingle self-join in the plan)."""
    from data_curator_spark.operators.dedup import (
        lsh_candidate_ids,
        minhash_signatures,
        ngram_jaccard_verify,
    )

    d = _spread(_t(spark, sf_dir, "documents"), by="doc_id")
    # persist = the query-level analog of materializing the signature /
    # candidate tables at cluster scale: each is computed once even
    # though the band self-join and the verify stage consume them twice.
    # bands=16 (r=2) is the right operating point for a 0.5 threshold:
    # band-collision recall at J=0.5 is 1-(1-0.5^2)^16 ~ 0.990 (vs 0.40
    # at r=4); the exact-verify stage discards the extra candidates.
    sigs = persist_tracked(minhash_signatures(d, "doc_id", "text", k=32))
    cands = persist_tracked(lsh_candidate_ids(sigs, "doc_id", k=32, bands=16))
    out = ngram_jaccard_verify(d, cands, "doc_id", "text", shingle_n=3, threshold=0.5)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


SQL_NGRAM_JACCARD = _ngram_jaccard_blocked_oracle_sql(32, 16, 0.5)


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate near-dup pairs (shingle -> minhash -> band ->
    bucket-join). Portable md5+affine hashing -> exact DuckDB oracle
    (SQL_MINHASH_LSH); estimate quality pinned by tests/test_dedup.py."""
    from data_curator_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    d = _spread(_t(spark, sf_dir, "documents"), by="doc_id")
    # signatures feed the band join (×2) and the est re-attach (×2):
    # persist = compute the expensive shingle→minhash aggregation once
    sigs = persist_tracked(minhash_signatures(d, "doc_id", "text", k=32))
    return lsh_candidate_pairs(sigs, "doc_id", k=32, bands=8).filter(
        F.col("est_jaccard") >= 0.5
    )


def _simhash_oracle_sql(max_hamming: int = 3) -> str:
    from data_curator_spark.operators.dedup import SIMHASH_BITS

    votes = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"CASE WHEN v{j} > 0 THEN 1::BIGINT << {j} ELSE 0::BIGINT END"
        for j in range(SIMHASH_BITS)
    )
    return f"""
WITH t AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), {_WS_SQL}),
                                    x -> x <> '')) AS tok
  FROM documents
), hh AS (
  SELECT doc_id, md5(tok) AS m FROM t
), hx AS (
  SELECT doc_id, {_hex_long_sql('m', 15)} AS h FROM hh
), v AS (
  SELECT doc_id, {votes}
  FROM hx GROUP BY doc_id
), f AS (
  SELECT d.doc_id, COALESCE({fp}, 0::BIGINT) AS fp
  FROM documents d LEFT JOIN v ON d.doc_id = v.doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
FROM f a JOIN f b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= {max_hamming}
"""


SQL_SIMHASH_NEAR = _simhash_oracle_sql(3)


def q_simhash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 3) via pigeonhole band blocking.
    Portable md5 token hashing -> exact DuckDB oracle (SQL_SIMHASH_NEAR:
    all-pairs + hamming filter — equivalent by the pigeonhole-completeness
    of the banding, which tests/test_dedup.py pins)."""
    from data_curator_spark.operators.dedup import simhash, simhash_near_pairs

    d = _spread(_t(spark, sf_dir, "documents"), by="doc_id")
    # fingerprints feed the band explode (×2) and the hamming re-attach
    # (×2): persist = compute the token-explode + 60-vote groupBy once
    fps = persist_tracked(simhash(d, "doc_id", "text"))
    out = simhash_near_pairs(fps, "doc_id", max_hamming=3)
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


# ---------------------------------------------------------------------------
# Training-data operators: similarity search over `embeddings`
# ---------------------------------------------------------------------------


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-3 for query vectors vec_id < 5
    (operators/similarity.py:cosine_topk; broadcast nested-loop scan)."""
    from data_curator_spark.operators.similarity import cosine_topk

    e = _t(spark, sf_dir, "embeddings")
    # _spread the corpus side: the single-split embeddings scan would
    # run every pairwise cosine on one core (queries stay unspread —
    # they are broadcast)
    return cosine_topk(
        e.filter(F.col("vec_id") < 5), _spread(e), "vec_id", "embedding", k=3
    )


SQL_ANN_COSINE_TOPK = """
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    ROUND(
      list_sum(list_transform(range(1, len(q.embedding)+1),
               i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
      / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
       * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))),
    6) AS sim
  FROM embeddings q, embeddings c
  WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-3 (operators/similarity.py:lsh_ann_topk).
    The hyperplane signatures are plain float arithmetic from a seeded
    RNG, so the oracle (SQL_ANN_LSH) reproduces the buckets + re-rank
    with the same plane literals; recall vs the exact baseline is pinned
    by tests/test_similarity.py."""
    from data_curator_spark.operators.similarity import lsh_ann_topk

    e = _t(spark, sf_dir, "embeddings")
    return lsh_ann_topk(
        e.filter(F.col("vec_id") < 5), e, "vec_id", "embedding", k=3
    )


_COS_SQL = """ROUND(
      list_sum(list_transform(range(1, {dim}+1),
               j -> CAST({q}[j] AS DOUBLE) * CAST({c}[j] AS DOUBLE)))
      / (sqrt(list_sum(list_transform({q}, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
       * sqrt(list_sum(list_transform({c}, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))),
    6)"""


def _plane_tables(n_planes: int, n_tables: int, dim: int, seed: int) -> list:
    """The SAME seeded hyperplane matrix the Spark operators generate —
    one source of truth (operators/similarity.py:plane_tables)."""
    from data_curator_spark.operators.similarity import plane_tables

    return plane_tables(n_planes, n_tables, dim, seed)


def _bucket_cte_sql(tables: list, dim: int, src: str = "u") -> tuple[str, str]:
    """(CTE fragment computing per-vector hyperplane bucket signatures,
    OR-of-tables predicate between aliases q and c).

    The fragment defines ``planes(t, i, w)`` as a VALUES table and
    ``bsig(vec_id, b0..b{T-1})`` via one cross join + groupBy — NOT an
    inline per-row literal-array expression: DuckDB reconstructs an
    inline CAST([...] AS DOUBLE[]) literal for every row×plane
    evaluation, measured 38s for 510 rows × 72 planes vs 0.1s for this
    form (identical bits: the per-dot list_sum/list_transform is
    unchanged, only how the plane vector is bound differs).

    String-element list casts: bare 17-digit literals parse as
    DECIMAL(18,17) whose DOUBLE conversion is 1 ulp off (verified);
    VARCHAR→DOUBLE casts round-trip repr exactly.
    ``src`` must provide (vec_id, embedding)."""
    vals = ",\n    ".join(
        "({}, {}, CAST(['{}'] AS DOUBLE[]))".format(
            t, i, "', '".join(repr(x) for x in p)
        )
        for t, planes in enumerate(tables)
        for i, p in enumerate(planes)
    )
    btabs = ",\n         ".join(
        f"SUM(CASE WHEN t = {t} AND d >= 0 THEN (1 << i) ELSE 0 END) AS b{t}"
        for t in range(len(tables))
    )
    cte = f"""planes(t, i, w) AS (
  VALUES
    {vals}
), dots AS (
  SELECT s.vec_id, p.t, p.i,
    list_sum(list_transform(range(1, {dim}+1), j -> CAST(s.embedding[j] AS DOUBLE) * p.w[j])) AS d
  FROM {src} s CROSS JOIN planes p
), bsig AS (
  SELECT vec_id,
         {btabs}
  FROM dots GROUP BY vec_id
)"""
    or_pred = " OR ".join(f"q.b{t} = c.b{t}" for t in range(len(tables)))
    return cte, or_pred


def _ann_lsh_oracle_sql(
    k: int = 3,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
    query_pred: str = "vec_id < 5",
) -> str:
    """Oracle for lsh_ann_topk: per-table hyperplane sign buckets with the
    SAME seeded plane matrix as the Spark operator, OR-of-tables candidate
    join, exact cosine re-rank rounded to 6."""
    tables = _plane_tables(n_planes, n_tables, dim, seed)
    bucket_cte, or_pred = _bucket_cte_sql(tables, dim, src="u")
    cos = _COS_SQL.format(dim=dim, q="q.embedding", c="c.embedding")
    return f"""
WITH u AS (
  SELECT vec_id, embedding FROM embeddings
), {bucket_cte}, b AS MATERIALIZED (
  SELECT u.vec_id, u.embedding, {', '.join(f'bsig.b{t}' for t in range(n_tables))}
  FROM u JOIN bsig USING (vec_id)
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    {cos} AS sim
  FROM b q JOIN b c ON ({or_pred})
  WHERE q.{query_pred} AND q.vec_id <> c.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
"""


SQL_ANN_LSH = _ann_lsh_oracle_sql()


def _embeddings_with_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ deterministic perturbed copies (every 50th vector,
    first component +0.1, id +100000): the raw table is unit-normalized
    pairs (max ≈ 0.51, all norms 1), so known near-dups (cos ≈ 0.995)
    are synthesized the same way
    in Spark and the oracle. The +0.1 literal is float32 on BOTH sides
    (float+float rounds the exact sum once — identical in any IEEE
    engine), so the perturbed vectors are bit-equal across engines."""
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pert = e.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: F.when(i == 0, x + F.lit(0.1).cast("float")).otherwise(x),
        ).cast("array<float>").alias("embedding"),
    )
    return e.unionByName(pert)


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine ≥ 0.95): hyperplane-LSH
    blocking + exact cosine verify
    (operators/similarity.py:embedding_near_dup_pairs). Oracle reproduces
    the seeded plane buckets and the verify filter exactly."""
    from data_curator_spark.operators.similarity import embedding_near_dup_pairs

    # no persist: the union feeds the bucket explode and both verify
    # sides, but rescanning it measured no slower than caching it
    u = _embeddings_with_near_dups(spark, sf_dir)
    return embedding_near_dup_pairs(u, "vec_id", "embedding", threshold=0.95)


def _embedding_near_dup_oracle_sql(
    threshold: float = 0.95,
    n_planes: int = 12,
    n_tables: int = 6,
    dim: int = 64,
    seed: int = 7,
) -> str:
    tables = _plane_tables(n_planes, n_tables, dim, seed)
    bucket_cte, _or_pred = _bucket_cte_sql(tables, dim, src="u")
    cos = _COS_SQL.format(dim=dim, q="qa.embedding", c="qb.embedding")
    # candidate generation as a hash EQUI-join over exploded (table,
    # bucket) keys — the OR-of-tables predicate forces DuckDB into a
    # nested loop; the result set is identical (OR over tables ==
    # exists a shared key)
    exploded = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, {t} AS tb, b{t} AS bk FROM b" for t in range(n_tables)
    )
    return f"""
WITH u AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000,
         list_transform(range(1, {dim}+1),
           j -> CASE WHEN j = 1 THEN CAST(embedding[j] + CAST('0.1' AS FLOAT) AS FLOAT)
                     ELSE embedding[j] END)
  FROM embeddings WHERE vec_id % 50 = 0
), {bucket_cte}, b AS MATERIALIZED (
  SELECT u.vec_id, u.embedding, {', '.join(f'bsig.b{t}' for t in range(n_tables))}
  FROM u JOIN bsig USING (vec_id)
), bk AS (
{exploded}
), pairs AS (
  SELECT DISTINCT q.vec_id AS id_a, c.vec_id AS id_b
  FROM bk q JOIN bk c ON q.tb = c.tb AND q.bk = c.bk AND q.vec_id < c.vec_id
)
SELECT id_a, id_b, sim FROM (
  SELECT p.id_a, p.id_b, {cos} AS sim
  FROM pairs p
  JOIN b qa ON qa.vec_id = p.id_a
  JOIN b qb ON qb.vec_id = p.id_b
)
WHERE sim >= {threshold}
"""


SQL_EMBEDDING_NEAR_DUP = _embedding_near_dup_oracle_sql()


def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norms of embedding vectors — double-precision left-to-right fold
    (operators/similarity.py:l2_norm)."""
    from data_curator_spark.operators.similarity import l2_norm

    e = _t(spark, sf_dir, "embeddings")
    return e.select("vec_id", "label", l2_norm(F.col("embedding")).alias("l2"))


SQL_EMBEDDING_NORMS = """
SELECT vec_id, label,
  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS l2
FROM embeddings
"""



def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column plumbing: documents -> opaque payloads ->
    mapInPandas decode/feature-extract (operators/multimodal.py). Decode
    codecs are stubbed (deterministic fake), but the projected output
    (media_id, kind, n_bytes) is pure deterministic byte math — oracled."""
    from data_curator_spark.operators.multimodal import extract_features, media_from_documents

    d = _t(spark, sf_dir, "documents")
    out = extract_features(media_from_documents(d))
    return out.select("media_id", "kind", "n_bytes")


SQL_MULTIMODAL_FEATURES = """
SELECT
  'm' || CAST(doc_id AS VARCHAR) AS media_id,
  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
  COALESCE(CAST(octet_length(encode(text)) AS INT), 0) AS n_bytes
FROM documents
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER assignment: MinHash/LSH pairs (est_jaccard ≥ 0.5,
    same operating point as minhash_lsh) fed through iterative min-label
    connected components (operators/dedup.py:connected_components) — one
    (doc_id, cluster_id, is_canonical) row per document, singletons
    included. This is the keep-one-per-cluster decision an LLM-corpus
    dedup stage executes; the oracle is a DuckDB recursive-CTE
    transitive closure over the identical portable-minhash pair set."""
    from data_curator_spark.operators.dedup import (
        connected_components,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    d = _spread(_t(spark, sf_dir, "documents"), by="doc_id").select("doc_id", "text")
    sigs = persist_tracked(minhash_signatures(d, "doc_id", "text", k=32))
    # persist: connected_components builds its edge table as a UNION of
    # two selects over `pairs`, so an unpersisted pair chain would run
    # the band join + signature re-attach twice (measured ~2s extra at
    # sf1.0); the first edge materialization fills this cache instead
    pairs = persist_tracked(
        lsh_candidate_pairs(sigs, "doc_id", k=32, bands=8).filter(
            F.col("est_jaccard") >= 0.5
        )
    )
    # lsh_candidate_pairs ends in dropDuplicates, so the edge-dedup
    # shuffle inside connected_components is provably redundant here.
    # Vertices come from a FRESH ids-only scan, not the _spread frame:
    # the vertex side only streams through CC's final joins, and reusing
    # `d` would drag the text-carrying repartition exchange into both of
    # them (ids-only parquet scan is cheaper than the shuffle)
    verts = _t(spark, sf_dir, "documents").select("doc_id")
    return connected_components(
        verts, pairs, "doc_id", assume_unique_pairs=True
    )


def _dedup_clusters_oracle_sql(k: int = 32, bands: int = 8, threshold: float = 0.5) -> str:
    est = " + ".join(f"CASE WHEN p.mh_{i} = q.mh_{i} THEN 1 ELSE 0 END" for i in range(k))
    return f"""
WITH RECURSIVE {_minhash_sig_cte(k)}, pr AS (
  SELECT id_a, id_b FROM (
    SELECT p.doc_id AS id_a, q.doc_id AS id_b,
           CAST({est} AS DOUBLE) / CAST('{float(k)!r}' AS DOUBLE) AS est_jaccard
    FROM sig p JOIN sig q ON p.doc_id < q.doc_id
    WHERE {_band_collision_sql(k, bands)}
  ) WHERE est_jaccard >= {threshold}
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pr
  UNION
  SELECT id_b AS src, id_a AS dst FROM pr
), reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, MIN(dst) AS cluster_id, MIN(dst) = src AS is_canonical
FROM reach GROUP BY src
"""


SQL_DEDUP_CLUSTERS = _dedup_clusters_oracle_sql()


# ---------------------------------------------------------------------------
# §2.3 event-date expansion join / §2.6 sorts-limits-setops / §2.7 scalars
# ---------------------------------------------------------------------------


def q_event_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-date expansion join: per-user daily spine x (first purchase,
    first signup) per day — each factor lands only on its exact date,
    null elsewhere (column_builder.py:228-285 _expand_dated_factors)."""
    from data_curator_spark.engine.features import expand_dated_factors

    ev = _t(spark, sf_dir, "events")
    spine = ev.select("user_id", F.to_date("ts").alias("day")).dropDuplicates(
        ["user_id", "day"]
    )
    firsts = (
        ev.groupBy("user_id", F.to_date("ts").alias("day"), "event_type")
        .agg(F.min("event_id").alias("first_event"))
    )
    purchases = firsts.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("day").alias("purchase_day"), F.col("first_event").alias("purchase_ev")
    )
    out = expand_dated_factors(
        spine, purchases, "user_id", "day", ["purchase_day"], ["purchase_ev"]
    )
    return out.select(
        "user_id", "day", F.col("purchase_day__purchase_ev").alias("first_purchase_event")
    )


SQL_EVENT_EXPANSION = """
WITH spine AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), p AS (
  SELECT user_id, CAST(ts AS DATE) AS day, MIN(event_id) AS first_purchase_event
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, CAST(ts AS DATE)
)
SELECT s.user_id, s.day, p.first_purchase_event
FROM spine s LEFT JOIN p ON s.user_id = p.user_id AND s.day = p.day
"""


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic top-k: orders by totalprice desc, orderkey tiebreak
    (§2.6 sorts/limits; reference record limits financial_modeling_prep.py:54)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.col("o_totalprice").cast("double").alias("o_totalprice"))
    )


SQL_TOPK_ORDERS = """
SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (§2.6): BUILDING-segment customers except those
    with an open ('O') order, via exceptAll — the reference expresses
    these only as masks (data_provider_toolkit.py:571-756)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    seg = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    open_cust = (
        o.filter(F.col("o_orderstatus") == "O")
        .join(seg, o.o_custkey == seg.c_custkey)
        .select("c_custkey")
        .distinct()
    )
    return seg.exceptAll(open_cust)


SQL_SET_OPS = """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
EXCEPT ALL
SELECT DISTINCT c.c_custkey
FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderstatus = 'O'
"""


def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function battery (§2.7): python-floored mod synthesis
    (data_column.py:328-351), concat-with-null-replacement
    (:977-1023), unit scaling (data_provider_toolkit.py:122-139),
    datetime→date cast + ISO format (:142-161), floor/abs/negate."""
    from data_curator_spark.engine.columns import concat_with_null_replacement, mod

    li = _t(spark, sf_dir, "lineitem")
    a = F.col("l_extendedprice")
    b = F.when(F.col("l_linenumber") % 4 == 0, -3.0).otherwise(7.0)
    maybe_null = F.when(F.col("l_linenumber") % 5 != 0, F.col("l_returnflag"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        mod(a, b).alias("mod_floored"),
        F.floor(a / b).cast("long").alias("floordiv"),
        concat_with_null_replacement(
            "-", maybe_null, F.col("l_linestatus"), null_replacement="NA"
        ).alias("tagged"),
        (F.col("l_quantity") * 1e6).alias("scaled_millions"),
        F.date_format(F.to_date("l_shipdate"), "yyyy-MM-dd").alias("ship_iso"),
        F.abs(-a).alias("abs_neg"),
    )


SQL_SCALAR_FUNCTIONS = """
SELECT
  l_orderkey,
  l_linenumber,
  CASE WHEN b <> 0 THEN l_extendedprice - FLOOR(l_extendedprice / b) * b END AS mod_floored,
  CAST(FLOOR(l_extendedprice / b) AS BIGINT) AS floordiv,
  COALESCE(CASE WHEN l_linenumber % 5 <> 0 THEN l_returnflag END, 'NA')
    || '-' || l_linestatus AS tagged,
  l_quantity * 1e6 AS scaled_millions,
  strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') AS ship_iso,
  ABS(-l_extendedprice) AS abs_neg
FROM (
  SELECT *, CASE WHEN l_linenumber % 4 = 0 THEN -3.0 ELSE 7.0 END AS b FROM lineitem
)
"""


def _ema_oracle_sql(span: int, out_name: str) -> str:
    """DuckDB recursive-CTE oracle for the EMA kernel (_ema_array).

    Replicates the kernel's arithmetic EXACTLY, op for op:
    - seed = sequential left-fold sum of the first ``span`` finite values
      of a segment, / span (kernel uses np.cumsum — a left fold);
    - recursion = (1-α)·prev + α·v, skipped when prev == v (pandas
      ewm(adjust=False) semantics: the update divides by (1-α)+α which is
      exactly 1.0 for these α, and skips when weighted == cur);
    - reset on null/±Inf. Bit-identical doubles → no rounding needed.
    """
    alpha = 2.0 / (span + 1)
    # string-cast double literals: bare decimal literals make DuckDB
    # evaluate the multiply-add in extended decimal precision (observed:
    # last-ulp divergence vs IEEE double); CAST('…' AS DOUBLE) pins the
    # exact double and the exact double ops
    al = f"CAST('{alpha!r}' AS DOUBLE)"
    om = f"CAST('{1.0 - alpha!r}' AS DOUBLE)"
    sp = f"CAST('{float(span)!r}' AS DOUBLE)"
    return f"""
WITH RECURSIVE base AS (
  SELECT event_id, user_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         (value IS NOT NULL AND isfinite(value)) AS ok
  FROM events
), rec AS (
  SELECT user_id, rn, event_id,
         CAST(CASE WHEN ok THEN 1 ELSE 0 END AS INT) AS seg_len,
         CAST(CASE WHEN ok THEN value ELSE 0.0 END AS DOUBLE) AS run_sum,
         CAST(CASE WHEN ok AND {span} = 1 THEN value / {sp} END AS DOUBLE) AS ema
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.rn, b.event_id,
         CASE WHEN b.ok THEN r.seg_len + 1 ELSE 0 END AS seg_len,
         CASE WHEN NOT b.ok THEN 0.0
              WHEN r.seg_len + 1 <= {span} THEN r.run_sum + b.value
              ELSE r.run_sum END AS run_sum,
         CASE WHEN NOT b.ok THEN NULL
              WHEN r.seg_len + 1 < {span} THEN NULL
              WHEN r.seg_len + 1 = {span} THEN (r.run_sum + b.value) / {sp}
              WHEN r.ema = b.value THEN r.ema
              ELSE {om} * r.ema + {al} * b.value END AS ema
  FROM rec r JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1
)
SELECT event_id, ema AS {out_name} FROM rec
"""


def _rsi_oracle_sql(days: int, out_name: str) -> str:
    """DuckDB recursive-CTE oracle for the RSI kernel (_rsi_array),
    replicating its sequential arithmetic exactly (see _ema_oracle_sql):
    gains/losses from per-row diffs, left-fold seeds, Wilder smoothing as
    pandas ewm(α=1/days, adjust=False), null while avg loss == 0, reset
    when either side of a diff is null/±Inf."""
    alpha = 1.0 / days
    # string-cast double literals — see _ema_oracle_sql
    al = f"CAST('{alpha!r}' AS DOUBLE)"
    om = f"CAST('{1.0 - alpha!r}' AS DOUBLE)"
    dy = f"CAST('{float(days)!r}' AS DOUBLE)"
    return f"""
WITH RECURSIVE base AS (
  SELECT event_id, user_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         (value IS NOT NULL AND isfinite(value)) AS ok
  FROM events
), rec AS (
  SELECT user_id, rn, event_id, value AS prev_val, ok AS prev_ok,
         CAST(0 AS INT) AS m,
         CAST(0.0 AS DOUBLE) AS sum_g, CAST(0.0 AS DOUBLE) AS sum_l,
         CAST(NULL AS DOUBLE) AS avg_g, CAST(NULL AS DOUBLE) AS avg_l,
         CAST(NULL AS DOUBLE) AS rsi
  FROM base WHERE rn = 1
  UNION ALL
  SELECT user_id, rn, event_id, prev_val, prev_ok, m, sum_g, sum_l, avg_g, avg_l,
         CASE WHEN avg_l IS NULL OR avg_l = 0.0 THEN NULL
              ELSE CAST('100.0' AS DOUBLE) - CAST('100.0' AS DOUBLE) / (CAST('1.0' AS DOUBLE) + avg_g / avg_l) END AS rsi
  FROM (
    SELECT user_id, rn, event_id, prev_val, prev_ok, m,
           CASE WHEN m = 0 THEN 0.0 WHEN m <= {days} THEN sum_g0 + g ELSE sum_g0 END AS sum_g,
           CASE WHEN m = 0 THEN 0.0 WHEN m <= {days} THEN sum_l0 + l ELSE sum_l0 END AS sum_l,
           CASE WHEN m < {days} THEN NULL
                WHEN m = {days} THEN (sum_g0 + g) / {dy}
                WHEN avg_g0 = g THEN avg_g0
                ELSE {om} * avg_g0 + {al} * g END AS avg_g,
           CASE WHEN m < {days} THEN NULL
                WHEN m = {days} THEN (sum_l0 + l) / {dy}
                WHEN avg_l0 = l THEN avg_l0
                ELSE {om} * avg_l0 + {al} * l END AS avg_l
    FROM (
      SELECT b.user_id, b.rn, b.event_id,
             b.value AS prev_val, b.ok AS prev_ok,
             CASE WHEN b.ok AND r.prev_ok THEN r.m + 1 ELSE 0 END AS m,
             CASE WHEN b.value - r.prev_val > 0 THEN b.value - r.prev_val ELSE 0.0 END AS g,
             CASE WHEN b.value - r.prev_val < 0 THEN -(b.value - r.prev_val) ELSE 0.0 END AS l,
             r.sum_g AS sum_g0, r.sum_l AS sum_l0,
             r.avg_g AS avg_g0, r.avg_l AS avg_l0
      FROM rec r JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1
    ) s1
  ) s2
)
SELECT event_id, rsi AS {out_name} FROM rec
"""


def q_recursions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged r6 gate query: EMA-12 and Wilder RSI-14 computed in ONE
    grouped Arrow pass (apply_recursive_features takes a spec list) —
    one repartition+sortWithinPartitions serves both kernels, where
    separate queries would each pay the shuffle."""
    from data_curator_spark.engine.features import apply_recursive_features

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = apply_recursive_features(
        ev,
        "user_id",
        "ts",
        [("ema12", "ema", "value", 12), ("rsi14", "rsi", "value", 14)],
        tiebreak_col="event_id",
    )
    return out.select("event_id", "ema12", "rsi14")


# MATERIALIZED: without it DuckDB inlines each recursive side into the
# join and re-runs the recursion per probe (memory: r4 macd oracle 114s)
SQL_RECURSIONS = f"""
WITH ema_side AS MATERIALIZED (
{_ema_oracle_sql(12, "ema12")}
), rsi_side AS MATERIALIZED (
{_rsi_oracle_sql(14, "rsi14")}
)
SELECT ema_side.event_id, ema12, rsi14
FROM ema_side JOIN rsi_side ON ema_side.event_id = rsi_side.event_id
"""


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval join as a bin-bucketed EQUI-join (operators/
    temporal.py:interval_join): every click within 2 days after a view
    by the same user. The naive formulation is a non-equi join
    (BroadcastNestedLoop at scale); binning turns it into a hash join on
    (user_id, day-bin) + exact containment filter."""
    from data_curator_spark.operators.temporal import interval_join

    ev = _t(spark, sf_dir, "events")
    points = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    intervals = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 2 DAYS")).alias("end_ts"),
        F.col("event_id").alias("view_id"),
    )
    out = interval_join(
        points, intervals, "user_id", "ts", "start_ts", "end_ts", bin_width_sec=86400
    )
    return out.select("click_id", "view_id")


SQL_INTERVAL_JOIN = """
SELECT c.event_id AS click_id, v.event_id AS view_id
FROM events c
JOIN events v
  ON v.user_id = c.user_id
 AND c.event_type = 'click' AND v.event_type = 'view'
 AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 2 DAY
"""


def q_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style cascading rollup (operators/temporal.py:
    hypertable_rollup): 15-min/hour/day per-user continuous aggregates,
    each coarser level re-aggregating the finer level's partials —
    decimal-exact sums make the cascade bit-equal to direct grouping."""
    from data_curator_spark.operators.temporal import hypertable_rollup

    ev = _t(spark, sf_dir, "events")
    return hypertable_rollup(ev, "user_id", "ts", "value", [900, 3600, 86400])


def _rollup_level_sql(level: int, width: int) -> str:
    return f"""
SELECT {level} AS level, user_id,
       CAST(FLOOR(epoch(ts) / {width}) * {width} AS BIGINT) AS bucket_start,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
FROM events
GROUP BY user_id, FLOOR(epoch(ts) / {width}) * {width}
"""


SQL_HYPERTABLE_ROLLUP = "\nUNION ALL\n".join(
    _rollup_level_sql(i, w) for i, w in enumerate([900, 3600, 86400])
)


# Fragment of SQL_DOC_QUALITY_STATS: the pipeline's heuristic columns
# (pipeline/stages.py:with_heuristics).
SQL_CORPUS_HEURISTICS = """
WITH h AS (
  SELECT
    doc_id,
    length(text) AS n_chars,
    len(string_split(text, chr(10))) AS n_lines,
    list_max(list_transform(string_split(text, chr(10)), x -> length(x))) AS max_line_len,
    CAST(length(text) - len(string_split(text, chr(10))) + 1 AS DOUBLE)
      / len(string_split(text, chr(10))) AS avg_line_len,
    CAST(length(text) - length(regexp_replace(text, '[A-Za-z0-9]', '', 'g')) AS DOUBLE)
      / GREATEST(length(text), 1) AS alnum_ratio,
    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
      / GREATEST(length(text), 1) AS digit_ratio,
    CAST(len(list_distinct(string_split(text, chr(10)))) AS DOUBLE)
      / len(string_split(text, chr(10))) AS distinct_line_ratio
  FROM documents
)
SELECT
  doc_id, n_chars, CAST(n_lines AS INT) AS n_lines, CAST(max_line_len AS INT) AS max_line_len,
  ROUND(avg_line_len, 6) AS avg_line_len,
  ROUND(alnum_ratio, 6) AS alnum_ratio,
  ROUND(digit_ratio, 6) AS digit_ratio,
  ROUND(distinct_line_ratio, 6) AS distinct_line_ratio,
  (n_chars >= 20 AND max_line_len <= 1000 AND avg_line_len <= 200
   AND alnum_ratio >= 0.25 AND digit_ratio <= 0.5) AS heuristics_pass
FROM h
"""

def q_doc_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged r6 gate query: per-document token/quality statistics
    (functions/text.py; SQL_DOC_TOKEN_STATS), the pipeline's
    heuristic columns + rule decision (pipeline/stages.py:
    with_heuristics; SQL_CORPUS_HEURISTICS) in ONE scan of
    documents, and — joined on doc_id — the supervised NB language-ID
    audit (operators/classifier.py:nb_langid): train multinomial NB on
    the corpus's own (text, lang) labels and score every doc,
    emitting the predicted class and the integer micro-nat margin
    (exact in both engines by the lm.py quantization argument; the
    synthetic langs share one vocabulary, so predictions collapse to
    the prior-dominant class — the PARITY of train+score is what this
    row pins, accuracy is pinned by tests/test_classifier.py on
    separable data)."""
    from data_curator_spark.functions import text as T
    from data_curator_spark.operators.classifier import nb_langid
    from data_curator_spark.pipeline.stages import (
        heuristics_pass_expr,
        with_heuristics,
    )

    # ONE _spread scan feeds both branches: the per-char heuristics/
    # token kernels and the NB char-trigram explode are map-heavy, and a
    # single-split local scan serializes them onto one core (measured
    # 37s of the query's 39s at sf1.0 in the nb feature pass alone —
    # bench_extra.py dq.nb_feats); sharing the repartitioned frame also
    # avoids a second scan+shuffle of the corpus text
    base = _spread(
        _t(spark, sf_dir, "documents").select("doc_id", "text", "lang"),
        by="doc_id",
    )
    d = base.select("doc_id", F.col("text").alias("content"))
    h = with_heuristics(d)
    c = F.col("content")
    nb = nb_langid(base, "doc_id", "text", "lang").select(
        "doc_id", "nb_pred", "nb_margin_unats"
    )
    return h.select(
        "doc_id",
        T.whitespace_token_count(c).alias("ws_tokens"),
        T.bpe_token_count(c).alias("bpe_tokens"),
        T.mean_word_length(c).alias("mean_word_len"),
        T.punct_ratio(c).alias("punct_ratio"),
        T.stopword_ratio(c, ["the", "a", "and", "of", "to"]).alias("stop_ratio"),
        "n_chars",
        "n_lines",
        "max_line_len",
        F.round("avg_line_len", 6).alias("avg_line_len"),
        F.round("alnum_ratio", 6).alias("alnum_ratio"),
        F.round("digit_ratio", 6).alias("digit_ratio"),
        F.round("distinct_line_ratio", 6).alias("distinct_line_ratio"),
        "b64_blob_chars",
        "hex_blob_chars",
        "autogen_head",
        "mojibake_chars",
        "comment_chars",
        # the pipeline's FULL content gate (stages.heuristics_pass_expr:
        # 5 scalar rules + repetitive + blob/autogen + comment-heavy +
        # mojibake) — single source, so
        # this row can never drift from what stage 1 actually gates.
        # vendored_path (needs a path column) and compressible
        # (model-stage) are out of scope for the documents table.
        heuristics_pass_expr().alias("heuristics_pass"),
    ).join(nb, on="doc_id", how="left")


def _nb_langid_sql() -> str:
    """DuckDB replica of operators/classifier.py:nb_langid over
    documents(text, lang): same 60-bit md5 buckets, same Laplace
    quantization to integer micro-nats, same (score DESC, class DESC)
    tie-break. Constants imported from the operator module — never
    re-derived here."""
    from data_curator_spark.operators.classifier import (
        NB_DEFAULT_BUCKETS as B,
        NB_DEFAULT_GRAM as G,
    )
    from data_curator_spark.operators.lm import LP_SCALE_BITS

    s = 1 << LP_SCALE_BITS
    return f"""
nb_g AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, length(text) - {G} + 2),
                i -> substr(text, CAST(i AS INT), {G}))) AS g
  FROM documents
  WHERE text IS NOT NULL AND length(text) >= {G} AND lang IS NOT NULL
), nb_b AS (
  SELECT doc_id, lang, ({_hex_long_sql("md5(g)", 15)}) % {B} AS bucket
  FROM nb_g
), nb_feat AS (
  SELECT doc_id, lang, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM nb_b GROUP BY doc_id, lang, bucket
), nb_cc AS (
  SELECT lang, bucket, CAST(SUM(cnt) AS BIGINT) AS c
  FROM nb_feat GROUP BY lang, bucket
), nb_tot AS (
  SELECT lang, CAST(SUM(c) AS BIGINT) AS t FROM nb_cc GROUP BY lang
), nb_docs AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents
  WHERE text IS NOT NULL AND length(text) >= {G} AND lang IS NOT NULL
  GROUP BY lang
), nb_prior AS (
  SELECT lang,
         CAST(FLOOR(LN(CAST(n AS DOUBLE) /
              CAST((SELECT SUM(n) FROM nb_docs) AS DOUBLE)) * {s})
              AS BIGINT) AS pq
  FROM nb_docs
), nb_lp AS (
  SELECT lang, bucket,
         CAST(FLOOR(LN(CAST(c + 1 AS DOUBLE) / CAST(t + {B} AS DOUBLE))
              * {s}) AS BIGINT) AS lpq
  FROM nb_cc JOIN nb_tot USING (lang)
), nb_def AS (
  SELECT lang,
         CAST(FLOOR(LN(1.0 / CAST(t + {B} AS DOUBLE)) * {s}) AS BIGINT)
           AS dq
  FROM nb_tot
), nb_score AS (
  SELECT f.doc_id, cl.lang AS cls, p.pq,
         CAST(SUM(f.cnt * COALESCE(lp.lpq, d.dq)) AS BIGINT) + p.pq AS sc
  FROM nb_feat f
  CROSS JOIN (SELECT lang FROM nb_tot) cl
  LEFT JOIN nb_lp lp ON lp.lang = cl.lang AND lp.bucket = f.bucket
  JOIN nb_def d ON d.lang = cl.lang
  JOIN nb_prior p ON p.lang = cl.lang
  GROUP BY f.doc_id, cl.lang, p.pq
), nb_rank AS (
  SELECT doc_id, cls, sc,
         ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY sc DESC, cls DESC
         ) AS rn
  FROM nb_score
), nb AS (
  SELECT a.doc_id, a.cls AS nb_pred,
         CAST(COALESCE(a.sc - b.sc, 0) AS BIGINT) AS nb_margin_unats
  FROM nb_rank a
  LEFT JOIN nb_rank b ON a.doc_id = b.doc_id AND b.rn = 2
  WHERE a.rn = 1
)"""


def _blob_sql() -> str:
    """Blob/provenance columns + the FULL content heuristics gate of the
    pipeline (pipeline/stages.py:with_heuristics / heuristics_pass_expr)
    — patterns and thresholds imported from pipeline/spec.py, never
    re-derived here. Blob chars = total covered chars of the greedy
    character-class runs; the gate recomputes every ratio UNROUNDED from
    raw text (the rounded ch columns are display values — a ratio within
    5e-7 of a threshold must gate identically to Spark). Null text stays
    null like Spark."""
    from data_curator_spark.pipeline import spec

    def covered(pat: str) -> str:
        return (
            "CASE WHEN text IS NULL THEN NULL ELSE "
            "CAST(COALESCE(list_aggregate(list_transform("
            f"regexp_extract_all(text, '{pat}'), x -> length(x)), 'sum'), 0)"
            " AS BIGINT) END"
        )

    return f"""
bl0 AS (
  SELECT doc_id, text,
         {covered(spec.B64_BLOB_PATTERN)} AS b64_blob_chars,
         {covered(spec.HEX_BLOB_PATTERN)} AS hex_blob_chars,
         CASE WHEN text IS NULL THEN NULL ELSE
           CAST(length(text) - length(regexp_replace(text,
                '{spec.MOJIBAKE_PATTERN}', '', 'g')) AS BIGINT)
         END AS mojibake_chars,
         {covered(spec.COMMENT_PATTERN)} AS comment_chars,
         CASE WHEN text IS NULL THEN NULL ELSE
           regexp_matches(substr(text, 1, {spec.AUTOGEN_HEAD_CHARS}),
                          '{spec.AUTOGEN_PATTERN}') END AS autogen_head,
         length(text) AS bn_chars,
         len(string_split(text, chr(10))) AS bn_lines,
         list_max(list_transform(string_split(text, chr(10)),
                                 x -> length(x))) AS bmax_line,
         CAST(length(text) - len(string_split(text, chr(10))) + 1
              AS DOUBLE) / len(string_split(text, chr(10))) AS bavg_line,
         CAST(length(text) -
              length(regexp_replace(text, '[A-Za-z0-9]', '', 'g'))
              AS DOUBLE) / GREATEST(length(text), 1) AS balnum,
         CAST(length(text) -
              length(regexp_replace(text, '[0-9]', '', 'g'))
              AS DOUBLE) / GREATEST(length(text), 1) AS bdigit,
         CAST(len(list_distinct(string_split(text, chr(10)))) AS DOUBLE)
           / len(string_split(text, chr(10))) AS bdistinct
  FROM documents
), bl AS (
  SELECT doc_id, b64_blob_chars, hex_blob_chars, autogen_head,
         mojibake_chars, comment_chars,
         (bn_chars >= {spec.MIN_CHARS}
          AND bmax_line <= {spec.MAX_LINE_LENGTH}
          AND bavg_line <= {spec.MAX_AVG_LINE_LENGTH}
          AND balnum >= {spec.MIN_ALNUM_RATIO}
          AND bdigit <= {spec.MAX_DIGIT_RATIO}
          AND NOT (bn_lines >= {spec.DISTINCT_LINE_MIN_LINES}
                   AND bdistinct < {spec.MIN_DISTINCT_LINE_RATIO})
          AND b64_blob_chars <=
              CAST({spec.MAX_B64_BLOB_RATIO} AS DOUBLE) * bn_chars
          AND hex_blob_chars <=
              CAST({spec.MAX_HEX_BLOB_RATIO} AS DOUBLE) * bn_chars
          AND NOT autogen_head
          AND comment_chars <=
              CAST({spec.MAX_COMMENT_RATIO} AS DOUBLE) * bn_chars
          AND mojibake_chars <=
              CAST({spec.MAX_MOJIBAKE_RATIO} AS DOUBLE) * bn_chars
         ) AS heuristics_pass
  FROM bl0
)"""


SQL_DOC_QUALITY_STATS = f"""
WITH ts AS ({SQL_DOC_TOKEN_STATS}), ch AS ({SQL_CORPUS_HEURISTICS}),
{_blob_sql()},
{_nb_langid_sql()}
SELECT ts.doc_id, ts.ws_tokens, ts.bpe_tokens, ts.mean_word_len,
       ts.punct_ratio, ts.stop_ratio,
       ch.n_chars, ch.n_lines, ch.max_line_len, ch.avg_line_len,
       ch.alnum_ratio, ch.digit_ratio, ch.distinct_line_ratio,
       bl.b64_blob_chars, bl.hex_blob_chars, bl.autogen_head,
       bl.mojibake_chars, bl.comment_chars,
       bl.heuristics_pass,
       nb.nb_pred, nb.nb_margin_unats
FROM ts JOIN ch ON ts.doc_id = ch.doc_id
JOIN bl ON ts.doc_id = bl.doc_id
LEFT JOIN nb ON ts.doc_id = nb.doc_id
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: k-means coarse cells (trained on the driver over the
    embeddings collected once) + probed exact re-rank
    (operators/similarity.py:ivf_ann_topk). The oracle trains the same
    train_ivf_centroids on the same id-ordered matrix read by DuckDB and
    interpolates the centroids as SQL literals (_ann_ivf_oracle_sql) —
    cell assignment + probe + re-rank verified end-to-end. Recall vs
    exact pinned by tests/test_similarity.py."""
    from data_curator_spark.operators.similarity import ivf_ann_topk

    e = _t(spark, sf_dir, "embeddings")
    return ivf_ann_topk(
        e.filter(F.col("vec_id") < 5), e, "vec_id", "embedding",
        k=3, n_centroids=8, n_probe=3, iters=3,
    )


def _ann_ivf_oracle_sql(
    sf_dir: str,
    k: int = 3,
    n_centroids: int = 8,
    n_probe: int = 3,
    iters: int = 3,
    dim: int = 64,
    seed: int = 42,
    query_pred: str = "vec_id < 5",
) -> str:
    """Generate the IVF oracle at call time: train ivf_ann_topk's
    k-means on the actual embeddings, then emit assignment/probe/re-rank
    SQL with the centroid matrix as literals."""
    import duckdb

    from data_curator_spark.operators.similarity import (
        _training_matrix,
        train_ivf_centroids,
    )

    con = duckdb.connect()
    tbl = con.execute(
        f"SELECT vec_id, embedding FROM read_parquet('{sf_dir}/embeddings.parquet')"
    ).arrow()
    con.close()
    cents = train_ivf_centroids(_training_matrix(tbl, dim), n_centroids, iters, seed)
    # string-element list cast — see _bucket_cte_sql string-cast plane values (the
    # 6-decimal centroids are DECIMAL-safe today, but keep one convention)
    vals = ",\n    ".join(
        "({}, CAST(['{}'] AS DOUBLE[]))".format(i, "', '".join(repr(float(x)) for x in c))
        for i, c in enumerate(cents)
    )
    cos = _COS_SQL.format(dim=dim, q="p.qemb", c="c.cemb")
    return f"""
WITH cents(ci, cv) AS (
  VALUES
    {vals}
), d AS (
  SELECT e.vec_id, e.embedding, c.ci,
         list_sum(list_transform(range(1, {dim}+1),
           j -> (CAST(e.embedding[j] AS DOUBLE) - cv[j]) * (CAST(e.embedding[j] AS DOUBLE) - cv[j]))) AS dist
  FROM embeddings e CROSS JOIN cents c
), cells AS (
  SELECT vec_id AS neighbor_id, embedding AS cemb, ci AS cell
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, ci) AS rn FROM d)
  WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, embedding AS qemb, ci AS cell
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, ci) AS rn
        FROM d WHERE {query_pred})
  WHERE rn <= {n_probe}
), scored AS (
  SELECT p.query_id, c.neighbor_id,
    {cos} AS sim
  FROM probes p JOIN cells c USING (cell)
  WHERE p.query_id <> c.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
"""


def q_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/similarity.py:pq_ann_topk):
    seeded per-subspace codebooks trained on the driver (the trainer
    _pq_ann_oracle_sql also calls), 8-byte codes, pure-JVM ADC scan,
    exact cosine re-rank of the refine·k shortlist."""
    from data_curator_spark.operators.similarity import pq_ann_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter("vec_id < 5")
    return pq_ann_topk(
        q, e, "vec_id", "embedding",
        k=3, m=8, n_codes=8, refine=4, iters=3, dim=64, seed=42,
    )


def _pq_ann_oracle_sql(
    sf_dir: str,
    k: int = 3,
    m: int = 8,
    n_codes: int = 8,
    refine: int = 4,
    iters: int = 3,
    dim: int = 64,
    seed: int = 42,
    query_pred: str = "vec_id < 5",
) -> str:
    """Generate the PQ oracle at call time: train pq_ann_topk's
    per-subspace codebooks on the actual embeddings, then emit encode
    (per-subspace argmin) / ADC (6-decimal rounded, matching the Spark
    fold's rounding) / exact-re-rank SQL with the codebooks as
    literals."""
    import duckdb

    from data_curator_spark.operators.similarity import (
        _training_matrix,
        train_pq_codebooks,
    )

    con = duckdb.connect()
    tbl = con.execute(
        f"SELECT vec_id, embedding FROM read_parquet('{sf_dir}/embeddings.parquet')"
    ).arrow()
    con.close()
    books = train_pq_codebooks(
        _training_matrix(tbl, dim), m=m, k=n_codes, iters=iters, seed=seed
    )
    sub = dim // m
    vals = ",\n    ".join(
        "({}, {}, CAST(['{}'] AS DOUBLE[]))".format(
            s, ci, "', '".join(repr(float(x)) for x in c)
        )
        for s, book in enumerate(books)
        for ci, c in enumerate(book)
    )
    cos = _COS_SQL.format(dim=dim, q="q.qemb", c="n.cemb")
    return f"""
WITH cents(s, ci, cv) AS (
  VALUES
    {vals}
), corp AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {dim}
), dsub AS (
  SELECT e.vec_id, c.s, c.ci,
         list_sum(list_transform(range(1, {sub}+1),
           j -> (CAST(e.embedding[c.s*{sub}+j] AS DOUBLE) - cv[j])
              * (CAST(e.embedding[c.s*{sub}+j] AS DOUBLE) - cv[j]))) AS dist
  FROM corp e CROSS JOIN cents c
), codes AS (
  SELECT vec_id AS neighbor_id, s, ci
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                     ORDER BY dist, ci) AS rn FROM dsub)
  WHERE rn = 1
), lut AS (
  SELECT vec_id AS query_id, s, ci, dist FROM dsub WHERE {query_pred}
), adc AS (
  SELECT l.query_id, c.neighbor_id, ROUND(SUM(l.dist), 6) AS adc_dist
  FROM codes c JOIN lut l ON l.s = c.s AND l.ci = c.ci
  WHERE l.query_id <> c.neighbor_id
  GROUP BY l.query_id, c.neighbor_id
), short AS (
  SELECT query_id, neighbor_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_dist, neighbor_id) AS rn
        FROM adc)
  WHERE rn <= {refine * k}
), scored AS (
  SELECT sh.query_id, sh.neighbor_id, {cos} AS sim
  FROM short sh
  JOIN (SELECT vec_id, embedding AS qemb FROM corp) q ON q.vec_id = sh.query_id
  JOIN (SELECT vec_id, embedding AS cemb FROM corp) n ON n.vec_id = sh.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
"""


def q_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-level curation rollup over documents: per `source`,
    doc count, heuristics-gate pass count, and the EXACT flag rule of
    pipeline/stages.py:with_repo_demotion (kept·10⁴ < bp·files in
    integer arithmetic, min-files floor) — the driver-grade
    cross-check of the repo-demotion math (the pipeline stage itself
    is pytest-pinned; this pins the flag semantics against DuckDB)."""
    from data_curator_spark.pipeline.stages import (
        heuristics_pass_expr,
        with_heuristics,
    )

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("text").alias("content")
    )
    h = with_heuristics(d).select(
        "source",
        F.coalesce(heuristics_pass_expr(), F.lit(False)).alias("__pass"),
    )
    agg = h.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("__pass").cast("long")).alias("n_pass"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_pass",
        (
            (F.col("n_docs") >= 5)
            & (F.col("n_pass") * 10_000 < 2500 * F.col("n_docs"))
        ).alias("flagged"),
    )


def _source_rollup_oracle_sql() -> str:
    return f"""
WITH {_blob_sql().lstrip()}
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(COALESCE(heuristics_pass, FALSE) AS INT)) AS BIGINT)
         AS n_pass,
       (COUNT(*) >= 5 AND
        SUM(CAST(COALESCE(heuristics_pass, FALSE) AS INT)) * 10000
          < 2500 * COUNT(*)) AS flagged
FROM bl JOIN documents USING (doc_id)
GROUP BY source
"""


def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based stratum rebalancing (mT5/XLM-R curriculum):
    keep-rates ∝ (n_lang/N)^alpha derived driver-side as integer
    permilles (operators/sampling.py:temperature_rates_permille), so
    low-resource languages are boosted deterministically."""
    from data_curator_spark.operators.sampling import temperature_sample

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return temperature_sample(
        d, "doc_id", "lang", alpha=0.5, target_total=200, salt="r6temp"
    )


def _temperature_sample_oracle_sql(sf_dir: str) -> str:
    """Data-dependent oracle: replicate the driver-side rate derivation
    on the actual per-lang counts, then inject the SAME integer permille
    literals into the gate CASE — cross-engine pow() never touches the
    data plane (both engines filter on identical ints)."""
    import duckdb

    from data_curator_spark.operators.sampling import temperature_rates_permille

    con = duckdb.connect()
    counts = dict(
        con.execute(
            "SELECT lang, COUNT(*) FROM read_parquet("
            f"'{sf_dir}/documents.parquet') WHERE lang IS NOT NULL GROUP BY lang"
        ).fetchall()
    )
    con.close()
    rates = temperature_rates_permille(counts, alpha=0.5, target_total=200)
    case = " ".join(
        f"WHEN '{s}' THEN {r}" for s, r in sorted(rates.items())
    )
    gate = _hex_long_sql("md5('r6temp:' || CAST(doc_id AS VARCHAR))", 8)
    return f"""
WITH g AS (
  SELECT doc_id, lang, source, n_chars, ({gate}) % 1000 AS gate
  FROM documents
)
SELECT doc_id, lang, source, n_chars FROM g
WHERE gate < CASE lang {case} ELSE 0 END
"""


# ---------------------------------------------------------------------------
# r3 additions: sessionization, deterministic sampling, corpus profiling
# ---------------------------------------------------------------------------


def _epoch_us(df: DataFrame, col_name: str) -> F.Column:
    """Epoch-microsecond BIGINT for a timestamp column, identical for
    BOTH Spark timestamp readings of the same parquet micros: NTZ
    (timestamp_diff from an NTZ epoch literal — timezone never enters)
    and LTZ (unix_micros — parquet stored micros read as a UTC instant,
    returned verbatim regardless of session timezone). Verified equal
    on the events table under both inferTimestampNTZ settings.

    Raw TIMESTAMP output columns are representation-fragile across
    harness environments (r3 driver hash mismatch on sessionize even
    though the values were logically identical) — integers are not."""
    from pyspark.sql.types import TimestampNTZType

    if isinstance(df.schema[col_name].dataType, TimestampNTZType):
        return F.timestamp_diff(
            "MICROSECOND",
            F.expr("TIMESTAMP_NTZ '1970-01-01 00:00:00'"),
            F.col(col_name),
        )
    return F.unix_micros(F.col(col_name))


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events stream (30-minute gap):
    one row per (user, session) with bounds, event count and a
    decimal-exact value sum (operators/temporal.py:sessionize). One
    shuffle serves the lag window, the running session counter AND the
    session groupBy (same partition key). Session bounds are emitted as
    epoch-microsecond BIGINTs (r3 verdict: raw TIMESTAMP outputs
    diverged in the driver harness on rendering alone)."""
    from data_curator_spark.operators.temporal import sessionize

    ev = _t(spark, sf_dir, "events")
    out = sessionize(
        ev, "user_id", "ts", gap="30 minutes", agg_cols={"sum_value": "value"}
    )
    return out.select(
        "user_id",
        "session_idx",
        _epoch_us(out, "session_start").alias("session_start_us"),
        _epoch_us(out, "session_end").alias("session_end_us"),
        "n_events",
        "sum_value",
    )


# Oracle timestamp policy (r5): `epoch_us()` was the ONLY oracle function
# whose driver-side DuckDB evaluation diverged from local DuckDB 1.0.0
# (CORRECTNESS_r03+r04 red on sessionize alone; every epoch()-based oracle
# is driver-green). date_diff('microsecond', naive-epoch, ts) is pure int64
# arithmetic on DuckDB's internal micros representation — no float, no
# version-sensitive convenience wrapper — and equals Spark's
# unix_micros/timestamp_diff on both parquet timestamp readings.
_SQL_US = "date_diff('microsecond', TIMESTAMP '1970-01-01 00:00:00', {col})"

_SQL_SESSION_NUMBERED = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT user_id, ts, value,
         -- CAST: DuckDB SUM(integer) yields HUGEINT (Arrow decimal128),
         -- which hash-diverges from Spark's int64 in the driver harness
         -- (root-caused in round 5 — VERDICT.md "What's wrong" #1).
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_idx
  FROM flagged
)
"""

SQL_SESSIONIZE = f"""
{_SQL_SESSION_NUMBERED}
SELECT user_id, session_idx,
       {_SQL_US.format(col='MIN(ts)')} AS session_start_us,
       {_SQL_US.format(col='MAX(ts)')} AS session_end_us,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM numbered
GROUP BY user_id, session_idx
"""



def q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling of the documents corpus:
    per-source keep rates via a portable md5 hash gate
    (operators/sampling.py) — reproducible across reruns, engines and
    partitionings; pure scan-level filter (no shuffle)."""
    from data_curator_spark.operators.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents")
    out = stratified_sample(
        d, "doc_id", "source",
        rates_permille={"web": 100, "wiki": 500}, default_permille=300,
        salt="r3",
    )
    return out.select("doc_id", "lang", "source", "n_chars")


def _corpus_sample_oracle_sql() -> str:
    gate = _hex_long_sql("md5('r3:' || CAST(doc_id AS VARCHAR))", 8)
    return f"""
WITH g AS (
  SELECT doc_id, lang, source, n_chars, ({gate}) % 1000 AS gate
  FROM documents
)
SELECT doc_id, lang, source, n_chars FROM g
WHERE gate < CASE source WHEN 'web' THEN 100 WHEN 'wiki' THEN 500 ELSE 300 END
"""


def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus profile: doc counts, total/max chars, and
    EXACT-RANK length percentiles — the profiling pass every curation
    run starts with.

    Percentile policy (r5): interpolated percentiles (F.percentile /
    quantile_cont) were the ONLY driver-red construct left in the repo
    (corpus_profile hash-mismatched in CORRECTNESS_r03+r04 while the
    local DuckDB 1.0.0 replica passed — quantile_cont's interpolation
    convention varies across DuckDB releases). Exact-rank percentiles
    (the ceil(p·n)-th smallest value, a row that EXISTS in the data)
    are INTEGER outputs computed with integer-only rank arithmetic
    ((k·cnt + k') DIV m) — immune to interpolation-convention and
    float-representation drift in any engine version. avg_chars was
    dropped: it is derivable as total_chars/n_docs and its quotient
    double was representation risk with zero information.

    Scale shape: one shuffle on lang serves the rank window and the
    aggregate; with ~tens of langs over 10^12 docs the per-lang sort is
    the cost — at that scale swap the window for a two-pass
    count-then-rank-filter on the same partitioning (noted here so the
    checked pattern's limit is explicit).

    NULL n_chars rows COUNT toward n_docs (the r4 contract: the profile
    covers every doc) but are invisible to the percentile machinery:
    they sort last (Spark needs asc_nulls_last — its asc default is
    nulls FIRST, DuckDB's is nulls last) and the rank targets use the
    NON-NULL count, so a rank can never land on a null row."""
    d = _t(spark, sf_dir, "documents")
    lang_w = Window.partitionBy("lang")
    # ties in n_chars make row_number nondeterministic ACROSS rows but
    # the SELECTED VALUE is identical (we output n_chars itself)
    rn = F.row_number().over(lang_w.orderBy(F.col("n_chars").asc_nulls_last()))
    cnt = F.count("n_chars").over(lang_w)  # non-null count
    r = d.select("lang", "n_chars", rn.alias("rn"), cnt.alias("cnt"))

    def pick(rank_expr: str) -> F.Column:
        return F.max(F.when(F.expr(f"rn = {rank_expr}"), F.col("n_chars")))

    return r.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        pick("(cnt + 1) DIV 2").alias("p50_chars"),
        pick("(9 * cnt + 9) DIV 10").alias("p90_chars"),
        pick("(99 * cnt + 99) DIV 100").alias("p99_chars"),
        F.max("n_chars").alias("max_chars"),
    )


SQL_CORPUS_PROFILE = """
WITH r AS (
  SELECT lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars NULLS LAST) AS rn,
         COUNT(n_chars) OVER (PARTITION BY lang) AS cnt
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
       -- CAST: DuckDB SUM(integer) is HUGEINT → Arrow decimal128 →
       -- driver hash divergence vs Spark int64 (r5 root cause).
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MAX(CASE WHEN rn = (cnt + 1) // 2 THEN n_chars END) AS p50_chars,
       MAX(CASE WHEN rn = (9 * cnt + 9) // 10 THEN n_chars END) AS p90_chars,
       MAX(CASE WHEN rn = (99 * cnt + 99) // 100 THEN n_chars END) AS p99_chars,
       MAX(n_chars) AS max_chars
FROM r
GROUP BY lang
"""


# ---------------------------------------------------------------------------
# r3 addition: corpus-wide boilerplate n-gram mining
# ---------------------------------------------------------------------------


def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-40 most document-frequent word 3-grams across the corpus —
    the boilerplate-mining pass that feeds licence-header / template
    stripping in a training-data pipeline (no reference analog; the
    dedup shingle machinery reused corpus-wide).

    Scale shape: ``word_shingles`` is already distinct-per-doc, so the
    explode feeds ONE hash aggregation whose shuffle carries
    (ngram, partial_count) — map-side combine, documents never move —
    and the deterministic top-k (count desc, ngram asc) compiles to
    TakeOrderedAndProject: per-partition heaps + a driver merge of 40
    rows, no global sort. doc_share is a single IEEE long/long division,
    bit-identical across engines, so the oracle needs no rounding.
    """
    from data_curator_spark.operators.dedup import word_shingle_strings_arrow

    d = _spread(_t(spark, sf_dir, "documents"))
    # Arrow shingle-string producer (the multiset of
    # explode(word_shingles)); the doc count comes from a fresh
    # ids-only scan so it skips the repartition exchange
    grams = word_shingle_strings_arrow(d, "text", 3)
    total = _t(spark, sf_dir, "documents").agg(F.count(F.lit(1)).alias("__n"))
    return (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .crossJoin(F.broadcast(total))
        .select(
            "ngram",
            "doc_freq",
            (F.col("doc_freq") / F.col("__n")).alias("doc_share"),
        )
        .orderBy(F.desc("doc_freq"), F.asc("ngram"))
        .limit(40)
    )


SQL_BOILERPLATE_NGRAMS = f"""
WITH {_shingle_cte()}
SELECT s AS ngram, COUNT(*) AS doc_freq,
       COUNT(*) / (SELECT COUNT(*) FROM documents) AS doc_share
FROM sh GROUP BY s
ORDER BY doc_freq DESC, ngram ASC
LIMIT 40
"""


# ---------------------------------------------------------------------------
# §2.5 per-event_id rolling features: SMA, volatility, log returns, CMF and
# dividend back-adjustment in one select
# ---------------------------------------------------------------------------


def q_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged r6 gate query: all five per-event_id rolling features —
    SMA-5, annualized volatility-21, log returns, Chaikin Money Flow-21
    and the dividend back-adjustment factor — in ONE select over events
    (the driver gate caps at 50 rows; see Query). sma5 and vol21 are
    also timed alone by the legacy sma_window/volatility_window.

    Scale note: every window partitions by user_id, so Catalyst plans a
    SINGLE hashpartitioning(user_id) exchange serving all five (the
    descending dividend window re-sorts within partitions, no second
    shuffle) — strictly less shuffle work than five separate queries.
    Library calls: engine/features.py chaikin_money_flow_ppm /
    dividend_adjustment_factor (reference features/helpers.py:12-505,
    lseg_workspace.py:925-1034)."""
    from data_curator_spark.engine.features import (
        chaikin_money_flow_ppm,
        dividend_adjustment_factor,
    )

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame5 = w.rowsBetween(-4, Window.currentRow)
    frame21 = w.rowsBetween(-20, Window.currentRow)

    dec = F.col("value").cast(MONEY)
    sma = F.when(
        F.count("value").over(frame5) == 5,
        F.sum(dec).over(frame5).cast("double") / F.lit(5),
    )
    vol = F.when(
        F.count("value").over(frame21) == 21,
        F.round(F.stddev_samp("value").over(frame21) * F.sqrt(F.lit(252.0)), 6),
    )
    ratio = F.try_divide(F.col("value"), F.lag("value", 1).over(w))
    logret = F.when(
        (ratio > 0) & ~F.isnan(ratio) & (ratio != float("inf")),
        F.round(F.ln(ratio), 6),
    )
    close = F.col("value")
    high = close * (1.0 + (F.col("event_id") % 7).cast("double") / 100.0)
    low = close * (1.0 - (F.col("event_id") % 5).cast("double") / 100.0)
    volume = ((F.col("event_id") % 100) + 1).cast("long")
    # exact integer ppm, NOT ROUND(quotient, 6): the decimal-aligned
    # CMF quotient hit a .5e-6 HALF_UP/half-even tie live at sf0.1
    # (-0.2220525) — see chaikin_money_flow_ppm
    cmf = chaikin_money_flow_ppm(high, low, close, volume, w, n=21)
    div = F.when(
        F.col("event_id") % 19 == 0,
        ((F.col("event_id") % 90) + 5).cast("double") / 100.0,
    )
    adj = dividend_adjustment_factor(
        "user_id", "ts", div, close,
        order_tiebreak=F.col("event_id"), decimal_grain=9,
    )
    return ev.select(
        "event_id",
        sma.alias("sma5"),
        vol.alias("vol21"),
        logret.alias("log_ret"),
        cmf.alias("cmf21_ppm"),
        F.round(adj, 6).alias("adj_factor"),
    )


SQL_ROLLING_FEATURES = """
WITH base AS (
  SELECT event_id, user_id, ts, value,
         value * (1.0 + CAST(event_id % 7 AS DOUBLE) / 100.0) AS high,
         value * (1.0 - CAST(event_id % 5 AS DOUBLE) / 100.0) AS low,
         (event_id % 100) + 1 AS volume,
         CASE WHEN event_id % 19 = 0
              THEN CAST((event_id % 90) + 5 AS DOUBLE) / 100.0
         END AS div
  FROM events
), derived AS (
  SELECT event_id, user_id, ts, value, volume,
         CASE WHEN high <> low
              THEN ((value - low) - (high - value)) / (high - low) * volume
         END AS mfv,
         CASE WHEN div IS NOT NULL AND value IS NOT NULL AND value <> 0
                   AND (1.0 - div / value) > 0
              THEN 1.0 - div / value
         END AS fct,
         value / LAG(value, 1) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS r
  FROM base
)
SELECT event_id,
  CASE WHEN COUNT(value) OVER w5 = 5
       THEN CAST(SUM(CAST(value AS DECIMAL(14,2))) OVER w5 AS DOUBLE) / 5
  END AS sma5,
  CASE WHEN COUNT(value) OVER w21 = 21
       THEN ROUND(STDDEV_SAMP(value) OVER w21 * SQRT(252.0), 6)
  END AS vol21,
  CASE WHEN r > 0 AND NOT isnan(r) AND r <> 'inf'::DOUBLE
       THEN ROUND(LN(r), 6)
  END AS log_ret,
  CASE WHEN COUNT(mfv) OVER w21 = 21
       THEN CAST(FLOOR(
              CAST(SUM(CAST(ROUND(mfv, 6) AS DECIMAL(28,6)) * 1000000) OVER w21
                   AS DOUBLE)
              / SUM(volume) OVER w21) AS BIGINT)
  END AS cmf21_ppm,
  ROUND(
    COALESCE(
      EXP(CAST(SUM(CAST(ROUND(LN(fct), 9) AS DECIMAL(28,14))) OVER wd AS DOUBLE)),
      1.0),
    6) AS adj_factor
FROM derived
WINDOW w5 AS (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
       w21 AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 20 PRECEDING AND CURRENT ROW),
       wd AS (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
"""


# ---------------------------------------------------------------------------
# r4 additions: training-set assembly ops — split, decontaminate, pack
# ---------------------------------------------------------------------------


def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split of the documents corpus
    (operators/sampling.py:hash_split): disjoint md5-gate assignment,
    reproducible across engines/partitionings, zero shuffle."""
    from data_curator_spark.operators.sampling import hash_split

    d = _t(spark, sf_dir, "documents")
    out = hash_split(
        d, "doc_id", {"train": 900, "val": 50, "test": 50}, salt="r4"
    )
    return out.select("doc_id", "lang", "source", "split")


def _corpus_split_oracle_sql() -> str:
    gate = _hex_long_sql("md5('r4:' || CAST(doc_id AS VARCHAR))", 8)
    return f"""
WITH g AS (
  SELECT doc_id, lang, source, ({gate}) % 1000 AS gate FROM documents
)
SELECT doc_id, lang, source,
       CASE WHEN gate < 900 THEN 'train'
            WHEN gate < 950 THEN 'val'
            ELSE 'test' END AS split
FROM g
"""


def q_sampling_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged r6 gate query: deterministic train/val/test split
    assignment (operators/sampling.py:hash_split, ex-corpus_split) AND
    the per-source stratified keep gate (stratified_sample's md5 gate,
    ex-corpus_sample, emitted as a boolean instead of a filter) in ONE
    zero-shuffle projection over documents. The two salts ("r4", "r3")
    are independent by construction, so the merged output carries both
    decisions per row; components remain in LEGACY_QUERIES."""
    from data_curator_spark.operators.sampling import (
        _strata_case,
        hash_split,
        sample_gate,
    )

    d = _t(spark, sf_dir, "documents")
    out = hash_split(
        d, "doc_id", {"train": 900, "val": 50, "test": 50}, salt="r4"
    )
    keep_gate = sample_gate(F.col("doc_id"), "r3") < _strata_case(
        "source", {"web": 100, "wiki": 500}, 300
    )
    return out.select(
        "doc_id", "lang", "source", "n_chars", "split",
        keep_gate.alias("in_sample"),
    )


def _sampling_gates_oracle_sql() -> str:
    split_gate = _hex_long_sql("md5('r4:' || CAST(doc_id AS VARCHAR))", 8)
    sample_g = _hex_long_sql("md5('r3:' || CAST(doc_id AS VARCHAR))", 8)
    return f"""
WITH g AS (
  SELECT doc_id, lang, source, n_chars,
         ({split_gate}) % 1000 AS sgate,
         ({sample_g}) % 1000 AS kgate
  FROM documents
)
SELECT doc_id, lang, source, n_chars,
       CASE WHEN sgate < 900 THEN 'train'
            WHEN sgate < 950 THEN 'val'
            ELSE 'test' END AS split,
       kgate < CASE source WHEN 'web' THEN 100 WHEN 'wiki' THEN 500
               ELSE 300 END AS in_sample
FROM g
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination scan
    (operators/dedup.py:contamination_overlap): every 50th doc stands in
    for an eval benchmark; corpus docs sharing >= 1 distinct word
    4-gram with any benchmark doc come back with their overlap count.
    Benchmark shingle-hash set broadcasts; corpus never self-joins."""
    from data_curator_spark.operators.dedup import contamination_overlap

    d = _spread(_t(spark, sf_dir, "documents"), by="doc_id")
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    bench = d.filter(F.col("doc_id") % 50 == 0)
    return contamination_overlap(
        corpus, bench, "doc_id", "text", shingle_n=4, min_overlap=1
    )


def _decontaminate_oracle_sql() -> str:
    h = _hex_long_sql("md5(s)", 15)
    shingle4 = f"""w AS (
  SELECT doc_id, string_split_regex(trim(text), {_WS_SQL}) AS ws FROM documents
), sh AS (
  SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(ws) - 2),
      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS s
  FROM w WHERE len(ws) >= 4
)"""
    return f"""
WITH {shingle4}, hx AS (
  SELECT doc_id, ({h}) AS h FROM sh
), bench AS (
  SELECT DISTINCT h FROM hx WHERE doc_id % 50 = 0
)
SELECT c.doc_id, COUNT(DISTINCT c.h) AS n_overlap_grams
FROM hx c JOIN bench b ON c.h = b.h
WHERE c.doc_id % 50 <> 0
GROUP BY c.doc_id
HAVING COUNT(DISTINCT c.h) >= 1
"""


_PACK_SHARDS_PER_LANG = 16


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing
    (operators/sampling.py:pack_sequences): documents in portable
    hash-shuffle order, cut into 4096-char bins with straddle offsets.
    All-integer arithmetic — bit-exact everywhere.

    Shard key (r5): ``lang#bucket`` where bucket is a 16-way portable
    id-hash — NOT bare ``lang``. The packing window sorts one shard per
    task, so sharding by a 5-value natural key caps parallelism at 5
    forever (r4 verdict flagged exactly this); the salted composite
    gives n_langs × 16 independent shards (80 here, ≥64 distinct at
    sf0.01) and scales by raising the bucket count. Each pack stream
    stays single-lang, which is what downstream training wants."""
    from data_curator_spark.operators.dedup import hex_prefix_long
    from data_curator_spark.operators.sampling import pack_sequences

    d = _t(spark, sf_dir, "documents")
    bucket = (
        hex_prefix_long(
            F.concat(F.lit("r5shard:"), F.col("doc_id").cast("string")), 8
        )
        % _PACK_SHARDS_PER_LANG
    )
    d = d.withColumn(
        "pack_shard", F.concat(F.col("lang"), F.lit("#"), bucket.cast("string"))
    )
    out = pack_sequences(d, "doc_id", "n_chars", 4096, "pack_shard", salt="r4pack")
    return out.select("doc_id", "lang", "pack_shard", "pack_bin", "pack_offset")


def _sequence_pack_oracle_sql() -> str:
    gate = _hex_long_sql("md5('r4pack:' || CAST(doc_id AS VARCHAR))", 8)
    bucket = _hex_long_sql("md5('r5shard:' || CAST(doc_id AS VARCHAR))", 8)
    return f"""
WITH g AS (
  SELECT doc_id, lang,
         lang || '#' || CAST(({bucket}) % {_PACK_SHARDS_PER_LANG} AS VARCHAR)
           AS pack_shard,
         n_chars, ({gate}) % 1000 AS ord
  FROM documents
)
SELECT doc_id, lang, pack_shard,
       CAST(COALESCE(SUM(GREATEST(COALESCE(n_chars, 0), 0)) OVER w, 0)
            // 4096 AS BIGINT) AS pack_bin,
       CAST(COALESCE(SUM(GREATEST(COALESCE(n_chars, 0), 0)) OVER w, 0)
            % 4096 AS BIGINT) AS pack_offset
FROM g
WINDOW w AS (PARTITION BY pack_shard ORDER BY ord, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
"""


def q_macd_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD (EMA12 − EMA26) and its 9-period signal line per user
    (reference calculations.py:1489-1724: MACD composes from EMA
    columns; the signal is another EMA recursion OVER the MACD series,
    with null-segment resets). The whole chain — both component EMAs,
    the subtraction, AND the signal recursion over the derived series —
    runs in ONE Arrow-vectorized pandas pass: specs evaluate in order
    within each group, so no second shuffle on the same key
    (measured 2x at sf0.1 vs the two-pass version). Oracled bit-exactly
    by chained DuckDB recursive CTEs (MATERIALIZED intermediate — an
    inlined first recursion re-runs per second-recursion iteration,
    16x slower)."""
    from data_curator_spark.engine.features import apply_recursive_features

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = apply_recursive_features(
        ev,
        "user_id",
        "ts",
        [
            ("ema12", "ema", "value", 12),
            ("ema26", "ema", "value", 26),
            ("macd", "sub", "ema12:ema26", 0),
            ("macd_signal", "ema", "macd", 9),
        ],
        tiebreak_col="event_id",
    )
    return out.select("event_id", "macd", "macd_signal")


def _macd_oracle_sql() -> str:
    """Chained recursive CTEs: one dual-state EMA12+EMA26 recursion over
    value (shared segment counter — same ok flag), then a second EMA9
    recursion over the derived MACD series (its own segments: MACD is
    null until both component EMAs exist). Same string-cast-literal and
    skip-when-equal rules as _ema_oracle_sql — bit-identical doubles."""

    def c(x: float) -> str:
        return f"CAST('{x!r}' AS DOUBLE)"

    a12, a26, a9 = 2.0 / 13, 2.0 / 27, 2.0 / 10
    return f"""
WITH RECURSIVE base AS MATERIALIZED (
  SELECT event_id, user_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         (value IS NOT NULL AND isfinite(value)) AS ok
  FROM events
), rec AS (
  SELECT user_id, rn, event_id,
         CAST(CASE WHEN ok THEN 1 ELSE 0 END AS INT) AS seg_len,
         CAST(CASE WHEN ok THEN value ELSE 0.0 END AS DOUBLE) AS run12,
         CAST(NULL AS DOUBLE) AS ema12,
         CAST(CASE WHEN ok THEN value ELSE 0.0 END AS DOUBLE) AS run26,
         CAST(NULL AS DOUBLE) AS ema26
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.rn, b.event_id,
         CASE WHEN b.ok THEN r.seg_len + 1 ELSE 0 END AS seg_len,
         CASE WHEN NOT b.ok THEN 0.0
              WHEN r.seg_len + 1 <= 12 THEN r.run12 + b.value
              ELSE r.run12 END AS run12,
         CASE WHEN NOT b.ok THEN NULL
              WHEN r.seg_len + 1 < 12 THEN NULL
              WHEN r.seg_len + 1 = 12 THEN (r.run12 + b.value) / {c(12.0)}
              WHEN r.ema12 = b.value THEN r.ema12
              ELSE {c(1.0 - a12)} * r.ema12 + {c(a12)} * b.value END AS ema12,
         CASE WHEN NOT b.ok THEN 0.0
              WHEN r.seg_len + 1 <= 26 THEN r.run26 + b.value
              ELSE r.run26 END AS run26,
         CASE WHEN NOT b.ok THEN NULL
              WHEN r.seg_len + 1 < 26 THEN NULL
              WHEN r.seg_len + 1 = 26 THEN (r.run26 + b.value) / {c(26.0)}
              WHEN r.ema26 = b.value THEN r.ema26
              ELSE {c(1.0 - a26)} * r.ema26 + {c(a26)} * b.value END AS ema26
  FROM rec r JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1
), mbase AS MATERIALIZED (
  SELECT user_id, rn, event_id,
         CASE WHEN ema12 IS NOT NULL AND ema26 IS NOT NULL
              THEN ema12 - ema26 END AS macd,
         (ema12 IS NOT NULL AND ema26 IS NOT NULL
          AND isfinite(ema12 - ema26)) AS ok
  FROM rec
), rec2 AS (
  SELECT user_id, rn, event_id, macd,
         CAST(CASE WHEN ok THEN 1 ELSE 0 END AS INT) AS seg_len,
         CAST(CASE WHEN ok THEN macd ELSE 0.0 END AS DOUBLE) AS run9,
         CAST(NULL AS DOUBLE) AS sig
  FROM mbase WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.rn, b.event_id, b.macd,
         CASE WHEN b.ok THEN r.seg_len + 1 ELSE 0 END AS seg_len,
         CASE WHEN NOT b.ok THEN 0.0
              WHEN r.seg_len + 1 <= 9 THEN r.run9 + b.macd
              ELSE r.run9 END AS run9,
         CASE WHEN NOT b.ok THEN NULL
              WHEN r.seg_len + 1 < 9 THEN NULL
              WHEN r.seg_len + 1 = 9 THEN (r.run9 + b.macd) / {c(9.0)}
              WHEN r.sig = b.macd THEN r.sig
              ELSE {c(1.0 - a9)} * r.sig + {c(a9)} * b.macd END AS sig
  FROM rec2 r JOIN mbase b ON b.user_id = r.user_id AND b.rn = r.rn + 1
)
SELECT event_id, macd, sig AS macd_signal FROM rec2
"""


def _lang_tokens(d: DataFrame) -> DataFrame:
    """(lang, tok) stream: the SHARED tokenization for vocab_stats and
    distinct_sketch — one definition, kept in lockstep with the
    oracles' string_split_regex(trim(text), _WS_SQL) / tok <> '' CTEs
    (the two queries are meant to be compared against each other)."""
    return _spread(d).select(
        "lang", F.explode(kernels.ws_tokens("text")).alias("tok")
    ).filter(F.col("tok") != "")


def q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language vocabulary profile: EXACT distinct-token count,
    total token count, and type/token ratio (rounded 6). Tokenization =
    the dedup whitespace charset, so numbers line up with the shingle
    ops. Scale shape: explode → two-level aggregation — the (lang,
    token) partial-distinct combines map-side before the exact distinct
    shuffle; no driver-side state."""
    toks = _lang_tokens(_t(spark, sf_dir, "documents"))
    return toks.groupBy("lang").agg(
        F.count_distinct("tok").alias("n_types"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(
            F.count_distinct("tok").cast("double") / F.count(F.lit(1)), 6
        ).alias("type_token_ratio"),
    )


SQL_VOCAB_STATS = f"""
WITH t AS (
  SELECT lang, unnest(string_split_regex(trim(text), {_WS_SQL})) AS tok
  FROM documents
)
SELECT lang,
       COUNT(DISTINCT tok) AS n_types,
       COUNT(*) AS n_tokens,
       ROUND(CAST(COUNT(DISTINCT tok) AS DOUBLE) / COUNT(*), 6) AS type_token_ratio
FROM t
WHERE tok <> ''
GROUP BY lang
"""


def q_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch distinct-token estimate per language
    (operators/sampling.py:theta_distinct_estimate): deterministic
    hash-threshold sampling — 1/16 of the distinct space shuffles, the
    estimate is an exact integer function of the data (oracle-exact,
    unlike HLL). Compare with vocab_stats.n_types for the error."""
    from data_curator_spark.operators.sampling import theta_distinct_estimate

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(kernels.ws_tokens("text")).alias("tok")
    ).filter(F.col("tok") != "")
    return theta_distinct_estimate(toks, "lang", "tok", log2_ratio=4)


def _distinct_sketch_oracle_sql() -> str:
    h = _hex_long_sql("md5(tok)", 15)
    threshold = 1 << (60 - 4)
    return f"""
WITH t AS (
  SELECT lang, unnest(string_split_regex(trim(text), {_WS_SQL})) AS tok
  FROM documents
), hx AS (
  SELECT lang, ({h}) AS h FROM t WHERE tok <> ''
), agg AS (
  SELECT lang, COUNT(DISTINCT h) AS n_sampled
  FROM hx WHERE h < {threshold} GROUP BY lang
)
SELECT g.lang,
       COALESCE(a.n_sampled, 0) AS n_sampled,
       COALESCE(a.n_sampled, 0) * 16 AS est_distinct
FROM (SELECT DISTINCT lang FROM hx) g
LEFT JOIN agg a ON g.lang = a.lang
"""


def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition removal (functions/text.py:dedup_lines):
    per doc, line count, unique-line count, and the sha256 of the text
    with duplicate lines dropped (first occurrence kept, order
    preserved). Zero shuffle — pure projection; the oracle rebuilds the
    cleaned text via MIN(position) + ordered string_agg, so Spark's
    array_distinct first-occurrence ordering is independently pinned."""
    from data_curator_spark.functions.text import dedup_lines

    # NULL-text guard on BOTH sides: Spark would emit an all-null row
    # while the oracle's inner join drops it (latent rowcount
    # divergence; testdata has no null texts but the driver env is not
    # ours to assume)
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    ls = F.split("text", "\n")
    return d.select(
        "doc_id",
        F.size(ls).alias("n_lines"),
        F.size(F.array_distinct(ls)).alias("n_unique_lines"),
        F.sha2(dedup_lines(F.col("text")), 256).alias("clean_sha"),
    )


SQL_DEDUP_LINES = """
WITH base AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents
  WHERE text IS NOT NULL
), pos AS (
  SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS i FROM base
), lines AS (
  SELECT doc_id, i, ls[i] AS line FROM pos
), firsts AS (
  SELECT doc_id, line, MIN(i) AS fi FROM lines GROUP BY doc_id, line
), cleaned AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY fi) AS clean_text,
         COUNT(*) AS n_unique_lines
  FROM firsts GROUP BY doc_id
)
SELECT b.doc_id,
       len(b.ls) AS n_lines,
       CAST(c.n_unique_lines AS INT) AS n_unique_lines,
       sha256(c.clean_text) AS clean_sha
FROM base b JOIN cleaned c ON b.doc_id = c.doc_id
"""

def q_line_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged r6 gate query for the per-doc repetition family, five
    operators in one row set joined on doc_id: intra-document line
    dedup (functions/text.py:dedup_lines — the former dedup_lines
    query), the Gopher-style word-bigram repetition signals (the
    former repetition_profile query), CROSS-document segment dedup
    with global first-occurrence keep (operators/dedup.py:
    dedup_segments_global — the C4/RefinedWeb repeated-paragraph
    removal, word granularity on this single-line table), and the
    the Lee-et-al exact-substring duplicated-SPAN marking stats
    (operators/dedup.py:exact_substring_dedup, span_len=8: per doc,
    how many 8-token windows occur verbatim anywhere else in the
    corpus and how many tokens they cover), and its REMOVAL half
    (the same kernel — cut every token covered by a
    non-globally-first duplicate window; despan_sha pins
    the exact rebuilt text, n_span_dropped the cut count). Line stats
    are a zero-shuffle projection; bigram stats keep their (doc, gram)
    map-side-combined aggregate; segment dedup adds one ids-only hash
    exchange + one text reassembly shuffle; span marking adds one
    (id, pos, hash) exchange — corpus text never shuffles for it; span
    removal shares that hash layout and adds its own reassembly
    shuffle. The seg_dedup_sha/despan_sha columns are pinned by the
    oracle rebuilding both texts independently via ROW_NUMBER over the
    same 60-bit hashes. Components remain in LEGACY_QUERIES /
    pytest."""
    from data_curator_spark.operators.dedup import (
        dedup_segments_global,
        exact_substring_dedup,
    )

    lines = q_dedup_lines(spark, sf_dir)
    reps = q_repetition_profile(spark, sf_dir)
    # _spread: the segment-hash and span-window kernels below explode
    # per-word/per-window md5 work — single-split input serializes them
    # (guide §2.5 input skew; measured 8.4s + 13.6s at sf1.0 on a 2-task
    # scan, bench_extra.py lr.*)
    d = _spread(
        _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull()),
        by="doc_id",
    )
    sd = dedup_segments_global(d, "doc_id", "text", delimiter=" ").select(
        "doc_id",
        F.col("n_segments").alias("n_segs"),
        F.col("n_kept").alias("n_kept_segs"),
        F.sha2("text_deduped", 256).alias("seg_dedup_sha"),
    )
    # marking + removal halves of ExactSubstr from ONE kernel call —
    # the shared (id, pos, hash) window layout is computed once
    es = exact_substring_dedup(d, "doc_id", "text", span_len=8).select(
        "doc_id",
        "n_dup_windows",
        "dup_tokens",
        "dup_span_bp",
        F.sha2("text_despanned", 256).alias("despan_sha"),
        F.col("n_dropped").alias("n_span_dropped"),
    )
    return (
        lines.join(reps, on="doc_id", how="left")
        .join(sd, on="doc_id", how="left")
        .join(es, on="doc_id", how="left")
    )


# (registered after SQL_REPETITION_PROFILE below — the oracle composes
# both component oracles as CTEs)


def q_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: word-bigram
    duplication (1 − unique/total) and top-bigram share, emitted as
    exact integer basis points — the rules that catch templated/spammy
    text that line-level checks miss.
    Scale shape: (doc, gram) partial counts combine map-side, then one
    per-doc aggregate; grams never leave their doc's shuffle key. Docs
    with <2 words have no bigrams and are excluded (both engines)."""
    d = _spread(_t(spark, sf_dir, "documents"), by="doc_id")
    from data_curator_spark.operators.lm import bigram_repetition_stats

    # one Arrow pass — the grouping key is the doc, so the per-doc
    # Counters replace the explode + two groupBys outright
    return (
        bigram_repetition_stats(d, "doc_id", "text")
        .select(
            "doc_id",
            "n_bigrams",
            "n_unique_bigrams",
            # ratios as exact integer BASIS POINTS (floor DIV), not
            # ROUND(quotient, 6): integer-quotient doubles sit in the
            # forbidden tie class (denominators like 128 produce exact
            # 7th-decimal-5 ties where Spark HALF_UP and DuckDB
            # half-even disagree — r4 verdict #2). Integer outputs are
            # bit-exact in any engine; callers derive the float ratio
            # from the two integer columns when they need it.
            F.expr(
                "(n_bigrams - n_unique_bigrams) * 10000 DIV n_bigrams"
            ).alias("dup_bigram_bp"),
            F.expr("top_count * 10000 DIV n_bigrams").alias("top_bigram_bp"),
        )
    )


SQL_REPETITION_PROFILE = f"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), {_WS_SQL}) AS ws FROM documents
), g AS (
  SELECT doc_id, unnest(list_transform(range(1, len(ws)),
                        i -> ws[i] || ' ' || ws[i+1])) AS g
  FROM w WHERE len(ws) >= 2
), c AS (
  SELECT doc_id, g, COUNT(*) AS n FROM g GROUP BY doc_id, g
)
SELECT doc_id,
       CAST(SUM(n) AS BIGINT) AS n_bigrams,
       COUNT(*) AS n_unique_bigrams,
       CAST((SUM(n) - COUNT(*)) * 10000 // SUM(n) AS BIGINT) AS dup_bigram_bp,
       CAST(MAX(n) * 10000 // SUM(n) AS BIGINT) AS top_bigram_bp
FROM c
GROUP BY doc_id
"""

SQL_LINE_REPETITION = f"""
WITH dl AS ({SQL_DEDUP_LINES}), rp AS ({SQL_REPETITION_PROFILE}),
sd_base AS (
  SELECT doc_id, string_split(text, ' ') AS segs FROM documents
  WHERE text IS NOT NULL
), sd_pos AS (
  SELECT doc_id, unnest(generate_series(1, len(segs))) AS i, segs
  FROM sd_base
), sd_seg AS (
  SELECT doc_id, i, segs[i] AS seg FROM sd_pos
), sd_part AS (
  SELECT doc_id, i,
         ROW_NUMBER() OVER (
           PARTITION BY {_hex_long_sql("md5(seg)", 15)}
           ORDER BY doc_id, i
         ) AS rn
  FROM sd_seg WHERE length(seg) >= 1
), sd_flag AS (
  SELECT s.doc_id, s.i, s.seg, COALESCE(p.rn, 1) AS rn
  FROM sd_seg s LEFT JOIN sd_part p ON s.doc_id = p.doc_id AND s.i = p.i
), sd AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_segs,
         CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept_segs,
         sha256(COALESCE(
           string_agg(seg, ' ' ORDER BY i) FILTER (WHERE rn = 1), ''
         )) AS seg_dedup_sha
  FROM sd_flag GROUP BY doc_id
), sp_base AS (
  SELECT doc_id, string_split_regex(trim(text), {_WS_SQL}) AS ws
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
), sp_pos AS (
  SELECT doc_id, unnest(generate_series(1, len(ws) - 7)) AS pos, ws
  FROM sp_base WHERE len(ws) >= 8
), sp_h AS (
  SELECT doc_id, pos,
         {_hex_long_sql("md5(array_to_string(ws[pos:pos+7], ' '))", 15)} AS h
  FROM sp_pos
), sp_starts AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY h) AS c FROM sp_h
  ) WHERE c > 1
), sp_win AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_windows
  FROM sp_starts GROUP BY doc_id
), sp_cov AS (
  SELECT doc_id, CAST(COUNT(DISTINCT t) AS BIGINT) AS dup_tokens
  FROM (
    SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS t FROM sp_starts
  ) GROUP BY doc_id
), sp AS (
  SELECT b.doc_id,
         COALESCE(w.n_dup_windows, 0) AS n_dup_windows,
         COALESCE(c.dup_tokens, 0) AS dup_tokens,
         CAST(COALESCE(c.dup_tokens, 0) * 10000 // len(b.ws) AS BIGINT)
           AS dup_span_bp
  FROM sp_base b
  LEFT JOIN sp_win w ON b.doc_id = w.doc_id
  LEFT JOIN sp_cov c ON b.doc_id = c.doc_id
), rm_cut AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS tok
    FROM (
      SELECT doc_id, pos,
             ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
      FROM sp_h
    ) WHERE rn > 1
  )
), rm_tok AS (
  SELECT doc_id, unnest(generate_series(1, len(ws))) AS tok, ws
  FROM sp_base
), rm AS (
  SELECT t.doc_id,
         sha256(COALESCE(
           string_agg(t.ws[t.tok], ' ' ORDER BY t.tok)
             FILTER (WHERE c.tok IS NULL), ''
         )) AS despan_sha,
         CAST(COUNT(*) FILTER (WHERE c.tok IS NOT NULL) AS BIGINT)
           AS n_span_dropped
  FROM rm_tok t
  LEFT JOIN rm_cut c ON t.doc_id = c.doc_id AND t.tok = c.tok
  GROUP BY t.doc_id
)
SELECT dl.doc_id, dl.n_lines, dl.n_unique_lines, dl.clean_sha,
       rp.n_bigrams, rp.n_unique_bigrams, rp.dup_bigram_bp,
       rp.top_bigram_bp,
       sd.n_segs, sd.n_kept_segs, sd.seg_dedup_sha,
       sp.n_dup_windows, sp.dup_tokens, sp.dup_span_bp,
       rm.despan_sha, rm.n_span_dropped
FROM dl LEFT JOIN rp ON dl.doc_id = rp.doc_id
LEFT JOIN sd ON dl.doc_id = sd.doc_id
LEFT JOIN sp ON dl.doc_id = sp.doc_id
LEFT JOIN rm ON dl.doc_id = rm.doc_id
"""


# ---------------------------------------------------------------------------
# r5 additions: boilerplate execution + budgeted data mixing
# ---------------------------------------------------------------------------


def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED boilerplate removal (operators/dedup.py:
    strip_hot_segments): segments whose document frequency reaches 78%
    of the corpus are stripped from every document, surviving segment
    order preserved. Word granularity here (the documents table is
    single-line); code/web corpora pass delimiter='\\n' for the
    classic license-header/nav-chrome strip. The DF threshold derives
    from the corpus size with integer-only ceil arithmetic so both
    engines compute the identical cut."""
    from data_curator_spark.operators.dedup import strip_hot_segments

    d = _spread(_t(spark, sf_dir, "documents"), by="doc_id")
    n = d.filter(F.col("text").isNotNull()).count()
    # ceil(0.78 * n), integer-exact; max(,1) so an all-null/empty corpus
    # degrades to "nothing is hot" instead of tripping the operator's
    # min_df >= 1 validation
    min_df = max((78 * n + 99) // 100, 1)
    out = strip_hot_segments(
        d, "doc_id", "text", min_df=min_df, delimiter=" "
    )
    return out.select("doc_id", "text_stripped")


def _boilerplate_strip_oracle_sql() -> str:
    # segments are md5-prefix-HASHED on both sides (not raw-string
    # compared): the parity gate must exercise the same hash layer the
    # Spark operator strips by, so a hex_prefix_long regression or a
    # collision-driven overstrip shows up as an oracle mismatch instead
    # of being structurally invisible
    h = _hex_long_sql("md5(seg)", 15)
    hp = _hex_long_sql("md5(p.seg)", 15)
    return f"""
WITH n AS (
  SELECT GREATEST((78 * COUNT(*) + 99) // 100, 1) AS min_df
  FROM documents WHERE text IS NOT NULL
), w AS (
  SELECT doc_id, text, string_split(text, ' ') AS segs FROM documents
), dh AS (
  SELECT ({h}) AS h
  FROM (SELECT doc_id, unnest(list_distinct(segs)) AS seg
        FROM w WHERE text IS NOT NULL)
), hot AS (
  SELECT h FROM (SELECT h, COUNT(*) AS c FROM dh GROUP BY h)
  WHERE c >= (SELECT min_df FROM n)
), pos AS (
  SELECT doc_id, t.i AS pos, segs[t.i] AS seg
  FROM w, (SELECT unnest(range(1, len(segs) + 1)) AS i) t
  WHERE text IS NOT NULL
), kept AS (
  SELECT p.doc_id, p.pos, p.seg
  FROM pos p ANTI JOIN hot ON ({hp}) = hot.h
), rebuilt AS (
  SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS txt
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CASE WHEN d.text IS NULL THEN NULL
            ELSE COALESCE(r.txt, '') END AS text_stripped
FROM documents d LEFT JOIN rebuilt r USING (doc_id)
"""


def q_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language char-budget data mixing (operators/sampling.py:
    budget_sample): each lang contributes docs in portable hash order
    until its budget fills — the "mix N tokens of X with M tokens of Y"
    step of training-set assembly. All-integer running sums; one
    shuffle on lang serving both window and filter."""
    from data_curator_spark.operators.sampling import budget_sample

    d = _t(spark, sf_dir, "documents")
    out = budget_sample(
        d, "doc_id", "n_chars", "lang",
        budgets={"en": 20000, "zh": 8000}, default_budget=5000,
        salt="r5mix",
    )
    return out.select("doc_id", "lang", "n_chars")


def _budget_sample_oracle_sql() -> str:
    gate = _hex_long_sql("md5('r5mix:' || CAST(doc_id AS VARCHAR))", 8)
    return f"""
WITH g AS (
  SELECT doc_id, lang, n_chars, ({gate}) % 1000 AS ord FROM documents
), c AS (
  SELECT doc_id, lang, n_chars,
         COALESCE(SUM(GREATEST(COALESCE(n_chars, 0), 0)) OVER (
                  PARTITION BY lang ORDER BY ord, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_prev
  FROM g
)
SELECT doc_id, lang, n_chars FROM c
WHERE cum_prev < CASE lang WHEN 'en' THEN 20000 WHEN 'zh' THEN 8000
                 ELSE 5000 END
"""


def q_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged r6 gate query for the cluster-scoped embedding family
    (operators/similarity.py): semdedup_prune emits EVERY valid row
    with its centroid cosine, full outlier rank (centroid_outliers'
    top-k query is this filtered to rank ≤ k — same rank, same order
    keys) and the SemDeDup decision: drop iff a same-label row with
    pairwise cosine ≥ 0.35 is strictly closer-to-diverse (lower
    centroid_sim, ties by id), with the winning partner id. Integer-
    exact centroid (floor-quantized coords, truncating div); ROUND(,6)
    only on the final per-row cosines."""
    from data_curator_spark.operators.similarity import semdedup_prune

    e = _t(spark, sf_dir, "embeddings")
    return semdedup_prune(
        e,
        "vec_id",
        "embedding",
        "label",
        eps=CENTROID_EPS,
        scale_bits=CENTROID_SCALE_BITS,
    )


# semdedup gate-query parameters — used by BOTH the Spark call above and
# the oracle SQL below (which also interpolates the operator's own
# DEFAULT_MAX_CLUSTER), so the two engines cannot drift on which
# clusters skip pruning or where the eps cut falls
CENTROID_EPS = 0.35
CENTROID_SCALE_BITS = 15


def _centroid_outliers_oracle_sql() -> str:
    from data_curator_spark.operators.similarity import DEFAULT_MAX_CLUSTER

    return f"""
WITH b AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE)
                * {float(1 << CENTROID_SCALE_BITS)}) AS BIGINT)) AS xq
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
), e AS (
  SELECT label, t.pos, xq[t.pos] AS v
  FROM b, (SELECT unnest(range(1, len(xq) + 1)) AS pos) t
), s AS (
  SELECT label, pos, SUM(v) AS sv, COUNT(*) AS n FROM e GROUP BY label, pos
), c AS (
  SELECT label, list(CAST(sv // n AS BIGINT) ORDER BY pos) AS cq
  FROM s GROUP BY label
), j AS (
  SELECT b.vec_id, b.label, b.xq,
         CAST(list_sum(list_transform(range(1, len(xq) + 1),
              i -> xq[i] * cq[i])) AS BIGINT) AS dot,
         CAST(list_sum(list_transform(xq, x -> x * x)) AS BIGINT) AS nx,
         CAST(list_sum(list_transform(cq, x -> x * x)) AS BIGINT) AS nc
  FROM b JOIN c USING (label)
), sc AS (
  SELECT vec_id, label, xq, nx,
         ROUND(CASE WHEN nx = 0 OR nc = 0 THEN NULL
               ELSE CAST(dot AS DOUBLE)
                    / (sqrt(CAST(nx AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE)))
               END, 6) AS centroid_sim
  FROM j
), r AS (
  SELECT vec_id, label, centroid_sim,
         ROW_NUMBER() OVER (PARTITION BY label
                            ORDER BY centroid_sim ASC NULLS FIRST, vec_id)
           AS outlier_rank
  FROM sc
), gn AS (
  SELECT label, COUNT(*) AS n FROM sc GROUP BY label
), px AS (
  SELECT x.vec_id AS xid, y.vec_id AS yid, y.centroid_sim AS ycs,
         ROUND(CASE WHEN x.nx = 0 OR y.nx = 0 THEN NULL
               ELSE CAST(CAST(list_sum(list_transform(
                      range(1, len(x.xq) + 1), i -> x.xq[i] * y.xq[i]))
                      AS BIGINT) AS DOUBLE)
                    / (sqrt(CAST(x.nx AS DOUBLE))
                       * sqrt(CAST(y.nx AS DOUBLE)))
               END, 6) AS sim
  FROM sc x JOIN sc y USING (label) JOIN gn USING (label)
  WHERE gn.n <= {DEFAULT_MAX_CLUSTER} AND x.vec_id <> y.vec_id
    AND (y.centroid_sim < x.centroid_sim
         OR (y.centroid_sim = x.centroid_sim AND y.vec_id < x.vec_id))
), d AS (
  SELECT xid, yid,
         ROW_NUMBER() OVER (PARTITION BY xid ORDER BY ycs, yid) AS rn
  FROM px WHERE sim >= CAST('{CENTROID_EPS}' AS DOUBLE)
)
SELECT r.vec_id, r.label, r.centroid_sim, r.outlier_rank,
       d.yid IS NOT NULL AS semdedup_drop,
       d.yid AS drop_against
FROM r LEFT JOIN (SELECT xid, yid FROM d WHERE rn = 1) d
  ON r.vec_id = d.xid
"""


def q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained unigram-LM surprisal per document
    (operators/lm.py:unigram_surprisal) — the KenLM-family statistical
    anomaly score, made exactly oracle-able by quantizing each VOCAB
    word's log-prob to integer micro-nats once (per-doc sums are then
    integer, order-independent). Higher = more anomalous."""
    from data_curator_spark.operators.lm import unigram_surprisal

    d = _spread(_t(spark, sf_dir, "documents"), by="doc_id")
    return unigram_surprisal(d, "doc_id", "text")


SQL_UNIGRAM_SURPRISAL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), {_WS_SQL})) AS w
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
), vocab AS (
  SELECT w, COUNT(*) AS c FROM toks GROUP BY w
), tot AS (
  SELECT SUM(c) AS t FROM vocab
), lp AS (
  SELECT w,
         CAST(floor(ln(CAST(c AS DOUBLE) / CAST((SELECT t FROM tot) AS DOUBLE))
              * 1048576.0) AS BIGINT) AS lp
  FROM vocab
)
SELECT toks.doc_id,
       COUNT(*) AS n_tokens,
       CAST(-SUM(lp.lp) AS BIGINT) AS surprisal_unats,
       CAST((-SUM(lp.lp)) // COUNT(*) AS BIGINT) AS mean_surprisal_unats
FROM toks JOIN lp USING (w)
GROUP BY toks.doc_id
"""


def q_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained BIGRAM-LM surprisal per document
    (operators/lm.py:bigram_surprisal) — the n-gram perplexity gate:
    P(w|prev) = c(prev,w)/c_left(prev), integer micro-nat quantization
    per vocab bigram, exact integer per-doc sums."""
    from data_curator_spark.operators.lm import bigram_surprisal

    d = _spread(_t(spark, sf_dir, "documents"), by="doc_id")
    return bigram_surprisal(d, "doc_id", "text")


SQL_BIGRAM_SURPRISAL = f"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), {_WS_SQL}) AS ws
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
), p AS (
  SELECT doc_id, ws[t.i] AS l, ws[t.i + 1] AS r
  FROM w, (SELECT unnest(range(1, len(ws))) AS i) t
  WHERE len(ws) >= 2
), bc AS (
  SELECT l, r, COUNT(*) AS c_lr FROM p GROUP BY l, r
), lc AS (
  SELECT l, COUNT(*) AS c_l FROM p GROUP BY l
), lp AS (
  SELECT bc.l, bc.r,
         CAST(floor(ln(CAST(c_lr AS DOUBLE) / CAST(c_l AS DOUBLE))
              * 1048576.0) AS BIGINT) AS lp
  FROM bc JOIN lc USING (l)
)
SELECT p.doc_id,
       COUNT(*) AS n_bigrams,
       CAST(-SUM(lp.lp) AS BIGINT) AS surprisal_unats,
       CAST((-SUM(lp.lp)) // COUNT(*) AS BIGINT) AS mean_surprisal_unats
FROM p JOIN lp ON p.l = lp.l AND p.r = lp.r
GROUP BY p.doc_id
"""


def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE-training iteration over the corpus: the top-30 most
    frequent adjacent CHARACTER pairs, weighted by word frequency — the
    merge candidates a tokenizer-fitting job would collapse next.

    Scale shape (the standard BPE counting optimization): the corpus
    shuffles once into a DISTINCT-word frequency table (map-side
    combine); pair extraction then explodes only distinct words —
    orders of magnitude smaller than the token stream — and the
    deterministic top-k (count desc, pair asc) compiles to
    TakeOrderedAndProject (per-partition heaps, no global sort).
    Character slicing is UTF-8-character-based in both engines, so CJK
    text counts identically."""
    d = _spread(_t(spark, sf_dir, "documents"))
    toks = d.select(
        F.explode(kernels.ws_tokens("text")).alias("w")
    ).filter(F.col("w") != "")
    wc = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    pairs = wc.filter(F.length("w") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.substring(F.col("w"), i, F.lit(2)),
            )
        ).alias("pair"),
        "c",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair").asc())
        .limit(30)
    )


SQL_BPE_MERGE_CANDIDATES = f"""
WITH t AS (
  SELECT unnest(string_split_regex(trim(text), {_WS_SQL})) AS w FROM documents
), wc AS (
  SELECT w, COUNT(*) AS c FROM t WHERE w <> '' GROUP BY w
), p AS (
  SELECT substr(w, CAST(t.i AS INT), 2) AS pair, c
  FROM wc, (SELECT unnest(range(1, length(w))) AS i) t
  WHERE length(w) >= 2
)
SELECT pair, CAST(SUM(c) AS BIGINT) AS cnt FROM p GROUP BY pair
ORDER BY cnt DESC, pair ASC LIMIT 30
"""


# ---------------------------------------------------------------------------
# r6 addition: held-out LM perplexity (train split -> score split, UNK)
# ---------------------------------------------------------------------------


def q_heldout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out KenLM-style scoring, BOTH n-gram orders in one gate row
    (operators/lm.py:heldout_scores): train on the 80% md5-gate split
    of documents, score the held-out 20% under the Laplace-smoothed
    unigram (unseen words take the quantized UNK log-prob) and the
    stupid-backoff bigram (unseen transitions back off to
    0.4·P_laplace(r)). This is the north-rule's actual gate shape
    (clean reference corpus scores candidate corpus); the self-scoring
    surprisal queries are its anomaly-gate siblings. Integer micro-nat
    outputs — exact across engines. 1-token docs have no bigram
    positions → null bg_* columns."""
    from data_curator_spark.operators.lm import heldout_scores
    from data_curator_spark.operators.sampling import sample_gate

    d = _spread(_t(spark, sf_dir, "documents"), by="doc_id")
    gate = sample_gate(F.col("doc_id"), "r6lm")
    return heldout_scores(d.filter(gate < 800), d.filter(gate >= 800), "doc_id", "text")


def _heldout_perplexity_oracle_sql() -> str:
    from data_curator_spark.operators.lm import STUPID_BACKOFF_LP

    gate = _hex_long_sql("md5('r6lm:' || CAST(doc_id AS VARCHAR))", 8)
    return f"""
WITH g AS (
  SELECT doc_id, text, ({gate}) % 1000 AS gate
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
), train_toks AS (
  SELECT unnest(string_split_regex(trim(text), {_WS_SQL})) AS w
  FROM g WHERE gate < 800
), vocab AS (
  SELECT w, COUNT(*) AS c FROM train_toks GROUP BY w
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) + COUNT(*) + 1 AS denom FROM vocab
), lp AS (
  SELECT w,
         CAST(floor(ln(CAST(c + 1 AS DOUBLE)
                       / CAST((SELECT denom FROM tot) AS DOUBLE))
              * 1048576.0) AS BIGINT) AS lp
  FROM vocab
), unk AS (
  SELECT CAST(floor(ln(1.0 / CAST(denom AS DOUBLE)) * 1048576.0) AS BIGINT)
           AS lp
  FROM tot
), score_toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), {_WS_SQL})) AS w
  FROM g WHERE gate >= 800
), uni AS (
  SELECT s.doc_id,
         COUNT(*) AS n_tokens,
         CAST(-SUM(COALESCE(lp.lp, (SELECT lp FROM unk))) AS BIGINT)
           AS surprisal_unats,
         CAST((-SUM(COALESCE(lp.lp, (SELECT lp FROM unk)))) // COUNT(*)
              AS BIGINT) AS mean_surprisal_unats
  FROM score_toks s LEFT JOIN lp USING (w)
  GROUP BY s.doc_id
), tw AS (
  SELECT doc_id, string_split_regex(trim(text), {_WS_SQL}) AS ws, gate
  FROM g
), tp AS (
  SELECT ws[t.i] AS l, ws[t.i + 1] AS r
  FROM tw, (SELECT unnest(range(1, len(ws))) AS i) t
  WHERE len(ws) >= 2 AND gate < 800
), bc AS (
  SELECT l, r, COUNT(*) AS c_lr FROM tp GROUP BY l, r
), lc AS (
  SELECT l, CAST(SUM(c_lr) AS BIGINT) AS c_l FROM bc GROUP BY l
), bglp AS (
  SELECT bc.l, bc.r,
         CAST(floor(ln(CAST(c_lr AS DOUBLE) / CAST(c_l AS DOUBLE))
              * 1048576.0) AS BIGINT) AS lp_bg
  FROM bc JOIN lc USING (l)
), sp AS (
  SELECT doc_id, ws[t.i] AS l, ws[t.i + 1] AS r
  FROM tw, (SELECT unnest(range(1, len(ws))) AS i) t
  WHERE len(ws) >= 2 AND gate >= 800
), bg AS (
  SELECT sp.doc_id,
         COUNT(*) AS n_bigrams,
         CAST(-SUM(COALESCE(bglp.lp_bg,
                            {STUPID_BACKOFF_LP}
                            + COALESCE(lp.lp, (SELECT lp FROM unk))))
              AS BIGINT) AS bg_surprisal_unats
  FROM sp
  LEFT JOIN bglp ON sp.l = bglp.l AND sp.r = bglp.r
  LEFT JOIN lp ON sp.r = lp.w
  GROUP BY sp.doc_id
)
SELECT uni.doc_id, uni.n_tokens, uni.surprisal_unats,
       uni.mean_surprisal_unats,
       bg.n_bigrams, bg.bg_surprisal_unats,
       CAST(bg.bg_surprisal_unats // bg.n_bigrams AS BIGINT)
         AS bg_mean_surprisal_unats
FROM uni LEFT JOIN bg USING (doc_id)
"""


# ---------------------------------------------------------------------------
# r6 addition: PII/toxicity scrub as an oracled query
# ---------------------------------------------------------------------------


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule's regex PII/toxicity scrub (pipeline/stages.py:
    with_scrub) as a hard-gated query: per doc, the sha256 of the
    original and of the scrubbed text, which rules fired, and the
    UNTOUCHED flag — the per-row invariant the rule names ("content
    sha256 equality" for untouched rows) verified by the oracle on
    every row. Pure projection, chained JVM-side regexp_replace, zero
    shuffle; the fired flags are change detection on the chain, so
    untouched ⟺ sha-equal by construction."""
    from data_curator_spark.pipeline.stages import with_scrub

    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    out = with_scrub(d.select("doc_id", F.col("text").alias("content")))
    return out.select(
        "doc_id",
        "sha256_original",
        "sha256_scrubbed",
        F.array_join("scrub_rules_fired", ",").alias("rules_fired"),
        (F.size("scrub_rules_fired") == 0).alias("untouched"),
    )


def _pii_scrub_oracle_sql() -> str:
    # build the chained-replace CTEs from the SAME rule table the Spark
    # stage uses (pipeline/spec.py:SCRUB_RULES) so oracle and engine
    # cannot drift; DuckDB regexp_replace needs the explicit 'g' flag
    # to match Spark's replace-all semantics
    from data_curator_spark.pipeline.spec import SCRUB_RULES

    ctes = ["base AS (SELECT doc_id, text AS c0 FROM documents "
            "WHERE text IS NOT NULL)"]
    fired = []
    prev = "base"
    for i, (name, pattern, repl) in enumerate(SCRUB_RULES, start=1):
        assert "'" not in pattern and "'" not in repl, name
        ctes.append(
            f"r{i} AS (SELECT *, regexp_replace(c{i-1}, '{pattern}', "
            f"'{repl}', 'g') AS c{i} FROM {prev})"
        )
        fired.append(f"CASE WHEN c{i} <> c{i-1} THEN '{name}' END")
        prev = f"r{i}"
    n = len(SCRUB_RULES)
    return f"""
WITH {', '.join(ctes)}
SELECT doc_id,
       sha256(c0) AS sha256_original,
       sha256(c{n}) AS sha256_scrubbed,
       concat_ws(',', {', '.join(fired)}) AS rules_fired,
       (c{n} = c0) AS untouched
FROM {prev}
"""


# ---------------------------------------------------------------------------
# r6 addition: DSIR importance weights (target-vs-source unigram LMs)
# ---------------------------------------------------------------------------


def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators/lm.py:dsir_log_weights): the
    src0-src3 strata stand in for the clean TARGET corpus, the rest
    is the raw SOURCE; every raw doc gets log(P_target/P_source) under two
    Laplace unigram models in exact integer micro-nats. Positive =
    target-like (keep-leaning) — the data-selection step between
    quality filtering and budget mixing."""
    from data_curator_spark.operators.lm import dsir_log_weights

    d = _spread(_t(spark, sf_dir, "documents"), by="doc_id")
    tgt_sources = ["src0", "src1", "src2", "src3"]
    target = d.filter(F.col("source").isin(tgt_sources))
    source = d.filter(~F.col("source").isin(tgt_sources))
    return dsir_log_weights(target, source, source, "doc_id", "text")


_SQL_DSIR = f"""
WITH tt AS (
  SELECT unnest(string_split_regex(trim(text), {_WS_SQL})) AS w
  FROM documents WHERE source IN ('src0', 'src1', 'src2', 'src3')
    AND text IS NOT NULL AND trim(text) <> ''
), tv AS (
  SELECT w, COUNT(*) AS c FROM tt GROUP BY w
), ttot AS (
  SELECT CAST(SUM(c) AS BIGINT) + COUNT(*) + 1 AS denom FROM tv
), tlp AS (
  SELECT w, CAST(floor(ln(CAST(c + 1 AS DOUBLE)
                          / CAST((SELECT denom FROM ttot) AS DOUBLE))
             * 1048576.0) AS BIGINT) AS lp_t
  FROM tv
), tunk AS (
  SELECT CAST(floor(ln(1.0 / CAST(denom AS DOUBLE)) * 1048576.0) AS BIGINT)
           AS lp
  FROM ttot
), st AS (
  SELECT unnest(string_split_regex(trim(text), {_WS_SQL})) AS w
  FROM documents WHERE NOT (source IN ('src0', 'src1', 'src2', 'src3'))
    AND text IS NOT NULL AND trim(text) <> ''
), sv AS (
  SELECT w, COUNT(*) AS c FROM st GROUP BY w
), stot AS (
  SELECT CAST(SUM(c) AS BIGINT) + COUNT(*) + 1 AS denom FROM sv
), slp AS (
  SELECT w, CAST(floor(ln(CAST(c + 1 AS DOUBLE)
                          / CAST((SELECT denom FROM stot) AS DOUBLE))
             * 1048576.0) AS BIGINT) AS lp_s
  FROM sv
), sunk AS (
  SELECT CAST(floor(ln(1.0 / CAST(denom AS DOUBLE)) * 1048576.0) AS BIGINT)
           AS lp
  FROM stot
), sc AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), {_WS_SQL})) AS w
  FROM documents WHERE NOT (source IN ('src0', 'src1', 'src2', 'src3'))
    AND text IS NOT NULL AND trim(text) <> ''
)
SELECT sc.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(COALESCE(tlp.lp_t, (SELECT lp FROM tunk))
                - COALESCE(slp.lp_s, (SELECT lp FROM sunk))) AS BIGINT)
         AS log_weight_unats,
       CAST(SUM(COALESCE(tlp.lp_t, (SELECT lp FROM tunk))
                - COALESCE(slp.lp_s, (SELECT lp FROM sunk))) // COUNT(*)
            AS BIGINT) AS mean_log_weight_unats
FROM sc LEFT JOIN tlp ON sc.w = tlp.w LEFT JOIN slp ON sc.w = slp.w
GROUP BY sc.doc_id
"""


# ---------------------------------------------------------------------------
# r6 addition: full BPE train + distributed encode
# ---------------------------------------------------------------------------

# enough merges to partially fuse the corpus vocabulary (training stops
# early if pairs run dry) while leaving multi-piece words so the
# encoder path is non-trivially exercised
BPE_ENCODE_MERGES = 20


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE tokenizer loop (operators/bpe.py): distributed word
    count → gated driver-side merge training (bpe_train, the bounded-
    vocab collect pattern) → distributed encoding where Python touches
    only the DISTINCT-word table (bpe_encode_counts). Output: per-doc
    whitespace-word and BPE-piece counts. The oracle retrains the SAME
    pure-Python trainer on DuckDB's independent word counts (ann_ivf's
    data-dependent-oracle pattern), so a Spark-side counting or
    aggregation bug surfaces as a hash mismatch."""
    from data_curator_spark.operators.bpe import bpe_encode_counts, bpe_train

    d = _spread(_t(spark, sf_dir, "documents"), by="doc_id")
    merges = bpe_train(d, "text", num_merges=BPE_ENCODE_MERGES)
    return bpe_encode_counts(d, "doc_id", "text", merges)


def _bpe_encode_oracle_sql(sf_dir: str) -> str:
    import duckdb

    from data_curator_spark.operators.bpe import encode_word, train_bpe_merges

    rows = duckdb.sql(
        f"""
        SELECT w, COUNT(*) AS c FROM (
          SELECT unnest(string_split_regex(trim(text), {_WS_SQL})) AS w
          FROM read_parquet('{sf_dir}/documents.parquet')
          WHERE text IS NOT NULL AND trim(text) <> ''
        ) WHERE w <> '' GROUP BY w
        """
    ).fetchall()
    vocab = sorted((w, int(c)) for w, c in rows)
    ranks = {
        p: i
        for i, p in enumerate(train_bpe_merges(vocab, BPE_ENCODE_MERGES))
    }
    values = ",\n  ".join(
        "('{w}', {n})".format(
            w=w.replace("'", "''"), n=len(encode_word(w, ranks))
        )
        for w, _ in vocab
    )
    if values:
        pieces = f"SELECT * FROM (VALUES\n  {values}) _(w, n_pieces)"
    else:
        # empty/all-blank corpus: a bare "VALUES" is a parse error; an
        # empty typed pieces table keeps the oracle valid and both
        # engines agree on zero output rows (Spark has no tokens either)
        pieces = (
            "SELECT CAST(NULL AS VARCHAR) AS w, CAST(NULL AS BIGINT)"
            " AS n_pieces WHERE FALSE"
        )
    return f"""
WITH pieces AS ({pieces}), toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), {_WS_SQL})) AS w
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
)
SELECT t.doc_id,
       COUNT(*) AS n_words,
       CAST(SUM(p.n_pieces) AS BIGINT) AS n_bpe_tokens
FROM toks t JOIN pieces p USING (w)
WHERE t.w <> ''
GROUP BY t.doc_id
"""


def q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: every document gets a
    (shuffle_key, shard, shard_pos) triple that is a pure function of
    (doc_id, salt, n_shards) — reproducible across reruns, engines,
    partitionings and cluster sizes (operators/sampling.py:
    shuffle_shards)."""
    from data_curator_spark.operators.sampling import shuffle_shards

    d = _t(spark, sf_dir, "documents").select("doc_id")
    return shuffle_shards(d, "doc_id", n_shards=8).select(
        "doc_id", "shuffle_key", "shard", "shard_pos"
    )


SQL_SHUFFLE_SHARDS = f"""
WITH sk AS (
  SELECT doc_id,
         md5('shuffle' || chr(31) || CAST(doc_id AS VARCHAR)) AS m
  FROM documents
), k AS (
  SELECT doc_id,
         CAST({_hex_long_sql("m", 15)} AS BIGINT) AS shuffle_key
  FROM sk
)
SELECT doc_id, shuffle_key,
       CAST(shuffle_key % 8 AS INT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shuffle_key % 8
            ORDER BY shuffle_key, doc_id) - 1 AS BIGINT) AS shard_pos
FROM k
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking with overlap (operators/sampling.py:
    chunk_documents): every document split into 512-char windows with
    64-char overlap — zero-shuffle explode."""
    from data_curator_spark.operators.sampling import chunk_documents

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(d, "doc_id", "text", 512, 64)


SQL_CHUNK_DOCUMENTS = """
WITH n AS (
  SELECT doc_id, text,
         GREATEST(1, CAST((length(text) - 64 + 448 - 1) // 448 AS BIGINT))
           AS n_chunks
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
       CAST(i AS INT) AS chunk_idx,
       CAST(i * 448 AS BIGINT) AS chunk_start,
       substr(text, CAST(i * 448 + 1 AS INT), 512) AS chunk_text
FROM n, LATERAL unnest(range(n_chunks)) AS t(i)
"""


def q_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fill-in-the-middle split over documents
    (operators/sampling.py:fim_transform) — hash-derived cut points,
    psm/spm mode flag, zero shuffle."""
    from data_curator_spark.operators.sampling import fim_transform

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return fim_transform(d, "doc_id", "text")


def _fim_oracle_sql() -> str:
    def key(tag: str) -> str:
        return (
            "CAST("
            + _hex_long_sql(
                f"md5('fim' || chr(31) || CAST(doc_id AS VARCHAR)"
                f" || chr(31) || '{tag}')",
                15,
            )
            + " AS BIGINT)"
        )

    return f"""
WITH k AS (
  SELECT doc_id, text, length(text) AS n,
         {key("a")} AS ka, {key("b")} AS kb, {key("m")} AS km
  FROM documents
), c AS (
  SELECT doc_id, text, n,
         LEAST(ka % (n + 1), kb % (n + 1)) AS lo,
         GREATEST(ka % (n + 1), kb % (n + 1)) AS hi,
         km FROM k
)
SELECT doc_id,
       substr(text, 1, CAST(lo AS INT)) AS fim_prefix,
       substr(text, CAST(lo + 1 AS INT), CAST(hi - lo AS INT)) AS fim_middle,
       substr(text, CAST(hi + 1 AS INT), CAST(n - hi AS INT)) AS fim_suffix,
       CASE WHEN km % 2 = 0 THEN 'psm' ELSE 'spm' END AS fim_mode
FROM c
"""


def q_rule_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation observability: per content-rule fire counts and
    EXCLUSIVE fire counts (docs only that rule would drop) over the
    documents table — the ablation view a pipeline operator reads
    before moving a threshold. Conditions come from the single shared
    source (stages.content_rule_checks), so this can never drift from
    what with_decision actually gates. One scan, one tiny aggregate
    row, unpivoted JVM-side — no shuffle beyond the global agg."""
    from data_curator_spark.pipeline.stages import (
        content_rule_checks,
        with_heuristics,
    )

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("content")
    )
    h = with_heuristics(d)
    checks = content_rule_checks()
    fired = h.select(
        *[
            F.coalesce(cond, F.lit(False)).alias(f"__f_{name}")
            for name, cond in checks
        ]
    )
    n_fired = sum(
        (F.col(f"__f_{name}").cast("int") for name, _ in checks),
        F.lit(0),
    )
    fired = fired.withColumn("__n", n_fired)
    agg = fired.agg(
        *[
            F.sum(F.col(f"__f_{n}").cast("long")).alias(f"fires_{n}")
            for n, _ in checks
        ],
        *[
            F.sum(
                (F.col(f"__f_{n}") & (F.col("__n") == 1)).cast("long")
            ).alias(f"excl_{n}")
            for n, _ in checks
        ],
    )
    stack_args = ", ".join(
        f"'{n}', fires_{n}, excl_{n}" for n, _ in checks
    )
    return agg.selectExpr(
        f"stack({len(checks)}, {stack_args}) AS (rule, n_fires, n_exclusive)"
    )


def _rule_ablation_oracle_sql() -> str:
    """DuckDB replica: the same 11 content-rule conditions re-derived
    from spec constants over the documents table (null text counts as
    not-fired, matching the Spark coalesce)."""
    from data_curator_spark.pipeline import spec

    def covered(pat: str) -> str:
        return (
            "COALESCE(list_aggregate(list_transform("
            f"regexp_extract_all(text, '{pat}'), x -> length(x)), 'sum'), 0)"
        )

    conds = {
        "too_short": f"n_chars < {spec.MIN_CHARS}",
        "long_line": f"max_line_len > {spec.MAX_LINE_LENGTH}",
        "long_avg_line": f"avg_line_len > {spec.MAX_AVG_LINE_LENGTH}",
        "low_alnum": f"alnum_ratio < {spec.MIN_ALNUM_RATIO}",
        "high_digit": f"digit_ratio > {spec.MAX_DIGIT_RATIO}",
        "repetitive": (
            f"(n_lines >= {spec.DISTINCT_LINE_MIN_LINES} AND "
            f"distinct_line_ratio < {spec.MIN_DISTINCT_LINE_RATIO})"
        ),
        "b64_blob": (
            f"b64c > CAST({spec.MAX_B64_BLOB_RATIO} AS DOUBLE) * n_chars"
        ),
        "hex_blob": (
            f"hexc > CAST({spec.MAX_HEX_BLOB_RATIO} AS DOUBLE) * n_chars"
        ),
        "autogenerated": "autog",
        "comment_heavy": (
            f"commc > CAST({spec.MAX_COMMENT_RATIO} AS DOUBLE) * n_chars"
        ),
        "mojibake": (
            f"mojc > CAST({spec.MAX_MOJIBAKE_RATIO} AS DOUBLE) * n_chars"
        ),
    }
    flags = ",\n         ".join(
        f"COALESCE(({c}), FALSE) AS f_{n}" for n, c in conds.items()
    )
    n_sum = " + ".join(f"CAST(f_{n} AS INT)" for n in conds)
    rows = "\nUNION ALL\n".join(
        f"SELECT '{n}' AS rule,"
        f" CAST(SUM(CAST(f_{n} AS INT)) AS BIGINT) AS n_fires,"
        f" CAST(SUM(CAST((f_{n} AND nf = 1) AS INT)) AS BIGINT)"
        f" AS n_exclusive FROM fl"
        for n in conds
    )
    return f"""
WITH h AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(string_split(text, chr(10))) AS n_lines,
         list_max(list_transform(string_split(text, chr(10)),
                                 x -> length(x))) AS max_line_len,
         CAST(length(text) - len(string_split(text, chr(10))) + 1
              AS DOUBLE) / len(string_split(text, chr(10)))
           AS avg_line_len,
         CAST(length(text) -
              length(regexp_replace(text, '[A-Za-z0-9]', '', 'g'))
              AS DOUBLE) / GREATEST(length(text), 1) AS alnum_ratio,
         CAST(length(text) -
              length(regexp_replace(text, '[0-9]', '', 'g'))
              AS DOUBLE) / GREATEST(length(text), 1) AS digit_ratio,
         CAST(len(list_distinct(string_split(text, chr(10)))) AS DOUBLE)
           / len(string_split(text, chr(10))) AS distinct_line_ratio,
         {covered(spec.B64_BLOB_PATTERN)} AS b64c,
         {covered(spec.HEX_BLOB_PATTERN)} AS hexc,
         {covered(spec.COMMENT_PATTERN)} AS commc,
         length(text) - length(regexp_replace(text,
             '{spec.MOJIBAKE_PATTERN}', '', 'g')) AS mojc,
         regexp_matches(substr(text, 1, {spec.AUTOGEN_HEAD_CHARS}),
                        '{spec.AUTOGEN_PATTERN}') AS autog
  FROM documents
), f AS (
  SELECT doc_id, {flags} FROM h
), fl AS (
  SELECT *, ({n_sum}) AS nf FROM f
)
{rows}
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------


class Query(NamedTuple):
    """One record of REGISTRY, the single declaration of every query.

    The driver's correctness gate checks only the first 50 entries of
    QUERIES, in order: a registration past the 50th silently gets no
    correctness row. The ``gate`` records are therefore the gate's
    priority list, and there may be at most 50 of them
    (tests/test_driver_gate.py). To keep every distinct operator inside
    that window, related features share one gate query (order_masks,
    recursions, doc_quality_stats, rolling_features). The records with
    ``gate=False`` (LEGACY_QUERIES) are checked on demand with
    ``python tools/check_oracle.py <sf dir> --legacy``; bench.py's frozen
    CORE13 subtotal times two of them (sma_window, volatility_window).

    ``oracle`` is the DuckDB SQL text or, for an oracle that trains on
    the data, a function of the sf dir that returns it (see
    _resolve_oracles).
    """

    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | Callable[[str], str]
    gate: bool = True


REGISTRY: tuple[Query, ...] = (
    Query("pricing_summary", q_pricing_summary, SQL_PRICING_SUMMARY),
    Query("revenue_by_nation", q_revenue_by_nation, SQL_REVENUE_BY_NATION),
    Query("coalescing_merge", q_coalescing_merge, SQL_COALESCING_MERGE),
    Query("missing_rows_antijoin", q_missing_rows, SQL_MISSING_ROWS),
    Query("duplicate_pk", q_duplicate_pk, SQL_DUPLICATE_PK),
    Query("asof_join", q_asof_join, SQL_ASOF_JOIN),
    Query("order_masks", q_order_masks, SQL_ORDER_MASKS),
    Query("indexed_rolling", q_indexed_rolling, SQL_INDEXED_ROLLING),
    Query("contract_metrics", q_contract_metrics, SQL_CONTRACT_METRICS),
    Query("null_semantics", q_null_semantics, SQL_NULL_SEMANTICS),
    Query("discrepancy_scan", q_discrepancy_scan, SQL_DISCREPANCY_SCAN),
    Query("dedup_exact", q_dedup_exact, SQL_DEDUP_EXACT),
    Query("ngram_jaccard", q_ngram_jaccard, SQL_NGRAM_JACCARD),
    Query("minhash_lsh", q_minhash_lsh, SQL_MINHASH_LSH),
    Query("simhash_near", q_simhash_near, SQL_SIMHASH_NEAR),
    Query("ann_cosine_topk", q_ann_cosine_topk, SQL_ANN_COSINE_TOPK),
    Query("ann_lsh", q_ann_lsh, SQL_ANN_LSH),
    Query("embedding_near_dup", q_embedding_near_dup, SQL_EMBEDDING_NEAR_DUP),
    Query("multimodal_features", q_multimodal_features, SQL_MULTIMODAL_FEATURES),
    Query("dedup_clusters", q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    Query("event_expansion", q_event_expansion, SQL_EVENT_EXPANSION),
    Query("topk_orders", q_topk_orders, SQL_TOPK_ORDERS),
    Query("set_ops", q_set_ops, SQL_SET_OPS),
    Query("scalar_functions", q_scalar_functions, SQL_SCALAR_FUNCTIONS),
    Query("recursions", q_recursions, SQL_RECURSIONS),
    Query("interval_join", q_interval_join, SQL_INTERVAL_JOIN),
    Query("hypertable_rollup", q_hypertable_rollup, SQL_HYPERTABLE_ROLLUP),
    Query("doc_quality_stats", q_doc_quality_stats, SQL_DOC_QUALITY_STATS),
    Query("ann_ivf", q_ann_ivf, _ann_ivf_oracle_sql),
    Query("sessionize", q_sessionize, SQL_SESSIONIZE),
    Query("corpus_profile", q_corpus_profile, SQL_CORPUS_PROFILE),
    Query("boilerplate_ngrams", q_boilerplate_ngrams, SQL_BOILERPLATE_NGRAMS),
    Query("rolling_features", q_rolling_features, SQL_ROLLING_FEATURES),
    Query("sampling_gates", q_sampling_gates, _sampling_gates_oracle_sql()),
    Query("decontaminate", q_decontaminate, _decontaminate_oracle_sql()),
    Query("sequence_pack", q_sequence_pack, _sequence_pack_oracle_sql()),
    Query("macd_signal", q_macd_signal, _macd_oracle_sql()),
    Query("vocab_stats", q_vocab_stats, SQL_VOCAB_STATS),
    Query("distinct_sketch", q_distinct_sketch, _distinct_sketch_oracle_sql()),
    Query("line_repetition", q_line_repetition, SQL_LINE_REPETITION),
    Query("boilerplate_strip", q_boilerplate_strip, _boilerplate_strip_oracle_sql()),
    Query("budget_sample", q_budget_sample, _budget_sample_oracle_sql()),
    Query("centroid_outliers", q_centroid_outliers, _centroid_outliers_oracle_sql()),
    Query("unigram_surprisal", q_unigram_surprisal, SQL_UNIGRAM_SURPRISAL),
    Query("bigram_surprisal", q_bigram_surprisal, SQL_BIGRAM_SURPRISAL),
    Query("bpe_merge_candidates", q_bpe_merge_candidates, SQL_BPE_MERGE_CANDIDATES),
    Query("heldout_perplexity", q_heldout_perplexity, _heldout_perplexity_oracle_sql()),
    Query("pii_scrub", q_pii_scrub, _pii_scrub_oracle_sql()),
    Query("dsir_importance", q_dsir_importance, _SQL_DSIR),
    Query("bpe_encode", q_bpe_encode, _bpe_encode_oracle_sql),
    Query("sma_window", q_sma_window, SQL_SMA_WINDOW, gate=False),
    Query("volatility_window", q_volatility_window, SQL_VOLATILITY_WINDOW, gate=False),
    Query("embedding_norms", q_embedding_norms, SQL_EMBEDDING_NORMS, gate=False),
    Query("doc_fingerprint", q_doc_fingerprint, SQL_DOC_FINGERPRINT, gate=False),
    Query("corpus_sample", q_corpus_sample, _corpus_sample_oracle_sql(), gate=False),
    Query("corpus_split", q_corpus_split, _corpus_split_oracle_sql(), gate=False),
    Query("dedup_lines", q_dedup_lines, SQL_DEDUP_LINES, gate=False),
    Query("repetition_profile", q_repetition_profile, SQL_REPETITION_PROFILE, gate=False),
    Query("shuffle_shards", q_shuffle_shards, SQL_SHUFFLE_SHARDS, gate=False),
    Query("chunk_documents", q_chunk_documents, SQL_CHUNK_DOCUMENTS, gate=False),
    Query("rule_ablation", q_rule_ablation, _rule_ablation_oracle_sql(), gate=False),
    Query("fim_transform", q_fim_transform, _fim_oracle_sql(), gate=False),
    Query("pq_ann", q_pq_ann, _pq_ann_oracle_sql, gate=False),
    Query("source_rollup", q_source_rollup, _source_rollup_oracle_sql(), gate=False),
    Query("temperature_sample", q_temperature_sample, _temperature_sample_oracle_sql, gate=False),
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    q.name: q.fn for q in REGISTRY if q.gate
}
LEGACY_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    q.name: q.fn for q in REGISTRY if not q.gate
}


def _resolve_oracles(gate: bool) -> dict[str, str]:
    """Oracle SQL of the gate (or the legacy) records, in registry order.

    An oracle that trains on the data (ann_ivf's centroid matrix,
    bpe_encode's merge table, pq_ann's codebooks, temperature_sample's
    per-lang rates) is built from the sf dir the check runs at:
    SPARK_GRAFT_ORACLE_SF, sf0.01 by default. If that data is missing or
    unreadable the entry is omitted, and the driver falls back to its
    rows-only check."""
    import os
    import sys

    import duckdb

    records = [q for q in REGISTRY if q.gate == gate]
    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF")
    if sf_dir is None:
        sf_dir = "/root/testdata/sf0.01"
        # checking any other scale factor without the env var guarantees
        # a "mismatch" on these that is really a wrong-oracle artifact
        trained = ", ".join(q.name for q in records if not isinstance(q.oracle, str))
        print(
            f"SPARK_GRAFT_ORACLE_SF unset — the {trained} "
            f"oracles train on the default {sf_dir}; set the env var to "
            "the sf dir you are checking or those queries will falsely "
            "mismatch",
            file=sys.stderr,
        )
    out = {}
    for q in records:
        if isinstance(q.oracle, str):
            out[q.name] = q.oracle
            continue
        try:
            out[q.name] = q.oracle(sf_dir)
        except (FileNotFoundError, OSError, duckdb.IOException) as e:
            # ONLY missing/unreadable data downgrades to the rows-only
            # check; a bug in the oracle generator must surface, not
            # silently weaken the gate
            print(f"{q.name} oracle skipped ({sf_dir} unreadable): {e}", file=sys.stderr)
    return out


def get_oracles() -> dict[str, str]:
    """Oracle SQL of the 50 gate queries. Only the gate's own
    data-dependent oracles (ann_ivf, bpe_encode) are trained here."""
    return _resolve_oracles(gate=True)


def get_legacy_oracles() -> dict[str, str]:
    """Oracle SQL of LEGACY_QUERIES (pq_ann and temperature_sample
    train on the data, as in get_oracles)."""
    return _resolve_oracles(gate=False)
