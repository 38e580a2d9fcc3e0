"""End-to-end provider data path (SURVEY §3.2): raw endpoint JSON →
remap/preprocess → consolidate-with-repair → quality gates → feature
build → per-identifier output. Mirrors the reference's recorded-payload
integration layer (tests/integration/lseg_workspace, SURVEY §5.7)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from data_curator_spark.engine import consolidate as CN
from data_curator_spark.engine import contracts as K
from data_curator_spark.engine.features import irregular_filing_mask
from data_curator_spark.functions.calculations import build_features


@pytest.fixture(scope="module")
def endpoint_json(tmp_path_factory):
    """Two overlapping 'provider endpoints' as NDJSON, with a value
    conflict on day 3 and a missing row in ep2."""
    d = tmp_path_factory.mktemp("endpoints")
    ep1 = [
        {"symbol": "AAA", "date": "2024-01-0%d" % i, "close_price_millions": 0.0001 * (100 + i), "vol": 1000 + i}
        for i in range(1, 6)
    ]
    ep2 = [
        {"symbol": "AAA", "date": "2024-01-0%d" % i,
         "close_price_millions": 0.0001 * (100 + i) if i != 3 else 0.0999, "hi": 120.0 + i, "lo": 90.0 + i}
        for i in range(1, 6) if i != 4
    ]
    p1, p2 = str(d / "ep1.json"), str(d / "ep2.json")
    with open(p1, "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in ep1)
    with open(p2, "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in ep2)
    return p1, p2


def test_full_provider_flow(spark, endpoint_json, tmp_path):
    p1, p2 = endpoint_json
    schema1 = "symbol string, date string, close_price_millions double, vol long"
    schema2 = "symbol string, date string, close_price_millions double, hi double, lo double"

    # 1. parse (explicit schema) + remap provider tags → entity fields
    raw1 = spark.read.json(p1, schema=schema1)
    raw2 = spark.read.json(p2, schema=schema2)
    ep1 = raw1.select(
        F.col("symbol").alias("main_identifier"), F.col("date").alias("m_date"),
        F.col("close_price_millions").alias("m_close"), F.col("vol").alias("m_volume"),
    )
    ep2 = raw2.select(
        F.col("symbol").alias("main_identifier"), F.col("date").alias("m_date"),
        F.col("close_price_millions").alias("m_close"),
        F.col("hi").alias("m_high"), F.col("lo").alias("m_low"),
    )
    # 2. preprocess: millions→units, ISO date cast
    ep1, ep2 = (
        ep.withColumn("m_close", F.col("m_close") * 1e6)
        .withColumn("m_date", F.to_date("m_date"))
        for ep in (ep1, ep2)
    )

    # 3. missing-rows quality gate (null-safe anti-join)
    missing = CN.missing_rows(
        ep1.select("main_identifier", "m_date"), ep2, ["main_identifier", "m_date"]
    )
    assert [str(r["m_date"]) for r in missing.collect()] == ["2024-01-04"]

    # 4. consolidate with discrepancy repair (day 3 conflicts on m_close)
    merged, quarantine = CN.consolidate_with_repair(
        [ep1, ep2], pk=["main_identifier", "m_date"]
    )
    q = quarantine.collect()
    assert len(q) == 1 and str(q[0]["m_date"]) == "2024-01-03" and q[0]["field"] == "m_close"
    got = {str(r["m_date"]): r for r in merged.collect()}
    assert len(got) == 5  # union of PKs
    assert got["2024-01-03"]["m_close"] is None  # nulled by repair
    assert got["2024-01-01"]["m_close"] == pytest.approx(101.0 * 100)
    assert got["2024-01-04"]["m_high"] is None  # absent from ep2

    # 5. row contracts
    clean, metrics = K.apply_contracts(
        merged,
        [
            K.non_negative(F.col("m_close"), "close_nonneg"),
            K.low_le_high(F.col("m_low"), F.col("m_high"), "low_le_high"),
            K.matches(F.col("main_identifier"), K.IDENTIFIER_RE, "identifier"),
        ],
    )
    assert clean.count() == 5
    assert {r["contract"]: r["violations"] for r in metrics.collect()} == {
        "close_nonneg": 0, "low_le_high": 0, "identifier": 0
    }

    # 6. derived features over the curated frame
    feat = build_features(
        clean.withColumn("m_high", F.coalesce("m_high", F.lit(0.0)))
        .withColumn("m_low", F.coalesce("m_low", F.lit(0.0))),
        ["c_log_difference_high_to_low"],
    )
    rows = {str(r["m_date"]): r["c_log_difference_high_to_low"] for r in feat.collect()}
    assert rows["2024-01-01"] == pytest.approx(float(__import__("math").log(121.0 / 91.0)))
    assert rows["2024-01-04"] is None  # ln(0/0) scrubbed to null

    # 7. per-identifier partitioned output
    out = str(tmp_path / "curated")
    feat.write.partitionBy("main_identifier").mode("overwrite").parquet(out)
    assert spark.read.parquet(out).count() == 5


def test_order_inconsistency_detection(spark):
    ok = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "pk int, __arrival int"
    )
    bad = spark.createDataFrame(
        [(1, 1), (3, 2), (2, 3)], "pk int, __arrival int"  # 3 arrives before 2
    )
    out = CN.order_inconsistency([ok, bad], ["pk"]).collect()
    assert len(out) == 1
    assert out[0]["endpoint"] == 1 and out[0]["pk"] == 2


def test_irregular_filing_gate_in_flow(spark):
    rows = [
        ("A", "2024-03-31", "2024-04-30"),
        ("A", "2023-12-31", "2024-05-15"),  # amended: filed after Q1's filing
        ("A", "2023-09-30", "2023-10-30"),
    ]
    df = spark.createDataFrame(rows, "id string, period_end string, filing string").select(
        "id", F.to_date("period_end").alias("pe"), F.to_date("filing").alias("fi")
    )
    w = Window.partitionBy("id").orderBy(F.desc("pe"))
    out = {str(r["pe"]): r["irr"] for r in df.withColumn(
        "irr", irregular_filing_mask(F.col("fi"), w)
    ).collect()}
    assert out["2023-12-31"] is True
    assert out["2024-03-31"] is False and out["2023-09-30"] is False
