"""Two provider endpoints with overlapping keys, read with declared
schemas and remapped to the entity namespace, curated by
``consolidate_with_repair`` (reference: the provider adapter's
consolidation of per-endpoint frames, SURVEY §3.2)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from data_curator_spark.engine.consolidate import consolidate_with_repair


@pytest.fixture(scope="module")
def endpoint_paths(tmp_path_factory):
    d = tmp_path_factory.mktemp("provider_fixture")
    adjusted = [
        {"symbol": "AAA", "date": f"2024-02-0{i}", "adjClose": 100.0 + i, "volume": 10 * i}
        for i in range(1, 5)
    ]
    raw = [
        {"symbol": "AAA", "date": f"2024-02-0{i}",
         "close": (100.0 + i) if i != 2 else 555.0}  # conflict on day 2
        for i in range(1, 6)  # day 5 exists only here
    ]
    p1, p2 = str(d / "adjusted.json"), str(d / "raw.json")
    for p, rows in ((p1, adjusted), (p2, raw)):
        with open(p, "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in rows)
    return {"daily_adjusted": p1, "daily_raw": p2}


def test_curate_end_to_end(spark, endpoint_paths):
    adjusted = spark.read.json(
        endpoint_paths["daily_adjusted"],
        schema="symbol string, date string, adjClose double, volume long",
    ).select(
        F.col("symbol").alias("main_identifier"), F.to_date("date").alias("m_date"),
        F.col("adjClose").alias("m_close"), F.col("volume").alias("m_volume"),
    )
    raw = spark.read.json(
        endpoint_paths["daily_raw"], schema="symbol string, date string, close double"
    ).select(
        F.col("symbol").alias("main_identifier"), F.to_date("date").alias("m_date"),
        F.col("close").alias("m_close"),
    )
    merged, quarantine = consolidate_with_repair(
        [adjusted, raw], pk=["main_identifier", "m_date"]
    )
    q = quarantine.collect()
    assert len(q) == 1 and q[0]["field"] == "m_close"
    got = {str(r["m_date"]): r for r in merged.collect()}
    assert len(got) == 5  # union of endpoint PKs (day 5 only in raw)
    assert got["2024-02-02"]["m_close"] is None  # conflict nulled by repair
    assert got["2024-02-03"]["m_close"] == 103.0
    assert got["2024-02-05"]["m_volume"] is None  # absent from adjusted
