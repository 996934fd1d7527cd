"""Hot-key evidence for the factor engine: one security holding ~50%
of all bars must not change ``adjust_bars``' results.

The pipeline touches the bar table only through keys that spread a hot
security: the day-calendar ``groupBy(id, event_day)`` (map-side partial
aggregation) and the factor-application join on (id, event_day). Every
per-id window, the batch re-anchor included, runs on the day calendar,
whose partitions are bounded by trading days per security, not by bar
count.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from polygon_io_data_ingestion_pipeline_spark.operators.factors import adjust_bars

@pytest.fixture(scope="module")
def skewed_bars(spark):
    """~4000 bars; id 1 (HOT) holds half of them, ids 2..40 share the rest."""
    hot = spark.range(2000).select(
        F.expr("timestamp'2024-01-02 09:30:00' + make_interval(0,0,0,0,0,id,0)").alias(
            "datetime"
        ),
        F.lit("HOT").alias("ticker"),
        F.lit(1).cast("long").alias("id"),
        (100.0 + F.col("id") % 17).alias("close"),
        F.lit(10.0).alias("volume"),
    )
    cold = spark.range(2000).select(
        F.expr("timestamp'2024-01-02 09:30:00' + make_interval(0,0,0,0,0,id,0)").alias(
            "datetime"
        ),
        F.concat(F.lit("C"), (F.col("id") % 39).cast("string")).alias("ticker"),
        (2 + F.col("id") % 39).cast("long").alias("id"),
        (50.0 + F.col("id") % 13).alias("close"),
        F.lit(5.0).alias("volume"),
    )
    return hot.unionByName(cold).localCheckpoint()


def test_adjust_bars_correct_under_hot_key(spark, skewed_bars):
    """End-to-end adjust on the skewed fixture: the hot ticker's split
    applies exactly as on a balanced corpus, and with no dividends the
    TR columns equal the split-adjusted ones (the split-only use)."""
    tickers = ["HOT"] + [f"C{i}" for i in range(39)]
    sm = spark.createDataFrame(
        [(t, f"FIGI_{t}", dt.datetime(2023, 1, 1), None) for t in tickers],
        "ticker string, composite_figi string, effective_start timestamp, "
        "effective_end timestamp",
    )
    splits = spark.createDataFrame(
        [("HOT", "FIGI_HOT", dt.datetime(2024, 1, 3), 1.0, 2.0)],
        "ticker string, composite_figi string, execution_date timestamp, "
        "split_from double, split_to double",
    )
    dividends = spark.createDataFrame(
        [],
        "ticker string, composite_figi string, ex_date timestamp, cash_amount double",
    )
    out = adjust_bars(
        skewed_bars.drop("id"),
        sm,
        splits,
        dividends,
        materialize="close",
    ).collect()
    hot = [r for r in out if r["ticker"] == "HOT"]
    cold = [r for r in out if r["ticker"] != "HOT"]
    assert len(hot) == 2000 and len(cold) == 2000
    cut = dt.datetime(2024, 1, 3)
    assert any(r["datetime"] < cut for r in hot)
    assert any(r["datetime"] >= cut for r in hot)
    for r in hot:
        want = r["close"] / 2.0 if r["datetime"] < cut else r["close"]
        assert r["close_split"] == pytest.approx(want, rel=1e-12), r
    for r in cold[:100]:
        assert r["close_split"] == pytest.approx(r["close"], rel=1e-12)
    for r in out:
        assert r["tr_price_factor"] == 1.0 and r["close_tr"] == r["close_split"], r
