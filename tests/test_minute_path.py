"""End-to-end minute-path adjustment: gap-inferred splits, stream-mode
dividend factors, and the ±1-day apply-time factor fallback
(reference: legacy_scripts/factor_builder.py:755-998)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polygon_io_data_ingestion_pipeline_spark.operators.minute_path import (
    adjust_minute_bars,
    effective_day_factors,
)

D1, D2, D3, D4 = "2024-01-02", "2024-01-03", "2024-01-04", "2024-01-05"


@pytest.fixture()
def minute_bars(spark):
    # AAA: 100 -> 50 overnight between D2 and D3 (a 2:1 split NOT in the
    # declared table — must be inferred from the gap), then flat.
    # BBB: no events at all.
    rows = []
    for day, closes in [
        (D1, [100.0, 101.0]),
        (D2, [102.0, 100.0]),
        (D3, [50.0, 51.0]),
        (D4, [51.0, 52.0]),
    ]:
        for i, c in enumerate(closes):
            rows.append(("AAA", f"{day} 09:{30 + i}:00", c, 1000 + i))
    for day in (D1, D2, D3, D4):
        rows.append(("BBB", f"{day} 10:00:00", 20.0, 500))
    return spark.createDataFrame(
        rows, "ticker string, dt string, close double, volume long"
    ).select(
        "ticker",
        F.col("dt").cast("timestamp_ntz").alias("datetime"),
        "close",
        "volume",
    )


def _empty_sm(spark):
    return spark.createDataFrame(
        [],
        "ticker string, composite_figi string, "
        "effective_start timestamp_ntz, effective_end timestamp_ntz",
    )


def _splits(spark, rows):
    return spark.createDataFrame(
        rows, "ticker string, execution_date string, split_from double, split_to double"
    )


def _divs(spark, rows):
    return spark.createDataFrame(rows, "ticker string, ex_date string, cash_amount double")


def test_gap_inferred_split_adjusts_history(spark, minute_bars):
    out = adjust_minute_bars(
        minute_bars,
        _empty_sm(spark),
        _splits(spark, []),
        _divs(spark, []),
        materialize="close",
    ).toPandas().set_index(["ticker", "datetime"]).sort_index()

    aaa = out.loc["AAA"]
    # The 2:1 split lands on D3 (the gap day): history halves, D3+ is 1.0.
    for dt, spf in [
        (f"{D1} 09:30:00", 0.5),
        (f"{D2} 09:31:00", 0.5),
        (f"{D3} 09:30:00", 1.0),
        (f"{D4} 09:31:00", 1.0),
    ]:
        row = aaa.loc[dt]
        assert row["split_price_factor"] == pytest.approx(spf), dt
    assert aaa.loc[f"{D1} 09:30:00", "close_split"] == pytest.approx(50.0)
    assert aaa.loc[f"{D1} 09:30:00", "volume_split"] == pytest.approx(2000.0)
    # BBB untouched
    bbb = out.loc["BBB"]
    assert (bbb["split_price_factor"] == 1.0).all()
    assert (bbb["close_tr"] == 20.0).all()


def test_declared_split_on_next_day_moves_to_gap_day(spark, minute_bars):
    # Declared 2:1 on D4 while the price gap is D2->D3: the reconcile
    # moves the declared ratio onto the observed gap day (it would
    # otherwise double-count: once inferred at D3, once declared at D4).
    out = adjust_minute_bars(
        minute_bars,
        _empty_sm(spark),
        _splits(spark, [("AAA", D4, 1.0, 2.0)]),
        _divs(spark, []),
        materialize="close",
    ).toPandas().set_index(["ticker", "datetime"]).sort_index()
    aaa = out.loc["AAA"]
    assert aaa.loc[f"{D2} 09:30:00", "split_price_factor"] == pytest.approx(0.5)
    assert aaa.loc[f"{D3} 09:30:00", "split_price_factor"] == pytest.approx(1.0)
    assert aaa.loc[f"{D4} 09:30:00", "split_price_factor"] == pytest.approx(1.0)


def test_stream_mode_dividend_factor_uses_prior_eod_base(spark, minute_bars):
    # Dividend of 10 on D2 for AAA: prior day's EOD split-adjusted close
    # is 101*0.5 = 50.5 -> g = (50.5-10)/50.5. Normalize-to-last means
    # days >= D2 carry factor 1.0 and D1 carries G(D1)/G_last = 1/g.
    out = adjust_minute_bars(
        minute_bars,
        _empty_sm(spark),
        _splits(spark, []),
        _divs(spark, [("AAA", D2, 10.0)]),
        materialize="close",
    ).toPandas().set_index(["ticker", "datetime"]).sort_index()
    aaa = out.loc["AAA"]
    g = (50.5 - 10.0) / 50.5
    assert aaa.loc[f"{D1} 09:30:00", "tr_price_factor"] == pytest.approx(1.0 / g)
    assert aaa.loc[f"{D2} 09:30:00", "tr_price_factor"] == pytest.approx(1.0)
    assert aaa.loc[f"{D1} 09:30:00", "close_tr"] == pytest.approx(100.0 * 0.5 / g)


def test_plus_minus_one_day_fallback_for_offset_factor_calendar(spark, minute_bars):
    # Factors built externally (day lake) with every day key off by one
    # (-1 day, a tz-offset artifact): each minute day is absent from the
    # factor calendar, and the fallback must borrow day-1's factors.
    sf = spark.createDataFrame(
        [
            ("AAA", "2024-01-01", 0.5, 2.0),
            ("AAA", D1, 0.5, 2.0),
            ("AAA", D2, 1.0, 1.0),
            ("AAA", D3, 1.0, 1.0),
        ],
        "ticker string, event_day string, split_price_factor double, split_volume_factor double",
    ).withColumn("event_day", F.to_date("event_day"))
    gf = spark.createDataFrame(
        [], "ticker string, event_day date, tr_price_factor double"
    )
    out = adjust_minute_bars(
        minute_bars.filter(F.col("ticker") == "AAA"),
        _empty_sm(spark),
        _splits(spark, []),
        _divs(spark, []),
        materialize="close",
        split_factors=sf,
        div_factors=gf,
    ).toPandas().set_index("datetime").sort_index()
    # D1 minutes: no factor row for D1's key date in... (keys are D1-1
    # shifted set {01-01, D1, D2, D3}) — D1 IS present (0.5) -> direct.
    assert out.loc[f"{D1} 09:30:00", "split_price_factor"] == pytest.approx(0.5)
    # D4 minutes: key D4 absent; day-1 = D3 present but neutral; day+1
    # absent -> stays neutral.
    assert out.loc[f"{D4} 09:30:00", "split_price_factor"] == pytest.approx(1.0)


def test_fallback_borrows_nonneutral_neighbour(spark):
    # Direct check of the effective-factor table: day key 2024-01-03 is
    # absent from the factor calendar; day-1 (01-02) is non-neutral and
    # must be borrowed. Day key 01-05 is absent with a neutral day-1 and
    # a non-neutral day+1 (01-06) -> borrows day+1.
    day_keys = spark.createDataFrame(
        [("X", "2024-01-03"), ("X", "2024-01-05")], "ticker string, event_day string"
    ).withColumn("event_day", F.to_date("event_day"))
    sf = spark.createDataFrame(
        [
            ("X", "2024-01-02", 0.25, 4.0),
            ("X", "2024-01-04", 1.0, 1.0),
            ("X", "2024-01-06", 0.5, 2.0),
        ],
        "ticker string, event_day string, split_price_factor double, split_volume_factor double",
    ).withColumn("event_day", F.to_date("event_day"))
    gf = spark.createDataFrame([], "ticker string, event_day date, tr_price_factor double")
    eff = {
        r["event_day"].isoformat(): (r["split_price_factor"], r["split_volume_factor"])
        for r in effective_day_factors(day_keys, sf, gf).collect()
    }
    assert eff["2024-01-03"] == (0.25, 4.0)
    assert eff["2024-01-05"] == (0.5, 2.0)
