"""Corporate-action engine vs an in-process pandas oracle.

The fixture encodes every edge case from FIXTURES.md F3-F6: a split on
a non-trading day (forward snap), two splits aligning to the same day
(ratios multiply), a split after the last bar (dropped), dividends on
the first bar day (no prior close -> factor 1), two dividends on one
day (amounts sum), split+dividend on the same day (TR base is the
split-adjusted prior close), an SCD entity change mid-sample, a ticker
missing from the security master (NOFIGI fallback), and FIGI-keyed vs
ticker-keyed events (event-id fallback). Split rows with a
non-positive ratio are ignored (a documented deviation from the
reference, which turns them into inf, zero or NaN factors).
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from polygon_io_data_ingestion_pipeline_spark.operators.factors import adjust_bars, day_calendar
from polygon_io_data_ingestion_pipeline_spark.sources.lake import write_lake

D = lambda s: dt.datetime.fromisoformat(s)

TRADING_DAYS = [
    "2024-01-02", "2024-01-03", "2024-01-04", "2024-01-05",
    "2024-01-08", "2024-01-09", "2024-01-10", "2024-01-11", "2024-01-12",
]


def _fixture_frames():
    rows = []
    for t_i, tick in enumerate(["AAA", "BBB", "CCC"]):
        for d_i, day in enumerate(TRADING_DAYS):
            px = 100.0 + 10 * t_i + d_i + 0.25
            rows.append(
                dict(
                    datetime=D(day + "T16:00:00"),
                    ticker=tick,
                    open=px - 1.0,
                    high=px + 2.0,
                    low=px - 2.0,
                    close=px,
                    volume=1000 + 13 * d_i + t_i,
                )
            )
    bars = pd.DataFrame(rows)

    sm = pd.DataFrame(
        [
            dict(ticker="AAA", composite_figi="FIGI_AAA",
                 effective_start=D("2023-01-01T00:00:00"), effective_end=None),
            dict(ticker="BBB", composite_figi="FIGI_B1",
                 effective_start=D("2023-01-01T00:00:00"), effective_end=D("2024-01-07T00:00:00")),
            dict(ticker="BBB", composite_figi="FIGI_B2",
                 effective_start=D("2024-01-08T00:00:00"), effective_end=None),
            # CCC intentionally absent -> NOFIGI__CCC
        ]
    )

    splits = pd.DataFrame(
        [
            # non-trading day (Sat) -> snaps forward to 2024-01-08; two
            # events on the same anchor -> ratios multiply
            dict(ticker="AAA", composite_figi="FIGI_AAA",
                 execution_date=D("2024-01-06T00:00:00"), split_from=1.0, split_to=2.0),
            dict(ticker="AAA", composite_figi="FIGI_AAA",
                 execution_date=D("2024-01-06T00:00:00"), split_from=2.0, split_to=3.0),
            dict(ticker="AAA", composite_figi="FIGI_AAA",
                 execution_date=D("2024-01-10T00:00:00"), split_from=2.0, split_to=3.0),
            # after the last bar -> dropped
            dict(ticker="AAA", composite_figi="FIGI_AAA",
                 execution_date=D("2024-02-01T00:00:00"), split_from=1.0, split_to=10.0),
            # ticker-keyed (null FIGI) -> reaches both BBB entities via fallback
            dict(ticker="BBB", composite_figi=None,
                 execution_date=D("2024-01-09T00:00:00"), split_from=1.0, split_to=2.0),
        ]
    )

    dividends = pd.DataFrame(
        [
            # ex-date on first bar day: no prior close -> g stays 1.0
            dict(ticker="BBB", composite_figi=None, ex_date=D("2024-01-02T00:00:00"), cash_amount=0.40),
            # same day as BBB's split: base must be split-adjusted prior close
            dict(ticker="BBB", composite_figi=None, ex_date=D("2024-01-09T00:00:00"), cash_amount=0.30),
            dict(ticker="BBB", composite_figi=None, ex_date=D("2024-01-09T00:00:00"), cash_amount=0.20),
            dict(ticker="AAA", composite_figi="FIGI_AAA", ex_date=D("2024-01-11T00:00:00"), cash_amount=1.00),
        ]
    )
    return bars, sm, splits, dividends


# ---------------------------------------------------------------------------
# Independent pandas oracle (merge_asof + cumprod formulation)
# ---------------------------------------------------------------------------


def _oracle_adjust(bars, sm, splits, divs):
    px = bars.copy()
    px["event_day"] = px["datetime"].dt.normalize()

    sm2 = sm.copy()
    m = px.merge(sm2, on="ticker", how="left")
    ok = (m["event_day"] >= m["effective_start"]) & (
        m["effective_end"].isna() | (m["event_day"] <= m["effective_end"])
    )
    m = m[ok | m["effective_start"].isna()]
    m = m.sort_values(["ticker", "datetime", "effective_start"]).drop_duplicates(
        ["ticker", "datetime"], keep="last"
    )
    m["id"] = m["composite_figi"].where(m["composite_figi"].notna(), "NOFIGI__" + m["ticker"])

    sp = splits.copy()
    sp["ratio"] = sp["split_to"] / sp["split_from"]
    sp["event_id"] = sp["composite_figi"].where(sp["composite_figi"].notna(), "NOFIGI__" + sp["ticker"])
    dv = divs.rename(columns={"cash_amount": "amount"}).copy()
    dv["event_id"] = dv["composite_figi"].where(dv["composite_figi"].notna(), "NOFIGI__" + dv["ticker"])

    out = []
    for gid, g in m.sort_values("datetime").groupby("id"):
        g = g.copy()
        days = pd.DataFrame({"event_day": np.sort(g["event_day"].unique())})
        tick = g["ticker"].iloc[0]

        ev = sp[sp["event_id"] == gid][["execution_date", "ratio"]]
        if ev.empty:
            ev = sp[sp["ticker"] == tick][["execution_date", "ratio"]]
        ev = ev.sort_values("execution_date")
        if ev.empty:
            g["split_price_factor"] = 1.0
        else:
            right = days.rename(columns={"event_day": "k"})
            right["snapped"] = right["k"]
            al = pd.merge_asof(
                ev.rename(columns={"execution_date": "k"}),
                right,
                on="k", direction="forward", allow_exact_matches=True,
            ).dropna(subset=["snapped"])
            per = al.groupby("snapped")["ratio"].prod()
            r = days["event_day"].map(per).fillna(1.0)
            Fc = r.cumprod()
            fac = pd.Series((Fc / Fc.iloc[-1]).values, index=days["event_day"])
            g["split_price_factor"] = g["event_day"].map(fac)
        g["split_volume_factor"] = 1.0 / g["split_price_factor"]
        g["close_split"] = g["close"] * g["split_price_factor"]
        g["volume_split"] = g["volume"] * g["split_volume_factor"]
        for c in ("open", "high", "low"):
            g[f"{c}_split"] = g[c] * g["split_price_factor"]

        cal = g[["event_day", "close_split"]].drop_duplicates("event_day").sort_values("event_day")
        cal["prior_base"] = cal["close_split"].shift(1)
        evd = dv[dv["event_id"] == gid][["ex_date", "amount"]]
        if evd.empty:
            evd = dv[dv["ticker"] == tick][["ex_date", "amount"]]
        evd = evd.sort_values("ex_date")
        if evd.empty:
            g["tr_price_factor"] = 1.0
        else:
            right = cal[["event_day"]].rename(columns={"event_day": "k"})
            right["snapped"] = right["k"]
            al = pd.merge_asof(
                evd.rename(columns={"ex_date": "k"}),
                right,
                on="k", direction="forward", allow_exact_matches=True,
            ).dropna(subset=["snapped"])
            per = al.groupby("snapped")["amount"].sum()
            cal["amount"] = cal["event_day"].map(per)
            gg = pd.Series(1.0, index=cal.index)
            ok2 = cal["amount"].notna() & cal["prior_base"].notna() & (cal["prior_base"] > 0)
            gg[ok2] = (cal["prior_base"][ok2] - cal["amount"][ok2]) / cal["prior_base"][ok2]
            G = gg.cumprod()
            fac = pd.Series((G / G.iloc[-1]).values, index=cal["event_day"])
            g["tr_price_factor"] = g["event_day"].map(fac)
        g["close_tr"] = g["close_split"] * g["tr_price_factor"]

        # batch renormalization: last close_tr == last close_split
        last_tr, last_base = g["close_tr"].iloc[-1], g["close_split"].iloc[-1]
        renorm = last_tr / last_base if last_base and last_tr == last_tr else 1.0
        if renorm and renorm == renorm:
            g["tr_price_factor"] = g["tr_price_factor"] / renorm
        g["close_tr"] = g["close_split"] * g["tr_price_factor"]
        for c in ("open", "high", "low"):
            g[f"{c}_tr"] = g[f"{c}_split"] * g["tr_price_factor"]
        out.append(g)
    return pd.concat(out).sort_values(["id", "datetime"]).reset_index(drop=True)


def _adjust(spark, bars, sm, splits, divs):
    got = adjust_bars(*(spark.createDataFrame(f) for f in (bars, sm, splits, divs)))
    return got.toPandas().sort_values(["id", "datetime"]).reset_index(drop=True)


@pytest.fixture(scope="module")
def adjusted(spark):
    frames = _fixture_frames()
    return _adjust(spark, *frames), _oracle_adjust(*frames)


def test_matches_pandas_oracle(adjusted):
    got, want = adjusted
    assert len(got) == len(want), (len(got), len(want))
    assert list(got["id"]) == list(want["id"])
    for col in [
        "close_split", "volume_split", "close_tr", "split_price_factor", "tr_price_factor",
        "open_split", "high_split", "low_split", "open_tr", "high_tr", "low_tr",
    ]:
        np.testing.assert_allclose(
            got[col].to_numpy(), want[col].to_numpy(), rtol=1e-9, err_msg=col
        )


def test_invariants(adjusted):
    got, _ = adjusted
    # factor product identity
    spf = got["split_price_factor"].to_numpy()
    svf = (got["volume_split"] / got["volume"]).to_numpy()
    np.testing.assert_allclose(spf * svf, 1.0, rtol=1e-12)
    # factors are exactly 1.0 on each id's final bar
    last = got.sort_values("datetime").groupby("id").tail(1)
    assert (last["split_price_factor"] == 1.0).all()
    # piecewise-constant split ratio: close/close_split jumps only at splits
    for gid, g in got.groupby("id"):
        ratio = (g.sort_values("datetime")["close"] / g.sort_values("datetime")["close_split"])
        jumps = (ratio.round(9).diff().abs() > 1e-6).sum()
        # FIGI_B2 gets BBB's 2024-01-09 split via the ticker fallback
        expected = {"FIGI_AAA": 2, "FIGI_B1": 0, "FIGI_B2": 1, "NOFIGI__CCC": 0}[gid]
        assert jumps == expected, (gid, jumps)
    # TR == SA daily returns except on dividend days
    for gid, g in got.groupby("id"):
        g = g.sort_values("datetime")
        sa = g["close_split"].pct_change().to_numpy()[1:]
        tr = g["close_tr"].pct_change().to_numpy()[1:]
        n_diff = int((~np.isclose(sa, tr, rtol=1e-9)).sum())
        expected = {"FIGI_AAA": 1, "FIGI_B1": 0, "FIGI_B2": 1, "NOFIGI__CCC": 0}[gid]
        assert n_diff == expected, (gid, n_diff)


def test_scd_entity_split(adjusted):
    got, _ = adjusted
    ids = set(got["id"])
    assert ids == {"FIGI_AAA", "FIGI_B1", "FIGI_B2", "NOFIGI__CCC"}
    # BBB changes entity on 2024-01-08
    b1 = got[got["id"] == "FIGI_B1"]["datetime"].max()
    b2 = got[got["id"] == "FIGI_B2"]["datetime"].min()
    assert b1 < b2


def test_non_positive_split_rows_are_ignored(spark, adjusted):
    clean, _ = adjusted
    bars, sm, splits, divs = _fixture_frames()
    day = D("2024-01-04T00:00:00")
    bad = pd.DataFrame(
        [
            # split_from = 0: an unguarded ANSI divide raises DIVIDE_BY_ZERO
            dict(ticker="AAA", composite_figi="FIGI_AAA", execution_date=day,
                 split_from=0.0, split_to=2.0),
            # split_to = 0: ratio 0 would zero the cumprod's last value
            dict(ticker="CCC", composite_figi=None, execution_date=day,
                 split_from=1.0, split_to=0.0),
            # FIGI_B2's only FIGI-keyed row: must not block the ticker fallback
            dict(ticker="BBB", composite_figi="FIGI_B2", execution_date=day,
                 split_from=0.0, split_to=1.0),
        ]
    )
    got = _adjust(spark, bars, sm, pd.concat([splits, bad], ignore_index=True), divs)
    pd.testing.assert_frame_equal(got, clean)

    # a given ratio column: ratio <= 0 is ignored the same way
    ratios = splits.assign(ratio=splits["split_to"] / splits["split_from"]).drop(
        columns=["split_from", "split_to"]
    )
    bad = pd.DataFrame(
        [
            dict(ticker="AAA", composite_figi="FIGI_AAA", execution_date=day, ratio=0.0),
            dict(ticker="CCC", composite_figi=None, execution_date=day, ratio=-2.0),
        ]
    )
    got = _adjust(spark, bars, sm, pd.concat([ratios, bad], ignore_index=True), divs)
    pd.testing.assert_frame_equal(got, clean)


def test_calendar_full_bar_pass_is_hash_shaped(spark):
    # The one full-bar pass (day_calendar level 1) must be a
    # partial-combining HashAggregate; the unavoidable first(ticker)
    # SortAggregate may only appear ABOVE it (calendar-sized, after the
    # level-1 exchange), never directly over the bar scan.
    px = (
        spark.createDataFrame(_fixture_frames()[0])
        .withColumn("id", F.concat(F.lit("NOFIGI__"), "ticker"))
        .withColumn("event_day", F.to_date("datetime"))
        .localCheckpoint()
    )
    lines = day_calendar(px)._jdf.queryExecution().executedPlan().toString().splitlines()
    assert any(
        "HashAggregate" in l and "partial_max_by" in l for l in lines
    ), "\n".join(lines)
    for i, l in enumerate(lines):
        if "SortAggregate" in l and "partial_first" in l:
            below = lines[i + 1 :]
            hash_i = next(
                j for j, x in enumerate(below) if "HashAggregate" in x
            )
            scan_i = next(j for j, x in enumerate(below) if "Scan" in x)
            assert hash_i < scan_i, "\n".join(lines)


def test_adjust_leaves_no_cache_entry(spark, tmp_path):
    # The day-calendar pin lives and dies with the adjusted frame: no
    # CacheManager entry outlives writing it in a long-lived session.
    bars, sm, splits, divs = (spark.createDataFrame(f) for f in _fixture_frames())
    spark.catalog.clearCache()
    out = adjust_bars(bars, sm, splits, divs)
    write_lake(
        out.withColumn("year", F.year("datetime")).withColumn("month", F.month("datetime")),
        str(tmp_path / "adjusted"),
    )
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
