"""Tests for the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import gzip

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import checks
import gen


@pytest.fixture(scope="module")
def day():
    return gen.day_flatfiles(7, 30)


@pytest.fixture(scope="module")
def minute():
    return gen.minute_flatfiles(7, 3, 12, bars_per_day=5)


def test_same_seed_gives_byte_identical_inputs(day, minute):
    assert gen.day_flatfiles(7, 30).files == day.files
    again = gen.minute_flatfiles(7, 3, 12, bars_per_day=5)
    assert [(d.name, d.data) for d in again.drops] == [(d.name, d.data) for d in minute.drops]
    assert gen.day_flatfiles(8, 30).files != day.files


def test_day_files_cover_both_layouts_epochs_and_lowercase(day):
    assert len(day.files) == len(gen.trading_days()) == 250
    assert day.layouts[gen.LONG_HEADER] > day.layouts[gen.SHORT_HEADER] > 0
    rows = [gzip.decompress(b).decode().splitlines() for b in day.files.values()]
    short = next(r for r in rows if r[0] == gen.SHORT_HEADER)
    long_ = next(r for r in rows if r[0] == gen.LONG_HEADER)
    assert len(short[1].split(",")[1]) == 13  # ms epoch
    assert len(long_[1].split(",")[6]) == 19  # ns epoch
    names = {ln.split(",")[0] for ln in long_[1:]}
    assert any(n.islower() for n in names) and {n.upper() for n in names} == set(day.tickers)
    assert day.bars == 30 * 250


def test_minute_drops_redeliver_and_replay(minute):
    kinds = [d.kind for d in minute.drops]
    assert kinds.count("replay") == 1
    assert [i for i, k in enumerate(kinds) if k == "correction"] == [4, 9]
    replay = next(d for d in minute.drops if d.kind == "replay")
    latest = [d for d in minute.drops[: minute.drops.index(replay)] if d.day == replay.day][-1]
    assert replay.data == latest.data and replay.name != latest.name
    new_days = {d.day for d in minute.drops if d.kind == "new"}
    assert len(minute.final) == len(new_days) * 3 * 5


# -- the output checks pass on the right output and fail on corrupted ones --


def _day_lake(day) -> pd.DataFrame:
    return pd.DataFrame(
        [(t, gen._epoch_ns(d), c) for (t, d), c in day.closes.items()],
        columns=["ticker", "datetime", "close"],
    )


def _adjusted(day) -> pd.DataFrame:
    df = _day_lake(day).rename(columns={"ticker": "id"})
    df["volume"] = 100
    df["split_price_factor"] = 0.5
    df["volume_split"] = 200.0
    df["tr_price_factor"] = 0.9
    last = df.groupby("id")["datetime"].idxmax()
    df.loc[last, ["split_price_factor", "tr_price_factor", "volume_split"]] = [1.0, 1.0, 100.0]
    return df


def test_day_lake_check(day):
    lake = _day_lake(day)
    assert checks.check_day_lake(lake, day) == []
    assert checks.check_day_lake(lake.drop(index=5), day)
    assert checks.check_day_lake(pd.concat([lake, lake.iloc[[3]]]), day)
    bad = lake.copy()
    bad.loc[7, "close"] += 0.01
    assert checks.check_day_lake(bad, day)


def test_adjusted_check(day):
    adj = _adjusted(day)
    assert checks.check_adjusted(adj, day) == []
    flipped = adj.copy()
    last = flipped.groupby("id")["datetime"].idxmax().iloc[0]
    flipped.loc[last, "tr_price_factor"] = 0.9
    assert checks.check_adjusted(flipped, day)
    unbalanced = adj.copy()
    unbalanced.loc[0, "split_price_factor"] = 0.25
    assert checks.check_adjusted(unbalanced, day)
    assert checks.check_adjusted(adj.drop(index=0), day)


def test_load_check(day):
    t = day.tickers[0]
    want = {(t, gen._epoch_ns(d)) for d in day.days if d.month == 3}
    pdf = pd.DataFrame({
        "ticker": t,
        "datetime": pd.to_datetime(sorted(ns for _, ns in want), utc=True).tz_localize(None),
        "close_sa": 1.0,
        "close_tr": 1.0,
    })
    assert checks.check_load(pdf, want) == []
    assert checks.check_load(pdf.iloc[1:], want)
    assert checks.check_load(pd.concat([pdf, pdf.iloc[[0]]]), want)
    unjoined = pdf.copy()
    unjoined.loc[2, "close_tr"] = None
    assert checks.check_load(unjoined, want)


def test_minute_lake_check(minute):
    lake = pd.DataFrame(
        [(t, ns, c, v) for (t, ns), (c, v) in minute.final.items()],
        columns=["ticker", "datetime", "close", "volume"],
    )
    assert checks.check_minute_lake(lake, minute) == []
    assert checks.check_minute_lake(lake.drop(index=0), minute)
    assert checks.check_minute_lake(pd.concat([lake, lake.iloc[[1]]]), minute)
    stale = lake.copy()
    stale.loc[2, "volume"] += 1  # an uncorrected value
    assert checks.check_minute_lake(stale, minute)


def test_sorted_files_check(tmp_path):
    part = tmp_path / "ticker=AAA" / "year=2023" / "month=1"
    part.mkdir(parents=True)
    ts = pd.to_datetime(["2023-01-03", "2023-01-04", "2023-01-05"])
    pq.write_table(pa.table({"datetime": ts}), part / "a.parquet")
    assert checks.check_sorted_files(str(tmp_path)) == []
    pq.write_table(pa.table({"datetime": ts[::-1]}), part / "b.parquet")
    assert checks.check_sorted_files(str(tmp_path))
