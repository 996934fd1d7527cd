"""Output checks. Each returns a list of failure messages, empty when the
output is right, and reads lakes with pyarrow rather than with the code
under test.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from gen import DayFlatfiles, MinuteFlatfiles, _epoch_ns

#: adjusted-lake columns the checks read (the "ohlc" materialization
#: carries split_volume_factor only as volume_split / volume)
ADJUSTED_COLUMNS = ["id", "datetime", "split_price_factor", "tr_price_factor", "volume", "volume_split"]


def read_lake(path: str, columns: list[str]) -> pd.DataFrame:
    """Lake rows as pandas, partition columns included; ``datetime`` as
    int64 epoch ns so keys compare exactly."""
    df = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns).to_pandas()
    if "datetime" in df:
        df["datetime"] = epoch_ns(df["datetime"])
    return df


def epoch_ns(ts: pd.Series) -> pd.Series:
    """Timestamps (naive ones read as UTC) -> int64 epoch ns."""
    return pd.to_datetime(ts, utc=True).dt.as_unit("ns").astype("int64")


def lake_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def lake_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in lake_files(path))


def _keys(df: pd.DataFrame) -> pd.MultiIndex:
    return pd.MultiIndex.from_arrays([df["ticker"].astype(str), df["datetime"].astype("int64")])


def _key_failures(what: str, got: pd.MultiIndex, want: pd.MultiIndex) -> list[str]:
    out = []
    if got.has_duplicates:
        out.append(f"{what}: {int(got.duplicated().sum())} duplicated (ticker, datetime) keys")
    missing, extra = want.difference(got), got.difference(want)
    if len(missing) or len(extra):
        out.append(f"{what}: {len(missing)} keys missing, {len(extra)} unexpected")
    return out


def _mismatch(got: pd.Series, want: pd.Series) -> int:
    """Rows whose value differs beyond a float32 rounding of the input."""
    g, w = got.to_numpy(dtype="float64"), want.to_numpy(dtype="float64")
    return int((~np.isclose(g, w, rtol=1e-6, atol=0.0)).sum())


def check_day_lake(lake: pd.DataFrame, exp: DayFlatfiles) -> list[str]:
    """The unadjusted lake holds exactly the generated bars and closes."""
    want = pd.DataFrame(
        [(t, _epoch_ns(d), c) for (t, d), c in exp.closes.items()],
        columns=["ticker", "datetime", "close"],
    )
    out = [] if len(lake) == exp.bars else [f"lake rows {len(lake)} != generated bars {exp.bars}"]
    out += _key_failures("lake", _keys(lake), _keys(want))
    if not out:
        got = lake.set_index(_keys(lake))["close"].reindex(_keys(want))
        if n := _mismatch(got, want["close"]):
            out.append(f"lake: {n} closes differ from the flat files")
    return out


def check_adjusted(adj: pd.DataFrame, exp: DayFlatfiles) -> list[str]:
    """Row count, ``split_price_factor * split_volume_factor == 1`` and
    every factor 1.0 on each id's last bar."""
    out = [] if len(adj) == exp.bars else [f"adjusted rows {len(adj)} != generated bars {exp.bars}"]
    adj = adj.assign(split_volume_factor=adj["volume_split"] / adj["volume"])
    prod = adj["split_price_factor"] * adj["split_volume_factor"]
    if n := int((~np.isclose(prod, 1.0, rtol=0, atol=1e-9)).sum()):
        out.append(f"adjusted: {n} rows with split_price_factor * split_volume_factor != 1")
    last = adj.loc[adj.groupby("id")["datetime"].idxmax()]
    for f in ("split_price_factor", "split_volume_factor", "tr_price_factor"):
        if n := int((~np.isclose(last[f], 1.0, rtol=0, atol=1e-9)).sum()):
            out.append(f"adjusted: {f} != 1 on the last bar of {n} ids")
    return out


def check_sorted_files(path: str) -> list[str]:
    """``datetime`` ascends within every parquet file of the lake."""
    bad = [
        f for f in lake_files(path)
        if not pd.Index(pq.read_table(f, columns=["datetime"]).column(0).to_pandas()).is_monotonic_increasing
    ]
    return [f"{len(bad)} lake files not sorted by datetime"] if bad else []


def check_load(pdf: pd.DataFrame, want: set[tuple[str, int]]) -> list[str]:
    """A ``load_series`` result has exactly the expected (ticker, day)
    rows, each with its adjusted columns joined."""
    got = pd.MultiIndex.from_arrays([
        pdf["ticker"].astype(str),
        epoch_ns(pdf["datetime"]),
    ])
    out = _key_failures("load", got, pd.MultiIndex.from_tuples(sorted(want)))
    if n := int(pdf[["close_sa", "close_tr"]].isna().any(axis=1).sum()):
        out.append(f"load: {n} rows without adjusted columns")
    return out


def check_minute_lake(lake: pd.DataFrame, exp: MinuteFlatfiles) -> list[str]:
    """One row per (ticker, datetime), and each holds the values of the
    key's last delivery: corrections win, the replay changes nothing."""
    want = pd.DataFrame(
        [(t, ns, c, v) for (t, ns), (c, v) in exp.final.items()],
        columns=["ticker", "datetime", "close", "volume"],
    )
    out = _key_failures("minute lake", _keys(lake), _keys(want))
    if not out:
        got = lake.set_index(_keys(lake)).reindex(_keys(want))
        n = _mismatch(got["close"], want["close"]) + int(
            (got["volume"].to_numpy() != want["volume"].to_numpy()).sum()
        )
        if n:
            out.append(f"minute lake: {n} values differ from the last delivery")
    return out
