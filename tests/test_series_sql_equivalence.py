"""``read_lake`` and ``load_series`` build their filter, projection and
join as parameterized SQL. They must return exactly what the Column-API
code they replaced returned — same rows, column order and dtypes — for
every bound shape (date-only and timestamp ``end``, ``start`` only, no
bounds), ticker spelling (``None``, ``[]``, padded lowercase, quotes,
slashes), adjusted-lake flavour (``*_sa`` or only ``*_split``),
granularity and ``columns=``; and the ticker filter must still prune
partitions.
"""

from __future__ import annotations

import datetime as dt
import functools
import operator
import re

import pytest
from pyspark.sql import functions as F

from polygon_io_data_ingestion_pipeline_spark.sources.lake import read_lake, write_lake
from polygon_io_data_ingestion_pipeline_spark.sources.series import load_series

TICKERS = ["AAA", "BRK.A", "O'NEIL", "BRK/A"]
# around a month end: the date-only end 2023-01-31 keeps 20:00 and drops Feb 1 00:00
STAMPS = [
    dt.datetime(2023, 1, 3, 14, 30),
    dt.datetime(2023, 1, 17, 0, 0),
    dt.datetime(2023, 1, 31, 20, 0),
    dt.datetime(2023, 2, 1, 0, 0),
    dt.datetime(2023, 2, 14, 15, 30),
]
BOUNDS = [
    (None, None),
    ("2023-01-17", None),
    ("2023-01-03", "2023-01-31"),
    ("2023-01-03", "2023-01-31 20:00:00"),
]
TICKER_ARGS = [None, [], [" brk.a "], ["O'NEIL", "aaa"], ["BRK/A"]]
SPLIT_TO_SA = {f"{c}_split": f"{c}_sa" for c in ("open", "high", "low", "close", "volume")}
SA_TO_SPLIT = {sa: split for split, sa in SPLIT_TO_SA.items()}
BASE_COLS = ("datetime", "ticker", "open", "high", "low", "close", "volume", "vwap")
ADJ_COLS = ("open_sa", "high_sa", "low_sa", "close_sa", "vwap_sa", "volume_sa", "close_tr")


# -- the Column-API code the SQL statements replaced, kept as the reference --


def _ref_read_lake(spark, path, tickers=None, start=None, end=None, columns=None):
    df = spark.read.option("mergeSchema", True).parquet(path)
    preds = []
    if tickers is not None:
        preds.append(F.col("ticker").isin(sorted({t.strip().upper() for t in tickers})))
    if start is not None:
        preds.append(F.col("datetime") >= F.to_timestamp(F.lit(start)))
    if end is not None:
        bound = F.to_timestamp(F.lit(end))
        if len(str(end)) <= 10:
            bound = bound + F.expr("INTERVAL 1 DAY") - F.expr("INTERVAL 1 MICROSECOND")
        preds.append(F.col("datetime") <= bound)
    if preds:
        df = df.filter(functools.reduce(operator.and_, preds))
    if columns is not None:
        df = df.select(*[c for c in columns if c in df.columns])
    return df


def _ref_join_series(un, ad, tf):
    have = set(ad.columns)
    adj = []
    for c in ADJ_COLS:
        if c in have:
            adj.append(F.col(c))
        elif SA_TO_SPLIT.get(c) in have:
            adj.append(F.col(SA_TO_SPLIT[c]).alias(c))
    base = [c for c in BASE_COLS if c in un.columns]
    if tf == "day":
        left = un.select(*base, F.to_date("datetime").alias("__d"))
        right = ad.select(F.to_date("datetime").alias("__d"), F.col("ticker").alias("__t"), *adj)
        cond = (left["__d"] == right["__d"]) & (left["ticker"] == right["__t"])
        return left.join(right, cond, "left").drop("__d", "__t")
    left = un.select(*base)
    right = ad.select(F.col("datetime").alias("__dt"), F.col("ticker").alias("__t"), *adj)
    cond = (left["datetime"] == right["__dt"]) & (left["ticker"] == right["__t"])
    return left.join(right, cond, "left").drop("__dt", "__t")


def _ref_load_series(spark, un, adj, tf, tickers=None, start=None, end=None):
    return _ref_join_series(
        _ref_read_lake(spark, un, tickers, start, end), _ref_read_lake(spark, adj, tickers, start, end), tf
    )


# -- fixtures --


def _bars(spark, minute: bool):
    stamps = [s + dt.timedelta(minutes=m) for s in STAMPS for m in range(2)] if minute else STAMPS
    rows = [
        (t, s, 10.0 + i, 11.0 + i, 9.0 + i, 10.5 + i, 100 + i, 10.2 + i)
        for t in TICKERS for i, s in enumerate(stamps)
    ]
    df = spark.createDataFrame(
        rows,
        "ticker string, datetime timestamp, open double, high double, low double, close double, "
        "volume long, vwap double",
    )
    df = df.withColumn("year", F.year("datetime")).withColumn("month", F.month("datetime"))
    return df.withColumn("day", F.dayofmonth("datetime")) if minute else df


def _adjusted(bars, split_only: bool):
    # the 2023-01-17 bars have no adjusted row: the left join keeps them with nulls
    bars = bars.filter(F.to_date("datetime") != F.lit("2023-01-17").cast("date"))
    if split_only:
        cols = [F.col(c[: -len("_split")]).alias(c) for c in SPLIT_TO_SA]
    else:
        cols = [F.col(c[: -len("_sa")]).alias(c) for c in ADJ_COLS if c.endswith("_sa")]
    keys = [c for c in ("year", "month", "day") if c in bars.columns]
    # adjusted day bars carry an intraday stamp of their own: day joins match on the date
    stamp = F.col("datetime") if "day" in keys else F.col("datetime") + F.expr("INTERVAL 1 HOUR")
    return bars.select("ticker", stamp.alias("datetime"), *keys, *cols, (F.col("close") * 0.5).alias("close_tr"))


@pytest.fixture(scope="module")
def lakes(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("series_sql")
    out = {}
    for tf in ("day", "minute"):
        bars = _bars(spark, minute=tf == "minute")
        out[tf] = str(root / f"{tf}_un")
        write_lake(bars, out[tf], tf=tf)
        for flavour in ("sa", "split"):
            out[f"{tf}_{flavour}"] = str(root / f"{tf}_{flavour}")
            write_lake(_adjusted(bars, split_only=flavour == "split"), out[f"{tf}_{flavour}"], tf=tf)
    return out


def _assert_same(got, want):
    assert got.columns == want.columns
    assert got.dtypes == want.dtypes
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))


@pytest.mark.parametrize("tickers", TICKER_ARGS, ids=repr)
def test_read_lake_matches_column_api(spark, lakes, tickers):
    for start, end in BOUNDS:
        _assert_same(read_lake(spark, lakes["day"], tickers, start, end),
                     _ref_read_lake(spark, lakes["day"], tickers, start, end))


@pytest.mark.parametrize("columns", [["close", "nope", "ticker"], ["datetime", "datetime"], ["nope"]])
def test_read_lake_columns_match_column_api(spark, lakes, columns):
    for tickers, start, end in [(None, None, None), (["aaa"], "2023-01-03", "2023-01-31")]:
        _assert_same(read_lake(spark, lakes["day"], tickers, start, end, columns=columns),
                     _ref_read_lake(spark, lakes["day"], tickers, start, end, columns=columns))


@pytest.mark.parametrize(
    "tickers,bounds",
    [(t, BOUNDS[2]) for t in TICKER_ARGS] + [(["aaa"], b) for b in BOUNDS if b != BOUNDS[2]],
    ids=repr,
)
def test_day_load_series_matches_column_api(spark, lakes, tickers, bounds):
    args = (spark, lakes["day"], lakes["day_sa"], "day", tickers, *bounds)
    _assert_same(load_series(*args), _ref_load_series(*args))


@pytest.mark.parametrize("tf", ["day", "minute"])
def test_split_only_and_minute_loads_match_column_api(spark, lakes, tf):
    got_rows = 0
    for flavour in ("sa", "split"):
        for tickers, (start, end) in [(None, BOUNDS[0]), (["o'neil", "BRK/A"], BOUNDS[2]), ([" brk.a "], BOUNDS[3])]:
            args = (spark, lakes[tf], lakes[f"{tf}_{flavour}"], tf, tickers, start, end)
            got, want = load_series(*args), _ref_load_series(*args)
            _assert_same(got, want)
            got_rows += got.filter(F.col("close_sa").isNotNull()).count()
    assert got_rows > 0  # the joins did match adjusted rows


def _partition_filters(df) -> list[str]:
    text = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"FileScan parquet .*?PartitionFilters: \[(.*?)\], PushedFilters", text)


def test_ticker_filter_still_prunes_partitions(spark, lakes):
    day = lakes["day"]
    for df, scans in [
        (read_lake(spark, day, tickers=["o'neil"], start="2023-01-03"), 1),
        (load_series(spark, day, lakes["day_sa"], "day", tickers=["o'neil"], end="2023-01-31"), 2),
    ]:
        filters = _partition_filters(df)
        assert len(filters) == scans, filters
        assert all("ticker" in f and "O'NEIL" in f for f in filters), filters
        assert {r["ticker"] for r in df.collect()} == {"O'NEIL"}
