"""``read_lake`` and ``load_series`` build their filter, projection and
join as parameterized SQL. They must return exactly what the Column-API
code they replaced returned — same rows, column order and dtypes — for
every bound shape (date-only and timestamp ``end``, ``start`` only, no
bounds), ticker spelling (``None``, ``[]``, padded lowercase, quotes,
slashes), adjusted-lake flavour (``*_sa`` or only ``*_split``),
granularity and ``columns=``; and the ticker filter must still prune
partitions, and ``start``/``end`` become year/month(/day) partition
filters without changing a row.
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
    """The PartitionFilters of each FileScan the plan runs, spelled out
    in full (the plan string cuts a scan's metadata at
    spark.sql.maxMetadataStringLength characters, and the ticker and
    derived time filters take more). A dynamic-pruning subquery's copy
    of a scan is not another scan."""
    spark, key = df.sparkSession, "spark.sql.maxMetadataStringLength"
    old = spark.conf.get(key)
    spark.conf.set(key, "10000")
    try:
        text = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    filters, subquery = [], None  # indent of the pruning subquery being skipped
    for line in text.splitlines():
        indent = len(line) - len(line.lstrip(" :+-"))
        if subquery is not None and indent <= subquery:
            subquery = None
        if subquery is None and re.search(r"Subquery\w*Broadcast", line):
            subquery = indent
        found = re.findall(r"FileScan parquet .*?PartitionFilters: \[(.*?)\], PushedFilters", line)
        filters += found if subquery is None else []
    return filters


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


MONTH = "((year * 100) + month)"
DAY = "(((year * 10000) + (month * 100)) + day)"


@pytest.mark.parametrize(
    "tf,start,end,preds",
    [
        ("day", "2023-01-31", "2023-02-01", [f"{MONTH} >= 202301", f"{MONTH} <= 202302"]),  # month boundary
        ("day", "2022-12-31 22:00:00", "2023-01-01", [f"{MONTH} >= 202212", f"{MONTH} <= 202301"]),  # year
        ("day", None, "2023-01-31", [f"{MONTH} <= 202301"]),  # date-only end: through that day, not the next
        ("day", "2023-02-01 00:00:00", None, [f"{MONTH} >= 202302"]),
        ("minute", "2023-01-31", "2023-01-31", [f"{DAY} >= 20230131", f"{DAY} <= 20230131"]),
        ("minute", "2022-12-31", "2023-02-01 00:00:00", [f"{DAY} >= 20221231", f"{DAY} <= 20230201"]),
    ],
)
def test_time_bounds_become_partition_filters(spark, lakes, tf, start, end, preds):
    """``start``/``end`` add year/month (and day, for a minute lake)
    predicates on the partition columns, and the rows stay exactly the
    reference's."""
    got = read_lake(spark, lakes[tf], ["BRK/A"], start, end)
    (filters,) = _partition_filters(got)
    assert sorted(p for p in re.sub(r"#\d+", "", filters).split(", ") if "year" in p and "isnotnull" not in p) == [
        f"({p})" for p in sorted(preds)
    ]
    _assert_same(got, _ref_read_lake(spark, lakes[tf], ["BRK/A"], start, end))
    load = load_series(spark, lakes[tf], lakes[f"{tf}_sa"], tf, ["BRK/A"], start, end)
    assert all(f"({p})" in re.sub(r"#\d+", "", f) for f in _partition_filters(load) for p in preds)
    _assert_same(load, _ref_load_series(spark, lakes[tf], lakes[f"{tf}_sa"], tf, ["BRK/A"], start, end))


def test_time_partition_filters_use_the_utc_date_in_any_session_zone(spark, lakes):
    """The lake's partition keys are UTC calendar fields. In a New York
    session the bar at 2023-02-01 00:00 UTC (month=2) is on January 31,
    so a date-only end of 2023-01-31 must keep month 2."""
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        for tf in ("day", "minute"):
            got = read_lake(spark, lakes[tf], ["aaa"], "2023-01-31", "2023-01-31")
            want = _ref_read_lake(spark, lakes[tf], ["aaa"], "2023-01-31", "2023-01-31")
            _assert_same(got, want)
            assert got.filter("month = 2").count() > 0
    finally:
        spark.conf.set(key, old)
