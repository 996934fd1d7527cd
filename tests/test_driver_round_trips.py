"""py4j round-trip budgets of the Spark driver's per-call hot paths.

Every py4j call is a socket round trip, and under PySpark 4's origin
tracking a ``F.*``/Column call costs several. Building a
``load_series`` plan and a sink micro-batch must therefore cost a
bounded number of round trips — in particular not one per lake file
(iterating ``DataFrame.inputFiles()`` from Python is one per file) or
per column.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import threading

from py4j.java_gateway import GatewayClient
from pyspark.sql import functions as F

from polygon_io_data_ingestion_pipeline_spark.sources.lake import write_lake
from polygon_io_data_ingestion_pipeline_spark.sources.series import load_series
from polygon_io_data_ingestion_pipeline_spark.streaming.ingest_stream import write_ingest_batch

LOAD_BUDGET = 35
SINK_BUDGET = 350
BAR_COLS = ("open", "high", "low", "close", "volume", "vwap")


@contextlib.contextmanager
def _round_trips(monkeypatch):
    """Yield a one-item list holding the number of py4j commands this
    thread sends inside the block (py4j's finalizer thread, which
    releases garbage-collected JVM references, is not counted)."""
    me, count = threading.get_ident(), [0]
    send = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        if threading.get_ident() == me:
            count[0] += 1
        return send(self, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(GatewayClient, "send_command", counting)
        yield count


def _day_bars(spark, tickers):
    rows = [
        (t, dt.datetime(2023, m, d, 5), 100.0 + d, 101.0 + d, 99.0 + d, 100.5 + d, 1000 + d, 100.2 + d, 2023, m)
        for t in tickers for m in (1, 2, 3) for d in (3, 10, 17)
    ]
    return spark.createDataFrame(
        rows,
        "ticker string, datetime timestamp, open double, high double, low double, close double, "
        "volume long, vwap double, year int, month int",
    )


def _write_lakes(spark, un, adj, tickers, mode):
    bars = _day_bars(spark, tickers)
    write_lake(bars, un, mode=mode)
    sa = [F.col(c).alias(f"{c}_sa") for c in BAR_COLS]
    write_lake(bars.select("ticker", "datetime", "year", "month", *sa, F.col("close").alias("close_tr")),
               adj, mode=mode)


def _load_round_trips(spark, monkeypatch, un, adj) -> int:
    def load():
        return load_series(spark, un, adj, "day", tickers=["AAA"], start="2023-01-01", end="2023-01-31")

    load()  # a changed lake re-merges its schema first; count the cached read
    with _round_trips(monkeypatch) as n:
        df = load()
    assert df.count() == 3
    return n[0]


def test_load_series_plan_build_is_constant_in_files(spark, tmp_path, monkeypatch):
    un, adj = str(tmp_path / "un"), str(tmp_path / "adj")
    _write_lakes(spark, un, adj, ["AAA", "BBB", "CCC", "DDD"], "overwrite")  # 12 files a lake
    before = _load_round_trips(spark, monkeypatch, un, adj)
    assert before <= LOAD_BUDGET

    _write_lakes(spark, un, adj, ["EEE", "FFF", "GGG", "HHH"], "append")  # 24 files a lake
    assert _load_round_trips(spark, monkeypatch, un, adj) == before


def test_new_partition_sink_batch_budget(spark, tmp_path, monkeypatch):
    lake = str(tmp_path / "lake")
    tickers = ["AAPL", "MSFT", "BRK/A", "NVDA"]

    def batch(day):
        rows = [(t, dt.datetime(2024, 1, day, 14, m), 10.0 + m, 100 + m) for t in tickers for m in range(3)]
        df = spark.createDataFrame(rows, "ticker string, datetime timestamp, close double, volume long")
        return (df.withColumn("year", F.year("datetime")).withColumn("month", F.month("datetime"))
                .withColumn("day", F.dayofmonth("datetime")))

    write_ingest_batch(batch(2), 0, lake, tf="minute")
    new_day = batch(3)
    with _round_trips(monkeypatch) as n:
        write_ingest_batch(new_day, 1, lake, tf="minute")
    assert n[0] <= SINK_BUDGET
    assert spark.read.parquet(lake).count() == 24
