"""End-to-end ingest: CSV.GZ flat files -> partitioned lake -> pruned
read-back, including alias/shorthand headers, epoch-unit inference,
watchlist filtering, idempotent overwrite, and streaming AvailableNow.
"""

from __future__ import annotations

import glob
import gzip
import os

import pytest

from polygon_io_data_ingestion_pipeline_spark.sources.csv_bars import (
    read_bar_flatfiles,
    resolve_bar_columns,
)
from polygon_io_data_ingestion_pipeline_spark.sources.lake import (
    lake_manifest,
    read_lake,
    write_lake,
)
from polygon_io_data_ingestion_pipeline_spark.streaming import (
    stream_ingest_bars,
    write_ingest_batch,
)
from tests.conftest import spark_jobs

NS_DAY = 86_400_000_000_000
BASE_NS = 1_704_153_600_000_000_000  # 2024-01-02 00:00:00 UTC in ns


def _write_flatfiles(root: str) -> None:
    os.makedirs(f"{root}/2024/01", exist_ok=True)
    # long-form header, ns epochs
    lines = ["ticker,volume,open,close,high,low,window_start,transactions"]
    for d in range(3):
        for i, t in enumerate(["aapl", "MSFT", "NVDA"]):
            px = 100 + 10 * i + d
            lines.append(f"{t},{1000+d},{px-1},{px},{px+1},{px-2},{BASE_NS + d*NS_DAY},{10+d}")
    with gzip.open(f"{root}/2024/01/2024-01-02.csv.gz", "wt") as f:
        f.write("\n".join(lines))
    # shorthand header, ms epochs (different unit in the same lake)
    lines = ["T,t,o,h,l,c,v,n,vw"]
    base_ms = (BASE_NS // 1_000_000) + 3 * 86_400_000
    for i, t in enumerate(["AAPL", "MSFT"]):
        px = 103 + 10 * i
        lines.append(f"{t},{base_ms},{px-1},{px+1},{px-2},{px},{2000},{40},{px+0.5}")
    with gzip.open(f"{root}/2024/01/2024-01-05.csv.gz", "wt") as f:
        f.write("\n".join(lines))


def test_resolve_candidates():
    ts, tick, ren = resolve_bar_columns(["T", "t", "o", "h", "l", "c", "v", "n", "vw"])
    assert (ts, tick) == ("t", "T")
    assert ren == {"o": "open", "h": "high", "l": "low", "c": "close",
                   "v": "volume", "n": "transactions", "vw": "vwap"}
    with pytest.raises(ValueError):
        resolve_bar_columns(["ticker", "open", "close"])  # no ts candidate


def test_batch_ingest_roundtrip(spark, tmp_path):
    src, lake = str(tmp_path / "src"), str(tmp_path / "lake")
    _write_flatfiles(src)

    bars = read_bar_flatfiles(spark, f"{src}/*/*/*.csv.gz", tf="day", watchlist=["aapl", "msft"])
    write_lake(bars, lake, tf="day")

    # watchlist filter dropped NVDA; case folded
    back = read_lake(spark, lake)
    assert set(r["ticker"] for r in back.select("ticker").distinct().collect()) == {"AAPL", "MSFT"}
    # both epoch units landed on the same calendar
    days = sorted(
        r["d"] for r in back.selectExpr("to_date(datetime) AS d").distinct().collect()
    )
    assert str(days[0]) == "2024-01-02" and str(days[-1]) == "2024-01-05"
    # partition layout is ticker=/year=/month=
    assert glob.glob(f"{lake}/ticker=AAPL/year=2024/month=1/*.parquet")

    # pruned read: ticker + date range push down to partitions
    one = read_lake(spark, lake, tickers=["AAPL"], start="2024-01-03", end="2024-01-04")
    rows = one.select("ticker", "close").collect()
    assert {r["ticker"] for r in rows} == {"AAPL"} and len(rows) == 2
    # date-only end bound is inclusive through end of day
    incl = read_lake(spark, lake, tickers=["MSFT"], start="2024-01-05", end="2024-01-05")
    assert incl.count() == 1

    # idempotent re-ingest: same input overwrites same partitions
    n_before = back.count()
    write_lake(bars, lake, tf="day")
    assert read_lake(spark, lake).count() == n_before

    mani = lake_manifest(spark, lake).collect()
    assert sum(r["rows"] for r in mani) == n_before
    assert all(r["start"] <= r["end"] for r in mani)


def test_missing_path_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        read_bar_flatfiles(spark, f"{tmp_path}/nowhere/*.csv.gz")


def test_streaming_available_now(spark, tmp_path):
    src, lake, ckpt = str(tmp_path / "s"), str(tmp_path / "l"), str(tmp_path / "c")
    _write_flatfiles(src)
    # file-source streams require one header layout per glob: target the
    # long-form file only (2024-01-02); the shorthand file is batch work
    q = stream_ingest_bars(spark, f"{src}/*/*/2024-01-02.csv.gz", lake, ckpt, tf="day")
    q.awaitTermination(120)
    n1 = read_lake(spark, lake).count()
    assert n1 == 9  # 9 long-form rows

    # new file arrives -> only the delta is processed on the next drain
    import gzip as gz

    with gz.open(f"{src}/2024/01/2024-01-08.csv.gz", "wt") as f:
        f.write("ticker,volume,open,close,high,low,window_start,transactions\n")
        f.write(f"AAPL,500,99,100,101,98,{BASE_NS + 6*NS_DAY},5\n")
    q2 = stream_ingest_bars(
        spark, f"{src}/*/*/2024-01-0[28].csv.gz", lake, ckpt, tf="day"
    )
    q2.awaitTermination(120)
    # checkpoint remembers the first file: only the new one is appended
    assert read_lake(spark, lake).count() == n1 + 1


def _listing_jobs(spark, ids) -> list[int]:
    """Those of the Spark jobs ``ids`` that listed files (the parallel
    listing Spark starts above 32 paths)."""
    status = spark.sparkContext._jsc.sc().statusStore()
    return [i for i in ids if "Listing leaf files" in str(status.job(i).description())]


def test_stream_polls_its_folder_without_listing_jobs(spark, tmp_path):
    """A glob wild only in its last component streams its folder through
    pathGlobFilter: starting the stream (its schema is probed from one
    file's header) and polling 40 files (over Spark's 32-path parallel
    listing threshold) start no listing job, each file is ingested
    once, and neither a file the pattern does not match nor one in a
    subfolder is read."""
    src, lake, ckpt = str(tmp_path / "w"), str(tmp_path / "l"), str(tmp_path / "c")
    os.makedirs(f"{src}/sub")

    def drop(path, ticker):
        with gzip.open(path, "wt") as f:
            f.write("ticker,volume,open,close,high,low,window_start,transactions\n")
            f.write(f"{ticker},100,1,2,3,0.5,{BASE_NS},1\n")

    for i in range(40):
        drop(f"{src}/{i:02d}.csv.gz", f"T{i:02d}")
    drop(f"{src}/late.csv", "SKIP")
    drop(f"{src}/sub/00.csv.gz", "SUB")
    q, started = spark_jobs(
        spark, lambda: stream_ingest_bars(spark, f"{src}/*.csv.gz", lake, ckpt, tf="day", max_files_per_trigger=20)
    )
    q.awaitTermination(300)
    assert _listing_jobs(spark, started) == []  # the schema probe
    # the stream's own jobs: its polls and batches
    assert _listing_jobs(spark, spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))) == []
    got = [r["ticker"] for r in read_lake(spark, lake).select("ticker").collect()]
    assert sorted(got) == [f"T{i:02d}" for i in range(40)]


def _lake_rows(spark, lake):
    df = read_lake(spark, lake)
    return sorted(map(tuple, df.select(*sorted(df.columns)).collect()))


def test_stream_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a replayed batch must leave the
    lake row-identical, corrected keys must replace (not duplicate),
    and the layout must stay batch-write_lake compatible."""
    import glob as g

    from pyspark.sql import functions as F

    src, lake = str(tmp_path / "s"), str(tmp_path / "l")
    _write_flatfiles(src)
    bars = read_bar_flatfiles(spark, f"{src}/*/*/2024-01-02.csv.gz", tf="day")

    write_ingest_batch(bars, 0, lake, tf="day")
    rows0 = _lake_rows(spark, lake)
    assert len(rows0) == 9
    write_ingest_batch(bars, 0, lake, tf="day")  # simulated replay
    assert _lake_rows(spark, lake) == rows0

    # standard layout at root — no batch_id= level, so batch backfills
    # into the same root see one consistent partition scheme
    assert g.glob(f"{lake}/ticker=AAPL/year=2024/month=1/*.parquet")
    assert not g.glob(f"{lake}/batch_id=*")

    # a corrected re-delivery of an existing key REPLACES the row
    corrected = (
        bars.orderBy("ticker", "datetime").limit(1).withColumn("close", F.lit(999.0).cast("float"))
    )
    key = corrected.select("ticker", "datetime").first()
    write_ingest_batch(corrected, 1, lake, tf="day")
    after = read_lake(spark, lake)
    assert after.count() == 9
    got = after.filter(
        (F.col("ticker") == key["ticker"]) & (F.col("datetime") == key["datetime"])
    ).collect()
    assert len(got) == 1 and got[0]["close"] == 999.0
    # replaying the correction is a no-op too
    rows1 = _lake_rows(spark, lake)
    write_ingest_batch(corrected, 1, lake, tf="day")
    assert _lake_rows(spark, lake) == rows1

    # a genuinely new key appends; untouched partitions stay put
    new_key = bars.orderBy("ticker", "datetime").limit(1).withColumn(
        "datetime", F.col("datetime") + F.expr("INTERVAL 365 DAYS")
    )
    write_ingest_batch(new_key, 2, lake, tf="day")
    assert read_lake(spark, lake).count() == 10


def test_stream_then_batch_backfill_overlap(spark, tmp_path):
    """Reference T2/T3 semantics (emit_split_backfill_cmds.py:29):
    'overlaps are fine, re-runs just overwrite'. A batch write_lake
    backfill whose window overlaps partitions the stream already wrote
    must overwrite those partitions in place — and re-delivering the
    overlapping stream batch afterwards must reproduce the lake
    row-for-row (exactly-once by overwrite at partition level)."""
    from pyspark.sql import functions as F

    src, lake = str(tmp_path / "s"), str(tmp_path / "l")
    _write_flatfiles(src)
    bars = read_bar_flatfiles(spark, f"{src}/*/*/2024-01-02.csv.gz", tf="day")

    write_ingest_batch(bars, 0, lake, tf="day")

    # batch backfill into the same root, overlapping every stream row:
    # same keys, revised values (the reference's re-adjust window)
    backfill = bars.withColumn("volume", F.col("volume") + F.lit(7))
    write_lake(backfill, lake, tf="day")
    assert read_lake(spark, lake).count() == 9

    # stream re-delivers its original (stale) batch — at-least-once
    # replay after a backfill. Keyed merge keeps exactly one row per
    # bar; the replayed values win (incoming > lake), matching the
    # reference where the LAST rewrite of a partition owns it.
    write_ingest_batch(bars, 0, lake, tf="day")
    rows = _lake_rows(spark, lake)
    assert len(rows) == 9
    write_ingest_batch(bars, 0, lake, tf="day")  # and it is idempotent
    assert _lake_rows(spark, lake) == rows
