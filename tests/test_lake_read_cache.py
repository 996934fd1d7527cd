"""read_lake's merged-schema cache: a read of an unchanged lake reuses
the schema merged by an earlier read and starts no Spark job, returns
exactly what a fresh mergeSchema read returns, and every change to the
lake's file set (Spark writes, maintenance ops, out-of-band files,
in-place rewrites) or to a schema-shaping conf re-merges."""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from polygon_io_data_ingestion_pipeline_spark.sources.lake import (
    delete_from_lake,
    merge_into_lake,
    read_lake,
    write_lake,
)
from tests.conftest import spark_jobs

T0 = dt.datetime(2024, 1, 2, 10, 0, 0)
PARTS = ["ticker", "year", "month"]


def _bars(spark, ticker, month, n, vwap=True, close0=100.0):
    rows = [
        (ticker, T0.replace(month=month) + dt.timedelta(days=i), close0 + i, close0 + i + 0.5, 2024, month)
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "ticker string, datetime timestamp, close double, vwap double, year int, month int"
    )
    return df if vwap else df.drop("vwap")


@pytest.fixture()
def lake(spark, tmp_path):
    """Two tickers, two months; the BBB/2 partition's file has no vwap."""
    path = str(tmp_path / "lake")
    write_lake(_bars(spark, "AAA", 1, 3).unionByName(_bars(spark, "AAA", 2, 3))
               .unionByName(_bars(spark, "BBB", 1, 3)), path)
    write_lake(_bars(spark, "BBB", 2, 3, vwap=False), path, mode="append")
    return path


def _rows(df):
    return [tuple(r) for r in df.orderBy("ticker", "datetime").collect()]


def _partition_file(path, ticker, month):
    (f,) = glob.glob(os.path.join(path, f"ticker={ticker}", "year=2024", f"month={month}", "*.parquet"))
    return f


def _stage_file(spark, tmp_path, df):
    """Write ``df``'s data columns as one parquet file outside the lake;
    returns its path."""
    stage = str(tmp_path / "stage")
    df.drop(*PARTS).coalesce(1).write.parquet(stage)
    (f,) = glob.glob(os.path.join(stage, "*.parquet"))
    return f


def test_mixed_schema_lake_reads_the_union(spark, lake):
    for _ in range(2):  # the merging read, then the cached one
        df = read_lake(spark, lake)
        assert set(df.columns) == {"datetime", "close", "vwap", *PARTS}
        rows = df.filter("ticker = 'BBB' AND month = 2").select("vwap").collect()
        assert len(rows) == 3 and all(r["vwap"] is None for r in rows)
        assert df.filter(F.col("vwap").isNotNull()).count() == 9


def test_cached_read_equals_merge_schema_read(spark, lake):
    read_lake(spark, lake)
    cached = read_lake(spark, lake)
    fresh = spark.read.option("mergeSchema", True).parquet(lake)
    assert cached.schema == fresh.schema
    assert cached.schema.json() == fresh.schema.json()
    assert _rows(cached) == _rows(fresh)
    # the pruned shape too: one filter, date-only end inclusive through that day
    pruned = _rows(read_lake(spark, lake, tickers=["aaa"], start="2024-01-03", end="2024-02-03"))
    assert pruned == _rows(fresh.filter(
        "ticker = 'AAA' AND datetime >= '2024-01-03' AND datetime < '2024-02-04'"))
    assert len(pruned) == 4


def test_hit_starts_no_spark_job(spark, lake):
    _, miss_jobs = spark_jobs(spark, lambda: read_lake(spark, lake))
    assert miss_jobs, "the first read merges footers in a Spark job"
    df, hit_jobs = spark_jobs(spark, lambda: read_lake(spark, lake, tickers=["AAA"], start="2024-01-01"))
    assert hit_jobs == []
    assert df.count() == 6


def _assert_remerged(spark, path, check):
    """The next read re-merges and passes ``check``; the read after it hits."""
    df, jobs = spark_jobs(spark, lambda: read_lake(spark, path))
    assert jobs, "a changed file set must re-merge the schema"
    check(df)
    again, jobs = spark_jobs(spark, lambda: read_lake(spark, path))
    assert jobs == [] and again.schema == df.schema


def test_write_lake_overwrite_misses(spark, lake):
    read_lake(spark, lake)
    write_lake(_bars(spark, "AAA", 1, 5, close0=200.0).withColumn("transactions", F.lit(7)), lake)

    def check(df):
        assert "transactions" in df.columns
        aaa1 = df.filter("ticker = 'AAA' AND month = 1")
        assert aaa1.count() == 5 and aaa1.agg(F.min("close")).first()[0] == 200.0

    _assert_remerged(spark, lake, check)


def test_merge_into_lake_misses(spark, lake):
    cols = read_lake(spark, lake).columns
    # keyed on datetime: March dates are new to the lake, so both rows insert
    stats = merge_into_lake(spark, lake, _bars(spark, "CCC", 3, 2).select(*cols), "datetime")
    assert stats["rows_inserted"] == 2

    def check(df):
        assert df.filter("ticker = 'CCC'").count() == 2
        assert df.count() == 14

    _assert_remerged(spark, lake, check)


def test_delete_emptying_a_partition_misses(spark, lake):
    read_lake(spark, lake)
    keys = spark.createDataFrame([("BBB",)], "ticker string")
    assert delete_from_lake(spark, lake, keys, "ticker") == 6

    def check(df):
        assert df.filter("ticker = 'BBB'").count() == 0
        assert df.count() == 6

    _assert_remerged(spark, lake, check)


def test_out_of_band_file_with_extra_column_misses(spark, lake, tmp_path):
    read_lake(spark, lake)
    staged = _stage_file(spark, tmp_path, _bars(spark, "AAA", 1, 2, close0=300.0)
                         .withColumn("exchange", F.lit("XNAS")))
    shutil.move(staged, os.path.join(lake, "ticker=AAA", "year=2024", "month=1", "part-oob.parquet"))

    def check(df):
        assert "exchange" in df.columns
        assert df.filter(F.col("exchange") == "XNAS").count() == 2
        assert df.count() == 14

    _assert_remerged(spark, lake, check)


def test_same_name_in_place_rewrite_adding_a_column_misses(spark, lake, tmp_path):
    read_lake(spark, lake)
    target = _partition_file(lake, "AAA", 2)
    staged = _stage_file(spark, tmp_path, _bars(spark, "AAA", 2, 3).withColumn("exchange", F.lit("XNYS")))
    os.replace(staged, target)  # same file name, new content
    # a non-Hadoop writer leaves no checksum; the stale one would fail the read
    os.remove(os.path.join(os.path.dirname(target), f".{os.path.basename(target)}.crc"))

    def check(df):
        assert "exchange" in df.columns
        assert df.filter(F.col("exchange") == "XNYS").count() == 3
        assert df.count() == 12

    _assert_remerged(spark, lake, check)


def test_partition_type_inference_conf_is_part_of_the_key(spark, lake):
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    assert dict(read_lake(spark, lake).dtypes)["year"] == "int"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        assert dict(read_lake(spark, lake).dtypes)["year"] == "string"
    finally:
        spark.conf.set(key, old)
    assert dict(read_lake(spark, lake).dtypes)["year"] == "int"
