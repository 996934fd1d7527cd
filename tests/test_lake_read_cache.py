"""read_lake's relation cache: a read of an unchanged lake reuses the
merged-schema relation built by an earlier read and starts no Spark job,
returns exactly what a fresh mergeSchema read returns, and every change
to the files a read names (Spark writes, the lake's writers,
out-of-band files, in-place rewrites) or to a schema-shaping conf
rebuilds it. A read naming tickers checks only their directories: a
write to another ticker rebuilds nothing until a read names it. A
series load reuses both lakes' relations and one join per pair, and
leaves no cache entry, cached plan or temp view beyond those."""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from polygon_io_data_ingestion_pipeline_spark.sources import lake as lake_mod
from polygon_io_data_ingestion_pipeline_spark.sources import series as series_mod
from polygon_io_data_ingestion_pipeline_spark.sources.lake import (
    compact_lake,
    delete_from_lake,
    merge_into_lake,
    read_lake,
    write_lake,
)
from polygon_io_data_ingestion_pipeline_spark.sources.series import load_series
from polygon_io_data_ingestion_pipeline_spark.streaming.ingest_stream import write_ingest_batch
from tests.conftest import spark_jobs
from tests.test_series_sql_equivalence import _ref_load_series

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
    stage = os.path.join(tempfile.mkdtemp(dir=tmp_path), "stage")
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


# -- reads that name tickers: only their directories are checked --


def _entry(spark, path):
    """The session's cached relation of the lake at ``path``."""
    (lake,) = [v for (p, _), v in lake_mod._LAKES[spark].items() if p == path]
    return lake


def _fresh(spark, path, tickers=None):
    df = spark.read.option("mergeSchema", True).parquet(path)
    return df if tickers is None else df.filter(F.col("ticker").isin(tickers))


def _assert_fresh(spark, path, tickers):
    """The next read of ``tickers`` rebuilds the relation and equals a
    fresh mergeSchema read."""
    before = _entry(spark, path)
    df, jobs = spark_jobs(spark, lambda: read_lake(spark, path, tickers=[t.lower() for t in tickers]))
    assert jobs and _entry(spark, path) is not before, "a change in a named partition must rebuild"
    want = _fresh(spark, path, tickers)
    assert df.columns == want.columns and df.dtypes == want.dtypes
    assert sorted(map(repr, df.collect())) == sorted(map(repr, want.collect()))


def _add(spark, lake, tmp_path):
    staged = _stage_file(spark, tmp_path, _bars(spark, "AAA", 1, 2, close0=300.0).withColumn("exchange", F.lit("X")))
    shutil.move(staged, os.path.join(lake, "ticker=AAA", "year=2024", "month=1", "part-oob.parquet"))


def _remove(spark, lake, tmp_path):
    target = _partition_file(lake, "AAA", 2)
    os.remove(target)
    os.remove(os.path.join(os.path.dirname(target), f".{os.path.basename(target)}.crc"))


def _rename(spark, lake, tmp_path):
    target = _partition_file(lake, "AAA", 2)
    os.rename(target, os.path.join(os.path.dirname(target), "part-renamed.parquet"))
    os.remove(os.path.join(os.path.dirname(target), f".{os.path.basename(target)}.crc"))


def _rewrite_same_name(spark, lake, tmp_path):
    target = _partition_file(lake, "AAA", 2)
    os.replace(_stage_file(spark, tmp_path, _bars(spark, "AAA", 2, 3).withColumn("exchange", F.lit("Y"))), target)
    os.remove(os.path.join(os.path.dirname(target), f".{os.path.basename(target)}.crc"))


def _new_month(spark, lake, tmp_path):
    month = os.path.join(lake, "ticker=AAA", "year=2024", "month=3")
    os.makedirs(month)
    shutil.move(_stage_file(spark, tmp_path, _bars(spark, "AAA", 3, 2)), os.path.join(month, "part-new.parquet"))


@pytest.mark.parametrize("change", [_add, _remove, _rename, _rewrite_same_name, _new_month],
                         ids=lambda f: f.__name__.strip("_"))
def test_named_partition_change_rebuilds(spark, lake, tmp_path, change):
    read_lake(spark, lake, tickers=["AAA"])
    change(spark, lake, tmp_path)
    _assert_fresh(spark, lake, ["AAA"])


@pytest.fixture()
def keyed_lake(spark, tmp_path):
    """Like ``lake``, with a close price unique to each row."""
    path = str(tmp_path / "keyed")
    write_lake(_bars(spark, "AAA", 1, 3).unionByName(_bars(spark, "AAA", 2, 3, close0=110.0))
               .unionByName(_bars(spark, "BBB", 1, 3, close0=200.0)), path)
    write_lake(_bars(spark, "BBB", 2, 3, vwap=False, close0=210.0), path, mode="append")
    return path


def _sink(spark, lake):
    batch = _bars(spark, "AAA", 1, 4, close0=150.0)  # three corrections, one new bar
    write_ingest_batch(batch, 0, lake, tf="day")


def _delete(spark, lake):
    assert delete_from_lake(spark, lake, spark.createDataFrame([(101.0,)], "close double"), "close") == 1


def _merge(spark, lake):
    row = _bars(spark, "AAA", 1, 2).filter("close = 101.0").withColumn("vwap", F.lit(999.0))
    assert merge_into_lake(spark, lake, row, "close") == {"rows_updated": 1, "rows_inserted": 0}


def _compact(spark, lake):
    assert compact_lake(spark, lake)["partitions_compacted"] == 1


def _overwrite(spark, lake):
    write_lake(_bars(spark, "AAA", 1, 2, close0=400.0).withColumn("transactions", F.lit(3)), lake)


@pytest.mark.parametrize("writer", [_sink, _delete, _merge, _compact, _overwrite],
                         ids=lambda f: f.__name__.strip("_"))
def test_lake_writer_in_named_partition_rebuilds(spark, keyed_lake, writer):
    if writer is _compact:  # a second file makes AAA/1 fragmented
        write_lake(_bars(spark, "AAA", 1, 1, close0=120.0).withColumn("datetime", F.col("datetime") + F.expr(
            "INTERVAL 1 HOUR")), keyed_lake, mode="append")
    read_lake(spark, keyed_lake, tickers=["AAA"])
    writer(spark, keyed_lake)
    _assert_fresh(spark, keyed_lake, ["AAA"])


def test_write_to_another_ticker_rebuilds_only_when_named(spark, lake, tmp_path):
    read_lake(spark, lake, tickers=["AAA"])
    cached = _entry(spark, lake)
    write_lake(_bars(spark, "BBB", 3, 2, close0=500.0), lake, mode="append")  # a new BBB month
    df, jobs = spark_jobs(spark, lambda: read_lake(spark, lake, tickers=["AAA"]))
    assert jobs == [] and _entry(spark, lake) is cached
    assert _rows(df) == _rows(_fresh(spark, lake, ["AAA"]))
    _assert_fresh(spark, lake, ["AAA", "BBB"])


def test_escaped_null_and_missing_tickers(spark, tmp_path):
    path = str(tmp_path / "odd")
    df = _bars(spark, "BRK/A", 1, 2).unionByName(_bars(spark, "AAA", 1, 2, close0=200.0)).unionByName(
        _bars(spark, "AAA", 1, 1, close0=300.0).withColumn("ticker", F.lit(None).cast("string")))
    write_lake(df, path)
    assert sorted(d for d in os.listdir(path) if "=" in d) == [
        "ticker=AAA", "ticker=BRK%2FA", "ticker=__HIVE_DEFAULT_PARTITION__"]
    assert _rows(read_lake(spark, path, tickers=["brk/a"])) == _rows(_fresh(spark, path, ["BRK/A"]))
    # an out-of-band file in the escaped directory is seen
    staged = _stage_file(spark, tmp_path, _bars(spark, "BRK/A", 1, 1, close0=700.0))
    shutil.move(staged, os.path.join(path, "ticker=BRK%2FA", "year=2024", "month=1", "part-oob.parquet"))
    _assert_fresh(spark, path, ["BRK/A"])
    # a ticker with no directory reads as no rows of the lake's schema, without a rebuild
    cached = _entry(spark, path)
    none, jobs = spark_jobs(spark, lambda: read_lake(spark, path, tickers=["ZZZ"], start="2024-01-01"))
    assert jobs == [] and _entry(spark, path) is cached
    assert none.columns == _fresh(spark, path).columns and none.count() == 0
    # ... until its directory appears
    write_lake(_bars(spark, "ZZZ", 2, 2, close0=800.0), path, mode="append")
    _assert_fresh(spark, path, ["ZZZ"])
    # a change in the null partition is seen by a read of the whole lake
    nulls = os.path.join(path, "ticker=__HIVE_DEFAULT_PARTITION__", "year=2024", "month=1")
    shutil.move(_stage_file(spark, tmp_path, _bars(spark, "X", 1, 1, close0=900.0)), os.path.join(nulls, "p.parquet"))
    df, jobs = spark_jobs(spark, lambda: read_lake(spark, path))
    assert jobs and _rows(df) == _rows(_fresh(spark, path))
    assert df.filter(F.col("ticker").isNull()).count() == 2


def test_lake_not_partitioned_by_ticker_checks_every_file(spark, tmp_path):
    path = str(tmp_path / "by_month")
    _bars(spark, "AAA", 1, 3).unionByName(_bars(spark, "BBB", 2, 3, close0=200.0)) \
        .write.partitionBy("year", "month").parquet(path)
    read_lake(spark, path, tickers=["AAA"])
    staged = _stage_file(spark, tmp_path, _bars(spark, "BBB", 2, 1, close0=300.0).withColumn("exchange", F.lit("Z")))
    shutil.move(staged, os.path.join(path, "year=2024", "month=2", "part-oob.parquet"))
    df, jobs = spark_jobs(spark, lambda: read_lake(spark, path, tickers=["AAA"]))
    assert jobs, "a lake without ticker directories is checked whole"
    assert "exchange" in df.columns
    assert _rows(df) == _rows(_fresh(spark, path, ["AAA"]))


# -- series loads --


def _series_lakes(spark, tmp_path):
    un, adj = str(tmp_path / "un"), str(tmp_path / "adj")
    bars = _bars(spark, "AAA", 1, 3).unionByName(_bars(spark, "BBB", 1, 3, close0=200.0))
    write_lake(bars.withColumn("open", F.col("close")), un)
    write_lake(bars.select("ticker", "datetime", "year", "month", F.col("close").alias("close_sa"),
                           F.col("vwap").alias("close_tr")), adj)
    return un, adj


def test_load_series_sees_changes_in_named_partitions(spark, tmp_path):
    un, adj = _series_lakes(spark, tmp_path)
    args = ("day", ["aaa"], "2024-01-01", "2024-01-31")
    load_series(spark, un, adj, *args)
    (_, _, join) = series_mod._SERIES[spark][(un, adj, "day")]
    # an out-of-band unadjusted bar and an overwritten adjusted month
    staged = _stage_file(spark, tmp_path, _bars(spark, "AAA", 1, 1, close0=300.0).withColumn(
        "datetime", F.col("datetime") + F.expr("INTERVAL 5 DAYS")).withColumn("open", F.col("close")))
    shutil.move(staged, os.path.join(un, "ticker=AAA", "year=2024", "month=1", "part-oob.parquet"))
    write_lake(_bars(spark, "AAA", 1, 3, close0=50.0).select(
        "ticker", "datetime", "year", "month", F.col("close").alias("close_sa"), F.col("vwap").alias("close_tr")), adj)
    got = load_series(spark, un, adj, "day", iter(["aaa"]), *args[2:])  # tickers may be any iterable
    assert series_mod._SERIES[spark][(un, adj, "day")][2] is not join
    want = _ref_load_series(spark, un, adj, *args)
    assert got.columns == want.columns and got.dtypes == want.dtypes
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))
    assert got.count() == 4 and got.filter("close_sa = 50.0").count() == 1


def test_many_loads_hold_one_entry_per_lake_and_pair(spark, tmp_path):
    un, adj = _series_lakes(spark, tmp_path)
    spark.catalog.clearCache()
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    for i in range(200):
        df = load_series(spark, un, adj, "day", tickers=[["AAA"], ["BBB"], ["AAA", "BBB"], None][i % 4],
                         start=f"2024-01-{1 + i % 3:02d}", end=None if i % 5 else "2024-01-31")
    assert df.count() == 6  # both tickers from 2024-01-02
    assert sum(p in (un, adj) for p, _ in lake_mod._LAKES[spark]) == 2
    assert [k for k in series_mod._SERIES[spark] if k[:2] == (un, adj)] == [(un, adj, "day")]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert {t.name for t in spark.catalog.listTables() if t.isTemporary} == views
