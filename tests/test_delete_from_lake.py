"""Takedown deletion: targeted keys disappear, everything else survives
byte-for-byte, and untouched partitions are NOT rewritten. A partition
left empty loses its files, also under an escaped value; the survivors
keep every column their files carry and are written in the lake's one
layout; a key column only newer files carry resolves; the delete starts
a bounded number of Spark jobs."""

from __future__ import annotations

import datetime as dt
import glob
import os

import pytest
from pyspark.sql import functions as F

from polygon_io_data_ingestion_pipeline_spark.sources import table
from polygon_io_data_ingestion_pipeline_spark.sources.lake import delete_from_lake, read_lake, write_lake
from tests.conftest import assert_laid_out, file_snapshot, spark_jobs


def test_delete_rewrites_only_touched_partitions(spark, tmp_path):
    docs = table(spark, "/root/testdata/sf0.01", "documents")
    lake = str(tmp_path / "corpus")
    docs.write.partitionBy("source").parquet(lake)
    before = file_snapshot(lake)

    # Delete three documents from src0/src1 (takedown request).
    victims = (
        docs.filter(F.col("source").isin("src0", "src1"))
        .select("doc_id")
        .limit(3)
    )
    victim_ids = {r["doc_id"] for r in victims.collect()}
    keys = spark.createDataFrame([(i,) for i in victim_ids], "doc_id long")

    n = delete_from_lake(spark, lake, keys, "doc_id")
    assert n == 3

    # (column order shifts on read: partition col appends last)
    after_df = spark.read.parquet(lake).select(*docs.columns)
    assert after_df.filter(F.col("doc_id").isin(*victim_ids)).count() == 0
    # Survivors identical to the original minus the victims.
    want = docs.filter(~F.col("doc_id").isin(*victim_ids))
    assert after_df.exceptAll(want).count() == 0 and want.exceptAll(after_df).count() == 0

    # Partitions not holding a victim keep their files untouched.
    touched_parts = {
        r["source"]
        for r in docs.filter(F.col("doc_id").isin(*victim_ids)).select("source").distinct().collect()
    }
    after = file_snapshot(lake)
    untouched = {f: st for f, st in before.items() if f.split(os.sep)[0].removeprefix("source=") not in touched_parts}
    assert any(f.endswith(".parquet") for f in untouched)
    for f, st in untouched.items():
        assert after.get(f) == st, f"untouched partition rewritten: {f}"


def test_delete_emptying_a_partition_removes_its_files(spark, tmp_path, sf_dir):
    """The operator must remove an emptied partition's files itself or a
    full-partition takedown silently leaves the data on disk. Escaped
    values too: the file paths Spark reports are URL-encoded
    (``source=BRK%252FA`` for the directory ``source=BRK%2FA``), and a
    delete of the encoded path silently missed the directory."""
    docs = table(spark, sf_dir, "documents").withColumn(
        "source",
        F.when(F.col("source") == "src2", "BRK/A").when(F.col("source") == "src3", "a b").otherwise(F.col("source")),
    )
    lake = str(tmp_path / "corpus")
    docs.write.partitionBy("source").parquet(lake)
    emptied = ["source=src0", "source=BRK%2FA", "source=a b"]
    assert all(glob.glob(os.path.join(lake, d, "*.parquet")) for d in emptied)

    # Take down EVERY document of src0, BRK/A and "a b" plus some of src1.
    victims = docs.filter(
        F.col("source").isin("src0", "BRK/A", "a b")
        | ((F.col("source") == "src1") & (F.col("doc_id") % 7 == 0))
    ).select("doc_id")
    n_victims = victims.count()
    keys = spark.createDataFrame([(r["doc_id"],) for r in victims.collect()], "doc_id long")

    assert delete_from_lake(spark, lake, keys, "doc_id") == n_victims

    # The emptied partitions' files are gone from disk, not just unread.
    for d in emptied:
        assert not glob.glob(os.path.join(lake, d, "*.parquet")), d
    after_df = spark.read.parquet(lake).select(*docs.columns)
    assert after_df.filter(F.col("source") == "src0").count() == 0
    want = docs.join(keys, "doc_id", "left_anti")
    assert after_df.exceptAll(want).count() == 0 and want.exceptAll(after_df).count() == 0


def test_delete_emptying_a_ticker_removes_its_directories(spark, tmp_path):
    """A leaf left empty is deleted with the directories above it that
    this empties (``ticker=X/year=Y/``, ``ticker=X/``), escaped names
    too; a directory still holding another partition stays, and so does
    the lake root."""
    lake = str(tmp_path / "lake")
    bars = _bars(spark, "AAPL", 1, range(2)).unionByName(_bars(spark, "BRK/A", 1, range(2)))
    write_lake(bars.unionByName(_bars(spark, "MSFT", 1, range(2))).unionByName(_bars(spark, "MSFT", 2, range(2))), lake)
    keys = spark.createDataFrame([("AAPL",), ("BRK/A",)], "ticker string")
    assert delete_from_lake(spark, lake, keys, "ticker") == 4
    assert sorted(d for d in os.listdir(lake) if d.startswith("ticker=")) == ["ticker=MSFT"]
    assert delete_from_lake(spark, lake, spark.createDataFrame([(100.0,), (101.0,)], "close double"), "close") == 4
    assert [d for d in os.listdir(lake) if "=" in d] == []


def test_delete_missing_keys_is_noop(spark, tmp_path):
    docs = table(spark, "/root/testdata/sf0.001", "documents")
    lake = str(tmp_path / "corpus")
    docs.write.partitionBy("source").parquet(lake)
    before = file_snapshot(lake)
    keys = spark.createDataFrame([(10**9,)], "doc_id long")
    assert delete_from_lake(spark, lake, keys, "doc_id") == 0
    assert file_snapshot(lake) == before  # zero rewrites


def test_delete_reaches_null_partition(spark, tmp_path):
    """A takedown key living in a NULL partition (written as
    __HIVE_DEFAULT_PARTITION__) must still be deleted — plain ``==`` in
    the partition filter never matches NULL and silently skipped it
    (round-5 ADVICE defect); eqNullSafe fixes it."""
    lake = str(tmp_path / "corpus")
    rows = [(1, "a", "src0"), (2, "b", None), (3, "c", None), (4, "d", "src1")]
    spark.createDataFrame(rows, "doc_id long, text string, source string").write.partitionBy(
        "source"
    ).parquet(lake)
    assert any("__HIVE_DEFAULT_PARTITION__" in p for p in glob.glob(f"{lake}/*"))

    keys = spark.createDataFrame([(2,)], "doc_id long")
    n = delete_from_lake(spark, lake, keys, "doc_id")
    assert n == 1
    after = spark.read.parquet(lake)
    assert after.filter(F.col("doc_id") == 2).count() == 0
    # the other null-partition row survives, as do the non-null partitions
    assert after.filter(F.col("doc_id") == 3).count() == 1
    assert after.count() == 3


T0 = dt.datetime(2024, 1, 2, 10, 0, 0)


def _bars(spark, ticker, month, minutes, vwap=False):
    df = spark.createDataFrame(
        [(ticker, T0.replace(month=month) + dt.timedelta(minutes=m), 100.0 + m, 2024, month) for m in minutes],
        "ticker string, datetime timestamp, close double, year int, month int",
    )
    return df.withColumn("vwap", F.col("close") + 0.5) if vwap else df


def test_delete_keeps_columns_of_newer_files(spark, tmp_path):
    """The touched partition's newer file carries ``vwap``; the lake's
    first footer does not. The rows that survive keep their ``vwap``."""
    lake = str(tmp_path / "lake")
    write_lake(_bars(spark, "AAA", 1, range(3)), lake)
    write_lake(_bars(spark, "BBB", 2, range(3)), lake, mode="append")
    write_lake(_bars(spark, "BBB", 2, range(3, 6), vwap=True), lake, mode="append")
    keys = spark.createDataFrame([(T0.replace(month=2),)], "datetime timestamp")

    assert delete_from_lake(spark, lake, keys, "datetime") == 1
    got = read_lake(spark, lake).filter("ticker = 'BBB'").orderBy("datetime").collect()
    assert [(r["close"], r["vwap"]) for r in got] == [
        (101.0, None), (102.0, None), (103.0, 103.5), (104.0, 104.5), (105.0, 105.5),
    ]


def test_delete_writes_the_touched_leaf_in_the_lake_layout(spark, tmp_path):
    """The survivors of a touched partition are one zstd file sorted by
    ``datetime``, as ``write_lake`` writes it."""
    lake = str(tmp_path / "lake")
    write_lake(_bars(spark, "AAA", 1, range(8)).unionByName(_bars(spark, "BBB", 1, range(3))).repartition(3), lake)
    keys = spark.createDataFrame([(T0.replace(month=1) + dt.timedelta(minutes=1),)], "datetime timestamp")

    assert delete_from_lake(spark, lake, keys, "datetime") == 2
    for ticker in ("AAA", "BBB"):
        assert_laid_out(os.path.join(lake, f"ticker={ticker}", "year=2024", "month=1"))


def test_delete_keys_on_a_column_only_newer_files_carry(spark, tmp_path):
    """``doc_id`` is in the files of ``ticker=BBB`` only. The delete reads
    the lake as ``read_lake`` does (every footer merged), so the key
    resolves; a one-footer read used to fail with UNRESOLVED_COLUMN."""
    lake = str(tmp_path / "lake")
    write_lake(_bars(spark, "AAA", 1, range(3)), lake)
    write_lake(_bars(spark, "BBB", 2, range(3)).withColumn("doc_id", F.col("close").cast("long")), lake, mode="append")
    assert "doc_id" in read_lake(spark, lake).columns

    assert delete_from_lake(spark, lake, spark.createDataFrame([(101,)], "doc_id long"), "doc_id") == 1
    got = read_lake(spark, lake).orderBy("ticker", "datetime").collect()
    assert [(r["ticker"], r["close"], r["doc_id"]) for r in got] == [
        ("AAA", 100.0, None), ("AAA", 101.0, None), ("AAA", 102.0, None), ("BBB", 100.0, 100), ("BBB", 102.0, 102),
    ]


def test_delete_starts_at_most_10_jobs(spark, tmp_path, sf_dir):
    """Counted by job group: one footer read for the lake's partition
    columns, one aggregate finding the touched leaves, one footer merge
    over them and one write (the parent path started 16)."""
    docs = table(spark, sf_dir, "documents")
    lake = str(tmp_path / "corpus")
    docs.write.partitionBy("source").parquet(lake)
    ids = [r["doc_id"] for r in docs.filter(F.col("source").isin("src0", "src1")).select("doc_id").limit(3).collect()]
    keys = spark.createDataFrame([(i,) for i in ids], "doc_id long")

    n, jobs = spark_jobs(spark, lambda: delete_from_lake(spark, lake, keys, "doc_id"))
    assert n == 3
    assert len(jobs) <= 10, len(jobs)


def test_delete_keeps_numeric_looking_partition_names(spark, tmp_path):
    """Every ``source`` looks numeric, so the lake infers it as an
    integer; the rewrite reads the partition columns as strings and
    writes ``source=007`` back as ``source=007``, not ``source=7``."""
    lake = str(tmp_path / "corpus")
    rows = [(1, "a", "007"), (2, "b", "007"), (3, "c", "010")]
    spark.createDataFrame(rows, "doc_id long, text string, source string").write.partitionBy("source").parquet(lake)
    keys = spark.createDataFrame([(1,)], "doc_id long")

    assert delete_from_lake(spark, lake, keys, "doc_id") == 1
    assert sorted(d for d in os.listdir(lake) if "=" in d) == ["source=007", "source=010"]
    assert sorted(r["doc_id"] for r in spark.read.parquet(lake).collect()) == [2, 3]


def test_delete_from_unpartitioned_lake_raises_before_writing(spark, tmp_path):
    lake = str(tmp_path / "flat")
    spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string").write.parquet(lake)
    before = file_snapshot(lake)
    keys = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="not a partitioned lake"):
        delete_from_lake(spark, lake, keys, "doc_id")
    assert file_snapshot(lake) == before
