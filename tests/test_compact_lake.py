"""Lake compaction: fragmented partitions collapse to one sorted file,
data is bit-identical, and single-file partitions (every partition a
lake writer leaves) are left alone, so a second run rewrites nothing."""

from __future__ import annotations

import datetime as dt
import functools
import glob
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polygon_io_data_ingestion_pipeline_spark.sources.lake import (
    compact_lake,
    read_lake,
    write_lake,
)
from tests.conftest import assert_laid_out, file_snapshot

T0 = dt.datetime(2024, 1, 2, 10, 0, 0)


def _bars(spark, ticker, year, month, n, base_minute=0):
    rows = [
        (
            ticker,
            T0.replace(year=year, month=month) + dt.timedelta(minutes=base_minute + i),
            100.0 + i,
            year,
            month,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "ticker string, datetime timestamp, close double, year int, month int"
    )


def test_compact_lake_merges_fragments_and_preserves_data(spark, tmp_path):
    lake = str(tmp_path / "lake")
    # healthy partition: one write -> one file
    write_lake(_bars(spark, "AAA", 2024, 1, 50), lake, mode="overwrite")
    # fragmented partition: five appends -> five files
    for i in range(5):
        write_lake(_bars(spark, "BBB", 2024, 2, 20, base_minute=i * 20), lake, mode="append")

    def files(t, y, m):
        return sorted(
            glob.glob(os.path.join(lake, f"ticker={t}", f"year={y}", f"month={m}", "*.parquet"))
        )

    assert len(files("BBB", 2024, 2)) == 5
    before = read_lake(spark, lake).orderBy("ticker", "datetime").collect()
    aaa_mtime = {f: os.path.getmtime(f) for f in files("AAA", 2024, 1)}

    stats = compact_lake(spark, lake)
    assert stats["partitions_compacted"] >= 1

    # fragmented partition collapsed; data identical; ordering preserved
    assert len(files("BBB", 2024, 2)) == 1
    after = read_lake(spark, lake).orderBy("ticker", "datetime").collect()
    assert after == before
    # in-file ordering contract: rows come back sorted within the file
    bbb = spark.read.parquet(os.path.join(lake, "ticker=BBB")).collect()
    ts = [r["datetime"] for r in bbb]
    assert ts == sorted(ts)

    # a second compaction rewrites nothing: every partition is one file
    assert compact_lake(spark, lake)["partitions_compacted"] == 0
    final = read_lake(spark, lake).orderBy("ticker", "datetime").collect()
    assert final == before
    assert len(files("BBB", 2024, 2)) == 1
    assert aaa_mtime and {f: os.path.getmtime(f) for f in files("AAA", 2024, 1)} == aaa_mtime


def test_write_lake_in_file_ordering_with_multi_partition_tasks(spark, tmp_path):
    """The writer's in-file datetime ordering must survive a task
    holding multiple output partitions: partition keys lead the
    sortWithinPartitions so FileFormatWriter doesn't inject its own
    non-stable sort over the partition columns (latent until round 5)."""
    import random

    lake = str(tmp_path / "lake")
    rng = random.Random(3)
    rows = []
    for t in ("AAA", "BBB", "CCC", "DDD"):
        for m in (1, 2, 3):
            minutes = list(range(30))
            rng.shuffle(minutes)  # arrive unsorted
            rows += [
                (t, T0.replace(month=m) + dt.timedelta(minutes=i), float(i), 2024, m)
                for i in minutes
            ]
    rng.shuffle(rows)
    df = spark.createDataFrame(
        rows, "ticker string, datetime timestamp, close double, year int, month int"
    ).repartition(2)  # few tasks, many partitions -> multi-partition tasks
    write_lake(df, lake, mode="overwrite")
    for t in ("AAA", "BBB", "CCC", "DDD"):
        for m in (1, 2, 3):
            part = spark.read.parquet(
                os.path.join(lake, f"ticker={t}", "year=2024", f"month={m}")
            ).collect()
            ts = [r["datetime"] for r in part]
            assert ts == sorted(ts), (t, m)


def test_compact_lake_compacts_a_null_partition(spark, tmp_path):
    """A null partition value (``ticker=__HIVE_DEFAULT_PARTITION__``)
    reads back as NULL and an escaped one (``ticker=BRK%2FA``) lists as
    its directory name; fragmented partitions of both are rewritten, and
    the single-file partitions (one of them escaped) keep their files."""
    lake = str(tmp_path / "lake")
    write_lake(_bars(spark, "AAA", 2024, 3, 5), lake)  # a typed partition: ticker infers as string
    write_lake(_bars(spark, "BRK/B", 2024, 3, 5), lake, mode="append")
    for i in range(3):
        write_lake(_bars(spark, None, 2024, 3, 5, base_minute=i * 5), lake, mode="append")
        write_lake(_bars(spark, "BRK/A", 2024, 3, 5, base_minute=i * 5), lake, mode="append")
    null_dir = os.path.join(lake, "ticker=__HIVE_DEFAULT_PARTITION__", "year=2024", "month=3")
    escaped_dir = os.path.join(lake, "ticker=BRK%2FA", "year=2024", "month=3")
    assert len(glob.glob(os.path.join(null_dir, "*.parquet"))) == 3
    assert len(glob.glob(os.path.join(escaped_dir, "*.parquet"))) == 3
    before = read_lake(spark, lake).orderBy("ticker", "datetime").collect()
    single = {t: file_snapshot(os.path.join(lake, t)) for t in ("ticker=AAA", "ticker=BRK%2FB")}

    stats = compact_lake(spark, lake)
    assert stats == {"partitions_compacted": 2, "files_before": 8}
    assert {t: file_snapshot(os.path.join(lake, t)) for t in single} == single
    assert len(glob.glob(os.path.join(null_dir, "*.parquet"))) == 1
    assert len(glob.glob(os.path.join(escaped_dir, "*.parquet"))) == 1
    assert read_lake(spark, lake).orderBy("ticker", "datetime").collect() == before


def test_compact_lake_keeps_columns_of_newer_files(spark, tmp_path):
    """The fragmented partition's newer file carries ``vwap``; the
    lake's first footer does not. Compaction keeps ``vwap``."""
    lake = str(tmp_path / "lake")
    write_lake(_bars(spark, "AAA", 2024, 1, 3), lake)
    write_lake(_bars(spark, "BBB", 2024, 2, 3), lake, mode="append")
    write_lake(_bars(spark, "BBB", 2024, 2, 3, base_minute=3).withColumn("vwap", F.col("close") + 0.5), lake, mode="append")
    before = read_lake(spark, lake).orderBy("ticker", "datetime").collect()
    assert sum(r["vwap"] is not None for r in before) == 3

    assert compact_lake(spark, lake)["partitions_compacted"] == 1
    assert len(glob.glob(os.path.join(lake, "ticker=BBB", "year=2024", "month=2", "*.parquet"))) == 1
    assert read_lake(spark, lake).orderBy("ticker", "datetime").collect() == before


def test_compact_lake_keeps_a_numeric_looking_ticker(spark, tmp_path):
    """A lake whose only ticker is ``007`` infers it as an integer; the
    compaction reads it with the bar layout's types, so the partition
    stays ``ticker=007`` (it used to be rewritten as ``ticker=7`` beside
    the old files)."""
    lake = str(tmp_path / "lake")
    for i in range(2):
        write_lake(_bars(spark, "007", 2024, 3, 5, base_minute=i * 5), lake, mode="append")
    before = read_lake(spark, lake).orderBy("datetime").collect()

    assert compact_lake(spark, lake)["partitions_compacted"] == 1
    assert [d for d in os.listdir(lake) if "=" in d] == ["ticker=007"]
    assert len(glob.glob(os.path.join(lake, "ticker=007", "year=2024", "month=3", "*.parquet"))) == 1
    assert read_lake(spark, lake).orderBy("datetime").collect() == before


def test_compact_lake_leaves_a_fresh_lake_alone(spark, tmp_path):
    """``write_lake`` writes each partition as one sorted file, so
    compaction has nothing to do: every file keeps its name and mtime."""
    lake = str(tmp_path / "lake")
    bars = [_bars(spark, t, 2024, m, 5) for t in ("AAA", "BBB", "CCC") for m in (1, 2)]
    write_lake(functools.reduce(DataFrame.unionByName, bars).repartition(3), lake)
    before = file_snapshot(lake)

    assert compact_lake(spark, lake) == {"partitions_compacted": 0, "files_before": 6}
    assert file_snapshot(lake) == before


def test_compact_lake_compacts_exactly_the_fragmented_leaves(spark, tmp_path):
    """Appends fragment two of four partitions; compaction rewrites
    exactly those two into the lake layout and no other file."""
    lake = str(tmp_path / "lake")
    bars = [_bars(spark, t, 2024, m, 5) for t in ("AAA", "BBB") for m in (1, 2)]
    write_lake(functools.reduce(DataFrame.unionByName, bars), lake)
    write_lake(_bars(spark, "AAA", 2024, 2, 5, base_minute=5), lake, mode="append")
    write_lake(_bars(spark, "BBB", 2024, 1, 5, base_minute=5), lake, mode="append")
    fragmented = [os.path.join("ticker=AAA", "year=2024", "month=2"), os.path.join("ticker=BBB", "year=2024", "month=1")]
    healthy = {f: st for f, st in file_snapshot(lake).items() if not f.startswith(tuple(fragmented))}
    before = read_lake(spark, lake).orderBy("ticker", "datetime").collect()

    assert compact_lake(spark, lake) == {"partitions_compacted": 2, "files_before": 6}
    after = file_snapshot(lake)
    assert {f: after.get(f) for f in healthy} == healthy
    for leaf in fragmented:
        assert_laid_out(os.path.join(lake, leaf))
    assert read_lake(spark, lake).orderBy("ticker", "datetime").collect() == before
    assert compact_lake(spark, lake)["partitions_compacted"] == 0
