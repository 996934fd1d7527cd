"""Keyed upsert (MERGE) into a plain-parquet lake: updated keys are
replaced wherever they live, inserts land, resident rows in touched
target partitions survive, untouched partitions are not rewritten, and
a partition whose only key moved away is removed from disk (also under
an escaped value). Rows of a touched partition keep every column their
files carry, every touched partition is written in the lake's one
layout, a key column only newer files carry resolves, the partition
columns are the lake's own, and a merge starts a bounded number of
Spark jobs."""

from __future__ import annotations

import datetime as dt
import glob
import os

import pytest
from pyspark.sql import functions as F

from polygon_io_data_ingestion_pipeline_spark.sources import table
from polygon_io_data_ingestion_pipeline_spark.sources.lake import merge_into_lake, read_lake, write_lake
from tests.conftest import assert_laid_out, file_snapshot, spark_jobs


def _docs_lake(spark, tmp_path, sf="/root/testdata/sf0.001"):
    docs = table(spark, sf, "documents")
    lake = str(tmp_path / "corpus")
    docs.write.partitionBy("source").parquet(lake)
    return docs, lake


def test_upsert_replaces_updates_and_inserts(spark, tmp_path):
    docs, lake = _docs_lake(spark, tmp_path)
    victims = [r["doc_id"] for r in docs.select("doc_id").limit(2).collect()]
    max_id = docs.agg(F.max("doc_id")).first()[0]

    # Two in-place updates (text rewritten, same partition) + one insert.
    upd = (
        docs.filter(F.col("doc_id").isin(victims))
        .withColumn("text", F.lit("REDACTED"))
        .unionByName(
            docs.limit(1)
            .withColumn("doc_id", F.lit(max_id + 1000))
            .withColumn("text", F.lit("BRAND NEW"))
        )
    )
    stats = merge_into_lake(spark, lake, upd, "doc_id")
    assert stats == {"rows_updated": 2, "rows_inserted": 1}

    after = spark.read.parquet(lake).select(*docs.columns)
    assert after.count() == docs.count() + 1
    got = {
        r["doc_id"]: r["text"]
        for r in after.filter(
            F.col("doc_id").isin(victims + [max_id + 1000])
        ).collect()
    }
    assert got[max_id + 1000] == "BRAND NEW"
    assert all(got[v] == "REDACTED" for v in victims)
    # Non-updated rows are untouched.
    want = docs.filter(~F.col("doc_id").isin(victims))
    kept = after.filter(~F.col("doc_id").isin(victims + [max_id + 1000]))
    assert kept.exceptAll(want).count() == 0 and want.exceptAll(kept).count() == 0


def test_untouched_partitions_not_rewritten(spark, tmp_path):
    docs, lake = _docs_lake(spark, tmp_path)
    before = file_snapshot(lake)
    one = docs.filter(F.col("source") == "src0").limit(1)
    upd = one.withColumn("text", F.lit("PATCHED"))
    stats = merge_into_lake(spark, lake, upd, "doc_id")
    assert stats["rows_updated"] == 1 and stats["rows_inserted"] == 0
    after = file_snapshot(lake)
    assert any(f.endswith(".parquet") and "source=src0" not in f for f in before)
    for f, st in before.items():
        if "source=src0" not in f:
            assert after.get(f) == st, f"untouched partition rewritten: {f}"


def test_key_moving_partitions_leaves_no_ghost(spark, tmp_path):
    """A key whose partition value changes must vanish from its old
    partition; if it was the only row there, the directory itself goes.
    Also out of an escaped partition (``source=BRK%2FA`` on disk), whose
    URL-encoded file path used to miss the directory and leave a ghost
    duplicate."""
    docs, lake = _docs_lake(spark, tmp_path)
    for i, (source, dirname, target) in enumerate(
        [("srclone", "source=srclone", "src0"), ("BRK/A", "source=BRK%2FA", "src1")]
    ):
        # Build a single-row partition first.
        lone = (
            docs.limit(1)
            .withColumn("doc_id", F.lit(10**9 + i))
            .withColumn("source", F.lit(source))
        )
        merge_into_lake(spark, lake, lone, "doc_id")
        assert glob.glob(os.path.join(lake, dirname, "*.parquet"))

        # Now move that key into the target partition.
        moved = lone.withColumn("source", F.lit(target))
        stats = merge_into_lake(spark, lake, moved, "doc_id")
        assert stats == {"rows_updated": 1, "rows_inserted": 0}
        after = spark.read.parquet(lake)
        assert after.filter(F.col("doc_id") == 10**9 + i).count() == 1
        assert (
            after.filter((F.col("doc_id") == 10**9 + i) & (F.col("source") == target)).count()
            == 1
        )
        assert not glob.glob(os.path.join(lake, dirname, "*.parquet"))


T0 = dt.datetime(2024, 1, 2, 10, 0, 0)


def _bars(spark, ticker, month, minutes, vwap=False, close0=100.0):
    df = spark.createDataFrame(
        [(ticker, T0.replace(month=month) + dt.timedelta(minutes=m), close0 + m, 2024, month) for m in minutes],
        "ticker string, datetime timestamp, close double, year int, month int",
    )
    return df.withColumn("vwap", F.col("close") + 0.5) if vwap else df


def test_merge_keeps_columns_of_newer_files(spark, tmp_path):
    """The target partition's newer file carries ``vwap``; the lake's
    first footer does not. Resident rows keep their ``vwap``."""
    lake = str(tmp_path / "lake")
    write_lake(_bars(spark, "AAA", 1, range(3)), lake)
    write_lake(_bars(spark, "BBB", 2, range(3)), lake, mode="append")
    write_lake(_bars(spark, "BBB", 2, range(3, 6), vwap=True), lake, mode="append")

    stats = merge_into_lake(spark, lake, _bars(spark, "BBB", 2, [0], close0=900.0), "datetime")
    assert stats == {"rows_updated": 1, "rows_inserted": 0}
    got = read_lake(spark, lake).filter("ticker = 'BBB'").orderBy("datetime").collect()
    assert [(r["close"], r["vwap"]) for r in got] == [
        (900.0, None), (101.0, None), (102.0, None), (103.0, 103.5), (104.0, 104.5), (105.0, 105.5),
    ]


def test_merge_writes_touched_leaves_in_the_lake_layout(spark, tmp_path):
    """An update and an insert into a new partition, the insert's rows
    arriving unsorted over several tasks: each touched leaf is one zstd
    file sorted by ``datetime``, as ``write_lake`` writes it."""
    lake = str(tmp_path / "lake")
    write_lake(_bars(spark, "AAA", 1, range(5)).unionByName(_bars(spark, "BBB", 2, range(3))), lake)
    update = _bars(spark, "AAA", 1, [0], close0=900.0)
    insert = _bars(spark, "CCC", 3, [5, 1, 4, 0, 3, 2], close0=300.0)
    updates = spark.createDataFrame(update.unionByName(insert).collect(), insert.schema).repartition(3)

    assert merge_into_lake(spark, lake, updates, "datetime") == {"rows_updated": 1, "rows_inserted": 6}
    for ticker, month in (("AAA", 1), ("CCC", 3)):
        assert_laid_out(os.path.join(lake, f"ticker={ticker}", "year=2024", f"month={month}"))
    got = read_lake(spark, lake).filter("ticker = 'AAA'").orderBy("datetime").collect()
    assert [r["close"] for r in got] == [900.0, 101.0, 102.0, 103.0, 104.0]


def test_merge_keys_on_a_column_only_newer_files_carry(spark, tmp_path):
    """``doc_id`` is in the files of ``ticker=BBB`` only. The merge reads
    the lake as ``read_lake`` does (every footer merged): the key
    resolves, and the update's ``doc_id`` is cast to the lake's type
    (a one-footer read failed on the key and missed the cast)."""
    lake = str(tmp_path / "lake")
    write_lake(_bars(spark, "AAA", 1, range(3)), lake)
    write_lake(_bars(spark, "BBB", 2, range(3)).withColumn("doc_id", F.col("close").cast("long")), lake, mode="append")
    row = _bars(spark, "BBB", 2, [1], close0=900.0).withColumn("doc_id", F.lit(101))  # an int

    assert merge_into_lake(spark, lake, row, "doc_id") == {"rows_updated": 1, "rows_inserted": 0}
    got = read_lake(spark, lake).filter("ticker = 'BBB'").orderBy("datetime")
    assert dict(got.dtypes)["doc_id"] == "bigint"
    assert [(r["close"], r["doc_id"]) for r in got.collect()] == [(100.0, 100), (901.0, 101), (102.0, 102)]


@pytest.mark.parametrize("insert", [False, True], ids=["update", "update-and-insert"])
def test_merge_starts_at_most_15_jobs(spark, tmp_path, insert):
    """Counted by job group (the parent path started 18 for one update
    and 23 with an insert into a new partition)."""
    docs, lake = _docs_lake(spark, tmp_path)
    upd = docs.filter(F.col("source") == "src0").limit(1).withColumn("text", F.lit("PATCHED"))
    if insert:
        upd = upd.unionByName(
            docs.limit(1).withColumn("doc_id", F.lit(10**9)).withColumn("source", F.lit("srcnew"))
        )
    upd = spark.createDataFrame(upd.collect(), upd.schema)

    stats, jobs = spark_jobs(spark, lambda: merge_into_lake(spark, lake, upd, "doc_id"))
    assert stats == {"rows_updated": 1, "rows_inserted": int(insert)}
    assert len(jobs) <= 15, len(jobs)


def test_partition_columns_come_from_the_lake(spark, tmp_path, sf_dir):
    """A two-level lake keeps its ``source=/lang=`` layout: the merge
    takes the partition columns and their order from the lake."""
    docs = table(spark, sf_dir, "documents")
    lake = str(tmp_path / "corpus")
    docs.write.partitionBy("source", "lang").parquet(lake)
    new = docs.limit(1).withColumn("doc_id", F.lit(10**9)).withColumn("source", F.lit("srcnew"))
    # the update's columns in another order than the lake's
    merge_into_lake(spark, lake, new.select("lang", "source", *[c for c in new.columns if c not in ("lang", "source")]), "doc_id")

    top = {d.split("=")[0] for d in os.listdir(lake) if "=" in d}
    assert top == {"source"}
    assert glob.glob(os.path.join(lake, "source=srcnew", "lang=*", "*.parquet"))
    assert spark.read.parquet(lake).count() == docs.count() + 1


def test_merge_into_unpartitioned_lake_raises_before_writing(spark, tmp_path):
    lake = str(tmp_path / "flat")
    spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string").write.parquet(lake)
    before = file_snapshot(lake)
    upd = spark.createDataFrame([(1, "A")], "doc_id long, text string")
    with pytest.raises(ValueError, match="not a partitioned lake"):
        merge_into_lake(spark, lake, upd, "doc_id")
    assert file_snapshot(lake) == before
