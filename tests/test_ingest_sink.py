"""The streaming ingest sink's per-batch work: a batch of brand-new
partitions is staged and published by rename without reading the lake,
corrections and replays still merge keep-incoming (also under escaped
and null partition values) while reading back only the partitions they
touch, failures of the shared publish (in the sink, delete and merge)
leave no staging behind and replay to the one-shot result, dedup and
write share one shuffle, and no lake writer flips the session's
partition overwrite mode.
"""

from __future__ import annotations

import functools
import glob
import operator
import os
import re

import pytest
from pyspark.sql import functions as F

from polygon_io_data_ingestion_pipeline_spark.plans.lint import plan_text
from polygon_io_data_ingestion_pipeline_spark.sources import lake as lake_mod
from polygon_io_data_ingestion_pipeline_spark.sources.lake import (
    PARTITION_KEYS,
    _lake_layout,
    compact_lake,
    delete_from_lake,
    merge_into_lake,
    read_lake,
    write_lake,
)
from polygon_io_data_ingestion_pipeline_spark.sources.lease import LOCK_NAME
from polygon_io_data_ingestion_pipeline_spark.streaming import ingest_stream
from polygon_io_data_ingestion_pipeline_spark.streaming.ingest_stream import (
    BAR_KEY,
    STAGING,
    merge_keep_incoming,
    write_ingest_batch,
)
from tests.conftest import file_snapshot, spark_jobs

SCHEMA = "ticker string, ts string, close double, volume long"
OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


def _bars(spark, rows, vwap: bool = False):
    """Minute bars shaped like ``normalize_bar_frame`` output:
    ``rows`` are (ticker, 'YYYY-MM-DD HH:MM:SS', close, volume)."""
    df = spark.createDataFrame(rows, SCHEMA).withColumn("datetime", F.to_timestamp("ts"))
    if vwap:
        df = df.withColumn("vwap", F.col("close") + F.lit(0.5))
    ntz = F.expr("CAST(datetime AS TIMESTAMP_NTZ)")
    return (
        df.drop("ts")
        .withColumn("year", F.year(ntz))
        .withColumn("month", F.month(ntz))
        .withColumn("day", F.dayofmonth(ntz))
    )


def _day(ticker, day, close=10.0, minutes=3):
    return [(ticker, f"2024-01-{day:02d} 14:{m:02d}:00", close + m, 100 + m) for m in range(minutes)]


def _rows(spark, lake):
    df = read_lake(spark, lake)
    return sorted(map(tuple, df.select(*sorted(df.columns)).collect()), key=repr)


def _sink_jobs(spark, batch, lake) -> tuple[int, list[str]]:
    """Run the sink; return its job count and the names of its lake
    read-back stages (the footer merge)."""
    _, jobs = spark_jobs(spark, lambda: write_ingest_batch(batch, 0, lake, tf="minute"))
    st = spark.sparkContext.statusTracker()
    names = [
        st.getStageInfo(s).name
        for j in jobs
        for s in st.getJobInfo(j).stageIds
        if st.getStageInfo(s) is not None
    ]
    return len(jobs), [n for n in names if n.startswith("parquet at ")]


def test_new_partition_batch_starts_no_read_back_job(spark, tmp_path):
    """A new-day batch is one shuffle + one write (the sink used to start
    5 jobs: a cached collect of the touched keys came first); a
    correction adds the footer merge over the touched leaves and the
    merge write (it used to start 6-7)."""
    lake = str(tmp_path / "lake")
    write_ingest_batch(_bars(spark, _day("AAPL", 2) + _day("MSFT", 2)), 0, lake, tf="minute")

    jobs, read_back = _sink_jobs(spark, _bars(spark, _day("AAPL", 3) + _day("MSFT", 3)), lake)
    assert jobs <= 2 and read_back == []
    fix = _bars(spark, [("AAPL", "2024-01-03 14:00:00", 99.0, 1)])
    jobs, read_back = _sink_jobs(spark, fix, lake)
    assert jobs <= 5 and read_back  # the control: a correction does read back
    assert len(_rows(spark, lake)) == 12
    assert not os.path.exists(f"{lake}/{STAGING}")


def test_correction_replay_and_mixed_batches_keep_incoming(spark, tmp_path):
    lake = str(tmp_path / "lake")
    first = _bars(spark, _day("AAPL", 2) + _day("MSFT", 2))
    write_ingest_batch(first, 0, lake, tf="minute")
    rows0 = _rows(spark, lake)
    write_ingest_batch(first, 0, lake, tf="minute")  # replay
    assert _rows(spark, lake) == rows0

    fix = _bars(spark, [("AAPL", "2024-01-02 14:01:00", 99.0, 7)])
    write_ingest_batch(fix, 1, lake, tf="minute")
    after = read_lake(spark, lake)
    assert after.count() == 6
    got = after.filter("ticker = 'AAPL' AND minute(datetime) = 1").collect()
    assert [(r["close"], r["volume"]) for r in got] == [(99.0, 7)]

    # one row corrects an existing partition, one opens a new one
    mixed = _bars(
        spark, [("MSFT", "2024-01-02 14:02:00", 55.0, 5), ("MSFT", "2024-01-04 14:00:00", 56.0, 6)]
    )
    write_ingest_batch(mixed, 2, lake, tf="minute")
    after = read_lake(spark, lake)
    assert after.count() == 7
    msft = {(str(r["datetime"]), r["close"]) for r in after.filter("ticker = 'MSFT'").collect()}
    assert ("2024-01-02 14:02:00", 55.0) in msft and ("2024-01-04 14:00:00", 56.0) in msft
    assert ("2024-01-02 14:00:00", 10.0) in msft  # untouched row of a touched partition
    rows1 = _rows(spark, lake)
    write_ingest_batch(mixed, 2, lake, tf="minute")  # replay of the mixed batch
    assert _rows(spark, lake) == rows1


@pytest.mark.parametrize("ticker", ["BRK/A", None], ids=["escaped", "null"])
def test_correction_to_escaped_partition_replaces_rows(spark, tmp_path, ticker):
    """The staged leaf must be matched to the lake's directory as the
    writer names it (``ticker=BRK%2FA``,
    ``ticker=__HIVE_DEFAULT_PARTITION__``); a miss would publish the
    correction alone over (or beside) the partition."""
    lake = str(tmp_path / "lake")
    write_ingest_batch(_bars(spark, _day(ticker, 2)), 0, lake, tf="minute")
    assert len(glob.glob(f"{lake}/ticker=*/year=2024/month=1/day=2/*.parquet")) == 1

    fix = _bars(spark, [(ticker, "2024-01-02 14:01:00", 99.0, 7)])
    write_ingest_batch(fix, 1, lake, tf="minute")
    assert len(glob.glob(f"{lake}/ticker=*/year=2024/month=1/day=2/*.parquet")) == 1
    got = sorted((str(r["datetime"]), r["close"]) for r in read_lake(spark, lake).collect())
    assert got == [
        ("2024-01-02 14:00:00", 10.0),
        ("2024-01-02 14:01:00", 99.0),
        ("2024-01-02 14:02:00", 12.0),
    ]


def _pre_change_sink(batch, lake, tf):
    """The sink as it was before the read-back became conditional:
    always a whole-lake mergeSchema read of the touched partitions
    (selected by a Column-API OR-of-ANDs of null-safe equalities), then
    one dynamic-overwrite write into the lake."""
    spark = batch.sparkSession
    keys = PARTITION_KEYS[tf]
    touched = batch.select(*keys).distinct().collect()
    part_filter = functools.reduce(operator.or_, [
        functools.reduce(operator.and_, [F.col(c).eqNullSafe(F.lit(row[c])) for c in keys])
        for row in touched
    ])
    existing = (
        spark.read.option("mergeSchema", True)
        .parquet(lake)
        .filter(part_filter)
        .localCheckpoint(eager=True)
    )
    write_lake(merge_keep_incoming(existing, batch, BAR_KEY), lake, tf=tf)


def test_new_partition_on_mixed_schema_lake_reads_like_before(spark, tmp_path):
    """Files of a brand-new partition carry the batch's columns, not the
    lake's merged schema; mergeSchema readers still see the same rows
    and the same columns (``vwap`` null for the new rows)."""
    new, ref = str(tmp_path / "new"), str(tmp_path / "ref")
    old = _bars(spark, _day("AAPL", 2) + _day("MSFT", 2), vwap=True)
    batch = _bars(spark, _day("AAPL", 3) + _day("NVDA", 3))
    for lake in (new, ref):
        write_ingest_batch(old, 0, lake, tf="minute")
    write_ingest_batch(batch, 1, new, tf="minute")
    _pre_change_sink(batch, ref, "minute")

    assert set(read_lake(spark, new).columns) == set(read_lake(spark, ref).columns)
    assert "vwap" in read_lake(spark, new).columns
    assert _rows(spark, new) == _rows(spark, ref)
    assert len(_rows(spark, new)) == 12


def test_lease_failure_leaves_lake_untouched(spark, tmp_path, monkeypatch):
    lake = str(tmp_path / "lake")
    write_ingest_batch(_bars(spark, _day("AAPL", 2)), 0, lake, tf="minute")
    before = file_snapshot(lake)

    class FailingLease:
        def __init__(self, *args, **kwargs):
            pass

        def __enter__(self):
            raise TimeoutError("lease held")

        def __exit__(self, *exc):
            return False

    monkeypatch.setattr(ingest_stream, "LakeLease", FailingLease)
    with pytest.raises(TimeoutError):
        write_ingest_batch(_bars(spark, _day("AAPL", 2, close=50.0) + _day("MSFT", 2)), 1, lake, tf="minute")
    assert file_snapshot(lake) == before
    assert not os.path.exists(f"{lake}/{STAGING}")


DOCS = [(1, "a", "src0"), (2, "b", "src0"), (3, "c", "src1"), (4, "d", "src1")]
DOC_SCHEMA = "doc_id long, text string, source string"


@pytest.mark.parametrize("op", ["new", "correction", "delete", "merge"])
def test_publish_failure_then_replay_matches_one_shot(spark, tmp_path, monkeypatch, op):
    """The one publish raises after the first of two leaves, in the sink
    (a new-day batch and a correction), in delete and in merge: the
    error propagates, staging is gone, the lease is released, and
    re-running the operation converges to the lake a one-shot run
    gives."""
    failing, ref = str(tmp_path / "failing"), str(tmp_path / "ref")
    if op in ("new", "correction"):
        day = 2 if op == "correction" else 3
        batch = _bars(spark, [("AAPL", f"2024-01-0{day} 14:01:00", 99.0, 7), ("MSFT", f"2024-01-0{day} 14:02:00", 98.0, 8)])
        for lake in (failing, ref):
            write_ingest_batch(_bars(spark, _day("AAPL", 2) + _day("MSFT", 2)), 0, lake, tf="minute")

        def run(lake):
            write_ingest_batch(batch, 1, lake, tf="minute")
    else:
        for lake in (failing, ref):
            spark.createDataFrame(DOCS, DOC_SCHEMA).write.partitionBy("source").parquet(lake)
        keys = spark.createDataFrame([(1,), (3,)], "doc_id long")
        upd = spark.createDataFrame([(1, "A", "src0"), (3, "C", "src1")], DOC_SCHEMA)

        def run(lake):
            if op == "delete":
                delete_from_lake(spark, lake, keys, "doc_id")
            else:
                merge_into_lake(spark, lake, upd, "doc_id")
    run(ref)

    publish, calls = lake_mod._publish, []

    def flaky(*args, **kwargs):
        calls.append(args[2])
        if len(calls) == 2:
            raise OSError("injected publish failure")
        publish(*args, **kwargs)

    monkeypatch.setattr(lake_mod, "_publish", flaky)
    with pytest.raises(OSError, match="injected"):
        run(failing)
    assert len(calls) == 2
    assert not os.path.exists(f"{failing}/{STAGING}")
    assert not os.path.exists(f"{failing}/{LOCK_NAME}")
    monkeypatch.setattr(lake_mod, "_publish", publish)

    run(failing)  # the replay
    assert _rows(spark, failing) == _rows(spark, ref)
    assert len(_rows(spark, ref)) == {"new": 8, "correction": 6, "delete": 2, "merge": 4}[op]


def test_empty_batch_leaves_lake_unchanged(spark, tmp_path):
    lake = str(tmp_path / "lake")
    write_ingest_batch(_bars(spark, _day("AAPL", 2)), 0, lake, tf="minute")
    before = file_snapshot(lake)
    write_ingest_batch(_bars(spark, _day("AAPL", 2)).limit(0), 1, lake, tf="minute")
    assert file_snapshot(lake) == before


def test_correction_ignores_corrupt_file_in_untouched_partition(spark, tmp_path):
    """The read-back opens only the touched partitions' files. The
    parent sink merged footers across the whole lake and failed here."""
    lake = str(tmp_path / "lake")
    write_ingest_batch(_bars(spark, _day("AAPL", 2) + _day("MSFT", 2)), 0, lake, tf="minute")
    corrupt = f"{lake}/ticker=MSFT/year=2024/month=1/day=2/part-corrupt.parquet"
    with open(corrupt, "wb") as f:
        f.write(b"not a parquet file")

    write_ingest_batch(_bars(spark, [("AAPL", "2024-01-02 14:01:00", 99.0, 7)]), 1, lake, tf="minute")
    os.remove(corrupt)
    got = read_lake(spark, lake).filter("ticker = 'AAPL'")
    assert sorted((str(r["datetime"]), r["close"]) for r in got.collect()) == [
        ("2024-01-02 14:00:00", 10.0),
        ("2024-01-02 14:01:00", 99.0),
        ("2024-01-02 14:02:00", 12.0),
    ]


def test_correction_keeps_string_partition_type(spark, tmp_path):
    """Reading back only ``ticker=007`` must not re-infer the ticker as
    an integer (which would write the merged rows to ``ticker=7``)."""
    lake = str(tmp_path / "lake")
    write_ingest_batch(_bars(spark, _day("AAPL", 2) + _day("007", 2)), 0, lake, tf="minute")
    write_ingest_batch(_bars(spark, [("007", "2024-01-02 14:01:00", 99.0, 7)]), 1, lake, tf="minute")
    assert sorted(os.listdir(lake)) == ["ticker=007", "ticker=AAPL"]
    got = read_lake(spark, lake).filter("ticker = '007'")
    assert sorted((str(r["datetime"]), r["close"]) for r in got.collect()) == [
        ("2024-01-02 14:00:00", 10.0),
        ("2024-01-02 14:01:00", 99.0),
        ("2024-01-02 14:02:00", 12.0),
    ]


def test_correction_keeps_extra_columns_of_old_files(spark, tmp_path):
    """Old files of the touched partition carry ``vwap``; the batch does
    not. Rows the batch does not correct keep their ``vwap``."""
    lake = str(tmp_path / "lake")
    write_ingest_batch(_bars(spark, _day("AAPL", 2), vwap=True), 0, lake, tf="minute")
    write_ingest_batch(_bars(spark, [("AAPL", "2024-01-02 14:01:00", 99.0, 7)]), 1, lake, tf="minute")
    got = sorted((str(r["datetime"]), r["close"], r["vwap"]) for r in read_lake(spark, lake).collect())
    assert got == [
        ("2024-01-02 14:00:00", 10.0, 10.5),
        ("2024-01-02 14:01:00", 99.0, None),
        ("2024-01-02 14:02:00", 12.0, 12.5),
    ]


def _exchanges(text: str) -> list[str]:
    return [n for n in re.findall(r"^\(\d+\) (\w+)", text, flags=re.M) if n.endswith("Exchange")]


@pytest.mark.parametrize("correction", [False, True], ids=["new-partition", "correction"])
def test_sink_write_plan_has_one_exchange(spark, tmp_path, monkeypatch, correction):
    """Every lake write the sink makes (the staged batch, and for a
    correction also the merge) dedups and writes behind one shuffle."""
    lake = str(tmp_path / "lake")
    write_ingest_batch(_bars(spark, _day("AAPL", 2)), 0, lake, tf="minute")
    plans = []
    write = lake_mod._write

    def spy(df, path, keys, mode="overwrite"):
        plans.append(plan_text(_lake_layout(df, keys)))
        write(df, path, keys, mode)

    monkeypatch.setattr(lake_mod, "_write", spy)
    day = 2 if correction else 3
    fix = _bars(spark, [("AAPL", f"2024-01-0{day} 14:01:00", 99.0, 7)])
    write_ingest_batch(fix, 1, lake, tf="minute")
    assert len(plans) == (2 if correction else 1)
    for plan in plans:
        assert _exchanges(plan) == ["Exchange"], plan
    assert len(_rows(spark, lake)) == (3 if correction else 4)


def test_lake_writers_leave_partition_overwrite_mode_alone(spark, tmp_path):
    prev = spark.conf.get(OVERWRITE_MODE)
    spark.conf.set(OVERWRITE_MODE, "static")
    try:
        lake = str(tmp_path / "lake")
        write_lake(_bars(spark, _day("AAPL", 2)), lake, tf="minute")
        write_lake(_bars(spark, _day("AAPL", 3)), lake, tf="minute")  # dynamic: day 2 kept
        write_ingest_batch(_bars(spark, _day("MSFT", 2)), 0, lake, tf="minute")
        compact_lake(spark, lake, tf="minute")
        assert spark.conf.get(OVERWRITE_MODE) == "static"
        assert len(_rows(spark, lake)) == 9

        # a later plain overwrite in the session replaces the whole directory
        out = str(tmp_path / "out")
        spark.range(4).withColumn("p", F.col("id") % 2).write.partitionBy("p").parquet(out)
        spark.range(2).withColumn("p", F.lit(0)).write.mode("overwrite").partitionBy("p").parquet(out)
        assert not glob.glob(f"{out}/p=1")
        assert spark.read.parquet(out).count() == 2
    finally:
        spark.conf.set(OVERWRITE_MODE, prev)
