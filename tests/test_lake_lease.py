"""Concurrent-writer safety for lake maintenance.

First PROVE the race the lease exists for: plain-parquet copy-on-write
from a stale file listing silently discards a concurrent writer's rows.
Then pin the lease protocol: mutual exclusion, blocking acquisition,
TTL breaking of dead holders, and release-only-if-still-owner.
"""

from __future__ import annotations

import json
import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from polygon_io_data_ingestion_pipeline_spark.sources.lake import merge_into_lake
from polygon_io_data_ingestion_pipeline_spark.sources.lease import (
    LOCK_NAME,
    LakeLease,
    LeaseHeldError,
)

ROWS = [(1, "a", "src0"), (2, "b", "src0"), (3, "c", "src1")]
SCHEMA = "doc_id long, text string, source string"


def _mklake(spark, path):
    spark.createDataFrame(ROWS, SCHEMA).write.partitionBy("source").parquet(path)


def test_stale_snapshot_overwrite_silently_loses_concurrent_rows(spark, tmp_path):
    """The raw race, no lease: writer A captures the lake's file listing
    (what any read-modify-write maintenance does), writer B appends a row
    to a partition, A dynamic-overwrites that partition from its stale
    snapshot — B's row vanishes with NO error. This is why maintenance
    must serialize."""
    lake = str(tmp_path / "lake")
    _mklake(spark, lake)

    # writer A (a compactor): snapshot listing + materialized partition copy
    snap = (
        spark.read.parquet(lake)
        .filter(F.col("source") == "src0")
        .localCheckpoint()  # reads the CURRENT files of src0
    )
    # writer B (a sink): appends a new row into src0 after A's snapshot
    spark.createDataFrame([(99, "late", "src0")], SCHEMA).write.mode("append").partitionBy(
        "source"
    ).parquet(lake)
    spark.catalog.refreshByPath(lake)
    assert spark.read.parquet(lake).filter(F.col("doc_id") == 99).count() == 1

    # A completes its rewrite of src0 from the stale snapshot
    snap.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        "source"
    ).parquet(lake)
    spark.catalog.refreshByPath(lake)

    # B's committed row is gone — silently
    assert spark.read.parquet(lake).filter(F.col("doc_id") == 99).count() == 0


def test_leased_merge_blocks_until_holder_releases(spark, tmp_path):
    """merge_into_lake must wait for an in-flight maintenance lease
    instead of interleaving — the serialization that prevents the race
    above between the shipped operations."""
    lake = str(tmp_path / "lake")
    _mklake(spark, lake)
    held = LakeLease(spark, lake, holder="test-compactor").acquire()

    done = threading.Event()

    def do_merge():
        upd = spark.createDataFrame([(99, "new", "src0")], SCHEMA)
        merge_into_lake(spark, lake, upd, "doc_id")
        done.set()

    t = threading.Thread(target=do_merge, daemon=True)
    t.start()
    # while the lease is held the merge must NOT have landed
    time.sleep(2.0)
    assert not done.is_set()
    assert spark.read.parquet(lake).filter(F.col("doc_id") == 99).count() == 0

    held.release()
    assert done.wait(60), "merge never proceeded after lease release"
    t.join(10)
    spark.catalog.refreshByPath(lake)
    assert spark.read.parquet(lake).filter(F.col("doc_id") == 99).count() == 1
    # the merge released its own lease on completion
    assert not os.path.exists(os.path.join(lake, LOCK_NAME))


def test_fresh_lease_times_out_with_held_error(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _mklake(spark, lake)
    with LakeLease(spark, lake, holder="owner"):
        with pytest.raises(LeaseHeldError, match="held by owner"):
            LakeLease(spark, lake, holder="rival", timeout_sec=1.0, poll_sec=0.1).acquire()


def test_expired_lease_is_broken_and_reacquired(spark, tmp_path):
    """A crashed holder cannot deadlock the lake: a lock older than its
    own recorded TTL is broken by the next acquirer."""
    lake = str(tmp_path / "lake")
    _mklake(spark, lake)
    lock = os.path.join(lake, LOCK_NAME)
    with open(lock, "w") as fh:
        fh.write(json.dumps({"holder": "crashed", "token": "dead", "ttl_sec": 5}))
    os.utime(lock, (time.time() - 3600, time.time() - 3600))

    lease = LakeLease(spark, lake, holder="survivor", timeout_sec=10.0)
    lease.acquire()  # must break the stale lock, not time out
    assert json.load(open(lock))["holder"] == "survivor"
    lease.release()
    assert not os.path.exists(lock)


def test_release_does_not_steal_a_successors_lock(spark, tmp_path):
    """If our lease expired and another writer took over, our release
    must leave THEIR lock in place."""
    lake = str(tmp_path / "lake")
    _mklake(spark, lake)
    ours = LakeLease(spark, lake, holder="slow", ttl_sec=600).acquire()
    # simulate expiry + takeover: successor breaks and re-creates
    lock = os.path.join(lake, LOCK_NAME)
    os.utime(lock, (time.time() - 3600, time.time() - 3600))
    theirs = LakeLease(spark, lake, holder="successor", ttl_sec=0.001, timeout_sec=10)
    # our ttl is 600 but mtime is an hour old -> successor breaks it
    theirs.acquire()
    ours.release()
    assert os.path.exists(lock)
    assert json.load(open(lock))["holder"] == "successor"
    theirs.release()


def test_lock_file_is_invisible_to_lake_readers(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _mklake(spark, lake)
    with LakeLease(spark, lake, holder="reader-check"):
        assert spark.read.parquet(lake).count() == len(ROWS)


def test_many_contending_writers_serialize_without_loss(spark, tmp_path):
    """10 threads each read-modify-write a shared counter file under the
    lease; every increment must survive — the mutual-exclusion property
    under real contention, not just a single blocked waiter."""
    lake = str(tmp_path / "lake")
    _mklake(spark, lake)
    counter = os.path.join(lake, "_counter.txt")
    with open(counter, "w") as fh:
        fh.write("0")
    errors: list[Exception] = []

    def bump(holder: str):
        try:
            for _ in range(5):
                with LakeLease(spark, lake, holder=holder, timeout_sec=120, poll_sec=0.05):
                    n = int(open(counter).read())
                    time.sleep(0.01)  # widen the lost-update window
                    with open(counter, "w") as fh:
                        fh.write(str(n + 1))
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=bump, args=(f"w{i}",)) for i in range(10)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
    assert not errors
    assert int(open(counter).read()) == 50
    assert not os.path.exists(os.path.join(lake, LOCK_NAME))


def test_expired_lock_break_is_single_winner_under_contention(spark, tmp_path):
    """ADVICE r6 (medium): the expiry-break path itself under contention.
    All waiters observe the SAME expired lock simultaneously; with a
    delete-then-create break, waiter B's delete can remove waiter A's
    freshly created lock and both 'hold' the lease. The rename-fenced
    break must admit exactly one holder at a time and lose no updates."""
    lake = str(tmp_path / "lake")
    _mklake(spark, lake)
    lock = os.path.join(lake, LOCK_NAME)
    counter = os.path.join(lake, "_counter.txt")
    with open(counter, "w") as fh:
        fh.write("0")
    state = {"active": 0, "max": 0}
    guard = threading.Lock()
    errors: list[Exception] = []
    n_threads, n_rounds = 8, 3

    def contend(holder: str, barrier: threading.Barrier):
        try:
            barrier.wait(30)
            with LakeLease(
                spark, lake, holder=holder, ttl_sec=60, timeout_sec=120, poll_sec=0.01
            ):
                with guard:
                    state["active"] += 1
                    state["max"] = max(state["max"], state["active"])
                n = int(open(counter).read())
                time.sleep(0.01)  # widen the lost-update window
                with open(counter, "w") as fh:
                    fh.write(str(n + 1))
                with guard:
                    state["active"] -= 1
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    for _ in range(n_rounds):
        # a crashed holder left an expired lock behind
        with open(lock, "w") as fh:
            fh.write(json.dumps({"holder": "crashed", "token": "dead", "ttl_sec": 5}))
        past = time.time() - 3600
        os.utime(lock, (past, past))
        barrier = threading.Barrier(n_threads)
        threads = [
            threading.Thread(target=contend, args=(f"w{i}", barrier))
            for i in range(n_threads)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(300)

    assert not errors
    assert state["max"] == 1, "two holders were concurrently inside the lease"
    assert int(open(counter).read()) == n_threads * n_rounds
    assert not os.path.exists(lock)


def test_release_with_unreadable_payload_restores_not_deletes(spark, tmp_path):
    """A transient read failure after capturing a SUCCESSOR's fresh lock
    must take the restore path, not the delete path: token None is
    "unknown", not "ours".  (Round-8 advice: the old ``token in (None,
    ours)`` check deleted a live lease on any read hiccup.)"""
    lake = str(tmp_path / "lake")
    _mklake(spark, lake)
    ours = LakeLease(spark, lake, holder="slow", ttl_sec=600).acquire()
    lock = os.path.join(lake, LOCK_NAME)
    os.utime(lock, (time.time() - 3600, time.time() - 3600))
    theirs = LakeLease(spark, lake, holder="successor", ttl_sec=600, timeout_sec=10)
    theirs.acquire()  # breaks our hour-stale lock, installs a fresh one
    # every payload read fails transiently during our release window
    ours._read_payload = lambda: None
    ours._read_payload_at = lambda path: None
    ours.release()
    assert os.path.exists(lock), "release deleted a successor's live lease"
    assert json.load(open(lock))["holder"] == "successor"
    theirs.release()
