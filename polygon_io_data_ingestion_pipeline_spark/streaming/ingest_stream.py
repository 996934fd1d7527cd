"""Incremental flat-file ingestion via Structured Streaming.

The reference's incremental story (SURVEY.md §2.9) is "notice new
CSV.GZ files, process them, overwrite the affected partitions, track
progress in a manifest" (reference: src/polygon_ingest/ingest.py whole
file; re-run/overwrite contract scripts/emit_split_backfill_cmds.py:29).
Structured Streaming's file source replaces all of it:

- the checkpoint is the progress ledger (each file is read once);
- ``Trigger.AvailableNow`` drains whatever has arrived then stops —
  the cron-driven batch shape the reference runs;
- the sink (:func:`write_ingest_batch`) merge-overwrites only the data
  partitions a micro-batch touches, keep-last by bar key, into the SAME
  ``ticker=/year=/month=[/day=]`` layout as the batch writer — so
  foreachBatch's at-least-once replays rewrite rather than duplicate,
  late/corrected files REPLACE the rows they re-deliver, and a batch
  ``write_lake`` backfill into the same root remains layout-compatible
  (the reference's re-run-and-overwrite contract,
  emit_split_backfill_cmds.py:29).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sources.csv_bars import normalize_bar_frame
from ..sources.lake import PARTITION_KEYS, _only_partitions, sql_ident, write_lake
from ..sources.lease import LakeLease

#: bar identity: one row per (ticker, instant) — the reference's
#: overwrite granularity (ingest.py:289-314 buckets by exactly this).
BAR_KEY = ["ticker", "datetime"]


def write_ingest_batch(batch_df: DataFrame, batch_id: int, lake_path: str, tf: str = "day") -> None:
    """Idempotent merge-overwrite micro-batch lake write.

    ``foreachBatch`` is at-least-once: a batch whose write committed but
    whose checkpoint offset didn't advance is re-executed on restart,
    and a corrected upstream file re-delivers keys the lake already
    holds. A plain append duplicates both. Here the sink:

    1. persists the batch, so its source files are decoded once: the
       touched-partition collect below fills the cache and the write
       reads from it (released in a ``finally``, also when the lease or
       the write raises);
    2. collects the batch's touched partition tuples (O(#partitions in
       the micro-batch) driver memory — bounded, tiny) and, under the
       lake's maintenance lease, checks whether any of their
       directories exists, resolved with the writer's own partition
       path naming (escaping, ``__HIVE_DEFAULT_PARTITION__`` for null);
    3. only if one does, reads those partitions back from the lake
       (exact OR-of-ANDs partition filter → partition-pruned scan) and
       eagerly ``localCheckpoint``\\ s them, truncating lineage so
       Spark permits overwriting the path it was read from, and
       bounding the materialized footprint to the touched partitions,
       not the lake. Dynamic overwrite replaces only directories of
       exactly those names, so a batch of brand-new partitions has
       nothing to read back: its files carry the batch's own columns,
       like the first batch's;
    4. clusters existing + incoming by the partition keys once and keeps
       ONE row per bar (window over the partition keys + ``datetime``;
       the date keys are functions of ``datetime``, so the same rows as
       keying by ``BAR_KEY``), incoming rows winning over lake rows,
       with a deterministic value-column tiebreak so a replay
       reproduces the lake exactly;
    5. dynamic-partition-overwrites just the touched partitions via
       :func:`write_lake` — same layout, sort, and codec as batch
       ingest, so stream and batch backfills interleave freely. The
       clustering and the window's sort already satisfy the writer's
       repartition and sort, so dedup and write share one shuffle.

    Net contract: exactly-once by overwrite at partition granularity;
    late data == recomputed partition, exactly like the reference's
    backfills (emit_split_backfill_cmds.py:29). ``batch_id`` is unused
    (kept for the foreachBatch signature) — idempotency comes from
    keyed merge, not batch bookkeeping.
    """
    keys = PARTITION_KEYS[tf]
    spark = batch_df.sparkSession
    batch_df.persist()
    try:
        touched = batch_df.select(*keys).distinct().collect()
        if not touched:
            return
        # The whole read-merge-overwrite runs under the lake's maintenance
        # lease: a compaction interleaving between this sink's lake read
        # and its partition overwrite would otherwise race it for the
        # same files.
        with LakeLease(spark, lake_path, holder="ingest_stream"):
            _write_ingest_batch_locked(batch_df, touched, lake_path, tf)
    finally:
        batch_df.unpersist()


def merge_keep_incoming(
    existing: DataFrame | None,
    incoming: DataFrame,
    key: Iterable[str] = tuple(BAR_KEY),
) -> DataFrame:
    """The sink's batch-overlap resolution as a PURE transform: union
    ``existing`` (lake rows) with ``incoming`` (the micro-batch) and
    keep ONE row per ``key``, incoming winning over existing, ties
    within a source broken by every non-key value column descending
    (nulls last, columns in sorted-name order) so a replay reproduces
    the lake byte-for-byte.  This is the late-correction-wins contract
    of the reference's re-run-and-overwrite backfills
    (emit_split_backfill_cmds.py:29) — factored out of the foreachBatch
    sink so the registry query ``events_ingest_merge_keep_last`` can
    hash-verify the exact resolution window the stream runs."""
    return _keep_first(_tagged_union(existing, incoming), list(key))


def _tagged_union(existing: DataFrame | None, incoming: DataFrame) -> DataFrame:
    """``existing`` ∪ ``incoming`` by name, each row tagged ``__src``
    (1 = incoming, 0 = lake)."""
    inc = incoming.withColumn("__src", F.lit(1))
    if existing is None:
        return inc
    return existing.withColumn("__src", F.lit(0)).unionByName(inc, allowMissingColumns=True)


def _keep_first(merged: DataFrame, key: list[str]) -> DataFrame:
    """One row per ``key`` from a :func:`_tagged_union`: highest
    ``__src`` first, then every non-key value column descending. The
    window is one SQL text over the schema's names, not a Column per
    tiebreak column."""
    order = ["`__src` DESC"] + [
        f"{sql_ident(c)} DESC NULLS LAST"
        for c in sorted(merged.columns)
        if c not in key and c != "__src"
    ]
    return merged.sparkSession.sql(
        "SELECT * EXCEPT (`__rn`, `__src`) FROM (SELECT *, row_number() OVER ("
        f"PARTITION BY {', '.join(map(sql_ident, key))} ORDER BY {', '.join(order)}) AS `__rn` "
        "FROM {merged}) WHERE `__rn` = 1",
        merged=merged,
    )


def _write_ingest_batch_locked(incoming: DataFrame, touched, lake_path: str, tf: str) -> None:
    spark = incoming.sparkSession
    keys = PARTITION_KEYS[tf]
    existing = None
    if _any_partition_exists(spark, lake_path, touched, keys):
        try:
            existing = _only_partitions(
                spark.read.option("mergeSchema", True).parquet(lake_path), touched, keys
            ).localCheckpoint(eager=True)
        except AnalysisException:  # directories, but no data file anywhere in the lake
            existing = None
    # Hash-clustered by exactly the keys write_lake repartitions by, so its
    # exchange is dropped as redundant; the window's sort (partition keys,
    # then datetime) covers write_lake's sortWithinPartitions too.
    union = _tagged_union(existing, incoming).repartition(*keys)
    write_lake(_keep_first(union, [*keys, "datetime"]), lake_path, tf=tf)


def _any_partition_exists(spark: SparkSession, lake_path: str, touched, keys: list[str]) -> bool:
    """Whether the lake holds a directory for any of the ``touched``
    partition tuples, named as the parquet writer names them
    (``ExternalCatalogUtils.getPartitionPathString``: escaped values,
    null as ``__HIVE_DEFAULT_PARTITION__``) and checked through the
    Hadoop FileSystem API, so any scheme works."""
    # JVM classes resolved once per call, each by its dotted name in one round trip
    jvm = spark._jvm
    part_path = getattr(jvm, "org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils").getPartitionPathString
    path_cls = getattr(jvm, "org.apache.hadoop.fs.Path")
    root = path_cls(lake_path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    for row in touched:
        rel = "/".join(part_path(k, None if row[k] is None else str(row[k])) for k in keys)
        if fs.exists(path_cls(root, rel)):
            return True
    return False


def stream_ingest_bars(
    spark: SparkSession,
    source_glob: str,
    lake_path: str,
    checkpoint: str,
    tf: str = "day",
    watchlist: Iterable[str] | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Start (and return) the ingestion stream; call ``.awaitTermination()``
    to drain with AvailableNow semantics.

    The file-source stream requires a homogeneous header across
    ``source_glob`` (the schema is probed once). Polygon flat files per
    feed satisfy this; to ingest several header layouts, run one stream
    per layout-specific glob (batch ``read_bar_flatfiles`` groups by
    header automatically).
    """
    # File-source streams need an explicit schema: probe it from the
    # current files with a bounded batch read (header only, no data scan).
    probe = spark.read.option("header", True).csv(source_glob)
    reader = spark.readStream.schema(probe.schema).option("header", True)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.csv(source_glob)

    bars = normalize_bar_frame(raw, tf=tf, watchlist=watchlist)

    def sink(batch_df, batch_id: int) -> None:
        write_ingest_batch(batch_df, batch_id, lake_path, tf=tf)

    writer = bars.writeStream.foreachBatch(sink).option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
