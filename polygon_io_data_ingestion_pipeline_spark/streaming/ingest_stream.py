"""Incremental flat-file ingestion via Structured Streaming.

The reference's incremental story (SURVEY.md §2.9) is "notice new
CSV.GZ files, process them, overwrite the affected partitions, track
progress in a manifest" (reference: src/polygon_ingest/ingest.py whole
file; re-run/overwrite contract scripts/emit_split_backfill_cmds.py:29).
Structured Streaming's file source replaces all of it:

- the checkpoint is the progress ledger (each file is read once);
- ``Trigger.AvailableNow`` drains whatever has arrived then stops —
  the cron-driven batch shape the reference runs;
- the sink (:func:`write_ingest_batch`) stages each micro-batch and
  publishes its partition directories by rename, merging keep-last by
  bar key into only the partitions the lake already has, in the SAME
  ``ticker=/year=/month=[/day=]`` layout as the batch writer — so
  foreachBatch's at-least-once replays rewrite rather than duplicate,
  late/corrected files REPLACE the rows they re-deliver, and a batch
  ``write_lake`` backfill into the same root remains layout-compatible
  (the reference's re-run-and-overwrite contract,
  emit_split_backfill_cmds.py:29).
"""

from __future__ import annotations

import re
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sources.csv_bars import normalize_bar_frame
from ..sources.lake import PARTITION_KEYS, STAGING, _merge_staged, _staging, sql_ident, write_lake
from ..sources.lease import LakeLease

#: bar identity: one row per (ticker, instant) — the reference's
#: overwrite granularity (ingest.py:289-314 buckets by exactly this).
BAR_KEY = ["ticker", "datetime"]
#: the characters that make a Hadoop path a glob
_WILD = re.compile(r"[*?\[\]{}\\]")


def write_ingest_batch(batch_df: DataFrame, batch_id: int, lake_path: str, tf: str = "day") -> None:
    """Idempotent merge-overwrite micro-batch lake write: stage, then
    publish by rename.

    ``foreachBatch`` is at-least-once: a batch whose write committed but
    whose checkpoint offset didn't advance is re-executed on restart,
    and a corrected upstream file re-delivers keys the lake already
    holds. A plain append duplicates both. Here the sink, under the
    lake's maintenance lease and through the lake's one partition
    rewrite path (``sources/lake.py``, shared with delete, merge and
    compaction):

    1. **stages** the batch, deduped to one row per bar (the partition
       keys + ``datetime``, which determines the date keys, so the same
       rows as ``BAR_KEY``), through :func:`write_lake` into the hidden
       ``<lake>/_lake_staging``: same layout, sort and codec as batch
       ingest, and the batch's source files are decoded once;
    2. **lists** the staged partition leaf directories through the
       Hadoop FileSystem API (never a glob: the lake path may hold glob
       characters). They carry the writer's own names (escaped values,
       ``__HIVE_DEFAULT_PARTITION__`` for null), so the lake's directory
       of the same partition has the same relative path;
    3. **merges** each leaf the lake already has: reads back only those
       lake leaves and the staged ones, keeps the incoming row per bar
       (a deterministic value-column tiebreak within a source, so a
       replay reproduces the lake exactly), writes the result into
       staging and replaces the lake leaf with it (delete + rename);
    4. **publishes** each leaf the lake does not have yet with
       ``mkdirs`` + ``rename`` (the reference's tmp-file rename,
       ingest.py:294-301). A batch of brand-new partitions reads nothing;
    5. deletes staging before and after (``finally``), so a crashed
       batch's leftovers are never published, and refreshes the lake's
       cached listings.

    Work is O(batch): nothing outside the touched partitions is listed
    or read. Net contract: exactly-once by overwrite at partition
    granularity; late data == recomputed partition, like the
    reference's backfills (emit_split_backfill_cmds.py:29). A failure
    part-way through the publish leaves some leaves published;
    replaying the batch converges to the one-shot result. ``batch_id``
    is unused (kept for the foreachBatch signature) — idempotency comes
    from keyed merge, not batch bookkeeping.
    """
    spark = batch_df.sparkSession
    # The whole stage-publish-merge runs under the lake's maintenance
    # lease: a compaction interleaving between this sink's lake read and
    # its leaf replacement would otherwise race it for the same files.
    with LakeLease(spark, lake_path, holder="ingest_stream"), _staging(spark, lake_path) as lake:
        keys, staged = PARTITION_KEYS[tf], f"{STAGING}/batch"
        write_lake(_dedup_for_write(_tagged_union(None, batch_df), keys), lake.uri(staged), tf=tf)
        _merge_staged(lake, staged, keys, lambda old, new: _dedup_for_write(_tagged_union(old, new), keys))


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


def _dedup_for_write(union: DataFrame, keys: list[str]) -> DataFrame:
    """One row per bar of a :func:`_tagged_union`, laid out for
    :func:`write_lake`: hash-clustered by exactly the keys write_lake
    repartitions by, so its exchange is dropped as redundant, and the
    window's sort (partition keys, then datetime) covers its
    sortWithinPartitions too — dedup and write share one shuffle."""
    return _keep_first(union.repartition(*keys), [*keys, "datetime"])


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
    # A glob wild only in its last component is read as its directory
    # plus pathGlobFilter: the file source then lists that one directory
    # per poll, where a glob matching more than
    # spark.sql.sources.parallelPartitionDiscovery.threshold (32) files
    # starts a listing job on every poll. Either way only the directory's
    # own files are read, not those of its subdirectories.
    source, options = source_glob, {"header": True}
    folder, _, name = source_glob.rpartition("/")
    if folder and _WILD.search(name) and not _WILD.search(folder):
        source, options["pathGlobFilter"] = folder, name
    # File-source streams need an explicit schema: probe it from the
    # header of one matching file (every file has the same header). A
    # read over every match would build a relation over each file, which
    # starts a listing job above 32 files.
    probe = spark.read.option("header", True).csv(_header_source(spark, source_glob))
    reader = spark.readStream.schema(probe.schema).options(**options)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.csv(source)

    bars = normalize_bar_frame(raw, tf=tf, watchlist=watchlist)

    def sink(batch_df, batch_id: int) -> None:
        write_ingest_batch(batch_df, batch_id, lake_path, tf=tf)

    writer = bars.writeStream.foreachBatch(sink).option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _header_source(spark: SparkSession, pattern: str) -> str:
    """The first data file the Hadoop glob ``pattern`` matches itself
    (driver-side, no job), a hidden (``_``/``.``) name left out as
    Spark's readers leave it out, with its glob characters escaped; or
    ``pattern`` when it matches no file itself (a directory, or no
    match)."""
    path = getattr(spark._jvm, "org.apache.hadoop.fs.Path")(pattern)
    for status in path.getFileSystem(spark._jsc.hadoopConfiguration()).globStatus(path) or []:
        if status.isFile() and not status.getPath().getName().startswith(("_", ".")):
            return _WILD.sub(r"\\\g<0>", status.getPath().toString())
    return pattern
