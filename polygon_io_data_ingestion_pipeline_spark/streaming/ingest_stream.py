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

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..sources.csv_bars import normalize_bar_frame
from ..sources.lake import PARTITION_KEYS, sql_ident, write_lake
from ..sources.lease import LakeLease

#: bar identity: one row per (ticker, instant) — the reference's
#: overwrite granularity (ingest.py:289-314 buckets by exactly this).
BAR_KEY = ["ticker", "datetime"]

#: hidden staging root under the lake: Spark's readers skip a name that
#: starts with ``_`` and holds no ``=``.
STAGING = "_ingest_staging"


def write_ingest_batch(batch_df: DataFrame, batch_id: int, lake_path: str, tf: str = "day") -> None:
    """Idempotent merge-overwrite micro-batch lake write: stage, then
    publish by rename.

    ``foreachBatch`` is at-least-once: a batch whose write committed but
    whose checkpoint offset didn't advance is re-executed on restart,
    and a corrected upstream file re-delivers keys the lake already
    holds. A plain append duplicates both. Here the sink, under the
    lake's maintenance lease:

    1. **stages** the batch, deduped to one row per bar (the partition
       keys + ``datetime``, which determines the date keys, so the same
       rows as ``BAR_KEY``), through :func:`write_lake` into the hidden
       ``<lake>/_ingest_staging``: same layout, sort and codec as batch
       ingest, and the batch's source files are decoded once;
    2. **lists** the staged partition leaf directories through the
       Hadoop FileSystem API (never a glob: the lake path may hold glob
       characters). They carry the writer's own names (escaped values,
       ``__HIVE_DEFAULT_PARTITION__`` for null), so the lake's directory
       of the same partition has the same relative path;
    3. **publishes** each leaf the lake does not have yet with
       ``mkdirs`` + ``rename`` (the reference's tmp-file rename,
       ingest.py:294-301). A batch of brand-new partitions reads nothing;
    4. **merges** each leaf the lake already has: reads back only those
       lake leaves and the staged ones, keeps the incoming row per bar
       (a deterministic value-column tiebreak within a source, so a
       replay reproduces the lake exactly), writes the result into
       staging and replaces the lake leaf with it (delete + rename);
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
    with LakeLease(spark, lake_path, holder="ingest_stream"):
        lake = _LakeFS(spark, lake_path)
        lake.fs.delete(lake.path(STAGING), True)
        try:
            _stage_and_publish(batch_df, lake, tf)
        finally:
            lake.fs.delete(lake.path(STAGING), True)
            spark.catalog.refreshByPath(lake_path)


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


class _LakeFS:
    """The lake root on its Hadoop FileSystem (any scheme), with the JVM
    classes resolved once and paths given relative to the root."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        jvm = spark._jvm
        # each class by its dotted name: one round trip, not one per package step
        self._path = getattr(jvm, "org.apache.hadoop.fs.Path")
        self._stat2paths = getattr(jvm, "org.apache.hadoop.fs.FileUtil").stat2Paths
        self._array_seq = getattr(jvm, "scala.collection.immutable.ArraySeq")
        self.root = root.rstrip("/")
        self._jroot = self._path(self.root)
        self.fs = self._jroot.getFileSystem(spark._jsc.hadoopConfiguration())

    def path(self, rel: str):
        """The Hadoop ``Path`` of ``rel`` under the root."""
        return self._path(self._jroot, rel)

    def uri(self, rel: str) -> str:
        """``rel`` under the root as a path string for Spark's readers
        and writers."""
        return f"{self.root}/{rel}"

    def leaves(self, rel: str, keys: list[str]) -> list[str]:
        """The partition leaf directories under ``rel``, relative to it,
        found from the files one level below them: ``len(keys) + 1``
        ``listStatus`` calls, each over a whole level at once (a file
        lists as itself, so the walk makes no call per entry), and the
        paths joined on the JVM into one string."""
        base = self.fs.makeQualified(self.path(rel))
        level = self.fs.listStatus(base)
        for _ in keys:
            level = self.fs.listStatus(self._stat2paths(level))
        files = self._array_seq.unsafeWrapArray(self._stat2paths(level)).mkString("\0")
        prefix = base.toString() + "/"
        leaves = set()
        for f in files.split("\0"):
            parts = f.removeprefix(prefix).split("/") if f.startswith(prefix) else []
            if len(parts) == len(keys) + 1 and all(p.startswith(f"{k}=") for p, k in zip(parts, keys)):
                leaves.add("/".join(parts[:-1]))
        return sorted(leaves)


def _stage_and_publish(batch: DataFrame, lake: _LakeFS, tf: str) -> None:
    spark = batch.sparkSession
    keys = PARTITION_KEYS[tf]
    staged, merged = f"{STAGING}/batch", f"{STAGING}/merge"
    write_lake(_dedup_for_write(_tagged_union(None, batch), keys), lake.uri(staged), tf=tf)
    existing = []
    for leaf in lake.leaves(staged, keys):
        if lake.fs.exists(lake.path(leaf)):
            existing.append(leaf)
        else:
            _publish(lake, f"{staged}/{leaf}", leaf, replace=False)
    if not existing:
        return
    lake_dirs = [lake.uri(leaf) for leaf in existing]
    staged_dirs = [lake.uri(f"{staged}/{leaf}") for leaf in existing]
    # Footers merged over exactly the files the merge reads (each leaf is
    # its own base path here, so no partition column is inferred); the
    # partition columns keep the batch's types: inferring them from a
    # subset of directory names would turn ticker=007 into 7.
    data = spark.read.option("mergeSchema", True).parquet(*lake_dirs, *staged_dirs).schema
    schema = StructType([*data.fields, *(batch.schema[k] for k in keys)])
    old = spark.read.schema(schema).option("basePath", lake.root).parquet(*lake_dirs)
    new = spark.read.schema(schema).option("basePath", lake.uri(staged)).parquet(*staged_dirs)
    write_lake(_dedup_for_write(_tagged_union(old, new), keys), lake.uri(merged), tf=tf)
    for leaf in existing:
        _publish(lake, f"{merged}/{leaf}", leaf, replace=True)


def _publish(lake: _LakeFS, src: str, dst: str, replace: bool) -> None:
    """Move the staged leaf ``src`` to the lake leaf ``dst`` (both
    relative to the lake root) by rename, first deleting ``dst`` when
    ``replace``, else creating its parent."""
    target = lake.path(dst)
    if replace:
        lake.fs.delete(target, True)
    else:
        lake.fs.mkdirs(target.getParent())
    if not lake.fs.rename(lake.path(src), target):
        raise OSError(f"could not rename {src} to {dst} under {lake.root}")


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
