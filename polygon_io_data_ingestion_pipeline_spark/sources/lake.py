"""Partitioned Parquet bar lake: writer + pruning-friendly loader.

Replaces the reference's hand-rolled layout and file index
(reference: src/polygon_ingest/ingest.py:289-314 per-bucket writes with
tmp-file renames; manifest 345-421; src/polygon_ingest/lake_io.py
manifest/walk file selection 80-147, thread-pooled reads 284-304):

- layout is Spark-native ``ticker=/year=/month=[/day=]`` directories —
  the same pruning power as ``<TICKER>/<YYYY>/<MM>`` with zero custom
  reader code;
- atomicity comes from Spark's commit protocol; idempotent backfill
  from dynamic partition overwrite (the reference's "overlaps are fine,
  re-runs just overwrite" contract, emit_split_backfill_cmds.py:29);
- the manifest is obsolete: partition pruning + parquet row-group
  min/max stats give the same file skipping at query time — the loader
  just pushes ticker/time predicates into the scan;
- one sorted file per partition (sortWithinPartitions on datetime)
  preserves the reference's in-file ordering contract.
"""

from __future__ import annotations

import hashlib
import json
import weakref
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .lease import LakeLease

PARTITION_KEYS = {"day": ["ticker", "year", "month"], "minute": ["ticker", "year", "month", "day"]}


def write_lake(df: DataFrame, path: str, tf: str = "day", mode: str = "overwrite") -> None:
    """Write bars as a partitioned zstd parquet lake, one sorted file
    per partition."""
    keys = PARTITION_KEYS[tf]
    # Dynamic overwrite is a writer option, not a session conf: later
    # static overwrites in the same session must stay static.
    (
        _lake_layout(df, keys)
        .write.partitionBy(*keys)
        .option("compression", "zstd")
        .option("partitionOverwriteMode", "dynamic")
        .mode(mode)
        .parquet(path)
    )
    # Overwrites replace files in place; drop any cached listing of the
    # target so readers in this session don't chase deleted files.
    df.sparkSession.catalog.refreshByPath(path)


def _lake_layout(df: DataFrame, keys: list[str]) -> DataFrame:
    """One shuffle by the partition keys, each task's rows sorted by the
    keys then ``datetime``: one sorted file per partition. Partition keys
    lead the sort: FileFormatWriter requires its input ordered by the
    partition columns and would otherwise insert its own (non-stable)
    sort, destroying the in-file datetime order. ``DISTRIBUTE BY`` /
    ``SORT BY`` are the same plan nodes as ``repartition`` /
    ``sortWithinPartitions``, built from one SQL text."""
    by = ", ".join(map(sql_ident, keys))
    return df.sparkSession.sql(
        f"SELECT * FROM {{df}} DISTRIBUTE BY {by} SORT BY {by}, `datetime`", df=df
    )


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted identifier in a ``spark.sql`` text
    that has DataFrame placeholders: backticks doubled for SQL, braces
    doubled for the placeholder formatter."""
    return "`" + name.replace("`", "``").replace("{", "{{").replace("}", "}}") + "`"


def lake_where(tickers: Iterable[str] | None, start: str | None, end: str | None) -> tuple[str, dict]:
    """``read_lake``'s ticker and time filter as a SQL predicate over
    ``ticker`` and ``datetime`` plus its bound parameters ("" and {} for
    no filter). Values never enter the text. The tickers are ONE
    parameter, a JSON array, so a 500-ticker load binds as cheaply as a
    1-ticker one; the optimizer folds it to a literal array, still a
    partition filter on ``ticker``."""
    preds, args = [], {}
    if tickers is not None:
        args["tickers"] = json.dumps(sorted({t.strip().upper() for t in tickers}))
        preds.append("array_contains(from_json(:tickers, 'array<string>'), `ticker`)")
    if start is not None:
        args["start"] = start
        preds.append("`datetime` >= to_timestamp(:start)")
    if end is not None:
        args["end"] = end
        bound = "to_timestamp(:end)"
        if len(str(end)) <= 10:  # date-only -> inclusive through 23:59:59.999999
            bound += " + INTERVAL 1 DAY - INTERVAL 1 MICROSECOND"
        preds.append(f"`datetime` <= {bound}")
    return " AND ".join(preds), args


def read_lake(
    spark: SparkSession,
    path: str,
    tickers: Iterable[str] | None = None,
    start: str | None = None,
    end: str | None = None,
    columns: Iterable[str] | None = None,
) -> DataFrame:
    """Load lake bars with partition-pruned ticker and time filters.

    ``end`` given as a bare date is promoted to end-of-day-inclusive
    (lake_io.py:175-178). Mixed per-file schemas are tolerated via
    mergeSchema (lake_io.py:440-455).

    The merged schema is cached per session, lake path and the session
    confs that shape parquet schema inference, together with a
    fingerprint of the file listing it was merged from (sorted file
    paths + total bytes). While the listing is unchanged, a read reuses
    the schema and starts no footer-reading job; any added, removed,
    renamed or resized file re-merges. One limit: a non-Spark writer
    that rewrites a file in place under the same name AND at the same
    total byte count is not detected (Spark's commit protocol never
    does this — every write job gets fresh file names).

    Filter and projection are one parameterized SQL statement (see
    ``lake_where``): one parse and one analysis, and a plan build whose
    py4j round trips do not grow with the tickers, columns or files.
    """
    df = _read_merged(spark, path)
    where, args = lake_where(tickers, start, end)
    want = None
    if columns is not None:
        have = set(df.columns)
        want = [sql_ident(c) for c in columns if c in have]  # wanted ∩ available
    if where or want is not None:
        where = f" WHERE {where}" if where else ""
        df = spark.sql(f"SELECT {', '.join(want or ['*'])} FROM {{lake}}{where}", args=args, lake=df)
    return df.select() if want == [] else df  # no wanted column is available: zero columns


# Session confs that change what parquet schema inference returns for
# the same files; each is part of a cached schema's key.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive",
)
# session -> {(path, conf values): (merged schema, listing fingerprint)};
# bounded by the distinct lake paths a session reads, gone with the session.
_SCHEMA_CACHE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _listing_fingerprint(df: DataFrame) -> tuple[str, int]:
    """Digest of the sorted file paths plus the file index's total bytes,
    over the listing the read already made. The paths cross py4j as ONE
    string joined on the JVM (NUL never occurs in a path): iterating an
    ``inputFiles()`` array from Python costs a round trip per file."""
    index = df._jdf.queryExecution().analyzed().relation().location()
    # a dotted name resolves in one round trip; jvm.scala.collection... costs one per step
    array_seq = getattr(df.sparkSession._jvm, "scala.collection.immutable.ArraySeq")
    files = array_seq.unsafeWrapArray(index.inputFiles()).mkString("\0")
    files = "\n".join(sorted(files.split("\0")))
    return hashlib.sha256(files.encode()).hexdigest(), int(index.sizeInBytes())


def _read_merged(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.option("mergeSchema", True).parquet(path)`` without
    re-merging footers while the lake's file listing is unchanged: a
    cached schema is read with ``.schema(...)`` (lists files, starts no
    job) and kept only if the new listing's fingerprint matches the one
    it was merged from."""
    entries = _SCHEMA_CACHE.setdefault(spark, {})
    key = (path, tuple(spark.conf.get(k) for k in _SCHEMA_CONFS))
    hit = entries.get(key)
    if hit is not None:
        schema, fingerprint = hit
        df = spark.read.schema(schema).parquet(path)
        if _listing_fingerprint(df) == fingerprint:
            return df
    df = spark.read.option("mergeSchema", True).parquet(path)
    entries[key] = (df.schema, _listing_fingerprint(df))
    return df


def write_lake_bucketed(
    df: DataFrame, table_name: str, tf: str = "day", buckets: int = 32, path: str | None = None
) -> None:
    """Bucketed variant of the lake for co-located joins at scale.

    Bucketing by ticker pre-shuffles the data once at write time, so
    repeated bar×bar / bar×factor joins and per-ticker windows read
    their partners from the same bucket — no exchange in the join plan
    (asserted in tests). Worth it for the 100 TB lake where the same
    join keys are hit by every query; plain ``write_lake`` remains the
    default for ad-hoc layouts.
    """
    writer = (
        df.write.bucketBy(buckets, "ticker")
        .sortBy("ticker", "datetime")
        .option("compression", "zstd")
        .mode("overwrite")
        .format("parquet")
    )
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def lake_manifest(spark: SparkSession, path: str) -> DataFrame:
    """Per-file (path, ticker, start, end, rows) stats — the reference's
    manifest (ingest.py:345-421) as a one-line aggregate, kept for
    auditability rather than pruning."""
    df = spark.read.parquet(path).withColumn("__file", F.input_file_name())
    return df.groupBy("__file").agg(
        F.first("ticker").alias("ticker"),
        F.min("datetime").alias("start"),
        F.max("datetime").alias("end"),
        F.count("*").alias("rows"),
    )


def compact_lake(
    spark: SparkSession,
    path: str,
    tf: str = "day",
    max_records_per_file: int = 5_000_000,
    small_file_bytes: int = 32 * 1024 * 1024,
    lease: bool = True,
) -> dict[str, int]:
    """Lake maintenance: rewrite partitions fragmented into many small
    files as one-(or-few)-sorted-files-per-partition — the small-file
    compaction every long-lived 100 TB lake needs (streaming ingest and
    frequent backfills each commit a file per trigger per partition,
    and scan throughput collapses when file count >> row groups).

    Only partitions that are actually fragmented (more than one file,
    or any file under ``small_file_bytes``) are rewritten, via dynamic
    partition overwrite — untouched partitions keep their files, so
    compaction cost is proportional to the fragmentation, not the lake.
    The rewrite preserves the lake contract (in-file datetime ordering,
    zstd, ``max_records_per_file`` cap) and is idempotent.

    Returns {"partitions_compacted": n, "files_before": m}.

    Serialized behind the lake's maintenance lease (``lease=False`` to
    opt out when the caller already holds it): plain parquet has no
    commit protocol, so a compaction interleaving with a MERGE or the
    streaming sink on the same partition would replace it from a stale
    file listing and lose the other writer's rows
    (tests/test_lake_lease.py proves the race on the raw primitives).
    """
    if lease:
        # ttl_sec=3600: at 100 TB a partition-heavy maintenance pass can
        # run for tens of minutes; the default 10-minute TTL would let a
        # waiter break a LIVE holder's lease mid-rewrite. An hour bounds
        # crash recovery while covering any realistic single op.
        with LakeLease(spark, path, holder="compact_lake", ttl_sec=3600.0):
            return compact_lake(
                spark,
                path,
                tf=tf,
                max_records_per_file=max_records_per_file,
                small_file_bytes=small_file_bytes,
                lease=False,
            )
    keys = PARTITION_KEYS[tf]
    df = spark.read.parquet(path)
    per_file = (
        df.select(*[F.col(k) for k in keys], F.input_file_name().alias("__file"))
        .groupBy(*keys, "__file")
        .agg(F.count("*").alias("__rows"))
    )
    # File sizes come from the driver-side listing (one stat per file —
    # metadata-scale work, like any table-maintenance planner).
    import os as _os

    frag = (
        per_file.groupBy(*keys)
        .agg(F.count("*").alias("__nfiles"), F.collect_list("__file").alias("__files"))
        .collect()
    )

    def _local(p: str) -> str:
        return p.removeprefix("file:")

    todo = []
    files_before = 0
    for r in frag:
        files_before += r["__nfiles"]
        small = any(
            _os.path.getsize(_local(f)) < small_file_bytes
            for f in r["__files"]
            if _os.path.exists(_local(f))
        )
        if r["__nfiles"] > 1 or small:
            todo.append(r)
    if not todo:
        return {"partitions_compacted": 0, "files_before": files_before}

    (
        _lake_layout(_only_partitions(df, todo, keys), keys)
        .write.partitionBy(*keys)
        .option("compression", "zstd")
        .option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", max_records_per_file)
        .mode("overwrite")
        .parquet(path)
    )
    spark.catalog.refreshByPath(path)
    return {"partitions_compacted": len(todo), "files_before": files_before}


def zorder_key(
    df: DataFrame, cols: list[str], bits: int = 8, sample_fraction: float | None = None
) -> DataFrame:
    """Add a ``__zorder`` column: the Morton (Z-order) interleave of the
    given columns' quantile-bucket ranks.

    Why: sorting a lake by ONE column gives perfect file-level min/max
    pruning on that column and none on any other. Interleaving the bit
    representations of per-column ranks clusters rows that are close in
    EVERY dimension into the same files, so parquet min/max (and
    partition-level) skipping works for predicates on any of the
    z-ordered columns at once — the layout trick production lakehouses
    use for multi-dimensional pruning at 100 TB.

    Mechanics: per column, 2^bits approximate quantile cut points are
    computed in one pass (``approx_percentile``: mergeable sketches,
    collected driver-side as a tiny literal array), each value maps to
    its bucket rank map-side (a literal-array comparison fold inside
    codegen — no join, no second shuffle), and ranks interleave
    bit-by-bit into one BIGINT. Quantile (not min/max-linear) bucketing
    makes the curve robust to skew: each bucket holds ~equal row mass.

    ``sample_fraction`` bounds the cut-point pass on huge inputs (the
    sketch is already one pass; sampling just cuts bytes scanned).
    """
    if len(cols) * bits > 63:
        raise ValueError("len(cols) * bits must fit in a signed 64-bit key")
    n_buckets = 1 << bits
    src = df.sample(sample_fraction) if sample_fraction else df
    pcts = [i / n_buckets for i in range(1, n_buckets)]
    cuts_row = src.select(
        *[
            F.expr(
                f"approx_percentile(CAST({c} AS DOUBLE), array({', '.join(str(p) for p in pcts)}))"
            ).alias(c)
            for c in cols
        ]
    ).first()
    key = None
    for ci, c in enumerate(cols):
        cuts = [float(x) for x in (cuts_row[c] or [])]
        lits = ", ".join(f"CAST({x!r} AS DOUBLE)" for x in cuts)
        rank = F.expr(
            f"size(filter(array({lits}), t -> t <= CAST({c} AS DOUBLE)))"
        ).cast("long")
        # interleave: bit b of this column's rank lands at position
        # b * n_cols + ci of the key
        for b in range(bits):
            bit = F.shiftright(rank, b).bitwiseAND(F.lit(1))
            placed = F.shiftleft(bit, b * len(cols) + ci)
            key = placed if key is None else key.bitwiseOR(placed)
    return df.withColumn("__zorder", key)


def write_lake_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 8,
    bits: int = 8,
) -> None:
    """Write a Z-order-clustered parquet lake: range-partition on the
    Morton key (contiguous curve segments per file), sort within each
    file by the key, drop the helper column. Downstream scans prune
    files via parquet min/max on ANY of the z-ordered columns."""
    keyed = zorder_key(df, cols, bits=bits)
    (
        keyed.repartitionByRange(n_files, "__zorder")
        .sortWithinPartitions("__zorder")
        .drop("__zorder")
        .write.option("compression", "zstd")
        .mode("overwrite")
        .parquet(path)
    )


def delete_from_lake(
    spark: SparkSession,
    path: str,
    keys_df: DataFrame,
    key_col: str,
    partition_cols: list[str],
    lease: bool = True,
) -> int:
    """Targeted row deletion from a partitioned parquet lake — the
    takedown / right-to-be-forgotten primitive a training-data store
    must serve (copyright removals, PII erasure, opt-outs).

    Without a table format the unit of rewrite is the partition, so the
    job is: find the partitions that actually hold matching keys (one
    semi-join aggregation — O(touched partitions) driver memory), read
    ONLY those back (exact OR-of-ANDs partition filter -> pruned scan),
    anti-join the keys out, eagerly ``localCheckpoint`` (Spark must not
    lazily re-read the files it is about to replace), and
    dynamic-partition-overwrite just the touched partitions. Untouched
    partitions keep their files byte-for-byte (mtime-asserted in
    tests) — at 100 TB a deletion of k documents costs the partitions
    they live in, not the lake. Returns the number of rows deleted.

    Serialized behind the lake's maintenance lease (``lease=False``
    opts out when the caller already holds it).
    """
    if lease:
        with LakeLease(spark, path, holder="delete_from_lake", ttl_sec=3600.0):
            return delete_from_lake(
                spark, path, keys_df, key_col, partition_cols, lease=False
            )
    lake = spark.read.parquet(path)
    keys = keys_df.select(F.col(key_col)).distinct()
    touched = (
        lake.join(F.broadcast(keys), key_col, "left_semi")
        .select(*partition_cols)
        .distinct()
        .collect()
    )
    if not touched:
        return 0
    affected = _only_partitions(lake, touched, partition_cols)
    n_before = affected.count()
    kept = affected.join(F.broadcast(keys), key_col, "left_anti").localCheckpoint()
    n_deleted = n_before - kept.count()
    # Dynamic partition overwrite only replaces partitions PRESENT in the
    # written data — it cannot represent "this partition is now empty".
    # A takedown that deletes every row of a partition must therefore
    # remove that partition's directory explicitly, or the old files
    # silently survive (the one failure mode a right-to-be-forgotten
    # primitive cannot have). Resolve the emptied partitions' actual
    # leaf directories from their files (sidesteps partition-path value
    # escaping) and delete them through the Hadoop FileSystem API, which
    # works on any scheme (file://, hdfs://, s3a://) — not just local.
    survivors = {
        tuple(r[c] for c in partition_cols)
        for r in kept.select(*partition_cols).distinct().collect()
    }
    emptied = [
        row for row in touched if tuple(row[c] for c in partition_cols) not in survivors
    ]
    empty_dirs = _partition_dirs(lake, emptied, partition_cols)
    if kept.take(1):
        (
            kept.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_cols)
            .parquet(path)
        )
    _delete_dirs(spark, empty_dirs)
    spark.catalog.refreshByPath(path)
    return n_deleted


def _only_partitions(df: DataFrame, rows, partition_cols: list[str]) -> DataFrame:
    """``df`` restricted to exactly the given partition tuples: one
    OR-of-ANDs predicate, every value a bound parameter (never SQL
    text), so it prunes like a literal filter and the values show in
    the scan's ``PartitionFilters``.

    Null-safe equality: a null partition value is written to disk as
    ``__HIVE_DEFAULT_PARTITION__`` and reads back as NULL — plain ``=``
    would never match it, silently skipping that partition in
    delete/merge (the exact "old files survive" failure the delete
    docstring rules out).  ``<=>`` matches it like any other value;
    ``_partition_dirs`` and dynamic overwrite already handle the null
    directory correctly."""
    args, clauses = {}, []
    for row in rows:
        terms = []
        for c in partition_cols:
            name = f"p{len(args)}"
            args[name] = row[c]
            terms.append(f"{sql_ident(c)} <=> :{name}")
        clauses.append(f"({' AND '.join(terms)})")
    return df.sparkSession.sql(f"SELECT * FROM {{df}} WHERE {' OR '.join(clauses)}", args=args, df=df)


def _partition_dirs(lake: DataFrame, rows, partition_cols: list[str]) -> set[str]:
    """Resolve partition tuples to their on-disk leaf directories via the
    partitions' actual file paths — sidesteps partition-path value
    escaping entirely."""
    if not rows:
        return set()
    return {
        r["f"].rsplit("/", 1)[0]
        for r in _only_partitions(lake, rows, partition_cols)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }


def _delete_dirs(spark: SparkSession, dirs: set[str]) -> None:
    """Recursively delete directories through the Hadoop FileSystem API —
    works on any scheme (file://, hdfs://, s3a://), not just local."""
    path_cls, conf = getattr(spark._jvm, "org.apache.hadoop.fs.Path"), spark._jsc.hadoopConfiguration()
    for d in dirs:
        jpath = path_cls(d)
        jpath.getFileSystem(conf).delete(jpath, True)


def merge_into_lake(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_col: str,
    partition_cols: list[str],
    lease: bool = True,
) -> dict:
    """Keyed upsert (lakehouse ``MERGE``) into a plain-parquet
    partitioned lake: rows in ``updates`` REPLACE the lake's rows with
    the same key (wherever they live — a key may move partitions) and
    keys the lake has never seen are inserted. Copy-on-write at
    partition granularity, the additive twin of :func:`delete_from_lake`.

    The rewrite set is exactly (a) partitions holding a stale version of
    an updated key, plus (b) target partitions of the updates that
    already exist in the lake (dynamic overwrite would otherwise replace
    them with ONLY the update rows, dropping their resident data). Both
    come from one broadcast semi-join each — O(touched partitions)
    driver memory. A partition left with no rows at all (its only key
    moved elsewhere) is deleted explicitly, since dynamic overwrite
    cannot express emptiness. Untouched partitions keep their files
    byte-for-byte.

    ``updates`` must carry the full lake row (data + partition columns)
    and at most one row per key — upsert with multiple versions per key
    is ambiguous; pre-dedup with keep-last if needed. Returns
    ``{"rows_updated": ..., "rows_inserted": ...}`` counted in KEYS
    (a lake row duplicated per key collapses to the one update row and
    still counts once).  Serialized behind the lake's maintenance lease
    (``lease=False`` opts out when the caller already holds it).
    """
    if lease:
        with LakeLease(spark, path, holder="merge_into_lake", ttl_sec=3600.0):
            return merge_into_lake(
                spark, path, updates, key_col, partition_cols, lease=False
            )
    lake = spark.read.parquet(path)
    updates = updates.select(*lake.columns).localCheckpoint()
    keys = updates.select(F.col(key_col)).distinct()
    # ONE lake scan: the semi-join result (at most the updated rows, a
    # tiny frame) is materialized and answers both questions — which
    # partitions hold stale versions, and which update KEYS matched.
    # rows_updated counts matched keys, not matched lake rows: a lake
    # holding duplicate rows per key (plain appends before adopting
    # merge) would otherwise inflate the count and drive rows_inserted
    # negative, while the merge itself (correctly) collapses the
    # duplicates to the single update row.
    matched = (
        lake.join(F.broadcast(keys), key_col, "left_semi")
        .select(key_col, *partition_cols)
        .localCheckpoint()
    )
    stale = matched.select(*partition_cols).distinct().collect()
    target = updates.select(*partition_cols).distinct().collect()
    if not target:
        return {"rows_updated": 0, "rows_inserted": 0}
    existing_targets = (
        _only_partitions(lake, target, partition_cols).select(*partition_cols).distinct().collect()
    )
    seen: set[tuple] = set()
    touched = []
    for row in list(stale) + list(existing_targets):
        key = tuple(row[c] for c in partition_cols)
        if key not in seen:
            seen.add(key)
            touched.append(row)
    n_updated = matched.select(key_col).distinct().count()
    n_inserted = updates.count() - n_updated
    if touched:
        affected = _only_partitions(lake, touched, partition_cols)
        survivors = affected.join(F.broadcast(keys), key_col, "left_anti")
        out = survivors.unionByName(updates).localCheckpoint()
    else:
        out = updates
    out_parts = {
        tuple(r[c] for c in partition_cols)
        for r in out.select(*partition_cols).distinct().collect()
    }
    emptied = [
        row for row in touched if tuple(row[c] for c in partition_cols) not in out_parts
    ]
    empty_dirs = _partition_dirs(lake, emptied, partition_cols)
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
    _delete_dirs(spark, empty_dirs)
    spark.catalog.refreshByPath(path)
    return {"rows_updated": n_updated, "rows_inserted": n_inserted}
