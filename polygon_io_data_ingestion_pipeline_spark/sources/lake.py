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
- every partition rewrite (the streaming sink, delete, merge and
  compaction) stages its output and publishes leaf directories by
  rename — the reference's tmp-file renames — through one path here;
- the manifest is obsolete: partition pruning + parquet row-group
  min/max stats give the same file skipping at query time — the loader
  just pushes ticker/time predicates into the scan;
- one sorted zstd file per partition (sorted on datetime) preserves the
  reference's in-file ordering contract; every writer here (the batch
  writer and the four rewrites) writes through the one layout in
  ``_write``.
"""

from __future__ import annotations

import json
import re
import weakref
from collections.abc import Callable, Iterable, Iterator
from contextlib import contextmanager, nullcontext
from functools import cached_property
from urllib.parse import unquote, urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .lease import LakeLease

PARTITION_KEYS = {"day": ["ticker", "year", "month"], "minute": ["ticker", "year", "month", "day"]}


#: The most rows one lake file holds: a partition past it is written as
#: several sorted files.
MAX_RECORDS_PER_FILE = 5_000_000


def write_lake(df: DataFrame, path: str, tf: str = "day", mode: str = "overwrite") -> None:
    """Write bars as a partitioned zstd parquet lake, one sorted file
    per partition."""
    _write(df, path, PARTITION_KEYS[tf], mode)
    # Overwrites replace files in place; drop any cached listing of the
    # target so readers in this session don't chase deleted files.
    df.sparkSession.catalog.refreshByPath(path)


def _write(df: DataFrame, path: str, keys: list[str], mode: str = "overwrite") -> None:
    """Write ``df`` partitioned by ``keys`` in the lake's one file layout
    (:func:`_lake_layout`, zstd, at most ``MAX_RECORDS_PER_FILE`` rows a
    file): the batch writer, the streaming sink, delete, merge and
    compaction all write through here, so every leaf they write is one
    sorted file."""
    # Dynamic overwrite is a writer option, not a session conf: later
    # static overwrites in the same session must stay static.
    (
        _lake_layout(df, keys)
        .write.partitionBy(*keys)
        .option("compression", "zstd")
        .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
        .option("partitionOverwriteMode", "dynamic")
        .mode(mode)
        .parquet(path)
    )


def _lake_layout(df: DataFrame, keys: list[str]) -> DataFrame:
    """One shuffle by the partition keys, each task's rows sorted by the
    keys then ``datetime`` (when the frame has it): one sorted file per
    partition. Partition keys lead the sort: FileFormatWriter requires
    its input ordered by the partition columns and would otherwise
    insert its own (non-stable) sort, destroying the in-file datetime
    order. ``DISTRIBUTE BY`` / ``SORT BY`` are the same plan nodes as
    ``repartition`` / ``sortWithinPartitions``, built from one SQL text."""
    by = ", ".join(map(sql_ident, keys))
    sort = f"{by}, `datetime`" if "datetime" in df.columns else by
    return df.sparkSession.sql(f"SELECT * FROM {{df}} DISTRIBUTE BY {by} SORT BY {sort}", df=df)


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted identifier in a ``spark.sql`` text
    that has DataFrame placeholders: backticks doubled for SQL, braces
    doubled for the placeholder formatter."""
    return "`" + name.replace("`", "``").replace("{", "{{").replace("}", "}}") + "`"


def _ticker_keys(tickers: Iterable[str]) -> list[str]:
    """``tickers`` as the lake spells them: stripped, upper case, unique,
    sorted."""
    return sorted({t.strip().upper() for t in tickers})


def lake_args(tickers: Iterable[str] | None, start: str | None, end: str | None) -> dict:
    """The parameters that bind :func:`lake_where`: every one always
    present, ``None`` for a filter not given. The tickers are ONE
    parameter, a JSON array, so a 500-ticker load binds as cheaply as a
    1-ticker one."""
    return {
        "tickers": None if tickers is None else json.dumps(_ticker_keys(tickers)),
        "start": None if start is None else str(start),
        "end": None if end is None else str(end),
    }


def lake_where(time_parts: tuple[str, ...] = ()) -> str:
    """``read_lake``'s ticker and time filter as one SQL predicate over
    ``ticker`` and ``datetime``, bound by :func:`lake_args`. Values never
    enter the text, and a filter bound to NULL folds away, so the text
    depends only on the lake. The optimizer folds the tickers to a
    literal array, a partition filter on ``ticker``. A date-only ``end``
    is inclusive through 23:59:59.999999 of that day.

    ``time_parts`` names the lake's integer time partition columns
    (``year``, ``month``[, ``day``]). For them the range also becomes a
    partition filter: the partition key of each bound is its UTC
    calendar date, as the lake's writers derive the keys
    (``csv_bars.normalize_bar_frame``), so a one-month load of a day lake
    opens one month of files instead of every month of the ticker."""
    end = (
        "CASE WHEN length(:end) <= 10 "
        "THEN to_timestamp(:end) + INTERVAL 1 DAY - INTERVAL 1 MICROSECOND ELSE to_timestamp(:end) END"
    )
    preds = [
        "(:tickers IS NULL OR array_contains(from_json(:tickers, 'array<string>'), `ticker`))",
        "(:start IS NULL OR `datetime` >= to_timestamp(:start))",
        f"(:end IS NULL OR `datetime` <= {end})",
    ]
    if time_parts:
        # year * 10000 + month * 100 + day, on the columns and on each bound
        weights = [100 ** i for i in reversed(range(len(time_parts)))]
        key = " + ".join(f"`{p}` * {w}" for p, w in zip(time_parts, weights))

        def bound(ts: str) -> str:
            utc = f"convert_timezone('UTC', {ts})"
            return " + ".join(f"{p}({utc}) * {w}" for p, w in zip(time_parts, weights))

        preds.append(f"(:start IS NULL OR {key} >= {bound('to_timestamp(:start)')})")
        preds.append(f"(:end IS NULL OR {key} <= {bound(end)})")
    return " AND ".join(preds)


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

    The lake's merged-schema relation is built once and reused (per
    session, lake path and the session confs that shape parquet schema
    inference) while the files it was built from are unchanged. A read
    naming ``tickers`` checks only the ``ticker=`` directories it names;
    ``tickers=None``, or a lake whose first partition column is not a
    string ``ticker``, checks the whole lake. Any data file added,
    removed or renamed there, or a changed size or modification time,
    rebuilds the relation (footers merged again). A write to a ticker
    the read does not name is seen by the first read that names it. A
    named ticker with no directory reads as empty rows of the lake's
    schema.

    Filter and projection are one parameterized SQL statement (see
    ``lake_where``): one parse and one analysis, and a plan build whose
    py4j round trips do not grow with the tickers, columns or files.
    """
    tickers = None if tickers is None else _ticker_keys(tickers)  # iterated twice below
    lake = _lake(spark, path, tickers)
    df, args = lake.df, lake_args(tickers, start, end)
    filtered = any(v is not None for v in args.values())
    want = None
    if columns is not None:
        have = set(df.columns)
        want = [sql_ident(c) for c in columns if c in have]  # wanted ∩ available
    if filtered or want is not None:
        where, args = (f" WHERE {lake_where(lake.time_parts)}", args) if filtered else ("", None)
        df = spark.sql(f"SELECT {', '.join(want or ['*'])} FROM {{lake}}{where}", args=args, lake=df)
    return df.select() if want == [] else df  # no wanted column is available: zero columns


# Session confs that change what parquet schema inference returns for
# the same files; each is part of a cached relation's key.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive",
)
# session -> {(lake path, conf values): _Lake}; one entry per lake path
# (and conf set) a session reads, gone with the session.
_LAKES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
# One record of FileStatus.toString (Hadoop's stable format).
_STATUS = re.compile(r"path=(.*?); isDirectory=false; length=(\d+);.*?modification_time=(\d+);")
# What Spark's ExternalCatalogUtils.escapePathName escapes in a partition value.
_ESCAPED = frozenset(map(chr, range(1, 32))) | frozenset("\"#%'*/:=?\\\x7f{[]^")
_INTEGER = frozenset({"byte", "short", "integer", "long"})


def _escape(value: str) -> str:
    """A partition value as Spark names its directory."""
    return "".join(f"%{ord(c):02X}" if c in _ESCAPED else c for c in value)


def _unescape(name: str) -> str:
    """The partition value a directory name spells."""
    return re.sub("%([0-9A-Fa-f]{2})", lambda m: chr(int(m[1], 16)), name)


def _schema_confs(spark: SparkSession) -> tuple:
    return tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)


class _Lake:
    """A lake's merged-schema relation, and the data files it was built
    from by partition directory: the ticker value for a lake whose first
    partition column is a string ``ticker``, else "" for the whole lake."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.fs = _LakeFS(spark, path)
        self.df = spark.read.option("mergeSchema", True).parquet(path)
        relation = self.df._jdf.queryExecution().analyzed().relation()
        parts = {f["name"]: f["type"] for f in json.loads(relation.partitionSchema().json())["fields"]}
        self.partitions = list(parts)  # in the lake's directory order
        self.by_ticker = next(iter(parts), None) == "ticker" and parts["ticker"] == "string"
        time_parts = [p for p in ("year", "month", "day") if parts.get(p) in _INTEGER]
        ltz = dict(self.df.dtypes).get("datetime") == "timestamp"
        self.time_parts = tuple(time_parts) if ltz and time_parts[:2] == ["year", "month"] else ()
        # recorded from the relation's own listing: a write landing while
        # it was built can only make the record older than the relation
        files = relation.location().allFiles()
        self.files = self._state(files.mkString("\0"))
        # a listing this code cannot read back, or a ticker directory it
        # would not find by name, is never reused
        dirs = {rel.split("/", 1)[0].partition("=")[2] for recs in self.files.values() for rel, _, _ in recs}
        self.checkable = sum(map(len, self.files.values())) == files.size() and not (
            self.by_ticker and any(_escape(_unescape(d)) != d for d in dirs)
        )
        self.fs._lister  # resolved now, so a reuse pays only for the listing itself

    def _state(self, listing: str) -> dict[str, frozenset]:
        """Files (path under the lake, bytes, modification time) by
        partition directory, from a ``mkString`` of FileStatus records."""
        state: dict[str, set] = {}
        prefix = self.fs.qualified_root + "/"
        for m in _STATUS.finditer(listing):
            if m[1].startswith(prefix):
                rel = m[1][len(prefix):]
                key = _unescape(rel.split("/", 1)[0].partition("=")[2]) if self.by_ticker else ""
                state.setdefault(key, set()).add((rel, int(m[2]), int(m[3])))
        return {k: frozenset(v) for k, v in state.items()}

    def unchanged(self, tickers: Iterable[str] | None) -> bool:
        """Whether the directories a read of ``tickers`` names hold the
        files the relation was built from: one Spark listing of exactly
        those directories (no job; a ticker the relation has no files for
        is listed only if its directory exists)."""
        if not self.checkable:
            return False
        if tickers is None or not self.by_ticker:
            return self._state(self.fs.listing([""])) == self.files
        named = {t: f"ticker={_escape(t)}" for t in _ticker_keys(tickers)}
        dirs = [d for t, d in named.items() if t in self.files or self.fs.fs.exists(self.fs.path(d))]
        now = self._state(self.fs.listing(dirs)) if dirs else {}
        return all(now.get(t) == self.files.get(t) for t in named)


def _lake(spark: SparkSession, path: str, tickers: Iterable[str] | None, confs: tuple | None = None) -> _Lake:
    """The session's relation of the lake at ``path``, rebuilt unless the
    directories ``tickers`` names are unchanged since it was built."""
    entries = _LAKES.setdefault(spark, {})
    key = (path, confs or _schema_confs(spark))
    lake = entries.get(key)
    if lake is None or not lake.unchanged(tickers):
        lake = entries[key] = _Lake(spark, path)
    return lake


def _partitioned(spark: SparkSession, path: str) -> _Lake:
    """The whole lake's relation, as :func:`read_lake` reads it;
    ``ValueError`` for a lake with no partition columns."""
    lake = _lake(spark, path, None)
    if not lake.partitions:
        raise ValueError(f"{path} is not a partitioned lake")
    return lake


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
    df = _lake(spark, path, None).df.withColumn("__file", F.input_file_name())
    return df.groupBy("__file").agg(
        F.first("ticker").alias("ticker"),
        F.min("datetime").alias("start"),
        F.max("datetime").alias("end"),
        F.count("*").alias("rows"),
    )


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


# ---------------------------------------------------------------------------
# Partition rewrites: the streaming sink, delete, merge and compaction all
# rewrite a lake partition one way. Each names its touched partitions as
# leaf directories relative to the lake root, writes its output into hidden
# staging, replaces each staged leaf the lake has and publishes each one it
# lacks by rename (the reference's tmp-file rename, ingest.py:294-301), and
# deletes each touched leaf staging did not produce: that partition is now
# empty. The files being read are never the write target.
# ---------------------------------------------------------------------------

#: hidden staging root under the lake: Spark's readers skip a name that
#: starts with ``_`` and holds no ``=``.
STAGING = "_lake_staging"


class _LakeFS:
    """The lake root on its Hadoop FileSystem (any scheme), with the JVM
    classes resolved once and paths given relative to the root."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        jvm = spark._jvm
        # each class by its dotted name: one round trip, not one per package step
        self._path = getattr(jvm, "org.apache.hadoop.fs.Path")
        self._stat2paths = getattr(jvm, "org.apache.hadoop.fs.FileUtil").stat2Paths
        self._array_seq = getattr(jvm, "scala.collection.immutable.ArraySeq")
        self.spark = spark
        self.root = root.rstrip("/")
        self._jroot = self._path(self.root)
        self.fs = self._jroot.getFileSystem(spark._jsc.hadoopConfiguration())

    def path(self, rel: str):
        """The Hadoop ``Path`` of ``rel`` under the root."""
        return self._path(self._jroot, rel)

    def uri(self, rel: str) -> str:
        """``rel`` under the root ("" for the root) as a path string for
        Spark's readers and writers."""
        return f"{self.root}/{rel}" if rel else self.root

    def files(self, rel: str, keys: list[str]) -> dict[str, list[str]]:
        """The data files of the partition leaf directories under ``rel``:
        leaf relative to ``rel`` -> file names, hidden (``_``/``.``) files
        left out as Spark's readers leave them out. ``len(keys) + 1``
        ``listStatus`` calls, each over a whole level at once (a file
        lists as itself, so the walk makes no call per entry), and the
        paths joined on the JVM into one string."""
        base = self.fs.makeQualified(self.path(rel) if rel else self._jroot)
        level = self.fs.listStatus(base)
        for _ in keys:
            level = self.fs.listStatus(self._stat2paths(level))
        found = self._array_seq.unsafeWrapArray(self._stat2paths(level)).mkString("\0")
        prefix = base.toString() + "/"
        leaves: dict[str, list[str]] = {}
        for f in found.split("\0"):
            parts = f.removeprefix(prefix).split("/") if f.startswith(prefix) else []
            if (
                len(parts) == len(keys) + 1
                and all(p.startswith(f"{k}=") for p, k in zip(parts, keys))
                and not parts[-1].startswith(("_", "."))
            ):
                leaves.setdefault("/".join(parts[:-1]), []).append(parts[-1])
        return leaves

    def leaves(self, rel: str, keys: list[str]) -> list[str]:
        """The partition leaf directories under ``rel``, relative to it."""
        return sorted(self.files(rel, keys))

    @cached_property
    def qualified_root(self) -> str:
        """The root as the paths of Spark's listings start."""
        return self.fs.makeQualified(self._jroot).toString()

    @cached_property
    def _lister(self) -> tuple:
        """What :meth:`listing` calls, resolved on first use."""
        jvm = self.spark._jvm
        return (
            getattr(jvm, "java.util.regex.Pattern").compile("\0").split,
            getattr(jvm, "org.apache.hadoop.util.StringUtils").stringToPath,
            getattr(jvm, "org.apache.spark.util.HadoopFSUtils").parallelListLeafFiles,
            self.spark._jsc.sc(),
            self.spark._jsc.hadoopConfiguration(),
        )

    def listing(self, rels: list[str]) -> str:
        """The data files under the directories ``rels`` ("" for the root)
        as one string of FileStatus records, listed by the call Spark's
        file index lists with (so the same files are hidden) and on the
        driver, never in a job. A directory that does not exist lists
        nothing (Spark logs a warning)."""
        split, to_paths, list_leaf_files, sc, conf = self._lister
        paths = self._array_seq.unsafeWrapArray(to_paths(split("\0".join(map(self.uri, rels)))))
        # ignore missing files, keep block locations (the file index's default)
        return list_leaf_files(sc, paths, conf, None, True, False, 2**31 - 1, 0).mkString("\0")

    @cached_property
    def _root_path(self) -> str:
        """The root as a decoded path."""
        return self.fs.makeQualified(self._jroot).toUri().getPath().rstrip("/")

    def leaf_of(self, dir_uri: str) -> str:
        """The leaf, relative to the root, of a directory URI as
        ``_metadata.file_path`` and ``input_file_name()`` spell it. Those
        are URL-encoded (``source=BRK%2FA`` reads ``source=BRK%252FA``)
        and Hadoop's ``Path(String)`` does not decode, so decode the
        URI's path first."""
        return unquote(urlsplit(dir_uri).path).removeprefix(self._root_path + "/")


@contextmanager
def _staging(spark: SparkSession, path: str) -> Iterator[_LakeFS]:
    """The lake at ``path`` with its staging deleted before (a crashed
    rewrite's leftovers are never published) and after, also on failure;
    Spark's cached listings of the lake are refreshed on the way out."""
    lake = _LakeFS(spark, path)
    lake.fs.delete(lake.path(STAGING), True)
    try:
        yield lake
    finally:
        lake.fs.delete(lake.path(STAGING), True)
        spark.catalog.refreshByPath(path)


def _lease(spark: SparkSession, path: str, holder: str, lease: bool):
    """The lake's maintenance lease for ``holder``, or no lease when the
    caller already holds it. ttl_sec=3600: at 100 TB a partition-heavy
    maintenance pass can run for tens of minutes; the default 10-minute
    TTL would let a waiter break a LIVE holder's lease mid-rewrite."""
    return LakeLease(spark, path, holder=holder, ttl_sec=3600.0) if lease else nullcontext()


def _publish(lake: _LakeFS, src: str, dst: str) -> None:
    """Move the staged leaf ``src`` to the lake leaf ``dst`` (both
    relative to the lake root) by rename, replacing ``dst`` if the lake
    has it and creating its parent if not."""
    target = lake.path(dst)
    lake.fs.delete(target, True)
    lake.fs.mkdirs(target.getParent())
    if not lake.fs.rename(lake.path(src), target):
        raise OSError(f"could not rename {src} to {dst} under {lake.root}")


def _read_leaves(lake: _LakeFS, keys: list[str], *groups: tuple[str, list[str]]) -> list[DataFrame]:
    """One frame per ``(base, leaves)`` group, ``leaves`` relative to the
    lake directory ``base`` ("" for the root). Footers are merged over
    exactly the files of all groups (each leaf its own base path here, so
    no partition column is inferred): one footer's schema would drop the
    columns of the others. The partition columns ``keys`` read as
    strings, the one type that writes every directory name back as it
    was: an inferred type turns ``ticker=007`` into 7, whether inferred
    from a subset of the directories or from a lake whose values all
    look numeric."""
    spark = lake.spark
    dirs = [[lake.uri(f"{base}/{leaf}" if base else leaf) for leaf in leaves] for base, leaves in groups]
    data = spark.read.option("mergeSchema", True).parquet(*(d for ds in dirs for d in ds)).schema
    schema = StructType([*data.fields, *(StructField(k, StringType()) for k in keys)])
    return [
        spark.read.schema(schema).option("basePath", lake.uri(base)).parquet(*ds)
        if ds
        else spark.createDataFrame([], schema)
        for (base, _), ds in zip(groups, dirs)
    ]


def _rewrite(lake: _LakeFS, keys: list[str], touched: list[str], out: DataFrame) -> None:
    """Replace the ``touched`` lake leaves with ``out``, their rows after
    the rewrite: write it into staging (:func:`_write`), replace each
    staged leaf the lake has, publish each one it lacks, and delete each
    touched leaf staging did not produce (that partition is now empty),
    with the directories above it that this leaves empty, up to and
    excluding the lake root."""
    staged = f"{STAGING}/out"
    _write(out, lake.uri(staged), keys)
    produced = lake.leaves(staged, keys)
    for leaf in produced:
        _publish(lake, f"{staged}/{leaf}", leaf)
    emptied = set(touched).difference(produced)
    for leaf in sorted(emptied):
        lake.fs.delete(lake.path(leaf), True)
    # one level at a time, so a parent is checked after all its children
    while emptied := {d.rpartition("/")[0] for d in emptied if "/" in d}:
        emptied = {
            d for d in sorted(emptied) if not lake.fs.listStatus(lake.path(d)) and lake.fs.delete(lake.path(d), False)
        }


def _merge_staged(
    lake: _LakeFS,
    staged: str,
    keys: list[str],
    combine: Callable[[DataFrame, DataFrame], DataFrame],
    stale: Iterable[str] = (),
) -> None:
    """Bring the leaves staged under ``staged`` into the lake: rewrite
    the lake leaves they land on, plus the ``stale`` ones, from
    ``combine(old rows, staged rows)``, and publish each staged leaf the
    lake lacks by rename (reading nothing for it)."""
    leaves = lake.leaves(staged, keys)
    existing = [leaf for leaf in leaves if lake.fs.exists(lake.path(leaf))]
    touched = sorted({*existing, *stale})
    if touched:
        old, new = _read_leaves(lake, keys, ("", touched), (staged, existing))
        _rewrite(lake, keys, touched, combine(old, new))
    # after the rewrite, which may still read every staged row (a merge's keys)
    for leaf in sorted(set(leaves).difference(existing)):
        _publish(lake, f"{staged}/{leaf}", leaf)


def _holding(lake: _LakeFS, lake_df: DataFrame, keys: DataFrame, key_col: str) -> tuple[list[str], int, int]:
    """The leaves holding any of ``keys``, the lake rows matched and the
    distinct keys matched: one aggregate over the key column and the
    directories of the files (O(touched leaves) to the driver)."""
    row = (
        lake_df.select(key_col, F.regexp_replace("_metadata.file_path", "/[^/]*$", "").alias("__dir"))
        .join(keys, key_col, "left_semi")
        .agg(F.collect_set("__dir"), F.count("*"), F.count_distinct(key_col))
        .first()
    )
    return sorted(map(lake.leaf_of, row[0])), row[1], row[2]


def compact_lake(spark: SparkSession, path: str, tf: str = "day", lease: bool = True) -> dict[str, int]:
    """Lake maintenance: rewrite each partition fragmented into several
    files as one sorted file — the small-file compaction every
    long-lived 100 TB lake needs (streaming ingest and frequent appends
    each commit a file per trigger per partition, and scan throughput
    collapses when file count >> row groups).

    Every writer in this module (``write_lake``, the streaming sink,
    delete and merge) writes each partition it touches in the one lake
    layout, one sorted zstd file, so compaction only merges fragments:
    the plan is a listing, not a scan (the Hadoop FileSystem lists the
    partition leaves and their files), and a leaf is fragmented when it
    holds more than one data file. A single-file leaf is never
    rewritten, whatever its size; one written by an older delete or
    merge (snappy, unsorted) is not re-laid out. Only fragmented leaves
    are read back (footers merged over exactly their files, so a column
    only newer files carry survives; partition columns as their
    directory strings, so ``ticker=007`` stays "007") and rewritten
    through staging, then published by rename; untouched partitions keep
    their files, so compaction cost is proportional to the
    fragmentation, not the lake, and a second run rewrites nothing.
    A leaf past ``MAX_RECORDS_PER_FILE`` rows is written as several
    files and rewritten by every run.

    Returns {"partitions_compacted": n, "files_before": m}.

    Serialized behind the lake's maintenance lease (``lease=False`` to
    opt out when the caller already holds it): plain parquet has no
    commit protocol, so a compaction interleaving with a MERGE or the
    streaming sink on the same partition would replace it from a stale
    file listing and lose the other writer's rows
    (tests/test_lake_lease.py proves the race on the raw primitives).
    """
    keys = PARTITION_KEYS[tf]
    with _lease(spark, path, "compact_lake", lease), _staging(spark, path) as lake:
        files = lake.files("", keys)
        todo = [leaf for leaf, names in sorted(files.items()) if len(names) > 1]
        if todo:
            (old,) = _read_leaves(lake, keys, ("", todo))
            _rewrite(lake, keys, todo, old)
    return {"partitions_compacted": len(todo), "files_before": sum(map(len, files.values()))}


def delete_from_lake(
    spark: SparkSession,
    path: str,
    keys_df: DataFrame,
    key_col: str,
    lease: bool = True,
) -> int:
    """Targeted row deletion from a partitioned parquet lake — the
    takedown / right-to-be-forgotten primitive a training-data store
    must serve (copyright removals, PII erasure, opt-outs).

    Without a table format the unit of rewrite is the partition. The
    lake is read as :func:`read_lake` reads it (footers merged over
    every file, so a key column only newer files carry resolves). One
    aggregate over its key column and file directories finds the
    partition leaves that hold a key (and counts the rows to delete);
    only those leaves are read back (footers merged over exactly their
    files, partition columns as their directory strings), the keys are
    anti-joined out, and the survivors are written into staging in the
    lake's one layout (one sorted zstd file per partition, as
    ``write_lake`` writes) and published by rename. A leaf left with no
    rows is deleted, so a takedown of a whole partition leaves no file
    behind. Untouched partitions keep their files byte-for-byte
    (mtime-asserted in tests) — at 100 TB a deletion of k documents
    costs the partitions they live in, not the lake. The partition
    columns are the lake's own (``ValueError`` for an unpartitioned
    lake). Returns the number of rows deleted.

    Serialized behind the lake's maintenance lease (``lease=False``
    opts out when the caller already holds it).
    """
    with _lease(spark, path, "delete_from_lake", lease), _staging(spark, path) as lake:
        table = _partitioned(spark, path)
        keys = F.broadcast(keys_df.select(key_col))
        touched, n_deleted, _ = _holding(lake, table.df, keys, key_col)
        if touched:
            (old,) = _read_leaves(lake, table.partitions, ("", touched))
            _rewrite(lake, table.partitions, touched, old.join(keys, key_col, "left_anti"))
    return n_deleted


def merge_into_lake(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_col: str,
    lease: bool = True,
) -> dict:
    """Keyed upsert (lakehouse ``MERGE``) into a plain-parquet
    partitioned lake: rows in ``updates`` REPLACE the lake's rows with
    the same key (wherever they live — a key may move partitions) and
    keys the lake has never seen are inserted. Copy-on-write at
    partition granularity, the additive twin of :func:`delete_from_lake`.

    The lake is read as :func:`read_lake` reads it (footers merged over
    every file). The updates are written into staging first (so they
    are computed once), in the lake's one layout: a staged partition
    leaf the lake lacks is published by rename as one sorted zstd file,
    and nothing is read for it. The leaves rewritten are exactly (a) the
    lake leaves the other staged leaves land on and (b) the leaves
    holding a stale version of an updated key, found by one aggregate
    over the lake's key column and file directories. They are read back
    (footers merged over exactly their files and the staged ones,
    partition columns as their directory strings), the updated keys are
    anti-joined out, the staged rows added, and the result is written
    into staging in the same layout and published by rename. A leaf
    left with no rows (its only key moved elsewhere) is deleted.
    Untouched partitions keep their files byte-for-byte. The partition
    columns are the lake's own (``ValueError`` for an unpartitioned
    lake).

    ``updates`` must carry the full lake row (data + partition columns;
    a data column the lake has, in any of its files, is cast to the
    lake's type, so the files of a leaf agree) and at most one row per
    key — upsert with multiple versions per key is ambiguous; pre-dedup
    with keep-last if needed. Returns ``{"rows_updated": ...,
    "rows_inserted": ...}`` counted in KEYS (a lake row duplicated per
    key collapses to the one update row and still counts once).
    Serialized behind the lake's maintenance lease (``lease=False`` opts
    out when the caller already holds it).
    """
    with _lease(spark, path, "merge_into_lake", lease), _staging(spark, path) as lake:
        table = _partitioned(spark, path)
        keys, staged = table.partitions, f"{STAGING}/updates"
        types = {f.name: f.dataType for f in table.df.schema.fields if f.name not in keys}
        updates = updates.select(*(F.col(c).cast(types[c]) if c in types else F.col(c) for c in updates.columns))
        _write(updates, lake.uri(staged), keys)
        # the staged files' own schema: the one they were just written with
        schema = StructType([*updates.drop(*keys).schema.fields, *(StructField(k, StringType()) for k in keys)])
        incoming = (
            spark.read.schema(schema)
            .option("basePath", lake.uri(staged))
            .parquet(lake.uri(staged))
        )
        updated = F.broadcast(incoming.select(key_col))
        stale, _, n_updated = _holding(lake, table.df, updated, key_col)
        n_inserted = incoming.count() - n_updated
        _merge_staged(
            lake,
            staged,
            keys,
            lambda old, new: old.join(updated, key_col, "left_anti").unionByName(new),
            stale=stale,
        )
    return {"rows_updated": n_updated, "rows_inserted": n_inserted}
