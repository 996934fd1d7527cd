"""Flat-file (CSV.GZ) bar ingestion — the reference's `poly bars` scan
re-expressed as one declarative read (reference:
src/polygon_ingest/ingest.py — candidate columns 64-66, header sniff
132-140, epoch handling 166-176, per-worker dataflow 179-323).

Spark-first mapping (SURVEY.md §3.1): the reference's hand-built
chunked scans, month-hash worker ownership, IPC and atomic renames all
dissolve into a single `spark.read.csv` -> select/filter -> partitioned
write; gzip decompression, projection and parallelism are Spark's.

Column resolution is schema-on-read: the first matching timestamp
candidate (window_start/t/timestamp/ts/epoch/start_time) and ticker
candidate (ticker/T/symbol/S) are chosen from the actual header, and
Polygon's shorthand o/h/l/c/v/n/vw is renamed to long names.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.timeutil import epoch_to_timestamp, eastern_wall_clock

TS_CANDIDATES = ("window_start", "t", "timestamp", "ts", "epoch", "start_time")
TICKER_CANDIDATES = ("ticker", "T", "symbol", "S")
SHORTMAP = {
    "o": "open",
    "h": "high",
    "l": "low",
    "c": "close",
    "v": "volume",
    "n": "transactions",
    "vw": "vwap",
}
#: column -> storage type (ingest.py:219-226: float32 prices, int64 counts)
BAR_TYPES = {
    "open": "float",
    "high": "float",
    "low": "float",
    "close": "float",
    "vwap": "float",
    "volume": "bigint",
    "transactions": "bigint",
}


def resolve_bar_columns(columns: Iterable[str]) -> tuple[str, str, dict[str, str]]:
    """(ts_col, ticker_col, renames) for a raw header; raises if no
    timestamp or ticker candidate is present (ingest.py:136-140)."""
    cols = list(columns)
    ts_col = next((c for c in TS_CANDIDATES if c in cols), None)
    ticker_col = next((c for c in TICKER_CANDIDATES if c in cols), None)
    if ts_col is None:
        raise ValueError(f"no timestamp candidate in header: {cols}")
    if ticker_col is None:
        raise ValueError(f"no ticker candidate in header: {cols}")
    renames = {c: SHORTMAP[c] for c in cols if c in SHORTMAP}
    return ts_col, ticker_col, renames


def normalize_bar_frame(
    raw: DataFrame,
    tf: str = "day",
    only: str | None = None,
    watchlist: Iterable[str] | None = None,
) -> DataFrame:
    """Raw header-resolved frame -> normalized bar DataFrame.

    Output: ticker, datetime (UTC instant), datetime_et (US/Eastern
    wall clock), OHLCV columns that exist in the source, and
    year/month[/day] partition keys derived from the UTC instant
    (ingest.py:263-268). Shared by batch and streaming ingest.
    """
    ts_col, ticker_col, renames = resolve_bar_columns(raw.columns)
    df = raw
    for src, dst in renames.items():
        df = df.withColumnRenamed(src, dst)
    if ticker_col != "ticker":
        df = df.withColumnRenamed(ticker_col, "ticker")
    df = df.withColumn("ticker", F.upper(F.col("ticker").cast("string")))

    if only:
        df = df.filter(F.col("ticker") == only.strip().upper())
    if watchlist is not None:
        watch = sorted({w.strip().upper() for w in watchlist})
        df = df.filter(F.col("ticker").isin(watch))

    ts = epoch_to_timestamp(ts_col)
    df = (
        df.withColumn("datetime", ts)
        .withColumn("datetime_et", eastern_wall_clock(F.col("datetime")))
        .withColumn("year", F.year(F.expr("CAST(datetime AS TIMESTAMP_NTZ)")))
        .withColumn("month", F.month(F.expr("CAST(datetime AS TIMESTAMP_NTZ)")))
    )
    if tf == "minute":
        df = df.withColumn("day", F.dayofmonth(F.expr("CAST(datetime AS TIMESTAMP_NTZ)")))
    df = df.drop(ts_col).na.drop(subset=["datetime", "ticker"])

    for c, t in BAR_TYPES.items():
        if c in df.columns:
            df = df.withColumn(c, F.col(c).cast(t))
    ordered = ["ticker", "datetime", "datetime_et"] + [
        c for c in BAR_TYPES if c in df.columns
    ] + ["year", "month"] + (["day"] if tf == "minute" else [])
    return df.select(*ordered)


def _header_signature(path: str) -> tuple[str, ...]:
    """First line of a (possibly gzipped) CSV — the reference's header
    sniff (ingest.py:132-134). Runs on executors (see _probe_headers);
    gzip streams only the first block, so the cost per file is one
    small read regardless of file size."""
    import gzip

    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt") as f:
        return tuple(f.readline().strip().split(","))


def list_flatfiles(spark: SparkSession, patterns: list[str]) -> DataFrame:
    """Distributed file listing -> DataFrame[path] (no Python glob).

    Listing goes through Spark's file index (``binaryFile`` with every
    column but ``path`` pruned, so no bytes are read): above
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths the
    JVM parallelizes discovery across executors. Python driver I/O is
    O(1) regardless of file count — the reference's serial per-file
    driver loop (ingest.py:132-134) and round 1/2's ``glob.glob`` both
    did O(#files) driver work."""
    from functools import reduce

    from pyspark.errors import AnalysisException

    frames = []
    for p in patterns:
        try:
            frames.append(spark.read.format("binaryFile").load(p).select("path"))
        except AnalysisException as e:
            if "PATH_NOT_FOUND" in str(e) or "does not exist" in str(e):
                continue
            raise
    if not frames:
        raise FileNotFoundError(f"no flat files match {patterns}")
    df = reduce(lambda a, b: a.unionByName(b), frames).distinct()
    # binaryFile yields URIs; local paths keep a file: scheme the
    # executor-side gzip probe must strip.
    return df.select(F.regexp_replace("path", "^file:", "").alias("path"))


def probe_headers_df(files_df: DataFrame) -> DataFrame:
    """(path, sig) per file, header-sniffed ON THE EXECUTORS.

    ``sig`` is the comma-joined first line — the group key for
    layout-homogeneous scans. One small read per file (gzip streams
    only its first block), Arrow-batched via ``mapInPandas``; total
    probe work is distributed, the driver touches no file. (Files must
    be reachable from executors — true for any shared/cloud FS a
    cluster would ingest from.)"""
    import pandas as pd

    def probe(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "path": pdf["path"],
                    "sig": [",".join(_header_signature(p)) for p in pdf["path"]],
                }
            )

    return files_df.mapInPandas(probe, "path string, sig string")


def _resolved_names(header: tuple[str, ...]) -> list[str]:
    """Header -> output column names: ticker alias + shorthand renames.

    Polygon's shorthand header has both `T` (ticker) and `t`
    (timestamp); Spark's case-insensitive reader would de-duplicate
    them to `T0`/`t1`, so names are always assigned positionally from
    the sniffed true header."""
    _, ticker_col, renames = resolve_bar_columns(header)
    return ["ticker" if c == ticker_col else renames.get(c, c) for c in header]


def read_bar_flatfiles(
    spark: SparkSession,
    paths: str | list[str],
    tf: str = "day",
    only: str | None = None,
    watchlist: Iterable[str] | None = None,
) -> DataFrame:
    """CSV.GZ flat files -> normalized bar DataFrame (batch ingest).

    Files are grouped by header signature before reading: a single
    ``spark.read.csv`` over heterogeneous headers would take the first
    file's header and parse every other layout positionally (silent
    data corruption). Each header group gets its own scan + alias
    resolution, then groups union by name (missing columns -> null),
    mirroring the reference's per-file schema-on-read. The number of
    groups is the number of distinct header layouts (a handful), so
    this stays one job per layout at any corpus size.

    Listing and header probing are fully distributed (see
    :func:`list_flatfiles` / :func:`probe_headers_df`). Each group is one
    native ``spark.read.csv``: the driver streams the (sig, path)
    manifest partition-at-a-time to hand each group its path list —
    peak driver memory is the path strings themselves, the same
    O(#files) metadata bound Spark's own FileIndex holds for any scan,
    with zero driver file I/O.
    """
    from functools import reduce

    patterns = [paths] if isinstance(paths, str) else list(paths)
    sig_df = probe_headers_df(list_flatfiles(spark, patterns))

    groups: dict[str, list[str]] = {}
    for row in sig_df.toLocalIterator():
        groups.setdefault(row["sig"], []).append(row["path"])
    frames = []
    for sig in sorted(groups):
        header = tuple(sig.split(","))
        raw = spark.read.option("header", True).csv(sorted(groups[sig]))
        raw = raw.toDF(*_resolved_names(header))
        frames.append(normalize_bar_frame(raw, tf=tf, only=only, watchlist=watchlist))
    if not frames:
        raise FileNotFoundError(f"no flat files match {patterns}")
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)
