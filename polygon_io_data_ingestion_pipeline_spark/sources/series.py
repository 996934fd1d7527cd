"""Analysis-frame loaders: unadjusted × adjusted series merge, event
loading, audit summary, and the split-window backfill job.

Reference: src/polygon_ingest/lake_io.py:479-568 (`load_series` /
`load_events`), legacy_scripts/factor_builder.py:568-643
(`_event_summary`), scripts/emit_split_backfill_cmds.py (±14-day
re-adjust windows). The reference's per-ticker file walks and pandas
merges become two pruned lake reads and one join.
"""

from __future__ import annotations

import uuid
import weakref
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .lake import _lake, _schema_confs, _ticker_keys, lake_args, lake_where, sql_ident

#: factor_builder's *_split columns -> canonical *_sa aliases
SPLIT_TO_SA = {
    "open_split": "open_sa",
    "high_split": "high_sa",
    "low_split": "low_sa",
    "close_split": "close_sa",
    "volume_split": "volume_sa",
}
_SA_TO_SPLIT = {sa: split for split, sa in SPLIT_TO_SA.items()}
BASE_COLS = ("datetime", "ticker", "open", "high", "low", "close", "volume", "vwap")
ADJ_COLS = ("open_sa", "high_sa", "low_sa", "close_sa", "vwap_sa", "volume_sa", "close_tr")


def load_series(
    spark: SparkSession,
    unadj_root: str,
    adj_root: str,
    tf: str,
    tickers: Iterable[str] | None = None,
    start: str | None = None,
    end: str | None = None,
) -> DataFrame:
    """Unadjusted bars left-joined with their adjusted columns.

    Day granularity joins on the calendar date (lake_io.py:500-506),
    minute on the exact timestamp (509-511); *_split columns are
    harmonized to *_sa. Both sides are partition-pruned reads, filtered
    exactly as ``read_lake`` filters them.

    Both lakes are read through ``read_lake``'s relation cache (so a load
    checks only the ticker directories it names, and a change there
    rebuilds that lake's relation). The join over the two cached
    relations is parsed and its relations resolved once per session and
    pair of relations, with the filters as named parameters; a load only
    binds its tickers and bounds to them.
    """
    tickers = None if tickers is None else _ticker_keys(tickers)  # iterated three times below
    confs = _schema_confs(spark)
    un, ad = _lake(spark, unadj_root, tickers, confs), _lake(spark, adj_root, tickers, confs)
    pairs, key = _SERIES.setdefault(spark, {}), (unadj_root, adj_root, tf)
    hit = pairs.get(key)
    if hit is None or hit[0] is not un or hit[1] is not ad:
        text = _join_text(un.df.columns, ad.df.columns, tf, lake_where(un.time_parts), lake_where(ad.time_parts))
        hit = pairs[key] = (un, ad, _Template(spark, text, lake_args(None, None, None), un=un.df, ad=ad.df))
    return hit[2].bind(lake_args(tickers, start, end))


# session -> {(unadjusted root, adjusted root, tf): (unadjusted _Lake,
# adjusted _Lake, join template)}; one entry per series pair a session
# loads, gone with the session.
_SERIES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def join_series(un: DataFrame, ad: DataFrame, tf: str) -> DataFrame:
    """The load_series merge core: unadjusted bars left-joined with
    adjusted columns — on calendar date for day granularity
    (lake_io.py:500-506), on exact timestamp for minute (509-511).
    Exposed separately so the join semantics are oracle-testable
    without lake directories."""
    return un.sparkSession.sql(_join_text(un.columns, ad.columns, tf), un=un, ad=ad)


def _join_text(un_cols: list[str], ad_cols: list[str], tf: str, un_where: str = "", ad_where: str = "") -> str:
    """``join_series`` as one SQL text over the placeholders ``{un}`` and
    ``{ad}`` (frames with the columns ``un_cols`` and ``ad_cols``), each
    side first filtered by its SQL predicate (none for "")."""
    have = set(ad_cols)
    adj = {}  # ADJ_COLS order; a missing *_sa column comes from its *_split source
    for c in ADJ_COLS:
        src = c if c in have else _SA_TO_SPLIT.get(c)
        if src in have:
            adj[sql_ident(c)] = sql_ident(src)
    base = [sql_ident(c) for c in BASE_COLS if c in un_cols]
    key = "to_date(`datetime`)" if tf == "day" else "`datetime`"  # calendar date / exact instant
    return (
        f"SELECT {', '.join([f'l.{c}' for c in base] + [f'r.{c}' for c in adj])} "
        f"FROM (SELECT {', '.join(base)}, {key} AS `__k` FROM {{un}}{f' WHERE {un_where}' if un_where else ''}) l "
        f"LEFT JOIN (SELECT {key} AS `__k`, `ticker` AS `__t`"
        f"{''.join(f', {src} AS {c}' for c, src in adj.items())} FROM {{ad}}"
        f"{f' WHERE {ad_where}' if ad_where else ''}) r "
        "ON l.`__k` = r.`__k` AND l.`ticker` = r.`__t`"
    )


class _Template:
    """A SQL text over frames (its ``{name}`` placeholders) with named
    parameters, parsed and with its relations resolved once; each
    :meth:`bind` is what ``spark.sql(text, args=...)`` would build, minus
    the parse, the relation resolution and the temp views (the frames
    are temp views only while this resolves them)."""

    def __init__(self, spark: SparkSession, text: str, params: Iterable[str], **frames: DataFrame) -> None:
        self._spark, self._params = spark, list(params)
        views = {name: f"__series_{name}_{uuid.uuid4().hex}" for name in frames}
        for name, df in frames.items():
            df.createOrReplaceTempView(views[name])
        try:
            state = spark._jsparkSession.sessionState()
            self._plan = state.analyzer().execute(state.sqlParser().parsePlan(text.format(**views)))
        finally:
            for view in views.values():
                spark.catalog.dropTempView(view)
        jvm = spark._jvm
        self._to_seq = jvm.PythonUtils.toSeq
        self._names = self._to_seq(self._params)
        self._literal = getattr(getattr(jvm, "org.apache.spark.sql.catalyst.expressions.Literal$"), "MODULE$").apply
        self._query = getattr(jvm, "org.apache.spark.sql.catalyst.analysis.NameParameterizedQuery")
        self._of_rows = getattr(jvm, "org.apache.spark.sql.classic.Dataset").ofRows

    def bind(self, args: dict) -> DataFrame:
        """The plan with its parameters bound to ``args``: analysis binds
        the values and resolves only what depended on them."""
        values = self._to_seq([self._literal(args[p]) for p in self._params])
        query = self._query(self._plan, self._names, values)
        return DataFrame(self._of_rows(self._spark._jsparkSession, query), self._spark)


SPLIT_DATE_ALIASES = ("execution_date", "effective_date", "split_date", "date")
DIV_DATE_ALIASES = ("ex_date", "ex_dividend_date", "exDividendDate", "exDate", "date")


def load_events(
    spark: SparkSession, refdir: str, tickers: Iterable[str] | None = None
) -> tuple[DataFrame, DataFrame]:
    """(splits, dividends) with alias-normalized dates and derived ratio
    (lake_io.py:525-568)."""

    def _norm_date(df: DataFrame, aliases: tuple[str, ...], out: str) -> DataFrame:
        src = next((c for c in aliases if c in df.columns), None)
        if src is None:
            return df.withColumn(out, F.lit(None).cast("timestamp_ntz"))
        col = F.col(src).cast("timestamp_ntz")
        return df.withColumn(out, col) if src != out else df

    splits = spark.read.parquet(f"{refdir}/stock_splits.parquet")
    divs = spark.read.parquet(f"{refdir}/cash_dividends.parquet")
    splits = _norm_date(splits.withColumn("ticker", F.upper("ticker")), SPLIT_DATE_ALIASES, "execution_date")
    divs = _norm_date(divs.withColumn("ticker", F.upper("ticker")), DIV_DATE_ALIASES, "ex_date")
    if "ratio" not in splits.columns and {"split_from", "split_to"} <= set(splits.columns):
        from ..operators.factors import split_ratio

        splits = splits.withColumn("ratio", split_ratio(F.col("split_from"), F.col("split_to")))
    if tickers is not None:
        keys = sorted({t.strip().upper() for t in tickers})
        splits = splits.filter(F.col("ticker").isin(keys))
        divs = divs.filter(F.col("ticker").isin(keys))
    return splits, divs


def event_summary(adjusted: DataFrame) -> DataFrame:
    """Per-id audit row mirroring `_event_summary.csv`
    (factor_builder.py:568-643): factor ranges, implied cumulative
    ratio, row/day counts and series bounds."""
    w = Window.partitionBy("id")
    return (
        adjusted.groupBy("id")
        .agg(
            F.first("ticker", ignorenulls=True).alias("ticker"),
            F.count("*").alias("n_rows"),
            F.countDistinct(F.to_date("datetime")).alias("n_days"),
            F.min("datetime").alias("first_bar"),
            F.max("datetime").alias("last_bar"),
            F.min("split_price_factor").alias("min_split_factor"),
            F.max("split_price_factor").alias("max_split_factor"),
            (F.lit(1.0) / F.min("split_price_factor")).alias("implied_cum_ratio"),
            F.min("tr_price_factor").alias("min_tr_factor"),
            F.max("tr_price_factor").alias("max_tr_factor"),
        )
    )


def backfill_split_windows(
    bars: DataFrame,
    security_master: DataFrame,
    splits: DataFrame,
    dividends: DataFrame,
    new_splits: DataFrame,
    window_days: int = 14,
    materialize: str = "ohlc",
) -> DataFrame:
    """Recompute adjusted bars only for tickers with new split events —
    the reference's ±window backfill job (emit_split_backfill_cmds.py).

    Factor math must see each id's FULL calendar (normalize-to-last
    anchoring makes every new event re-price all history), so the
    affected tickers are fully re-adjusted, then the output is
    restricted to the ±window around each new event — matching the
    reference's re-emitted date windows, ready for dynamic partition
    overwrite. ``materialize`` picks the adjusted column set, as in
    ``adjust_bars``.
    """
    from ..operators.factors import adjust_bars, prep_splits

    ev = prep_splits(new_splits).select(
        "ticker", F.col("execution_date").alias("ev_day")
    )
    affected = ev.select("ticker").distinct()
    scoped = bars.join(F.broadcast(affected), "ticker", "left_semi")
    adjusted = adjust_bars(scoped, security_master, splits, dividends, materialize=materialize)
    in_window = adjusted.join(
        F.broadcast(ev),
        (adjusted["ticker"] == ev["ticker"])
        & (
            F.abs(F.datediff(F.to_date(adjusted["datetime"]), F.col("ev_day")))
            <= window_days
        ),
        "left_semi",
    )
    return in_window
