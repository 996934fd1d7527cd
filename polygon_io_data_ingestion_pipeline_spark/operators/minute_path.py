"""Minute-lake adjustment: the reference's streaming path, composed
end-to-end.

Reference: legacy_scripts/factor_builder.py — `_scan_day_edges` 727-744,
`_build_split_factors_from_days` 755-828 (declared-events forward align,
per-day product, gap detect/override), `_build_daily_prior_base`
831-852, `_build_dividend_factors_from_days` 868-909, and
`_stream_write_minutes` 912-998 with the ±1-day apply-time factor
fallback at 957-964.

The reference streams day-files one at a time through a thread pool with
an in-memory (ticker, day) -> factors dict; here the whole path is one
declarative plan:

- the edges scan is one grouped aggregation (operators/gaps.py);
- per-ticker factor programs become windows partitioned by ticker
  (the stream path keys factors by ticker, not id — preserved);
- the factormap dict becomes a per-day *effective factor* table built
  with two calendar-shifted self-joins (the ±1-day fallback), then one
  equi-join onto the minute rows — no driver-side state, no Python.

Stream-mode conventions preserved exactly (SURVEY §7.4 item 4):
- TR normalizes only to G_last (no batch renormalization);
- the dividend prior_base is the *prior trading day's end-of-day close*
  from the edges table, split-adjusted;
- the fallback tries day-1 then day+1 and only when the day's own
  factors are exactly neutral (1.0, 1.0, 1.0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .asof import asof_join
from .factors import attach_id, dividend_growth, prep_dividends, prep_splits
from .gaps import day_edges, infer_gap_ratios, merge_declared_with_inferred
from .windows import cumprod, normalize_to_last

_NEUTRAL = ("split_price_factor", "split_volume_factor", "tr_price_factor")


def align_events_to_days(
    events: DataFrame, days: DataFrame, date_col: str, value_col: str
) -> DataFrame:
    """Forward-snap ticker-keyed events onto the per-ticker trading-day
    calendar (merge_asof(direction='forward'), events past the last day
    drop). ``days``: (ticker, event_day)."""
    left = events.select("ticker", F.col(date_col).alias("anchor"), value_col)
    right = days.select("ticker", F.col("event_day").alias("anchor"))
    aligned = asof_join(
        left, right, on="anchor", by="ticker", direction="forward",
        allow_exact_matches=True, right_prefix="day_", how="inner",
    )
    return aligned.select("ticker", F.col("day_anchor").alias("event_day"), value_col)


def split_factors_from_days(
    days: DataFrame,
    splits: DataFrame,
    edges: DataFrame | None = None,
) -> DataFrame:
    """(ticker, event_day, split_price_factor, split_volume_factor) from
    declared splits reconciled with the ratios inferred from the price
    gaps of ``edges`` (factor_builder.py:755-828; declared only without
    ``edges``)."""
    declared = (
        align_events_to_days(
            splits.na.drop(subset=["execution_date", "ratio"]),
            days,
            "execution_date",
            "ratio",
        )
        .groupBy("ticker", "event_day")
        .agg(F.product("ratio").alias("ratio"))
    )
    if edges is not None:
        inferred = infer_gap_ratios(edges)
        declared = merge_declared_with_inferred(declared, inferred)
    w = Window.partitionBy("ticker").orderBy("event_day")
    e = days.join(declared, ["ticker", "event_day"], "left").na.fill({"ratio": 1.0})
    e = e.withColumn("F", cumprod(F.col("ratio"), w))
    return e.select(
        "ticker",
        "event_day",
        normalize_to_last(F.col("F"), w).alias("split_price_factor"),
        (F.lit(1.0) / normalize_to_last(F.col("F"), w)).alias("split_volume_factor"),
    )


def dividend_factors_from_days(
    days: DataFrame,
    dividends: DataFrame,
    edges: DataFrame,
    split_factors: DataFrame,
) -> DataFrame:
    """(ticker, event_day, tr_price_factor) in stream-mode convention:
    prior_base from the prior day's split-adjusted end-of-day close, TR
    normalized only to G_last (factor_builder.py:831-909)."""
    base = days.join(
        edges.select("ticker", "event_day", F.col("last_close").alias("close_eod")),
        ["ticker", "event_day"],
        "left",
    )
    base = (
        base.join(
            split_factors.select("ticker", "event_day", "split_price_factor"),
            ["ticker", "event_day"],
            "left",
        )
        .na.fill({"split_price_factor": 1.0})
        .withColumn("base", F.col("close_eod") * F.col("split_price_factor"))
    )
    w = Window.partitionBy("ticker").orderBy("event_day")
    base = base.withColumn("prior_base", F.lag("base").over(w))

    per_day = (
        align_events_to_days(
            dividends.na.drop(subset=["ex_date", "amount"]), days, "ex_date", "amount"
        )
        .groupBy("ticker", "event_day")
        .agg(F.sum("amount").alias("amount"))
    )
    t = base.join(per_day, ["ticker", "event_day"], "left")
    t = t.withColumn("G", cumprod(dividend_growth(F.col("amount"), F.col("prior_base")), w))
    return t.select(
        "ticker", "event_day", normalize_to_last(F.col("G"), w).alias("tr_price_factor")
    )


def effective_day_factors(
    day_keys: DataFrame, split_factors: DataFrame, div_factors: DataFrame
) -> DataFrame:
    """Per (ticker, event_day) *effective* factors with the reference's
    ±1-day apply-time fallback (factor_builder.py:957-964): a day with
    no row in the factor calendar (e.g. factors built from a day lake
    whose dates are offset from the minute files') borrows day-1's
    factors, else day+1's (preferring a non-neutral neighbour, as the
    reference does), else stays neutral.

    NOTE one deliberate deviation, documented as in factors.py: the
    reference keys a plain dict and cannot distinguish "missing" from
    "present and exactly neutral (1,1,1)", so its fallback also fires
    on the first neutral day after a ticker's last event — applying the
    prior day's pre-split factor to the split day's own minutes. We
    fall back only for days genuinely absent from the factor calendar;
    results differ from the reference only where the reference
    mis-adjusts.

    ``day_keys``: distinct (ticker, event_day) observed in the minutes.
    """
    fg = (
        split_factors.join(div_factors, ["ticker", "event_day"], "outer")
        .na.fill({c: 1.0 for c in _NEUTRAL})
    )

    def tagged(shift: int, tag: str) -> DataFrame:
        return fg.select(
            "ticker",
            F.date_add("event_day", shift).alias("event_day"),
            *[F.col(c).alias(f"{c}__{tag}") for c in _NEUTRAL],
        )

    def fstruct(tag: str):
        return F.struct(*[F.col(f"{c}__{tag}").alias(c) for c in _NEUTRAL])

    def present(tag: str):
        return F.col(f"{_NEUTRAL[0]}__{tag}").isNotNull()

    def nonneutral(tag: str):
        cols = [F.col(f"{c}__{tag}") for c in _NEUTRAL]
        return present(tag) & ((cols[0] != 1.0) | (cols[1] != 1.0) | (cols[2] != 1.0))

    base = fg.select(
        "ticker", "event_day", *[F.col(c).alias(f"{c}__d0") for c in _NEUTRAL]
    )
    joined = (
        day_keys.join(base, ["ticker", "event_day"], "left")
        .join(tagged(1, "dm1"), ["ticker", "event_day"], "left")  # row from day-1
        .join(tagged(-1, "dp1"), ["ticker", "event_day"], "left")  # row from day+1
    )
    neutral_struct = F.struct(*[F.lit(1.0).alias(c) for c in _NEUTRAL])
    chosen = (
        F.when(present("d0"), fstruct("d0"))
        .when(nonneutral("dm1"), fstruct("dm1"))
        .when(nonneutral("dp1"), fstruct("dp1"))
        .otherwise(neutral_struct)
    )
    return joined.select("ticker", "event_day", chosen.alias("__f")).select(
        "ticker", "event_day", *[F.col(f"__f.{c}").alias(c) for c in _NEUTRAL]
    )


def adjust_minute_bars(
    minute_bars: DataFrame,
    security_master: DataFrame,
    splits: DataFrame,
    dividends: DataFrame,
    materialize: str = "ohlc",
    split_factors: DataFrame | None = None,
    div_factors: DataFrame | None = None,
) -> DataFrame:
    """Minute bars + refdata -> adjusted minute bars, the reference's
    full streaming path as one plan: edges scan -> declared+inferred
    split factors -> stream-mode dividend factors -> effective-factor
    table with the ±1-day fallback -> one factor-application join.

    ``split_factors``/``div_factors`` optionally inject externally
    built per-day factor tables (e.g. from the day lake) — the case
    where the ±1-day fallback genuinely fires, when the two lakes'
    day keys are offset.

    The id-stitched minutes, the day edges and the split factors each
    feed several downstream legs, so each is pinned with
    ``localCheckpoint(eager=False)``: no CacheManager entry, blocks
    released with the frame. Under AQE their shuffle stages run when
    this function is called (see ``adjust_bars``).

    Returns the adjusted frame (write it with
    ``sources.lake.write_lake`` for the partitioned layout).
    """
    px = attach_id(minute_bars, security_master).localCheckpoint(eager=False)
    edges = day_edges(px).localCheckpoint(eager=False)
    days = edges.select("ticker", "event_day")  # already distinct per group
    sf = split_factors
    if sf is None:
        sf = split_factors_from_days(
            days, prep_splits(splits), edges
        ).localCheckpoint(eager=False)
    gf = div_factors
    if gf is None:
        gf = dividend_factors_from_days(
            days, prep_dividends(dividends), edges, sf
        )
    day_keys = px.select("ticker", "event_day").distinct()
    eff = effective_day_factors(day_keys, sf, gf)

    m = px.join(eff, ["ticker", "event_day"], "left").na.fill(
        {c: 1.0 for c in _NEUTRAL}
    )
    m = m.withColumn("close_split", F.col("close") * F.col("split_price_factor"))
    m = m.withColumn("volume_split", F.col("volume") * F.col("split_volume_factor"))
    if materialize == "ohlc":
        for c in ("open", "high", "low"):
            if c in minute_bars.columns:
                m = m.withColumn(f"{c}_split", F.col(c) * F.col("split_price_factor"))
    # TR is applied to close_split UNCONDITIONALLY, like the reference
    # stream writer (factor_builder.py:977-979); the split-adjusted
    # close enters only the dividend prior_base in the factor build above.
    m = m.withColumn("close_tr", F.col("close_split") * F.col("tr_price_factor"))
    if materialize == "ohlc":
        for c in ("open", "high", "low"):
            if f"{c}_split" in m.columns:
                m = m.withColumn(
                    f"{c}_tr", F.col(f"{c}_split") * F.col("tr_price_factor")
                )
    return m
