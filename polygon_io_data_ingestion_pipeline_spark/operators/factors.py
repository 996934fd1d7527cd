"""Corporate-action adjustment engine (split + total-return factors).

Re-expresses the reference's per-id pandas workers (reference:
legacy_scripts/factor_builder.py — `_attach_id` 148-180, split worker
238-289, dividend worker 291-348, apply 419-438, renormalize 440-455)
as one declarative DataFrame pipeline:

- the per-id process pool becomes ``Window.partitionBy("id")``;
- ``pd.merge_asof(direction='forward')`` becomes the union+window as-of
  join (operators/asof.py);
- ``cumprod`` becomes ``exp(sum(log))`` over a running window
  (operators/windows.py);
- the broadcastable reference tables (security master, splits,
  dividends) are explicit ``broadcast()`` joins.

Cost shape at scale: everything partitions by ``id`` (or
``(id, event_day)``); there is no driver-side loop, no Python UDF, and
the only shuffles are the ones the semantics require (one per window
keying + the factor-application joins, which AQE turns into broadcast
joins whenever the factor tables are small).

Conventions preserved exactly (SURVEY.md §7.4):
- factors are normalized so the **most recent** bar of each id is
  unadjusted (factor == 1.0 on the last row);
- same-day splits multiply, same-day dividends sum;
- the dividend growth factor uses the **prior trading day's**
  split-adjusted close;
- events dated after an id's last trading day are dropped by the
  forward as-of alignment;
- NOTE one deliberate deviation: the reference's forward snap
  (factor_builder.py:261-267) passes ``pd.merge_asof`` a right frame
  containing only the `on` column, which makes it a no-op — events on
  non-trading days keep their raw date and are then silently dropped by
  the calendar join, losing the split entirely. We implement the
  documented intent (a real snap to the next observed trading day);
  results differ from the reference only for events dated on
  non-trading days, where the reference loses the adjustment;
- event-id fallback: an id with no FIGI-keyed events falls back to
  ticker-keyed events;
- NOTE a second deliberate deviation: a split row whose ratio is not
  positive (``split_from`` or ``split_to`` <= 0, or a given ``ratio``
  <= 0) is ignored, like a row with a NULL ratio. The reference's
  pandas path turns such a row into inf, zero or NaN factors across the
  security's history, and under Spark's ANSI mode the unguarded
  division would fail the whole adjust with DIVIDE_BY_ZERO.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .asof import asof_join
from .windows import cumprod, normalize_to_last

OHLC = ("open", "high", "low")


# ---------------------------------------------------------------------------
# Reference-table prep (alias resolution; factor_builder.py:187-236)
# ---------------------------------------------------------------------------


def split_ratio(split_from: Column, split_to: Column) -> Column:
    """``split_to / split_from`` as a double; NULL unless both sides are
    positive (a zero ``split_from`` must not reach the ANSI divide)."""
    sf, st = split_from.cast("double"), split_to.cast("double")
    return F.when((sf > 0) & (st > 0), st / sf)


def prep_splits(splits: DataFrame) -> DataFrame:
    """Normalize a splits table to (execution_date, ratio, ticker,
    composite_figi, event_id). A ratio that is not positive becomes
    NULL, so event alignment ignores the row (``cumprod`` needs a
    strictly positive input)."""
    s = splits
    if "ratio" not in s.columns and {"split_from", "split_to"} <= set(s.columns):
        s = s.withColumn("ratio", split_ratio(F.col("split_from"), F.col("split_to")))
    if "composite_figi" not in s.columns:
        s = s.withColumn("composite_figi", F.lit(None).cast("string"))
    ratio = F.col("ratio").cast("double")
    return s.select(
        F.to_date("execution_date").alias("execution_date"),
        F.when(ratio > 0, ratio).alias("ratio"),
        F.upper(F.trim(F.col("ticker"))).alias("ticker"),
        "composite_figi",
        F.coalesce(
            F.col("composite_figi"), F.concat(F.lit("NOFIGI__"), F.upper(F.trim(F.col("ticker"))))
        ).alias("event_id"),
    )


def prep_dividends(dividends: DataFrame) -> DataFrame:
    """Normalize a dividends table to (ex_date, amount, ticker,
    composite_figi, event_id); accepts ex_dividend_date / cash_amount
    aliases."""
    d = dividends
    cols = set(d.columns)
    ex = "ex_date" if "ex_date" in cols else "ex_dividend_date"
    amt = "amount" if "amount" in cols else "cash_amount"
    if "composite_figi" not in cols:
        d = d.withColumn("composite_figi", F.lit(None).cast("string"))
    return d.select(
        F.to_date(ex).alias("ex_date"),
        F.col(amt).cast("double").alias("amount"),
        F.upper(F.trim(F.col("ticker"))).alias("ticker"),
        "composite_figi",
        F.coalesce(
            F.col("composite_figi"), F.concat(F.lit("NOFIGI__"), F.upper(F.trim(F.col("ticker"))))
        ).alias("event_id"),
    )


# ---------------------------------------------------------------------------
# SCD-2 entity stitch (factor_builder.py:148-180)
# ---------------------------------------------------------------------------


def _statically_empty(df: DataFrame) -> bool:
    """True when the OPTIMIZED logical plan is provably zero rows —
    recognizable from the driver without running any job.

    Sound rule: rows only enter a plan through its LEAVES, so if every
    leaf is an empty relation (``LocalRelation <empty>`` or a zero-row
    ``Range``) the whole tree is empty whatever operators sit above.
    Any leaf we cannot classify makes the answer ``False``
    (conservative: the caller falls back to a real probe)."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return False
    leaves = [
        ln
        for ln in plan.splitlines()
        if "LocalRelation" in ln or "Range (" in ln or "Relation" in ln or "Scan" in ln
    ]
    if not leaves:
        return False
    return all("LocalRelation <empty>" in ln or "Range (0, 0" in ln for ln in leaves)


def attach_id(bars: DataFrame, security_master: DataFrame) -> DataFrame:
    """Attach the point-in-time entity id to each bar.

    Broadcast left join on ticker, then the validity-window predicate
    ``effective_start <= event_day <= effective_end`` (open-ended end;
    rows with a null window survive), keep-last dedup per (ticker,
    datetime), and the ``NOFIGI__<TICKER>`` fallback.

    The dimension is probed at plan-build time to take a no-join fast
    path when it's empty: first structurally (an optimized plan that is
    a ``LocalRelation <empty>`` / zero-row ``Range`` costs zero jobs to
    recognize — and ``isEmpty`` on an EMPTY many-partition frame is the
    worst case of ``take(1)``'s scale-up rounds, measured seconds of
    empty tasks), then via ``isEmpty`` (a broadcast-sized table: one
    footer read).
    """
    px_base = bars.withColumn("ticker", F.upper(F.trim(F.col("ticker")))).withColumn(
        "event_day", F.to_date("datetime")
    )
    if _statically_empty(security_master) or security_master.isEmpty():
        # no dimension -> every row falls through to the NOFIGI identity;
        # skip the join and the keep-last window entirely (two shuffles)
        return px_base.withColumn(
            "id", F.concat(F.lit("NOFIGI__"), F.col("ticker"))
        ).withColumn("composite_figi", F.lit(None).cast("string"))

    sm = security_master
    for c, t in (("composite_figi", "string"), ("effective_start", "timestamp_ntz"),
                 ("effective_end", "timestamp_ntz")):
        if c not in sm.columns:
            sm = sm.withColumn(c, F.lit(None).cast(t))
    sm = sm.select(
        F.upper(F.trim(F.col("ticker"))).alias("ticker"),
        "composite_figi",
        F.to_date("effective_start").alias("effective_start"),
        F.to_date("effective_end").alias("effective_end"),
    )

    m = px_base.join(F.broadcast(sm), "ticker", "left")
    inwin = (F.col("event_day") >= F.col("effective_start")) & (
        F.col("effective_end").isNull() | (F.col("event_day") <= F.col("effective_end"))
    )
    m = m.filter(inwin | F.col("effective_start").isNull())
    # keep-last == the row with the greatest effective_start, with null
    # windows winning (pandas sorts NaT last and keeps the last row).
    w = Window.partitionBy("ticker", "datetime").orderBy(
        F.desc_nulls_first("effective_start")
    )
    m = m.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    return m.withColumn(
        "id", F.coalesce(F.col("composite_figi"), F.concat(F.lit("NOFIGI__"), F.col("ticker")))
    ).drop("effective_start", "effective_end")


# ---------------------------------------------------------------------------
# Event alignment with id->ticker fallback (factor_builder.py:247-251)
# ---------------------------------------------------------------------------


def _events_for_ids(ids: DataFrame, events: DataFrame, date_col: str, value_col: str) -> DataFrame:
    """Events per id: FIGI-keyed when any exist for that id, else all
    ticker-keyed events for the id's ticker (the reference's fallback).
    """
    ev = events.na.drop(subset=[date_col, value_col])
    by_id = ids.join(
        F.broadcast(ev.select(F.col("event_id").alias("id"), date_col, value_col)), "id"
    )
    ids_without = ids.join(by_id.select("id").distinct(), "id", "left_anti")
    by_ticker = ids_without.join(
        F.broadcast(ev.select("ticker", date_col, value_col)), "ticker"
    )
    return by_id.unionByName(by_ticker)


# ---------------------------------------------------------------------------
# Factor builders
# ---------------------------------------------------------------------------


def day_calendar(bars_with_id: DataFrame) -> DataFrame:
    """(id, event_day, ticker, close_eod): one row per id-day, with the
    end-of-day close (``max_by(close, datetime)`` — the last bar of the
    day, same row the reference's ``iloc[-1]`` picks).

    This is THE size-reduction point of the batch adjust pipeline: one
    aggregate over the full bar table produces a calendar that is
    O(ids × trading days) — ~1000× smaller than a minute-bar table —
    and every piece of factor math downstream runs on it, never on the
    bars.

    Two-level shape: aggregating ``first(ticker)`` directly would put a
    string in the aggregation buffer, which Spark cannot hash-aggregate
    (non-mutable UnsafeRow field) — the whole full-table aggregate falls
    back to SortAggregate, i.e. a sort of every scanned partition before
    the partial agg (at 100 TB: a spill-prone full-table sort). Instead
    level 1 keeps ticker as a GROUP KEY (keys may be strings) so the
    full-table pass is a partial-combining HashAggregate, and level 2 —
    over the already calendar-sized frame — resolves the one-ticker-per
    -day pick with the same ``max_by``/``first`` semantics: ties in
    ``datetime`` across tickers were nondeterministic in the one-level
    form too, and a day with a single (possibly null) ticker — every
    real case — picks identically by construction.
    """
    pre = bars_with_id.groupBy("id", "event_day", "ticker").agg(
        F.max_by("close", "datetime").alias("_close"),
        F.max("datetime").alias("_dt"),
    )
    return pre.groupBy("id", "event_day").agg(
        F.max_by("_close", "_dt").alias("close_eod"),
        F.first("ticker", ignorenulls=True).alias("ticker"),
    )


def dividend_growth(amount: Column, prior_base: Column) -> Column:
    """Per-day TR growth factor ``(prior_base - amount) / prior_base``,
    1.0 where there is no dividend or no positive prior base.

    Same mask as the reference (factor_builder.py:897-899): only
    amount/prior_base non-null and prior_base > 0. A dividend >= the
    prior close yields g <= 0, which propagates through the
    ``F.product``-based cumprod exactly as pandas ``cumprod`` does."""
    return F.when(
        amount.isNotNull() & prior_base.isNotNull() & (prior_base > 0),
        (prior_base - amount) / prior_base,
    ).otherwise(F.lit(1.0))


def _day_factors_fused(cal: DataFrame, splits: DataFrame, dividends: DataFrame) -> DataFrame:
    """(id, event_day, split_price_factor, split_volume_factor,
    tr_price_factor) over the day calendar, computed in ONE window pass.

    Fusion rationale (guide §2.4): split factors, TR factors and the
    batch renormalization are all per-id windows over the SAME
    (id ordered by event_day) calendar, and the TR math consumes the
    split math row-by-row (base = close_eod · spf) — composing them as
    separate steps costs one calendar exchange + sort per step (split
    cumprod, TR cumprod after a join back, renorm after another join),
    ~6 calendar-sized exchanges.  Stacked as expressions over one
    WindowSpec they share a single exchange + sort, and the two
    event-alignment as-of passes (splits, dividends) collapse into one
    union-typed pass against the same calendar.

    NULL bookkeeping of the fused per-day event table: ``product`` /
    ``sum`` skip NULLs, so a dividend-only day carries ratio NULL
    (filled 1.0, as a day without splits) and a split-only day carries
    amount NULL (the growth mask's ``isNotNull`` branch, as a day
    without dividends).
    """
    days = cal.select("id", "event_day")
    ids = cal.select("id", "ticker").distinct()
    ev_s = _events_for_ids(ids, splits, "execution_date", "ratio").select(
        "id",
        F.col("execution_date").alias("anchor"),
        "ratio",
        F.lit(None).cast("double").alias("amount"),
    )
    ev_d = _events_for_ids(ids, dividends, "ex_date", "amount").select(
        "id",
        F.col("ex_date").alias("anchor"),
        F.lit(None).cast("double").alias("ratio"),
        "amount",
    )
    aligned = asof_join(
        ev_s.unionByName(ev_d),
        days.select("id", F.col("event_day").alias("anchor")),
        on="anchor",
        by="id",
        direction="forward",
        allow_exact_matches=True,
        right_prefix="day_",
        how="inner",
    ).select("id", F.col("day_anchor").alias("event_day"), "ratio", "amount")
    per_day = aligned.groupBy("id", "event_day").agg(
        F.product("ratio").alias("ratio"), F.sum("amount").alias("amount")
    )
    e = (
        cal.select("id", "event_day", "close_eod")
        .join(per_day, ["id", "event_day"], "left")
        .na.fill({"ratio": 1.0})
    )
    w = Window.partitionBy("id").orderBy("event_day")
    e = e.withColumn("_F", cumprod(F.col("ratio"), w))
    e = e.withColumn("split_price_factor", normalize_to_last(F.col("_F"), w))
    e = e.withColumn("base", F.col("close_eod") * F.col("split_price_factor")).withColumn(
        "prior_base", F.lag("base").over(w)
    )
    g = dividend_growth(F.col("amount"), F.col("prior_base"))
    e = e.withColumn("_G", cumprod(g, w))
    e = e.withColumn("tr_price_factor", normalize_to_last(F.col("_G"), w))
    # Batch re-anchor at day level (factor_builder.py:440-455): the last
    # bar by datetime IS the last day's end-of-day row, so
    # last(close_tr)/last(base) over the bars equals
    # last(base * trf)/last(base) over the calendar.
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    renorm = F.last(F.col("base") * F.col("tr_price_factor")).over(wall) / F.last("base").over(wall)
    renorm = F.when(renorm.isNull() | (renorm == 0), F.lit(1.0)).otherwise(renorm)
    e = e.withColumn("tr_price_factor", F.col("tr_price_factor") / renorm)
    return e.select(
        "id",
        "event_day",
        "split_price_factor",
        (F.lit(1.0) / F.col("split_price_factor")).alias("split_volume_factor"),
        "tr_price_factor",
    )


# ---------------------------------------------------------------------------
# Full pipeline
# ---------------------------------------------------------------------------

_MATERIALIZE = {
    "minimal": ["datetime", "ticker", "id", "close", "volume", "close_split", "volume_split", "close_tr"],
    "close": ["datetime", "ticker", "id", "close", "volume", "close_split", "volume_split",
              "close_tr", "split_price_factor", "tr_price_factor"],
    "ohlc": ["datetime", "ticker", "id", "close", "volume", "close_split", "volume_split",
             "close_tr", "split_price_factor", "tr_price_factor",
             "open_split", "high_split", "low_split", "open_tr", "high_tr", "low_tr"],
}


def adjust_bars(
    bars: DataFrame,
    security_master: DataFrame,
    splits: DataFrame,
    dividends: DataFrame,
    materialize: str = "ohlc",
) -> DataFrame:
    """Unadjusted bars + refdata -> adjusted bars (the reference's batch
    path, factor_builder.py:1125-1162, as a single linear plan).

    The plan touches the full-size bar table exactly TWICE: one
    aggregate to the day calendar (:func:`day_calendar`) and one final
    factor-application join. Every other step — as-of alignment,
    per-day products/sums, cumprods, normalize-to-last, and the batch
    TR renormalization — runs on the O(ids × days) calendar, ~1000×
    smaller than a minute lake. At 100 TB that means one full shuffle
    (the calendar groupBy) plus one join whose build side is the small
    effective-factor table (AQE broadcasts it when it fits); the naive
    formulation (factor joins and datetime windows over the bars, which
    the reference's per-group workers imply) costs ~6 full-table
    shuffles instead.  The day-level factor math itself is FUSED into
    one window pass over the calendar (split cumprod, TR cumprod and
    the batch renormalization stack over a single id-keyed
    exchange+sort, and both event types align in one as-of pass — see
    :func:`_day_factors_fused`); round 13 measured the unfused chain
    stage-latency-bound at 44 stages. ``tests/test_factors.py`` pins the
    result against an independent pandas oracle, and the
    ``corporate_actions_adjust`` DuckDB oracle hash-verifies it.

    The TR base is the split-adjusted close and TR factors are batch
    re-anchored (the reference's batch conventions). A split-only
    caller passes an empty dividends frame: ``tr_price_factor`` is then
    1.0 and ``close_tr == close_split``.

    One nuance: event routing (FIGI-keyed with ticker fallback) takes
    its (id, ticker) pairs from the day calendar — one ticker per
    id-day — rather than a full-bar distinct; they differ only if a
    ticker changes identity mid-day, which the reference (whole files
    per ticker-day) cannot express either.

    Only the day calendar is pinned: it is the one frame that is both
    multi-consumer (three downstream reads) and expensive to recompute
    (a full-table aggregate). The id-stitched bars are consumed twice
    (calendar + final join) but each consumption is a map-only
    scan-and-stitch, and the day-level factor frames are cheap to
    recompute from the pinned calendar. (Measured at sf0.1: pinning
    everything costs 3× the wall clock of pinning just the calendar.)
    The pin is a ``localCheckpoint(eager=False)``: it adds no
    CacheManager entry and its blocks are released with the frame, so
    nothing stays cached for the life of a long-lived session. Under
    AQE it is only partly lazy: taking the checkpoint's RDD finalizes
    the adaptive plan, which runs the calendar's shuffle stages when
    ``adjust_bars`` is called; the calendar's last stage runs with the
    first action, and later actions on the returned frame reuse it.
    """

    px = attach_id(bars, security_master)
    cal = day_calendar(px).localCheckpoint(eager=False)
    eff = _day_factors_fused(cal, prep_splits(splits), prep_dividends(dividends))
    out = px.join(eff, ["id", "event_day"], "left").na.fill(
        {"split_price_factor": 1.0, "split_volume_factor": 1.0, "tr_price_factor": 1.0}
    )
    out = out.withColumn("close_split", F.col("close") * F.col("split_price_factor")).withColumn(
        "volume_split", F.col("volume") * F.col("split_volume_factor")
    )
    out = out.withColumn("close_tr", F.col("close_split") * F.col("tr_price_factor"))
    for c in OHLC:
        if c in px.columns:
            out = out.withColumn(f"{c}_split", F.col(c) * F.col("split_price_factor"))
            out = out.withColumn(f"{c}_tr", F.col(f"{c}_split") * F.col("tr_price_factor"))
    cols = [c for c in _MATERIALIZE[materialize] if c in out.columns]
    return out.select(*cols)
