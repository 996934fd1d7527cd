"""The benchmark's workloads, one per way users drive the pipeline.

Each workload gets a live session, a fresh scratch directory and its
seed, times the public calls into the pipeline from outside, checks
every output, and returns a :class:`Result`. Sizes are set so that a run
with its set-up and checks takes about a minute on four cores.
"""

from __future__ import annotations

import calendar
import glob
import itertools
import json
import os
import random
import re
import statistics
import threading
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

import checks
import gen
from polygon_io_data_ingestion_pipeline_spark.operators.factors import adjust_bars
from polygon_io_data_ingestion_pipeline_spark.plans.lint import plan_text
from polygon_io_data_ingestion_pipeline_spark.sources.csv_bars import read_bar_flatfiles
from polygon_io_data_ingestion_pipeline_spark.sources.lake import read_lake, write_lake
from polygon_io_data_ingestion_pipeline_spark.sources.rest import (
    pull_dividends,
    pull_security_master,
    pull_splits,
    ticker_universe,
)
from polygon_io_data_ingestion_pipeline_spark.sources.series import load_series
from polygon_io_data_ingestion_pipeline_spark.streaming.ingest_stream import stream_ingest_bars

RESEARCH_TICKERS = 16
RESEARCH_MONTHS = 2  # keeps set-up short; still holds FakePolygonClient's January split and dividend
BASKET = 10
WARM_LOADS = 4  # untimed, both shapes: codegen and the reader's caches settle
MINUTE_TICKERS = 4
# Well above the micro-batch time at MINUTE_TICKERS, also in phases in which
# other tenants halve the machine's speed: with 8 tickers a file, batches
# then took 3-5 s and files queued behind a 3.5 s interval.
MINUTE_INTERVAL_S = 4.0
MINUTE_WARM_DROPS = 5  # committed during set-up; with 4, the first timed batches still ran slow
DRAIN_TIMEOUT_S = 40.0
PROBE_LEAD_S = 0.8  # the probes before a minute drop start this long before it is due
PROBES_PER_DROP = 3  # a probe jitters by about 25%; 4 drops a run need more than 4 probes
PROBE_WARM = 5  # untimed probes in set-up; the first one compiles its plan and is 3x slower


@dataclass
class Result:
    setup_s: float = 0.0
    ops: list[float] = field(default_factory=list)  # seconds per timed operation
    probes: list[float] = field(default_factory=list)  # seconds of each probe taken beside the ops
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    lake_bytes_per_input_byte: float = 0.0
    layer: dict[str, float] = field(default_factory=dict)

    def check(self, what: str, failures: list[str]) -> None:
        self.attempted += 1
        if failures:
            self.failed += 1
            self.failures += [f"{what}: {m}" for m in failures]


def probe(spark) -> float:
    """Wall time of a fixed, trivial Spark job. Probes are taken between
    the ops, and the end-to-end latency is the median op over the
    probes' lower quartile. A shared 4-vCPU VM changes speed by up to 2x
    over minutes as other tenants load its host, and the probe changes
    with it."""
    t = time.perf_counter()
    spark.range(1).count()
    return time.perf_counter() - t


def warm_probe(spark) -> None:
    for _ in range(PROBE_WARM):
        probe(spark)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def pct(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    return float(np.percentile(xs, 100 * q)) if xs else 0.0


class Context:
    """What every workload needs: session, tracer, scratch dir, run knobs."""

    def __init__(self, spark, tracer, scratch: str, seed: int, seconds: float, t0: float):
        self.spark, self.tracer, self.scratch = spark, tracer, scratch
        self.seed, self.seconds, self.t0 = seed, seconds, t0
        self.trace = tracer.enabled

    def path(self, *parts: str) -> str:
        return os.path.join(self.scratch, *parts)

    def noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# research_loads: flat files -> lake -> adjusted lake -> load_series
# ---------------------------------------------------------------------------


def _lake_shape(path: str) -> tuple[int, int, int]:
    files = checks.lake_files(path)
    return len(files), len({os.path.dirname(f) for f in files}), sum(os.path.getsize(f) for f in files)


def _plan_counts(df) -> dict[str, int]:
    nodes = re.findall(r"^\(\d+\) (\w+)", plan_text(df), flags=re.M)
    return {
        "factors.exchanges": sum(n.endswith("Exchange") for n in nodes),
        "factors.sort_aggregates": sum(n == "SortAggregate" for n in nodes),
    }


def backfill_pass(ctx: Context, src_glob: str, tickers: list[str], out: str) -> dict[str, float]:
    """The backfill chain through the public calls, timed per call:
    ``read_bar_flatfiles`` -> ``write_lake(day)`` -> REST pulls written as
    refdata -> ``read_lake`` -> ``adjust_bars`` -> adjusted ``write_lake``.
    Traced runs add noop materializations outside the timed calls.
    Returns per-module metrics by name."""
    spark, tr, m = ctx.spark, ctx.tracer, {}
    un, adj_path, ref = f"{out}/lake", f"{out}/adjusted", f"{out}/refdata"

    def timed(span: str, fn, *keys: str):
        """Run ``fn`` in a span and add its wall time to each metric in ``keys``."""
        with tr.span(span):
            t = time.perf_counter()
            value = fn()
            dt = time.perf_counter() - t
        for k in keys:
            m[k] = m.get(k, 0.0) + dt
        return value

    bars = timed("csv_bars.read_bar_flatfiles", lambda: read_bar_flatfiles(spark, src_glob, tf="day"),
                 "csv_bars.discover_s", "phase.ingest_s")
    if ctx.trace:
        with tr.span("csv_bars.scan") as s:
            ctx.noop(bars)
        m["csv_bars.scan_s"] = s.seconds
    timed("lake.write_lake", lambda: write_lake(bars, un, tf="day"), "lake.write_s", "phase.ingest_s")

    def pulls():
        uni = ticker_universe(spark, tickers)
        for name, pull in (("stock_splits", pull_splits), ("cash_dividends", pull_dividends),
                           ("security_master", pull_security_master)):
            pull(uni).write.mode("overwrite").parquet(f"{ref}/{name}.parquet")

    timed("rest.pull", pulls, "rest.pull_s", "phase.adjust_s")
    lake = timed("lake.read_lake", lambda: read_lake(spark, un), "phase.adjust_s")
    sm, splits, divs = (spark.read.parquet(f"{ref}/{n}.parquet")
                        for n in ("security_master", "stock_splits", "cash_dividends"))
    adjusted = timed("factors.adjust_bars", lambda: adjust_bars(lake, sm, splits, divs, materialize="ohlc"),
                     "factors.build_s", "phase.adjust_s")
    adjusted = adjusted.withColumn("year", F.year("datetime")).withColumn("month", F.month("datetime"))
    if ctx.trace:
        m.update(_plan_counts(adjusted))
        with tr.span("factors.exec") as s:
            ctx.noop(adjusted)
        m["factors.exec_s"] = s.seconds
        m["factors.stages"] = tr.inclusive(s, "stages")
        m["factors.cpu_s"] = tr.inclusive(s, "executorCpuTime") / 1e9
        m["factors.shuffle_bytes"] = tr.inclusive(s, "shuffleWriteBytes")
    timed("lake.write_lake", lambda: write_lake(adjusted, adj_path, tf="day"), "lake.write_s", "phase.adjust_s")
    if ctx.trace:
        writes = tr.named("lake.write_lake")[-2:]
        m["lake.shuffle_write_bytes"] = sum(tr.inclusive(s, "shuffleWriteBytes") for s in writes)
        m["lake.write_tasks"] = sum(tr.inclusive(s, "tasks") for s in writes)
        with tr.span("rest.pull_status"):
            st = pull_splits(ticker_universe(spark, tickers), include_status=True)
            m["rest.not_ok_rows"] = st.filter("fetch_status != 'ok'").count()
    return m


def check_backfill(res: Result, exp: gen.DayFlatfiles, out: str) -> None:
    res.check("unadjusted lake", checks.check_day_lake(
        checks.read_lake(f"{out}/lake", ["ticker", "datetime", "close"]), exp))
    res.check("adjusted lake", checks.check_adjusted(
        checks.read_lake(f"{out}/adjusted", checks.ADJUSTED_COLUMNS), exp))
    res.check("file order", checks.check_sorted_files(f"{out}/lake")
              + checks.check_sorted_files(f"{out}/adjusted"))


def _backfill_layer(res: Result, m: dict[str, float], exp: gen.DayFlatfiles, out: str) -> None:
    shapes = [_lake_shape(f"{out}/lake"), _lake_shape(f"{out}/adjusted")]
    files, parts, nbytes = (sum(s[i] for s in shapes) for i in range(3))
    res.lake_bytes_per_input_byte = nbytes / exp.input_bytes
    res.layer.update({
        "csv_bars.files": len(exp.files), "csv_bars.layouts": sum(1 for v in exp.layouts.values() if v),
        "csv_bars.rows_in": exp.bars, "csv_bars.input_bytes": exp.input_bytes,
        "lake.files_written": files, "lake.partitions_written": parts, "lake.bytes_written": nbytes,
        "rest.tickers": len(exp.tickers),
        **m,
    })


def _load_plan(seed: int, tickers: list[str], days: list):
    """Fixed-seed load mix, cycling 3 point loads (1 ticker, 1 month) and
    1 basket load (BASKET tickers, every day of the lake); the seed picks
    the tickers and months, so every run times the same share of each
    shape."""
    rng = random.Random(seed * 7919 + 1)
    last = days[-1].month
    for i in itertools.count():
        if i % 4 < 3:
            t, mo = [rng.choice(tickers)], rng.randint(1, last)
            start, end = f"2023-{mo:02d}-01", f"2023-{mo:02d}-{calendar.monthrange(2023, mo)[1]:02d}"
            want = {(t[0], gen._epoch_ns(d)) for d in days if d.month == mo}
        else:
            t = sorted(rng.sample(tickers, BASKET))
            start, end = f"{days[0]}", f"{days[-1]}"
            want = {(x, gen._epoch_ns(d)) for x in t for d in days}
        yield t, start, end, want


def research_loads(ctx: Context) -> Result:
    """Setup: build both lakes with the backfill calls (``backfill_pass``,
    which is also the JVM's warm-up), then WARM_LOADS untimed loads.
    Timed: ``load_series(tf="day")`` + ``toPandas()`` back to back, closed
    loop, for ``seconds``; one op = one load."""
    res = Result()
    spark, tr = ctx.spark, ctx.tracer
    exp = gen.day_flatfiles(ctx.seed, RESEARCH_TICKERS, RESEARCH_MONTHS)
    src, out = ctx.path("src"), ctx.path("lakes")
    gen.write_files(src, exp.files)
    m = backfill_pass(ctx, f"{src}/*/*/*.csv.gz", exp.tickers, out)
    un, adj = f"{out}/lake", f"{out}/adjusted"
    plan = _load_plan(ctx.seed, exp.tickers, exp.days)
    for _ in range(WARM_LOADS):
        t, start, end, _want = next(plan)
        load_series(spark, un, adj, tf="day", tickers=t, start=start, end=end).toPandas()
    warm_probe(spark)
    res.setup_s = time.perf_counter() - ctx.t0

    plan_s, exec_s, jobs, tasks, examined, rows = [], [], [], [], [], []
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end:
        t, start, end, want = next(plan)
        res.attempted += 1
        with tr.span("series.load_series") as s:
            t0 = time.perf_counter()
            df = load_series(spark, un, adj, tf="day", tickers=t, start=start, end=end)
            df._jdf.queryExecution().executedPlan()  # planned here either way; toPandas reuses it
            t1 = time.perf_counter()
            pdf = df.toPandas()
            t2 = time.perf_counter()
        res.ops.append(t2 - t0)
        res.probes.append(probe(spark))
        res.check("load", checks.check_load(pdf, want))
        if ctx.trace:
            plan_s.append(t1 - t0)
            exec_s.append(t2 - t1)
            jobs.append(s.jobs)
            tasks.append(s.tasks)
            examined.append(s.stage["inputRecords"] / max(len(pdf), 1))
            rows.append(len(pdf))
    check_backfill(res, exp, out)
    _backfill_layer(res, m, exp, out)
    res.layer.update({
        "lake.read_plan_s": median(plan_s), "series.exec_s": median(exec_s),
        "lake.jobs_per_load": median(jobs), "lake.tasks_per_load": median(tasks),
        "lake.rows_examined_per_row": median(examined), "series.rows_returned": median(rows),
    })
    return res


# ---------------------------------------------------------------------------
# incremental_minute: open-loop drops into a running ingest stream
# ---------------------------------------------------------------------------


def _file_batches(checkpoint: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's log."""
    out: dict[str, int] = {}
    for f in glob.glob(f"{checkpoint}/sources/0/*"):
        with open(f) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    name = os.path.basename(e["path"])
                    out[name] = min(out.get(name, e["batchId"]), e["batchId"])
    return out


def _commit_time(checkpoint: str, batch: int) -> float | None:
    try:
        return os.stat(f"{checkpoint}/commits/{batch}").st_mtime
    except FileNotFoundError:
        return None


def _committed(checkpoint: str, name: str) -> bool:
    b = _file_batches(checkpoint).get(name)
    return b is not None and _commit_time(checkpoint, b) is not None


def _wait(pred, timeout: float, query) -> bool:
    end = time.time() + timeout
    while time.time() < end:
        if query.exception() is not None:
            raise RuntimeError(f"ingest stream failed: {query.exception()}")
        if pred():
            return True
        time.sleep(0.05)
    return pred()


def incremental_minute(ctx: Context) -> Result:
    """Setup: start ``stream_ingest_bars(tf="minute")`` on a watched
    directory and commit the warm-up drops. Timed: an open-loop generator
    drops one minute file every ``MINUTE_INTERVAL_S`` for ``seconds``,
    whether or not the stream keeps up; one op = one file's freshness,
    from its scheduled drop time to the commit of its micro-batch."""
    res = Result()
    n_timed = max(4, int(ctx.seconds // MINUTE_INTERVAL_S))
    exp = gen.minute_flatfiles(ctx.seed, MINUTE_TICKERS, MINUTE_WARM_DROPS + n_timed)
    watch, staging, lake, ckpt = (ctx.path(p) for p in ("watch", "staging", "lake", "checkpoint"))
    for d in (watch, staging):
        os.makedirs(d)
    gen.drop_file(watch, staging, exp.drops[0])  # the stream's glob must match a file at start
    query = stream_ingest_bars(ctx.spark, f"{watch}/*.csv.gz", lake, ckpt, tf="minute",
                               available_now=False, max_files_per_trigger=1)
    try:
        for i, drop in enumerate(exp.drops[:MINUTE_WARM_DROPS]):
            if i:
                gen.drop_file(watch, staging, drop)
            if not _wait(lambda: _committed(ckpt, drop.name), 120.0, query):
                raise RuntimeError(f"warm-up drop {drop.name} never committed")
        warm_probe(ctx.spark)
        res.setup_s = time.perf_counter() - ctx.t0

        timed = exp.drops[MINUTE_WARM_DROPS:]
        t0 = time.time() + PROBE_LEAD_S + 0.2
        due = [t0 + i * MINUTE_INTERVAL_S for i in range(len(timed))]
        late: list[float] = []
        probes: list[float] = []

        def generator():
            for drop, at in zip(timed, due):
                time.sleep(max(0.0, at - PROBE_LEAD_S - time.time()))
                probes.extend(probe(ctx.spark) for _ in range(PROBES_PER_DROP))
                time.sleep(max(0.0, at - time.time()))
                gen.drop_file(watch, staging, drop)
                late.append(time.time() - at)

        with ctx.tracer.span("ingest_stream.schedule"):
            th = threading.Thread(target=generator, daemon=True)
            th.start()
            th.join(due[-1] - time.time() + 30.0)
            if th.is_alive():
                raise RuntimeError("open-loop generator did not finish")
            time.sleep(max(0.0, due[-1] + MINUTE_INTERVAL_S - time.time()))  # the schedule's end
            backlog = sum(not _committed(ckpt, d.name) for d in timed)
            _wait(lambda: all(_committed(ckpt, d.name) for d in timed), DRAIN_TIMEOUT_S, query)
        # a batch's progress event is posted just after its commit
        ids = {b for n, b in _file_batches(ckpt).items() if n in {d.name for d in timed}}
        _wait(lambda: ids <= {p.batchId for p in query.recentProgress}, 10.0, query)
        progress = [p for p in query.recentProgress if p.batchId in ids]
    finally:
        query.stop()

    batches = _file_batches(ckpt)
    res.probes = probes
    for drop, at in zip(timed, due):
        res.attempted += 1
        done = _commit_time(ckpt, batches[drop.name]) if drop.name in batches else None
        if done is None:
            res.failed += 1
            res.failures.append(f"drop {drop.name} never committed")
        else:
            res.ops.append(done - at)
    res.check("minute lake", checks.check_minute_lake(
        checks.read_lake(lake, ["ticker", "datetime", "close", "volume"]), exp))
    res.lake_bytes_per_input_byte = checks.lake_bytes(lake) / sum(len(d.data) for d in exp.drops)

    prog = [p for p in progress if p.numInputRows > 0]
    reported = {p.batchId for p in prog}
    bars = sum(d.bars for d in timed if batches.get(d.name) in reported)
    res.layer.update({
        "gen.late_ms_max": 1000 * max(late),
        "ingest_stream.batches": len(prog),
        "ingest_stream.add_batch_ms_p50": median([p.durationMs.get("addBatch", 0) for p in prog]),
        "ingest_stream.add_batch_ms_p90": pct([p.durationMs.get("addBatch", 0) for p in prog], 0.9),
        "ingest_stream.latest_offset_ms_p50": median([p.durationMs.get("latestOffset", 0) for p in prog]),
        "ingest_stream.input_rows_per_bar": sum(p.numInputRows for p in prog) / max(bars, 1),
        "ingest_stream.lake_files_end": len(checks.lake_files(lake)),
        "ingest_stream.backlog_files": backlog,
    })
    return res


WORKLOADS = {
    "research_loads": research_loads,
    "incremental_minute": incremental_minute,
}
