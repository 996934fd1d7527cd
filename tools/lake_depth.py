"""Depth probe: point-load latency against lake size.

Builds day lakes of 32, 600 and 6,000 files (one file per ticker and
month, written by ``write_lake``; an adjusted lake of the same shape for
``load_series``), then times, in one fresh Spark session per size list:

- ``read_lake`` of one ticker and one month, then ``toPandas``;
- ``load_series`` of the same ticker and month, then ``toPandas``;

each as the first call in the session (``read_lake``'s first call is the
session's first read of the unadjusted lake; ``load_series``'s is its
first read of the adjusted lake) and as the median of ``--reps`` calls
after it (the steady state), every load naming another ticker and month.

The package is imported from ``--repo`` (default: this checkout), so the
same probe times two commits:

    python tools/lake_depth.py                          # this tree
    python tools/lake_depth.py --repo /path/to/parent   # another checkout

Lakes are built once under ``--scratch`` and reused by later runs. Prints
one JSON line per lake size.
"""

from __future__ import annotations

import argparse
import calendar
import datetime as dt
import json
import os
import random
import statistics
import sys
import time

SHAPES = {32: (16, 2), 600: (50, 12), 6000: (500, 12)}  # files -> (tickers, months)


def _build(spark, root: str, tickers: int, months: int) -> tuple[str, str]:
    from pyspark.sql import functions as F

    from polygon_io_data_ingestion_pipeline_spark.sources.lake import write_lake

    un, adj = f"{root}/un", f"{root}/adj"
    if os.path.exists(f"{adj}/_SUCCESS"):
        return un, adj
    rows = [
        (f"T{t:03d}", dt.datetime(2023, m, d, 5), 100.0 + d, 1000 + d, 2023, m)
        for t in range(tickers)
        for m in range(1, months + 1)
        for d in range(1, calendar.monthrange(2023, m)[1] + 1)
        if dt.date(2023, m, d).weekday() < 5
    ]
    schema = "ticker string, datetime timestamp, close double, volume long, year int, month int"
    bars = spark.createDataFrame(rows, schema)
    bars = bars.select("*", *(F.col("close").alias(c) for c in ("open", "high", "low", "vwap")))
    write_lake(bars, un)
    sa = [F.col(c).alias(f"{c}_sa") for c in ("open", "high", "low", "close", "volume", "vwap")]
    write_lake(bars.select("ticker", "datetime", "year", "month", *sa, F.col("close").alias("close_tr")), adj)
    return un, adj


def _timed(fn) -> float:
    t = time.perf_counter()
    fn().toPandas()
    return time.perf_counter() - t


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--repo", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("--scratch", default="/tmp/lake_depth")
    ap.add_argument("--files", default="32,600,6000", help="comma-separated lake sizes (32, 600, 6000)")
    ap.add_argument("--reps", type=int, default=15)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    sys.path.insert(0, os.path.abspath(args.repo))
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from polygon_io_data_ingestion_pipeline_spark.session import get_spark
    from polygon_io_data_ingestion_pipeline_spark.sources.lake import read_lake
    from polygon_io_data_ingestion_pipeline_spark.sources.series import load_series

    spark = get_spark("lake-depth")
    spark.range(1).count()  # JVM warm-up outside every timing
    rng = random.Random(args.seed)
    for files in map(int, args.files.split(",")):
        tickers, months = SHAPES[files]
        un, adj = _build(spark, f"{args.scratch}/{files}", tickers, months)

        def point():
            t, m = f"T{rng.randrange(tickers):03d}", rng.randint(1, months)
            return [t], f"2023-{m:02d}-01", f"2023-{m:02d}-{calendar.monthrange(2023, m)[1]:02d}"

        out = {"files": files, "repo": os.path.abspath(args.repo)}
        for name, load in (
            ("read_lake", lambda t, s, e: read_lake(spark, un, tickers=t, start=s, end=e)),
            ("load_series", lambda t, s, e: load_series(spark, un, adj, "day", tickers=t, start=s, end=e)),
        ):
            out[f"{name}_first_s"] = round(_timed(lambda: load(*point())), 4)
            steady = [_timed(lambda: load(*point())) for _ in range(args.reps)]
            out[f"{name}_steady_p50_s"] = round(statistics.median(steady), 4)
        print(json.dumps(out), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
