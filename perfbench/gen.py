"""Seeded Polygon flat-file generator for the benchmark.

Everything the benchmark feeds the pipeline comes from here, and so does
everything it checks the pipeline's outputs against: the same seed gives
byte-identical files (gzip headers carry no name and a zero mtime) and
the same expectations.

Day files cover up to one trading year (2023, the year
``FakePolygonClient`` dates its splits and dividends in), one CSV.GZ per
trading day. 4 in 5 files use the long header with ns epochs and 1 in 5
the Polygon shorthand header with ms epochs; 1 in 10 tickers (at least
one) is written in lowercase. Minute files are one per trading day in the long/ns layout
(the file-source stream needs one header per glob); every fifth file is
a corrected redelivery of an earlier day and one file is an exact replay
of an earlier one under a new name.
"""

from __future__ import annotations

import datetime as dt
import gzip
import io
import os
import random
from dataclasses import dataclass, field
from zoneinfo import ZoneInfo

YEAR = 2023
#: NYSE full-day closures in 2023.
HOLIDAYS = {
    dt.date(2023, 1, 2), dt.date(2023, 1, 16), dt.date(2023, 2, 20), dt.date(2023, 4, 7),
    dt.date(2023, 5, 29), dt.date(2023, 6, 19), dt.date(2023, 7, 4), dt.date(2023, 9, 4),
    dt.date(2023, 11, 23), dt.date(2023, 12, 25),
}
#: Every CORRECTION_EVERY-th minute drop is a corrected redelivery.
CORRECTION_EVERY = 5
#: Each ticker's bars scatter around a base price drawn from this range.
#: Unlike a random walk, whose range differs from seed to seed, this keeps
#: the bytes a bar takes in a CSV and in parquet about the same for every
#: seed.
BASE_PRICE = (150.0, 800.0)
DAY_VOL, MINUTE_VOL = 0.015, 0.001
LONG_HEADER = "ticker,volume,open,close,high,low,window_start,transactions"
SHORT_HEADER = "T,t,o,h,l,c,v,n,vw"
_ET = ZoneInfo("America/New_York")
_UTC = dt.timezone.utc


def trading_days(year: int = YEAR) -> list[dt.date]:
    d, out = dt.date(year, 1, 1), []
    while d.year == year:
        if d.weekday() < 5 and d not in HOLIDAYS:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def _epoch_ns(day: dt.date, minute: int = 0) -> int:
    """UTC epoch ns of ``minute`` minutes after midnight US/Eastern."""
    local = dt.datetime(day.year, day.month, day.day, tzinfo=_ET) + dt.timedelta(minutes=minute)
    return int(local.astimezone(_UTC).timestamp()) * 1_000_000_000


def tickers(rng: random.Random, n: int) -> list[str]:
    """``n`` distinct upper-case symbols of 3-4 letters, sorted."""
    out: set[str] = set()
    while len(out) < n:
        out.add("".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ") for _ in range(rng.choice((3, 4)))))
    return sorted(out)


def _gzip_csv(header: str, lines: list[str]) -> bytes:
    buf = io.BytesIO()
    with gzip.GzipFile(filename="", mode="wb", fileobj=buf, mtime=0) as gz:
        gz.write(("\n".join([header, *lines]) + "\n").encode())
    return buf.getvalue()


def _bar(rng: random.Random, base: float, vol: float) -> tuple[float, float, float, float, int, int]:
    """One bar around ``base``; ``vol`` is the open-to-close standard
    deviation as a share of the price."""
    o = round(base * (1 + rng.gauss(0, vol / 4)), 2)
    c = round(o * (1 + rng.gauss(0, vol)), 2)
    h = round(max(o, c) * (1 + abs(rng.gauss(0, vol / 3))), 2)
    lo = round(min(o, c) * (1 - abs(rng.gauss(0, vol / 3))), 2)
    v = rng.randint(1_000, 5_000_000)
    return o, h, lo, max(c, 0.01), v, rng.randint(10, 50_000)


@dataclass
class DayFlatfiles:
    """Day flat files plus what the lake built from them must hold."""

    files: dict[str, bytes]  # relative path -> gzip bytes
    tickers: list[str]  # upper-case universe
    days: list[dt.date]
    layouts: dict[str, int]  # header -> file count
    closes: dict[tuple[str, dt.date], float] = field(repr=False)

    @property
    def bars(self) -> int:
        return len(self.closes)

    @property
    def input_bytes(self) -> int:
        return sum(len(b) for b in self.files.values())


def day_flatfiles(seed: int, n_tickers: int, months: int = 12) -> DayFlatfiles:
    """One CSV.GZ per trading day of the first ``months`` months of the
    year, every ticker on every day."""
    rng = random.Random(seed)
    syms = tickers(rng, n_tickers)
    lower = set(rng.sample(syms, max(1, n_tickers // 10)))
    base = {t: rng.uniform(*BASE_PRICE) for t in syms}
    days = [d for d in trading_days() if d.month <= months]
    # 1 in 5 files shorthand/ms, the same count whatever the seed
    short = set(rng.sample(range(len(days) - 1), max(1, len(days) // 5)))
    files, closes, layouts = {}, {}, {LONG_HEADER: 0, SHORT_HEADER: 0}
    for i, day in enumerate(days):
        ns, lines = _epoch_ns(day), []
        for t in syms:
            o, h, lo, c, v, n = _bar(rng, base[t], DAY_VOL)
            closes[(t, day)] = c
            name = t.lower() if t in lower else t
            if i in short:
                vw = round((h + lo + c) / 3, 4)
                lines.append(f"{name},{ns // 1_000_000},{o},{h},{lo},{c},{v},{n},{vw}")
            else:
                lines.append(f"{name},{v},{o},{c},{h},{lo},{ns},{n}")
        header = SHORT_HEADER if i in short else LONG_HEADER
        layouts[header] += 1
        files[f"{day:%Y/%m/%Y-%m-%d}.csv.gz"] = _gzip_csv(header, lines)
    return DayFlatfiles(files, syms, days, layouts, closes)


@dataclass
class MinuteDrop:
    name: str  # file name in the watched directory
    data: bytes
    day: dt.date
    kind: str  # "new" | "correction" | "replay"
    bars: int


@dataclass
class MinuteFlatfiles:
    """An ordered drop schedule plus the lake state it must converge to."""

    drops: list[MinuteDrop]
    tickers: list[str]
    #: (ticker, epoch_ns) -> (close, volume) of the last delivery
    final: dict[tuple[str, int], tuple[float, int]] = field(repr=False)


def minute_flatfiles(seed: int, n_tickers: int, n_drops: int, bars_per_day: int = 390) -> MinuteFlatfiles:
    """``n_drops`` minute files in drop order. Every ``CORRECTION_EVERY``-th
    drop re-delivers an earlier day with the same keys and changed values;
    one other drop replays an earlier file byte for byte under a new name.
    Everything else is the next new trading day."""
    rng = random.Random(seed ^ 0x5EED)
    syms = tickers(rng, n_tickers)
    days = trading_days()
    base = {t: rng.uniform(*BASE_PRICE) for t in syms}
    drops: list[MinuteDrop] = []
    final: dict[tuple[str, int], tuple[float, int]] = {}
    content: dict[dt.date, list[str]] = {}
    replay_at = n_drops // 2
    if replay_at % CORRECTION_EVERY == CORRECTION_EVERY - 1:
        replay_at += 1
    next_day = 0

    def render(day: dt.date) -> list[str]:
        lines = []
        for t in syms:
            for m in range(bars_per_day):
                ns = _epoch_ns(day, 570 + m)  # 09:30 ET onwards
                o, h, lo, c, v, n = _bar(rng, base[t], MINUTE_VOL)
                final[(t, ns)] = (c, v)
                lines.append(f"{t},{v},{o},{c},{h},{lo},{ns},{n}")
        return lines

    for i in range(n_drops):
        delivered = [d for d in content]
        if i and i % CORRECTION_EVERY == CORRECTION_EVERY - 1 and delivered:
            day, kind = rng.choice(delivered), "correction"
            content[day] = render(day)
            data = _gzip_csv(LONG_HEADER, content[day])
        elif i == replay_at and delivered:
            day, kind = drops[rng.randrange(len(drops))].day, "replay"
            data = next(d.data for d in reversed(drops) if d.day == day)
        else:
            day, kind = days[next_day], "new"
            next_day += 1
            content[day] = render(day)
            data = _gzip_csv(LONG_HEADER, content[day])
        drops.append(MinuteDrop(f"{i:04d}_{day:%Y-%m-%d}_{kind}.csv.gz", data, day, kind,
                                len(syms) * bars_per_day))
    return MinuteFlatfiles(drops, syms, final)


def write_files(root: str, files: dict[str, bytes]) -> int:
    """Write relative-path -> bytes under ``root``; returns total bytes."""
    total = 0
    for rel, data in files.items():
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(data)
        total += len(data)
    return total


def drop_file(watch_dir: str, staging_dir: str, drop: MinuteDrop) -> None:
    """Write outside the watched glob, then rename into place, so the
    stream never lists a half-written gzip."""
    tmp = os.path.join(staging_dir, drop.name + ".tmp")
    with open(tmp, "wb") as f:
        f.write(drop.data)
    os.replace(tmp, os.path.join(watch_dir, drop.name))
