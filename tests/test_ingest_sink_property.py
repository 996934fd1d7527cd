"""Property test: the streaming ingest sink against a dict model.

Random sequences of micro-batches — new days, corrections, exact
replays and mixes of those, over plain, escaped (``BRK/A``) and null
tickers, with duplicate bars inside a batch — written one after another
through ``write_ingest_batch``; afterwards the lake must equal the
model: keep-last per ``(ticker, datetime)`` across batches, and within
a batch the row with the greatest ``(close, volume)`` (the sink's
value-column tiebreak). No staging directory may be left behind.
"""

from __future__ import annotations

import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from polygon_io_data_ingestion_pipeline_spark.sources.lake import read_lake
from polygon_io_data_ingestion_pipeline_spark.streaming.ingest_stream import STAGING, write_ingest_batch
from tests.test_ingest_sink import _bars

bar = st.tuples(
    st.sampled_from(["AAPL", "BRK/A", None]),  # ticker
    st.integers(min_value=2, max_value=4),     # day
    st.integers(min_value=0, max_value=2),     # minute
    st.integers(min_value=0, max_value=3),     # close
    st.integers(min_value=0, max_value=2),     # volume
)
step = st.one_of(st.lists(bar, min_size=1, max_size=6), st.just("replay"))


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(steps=st.lists(step, min_size=1, max_size=4))
def test_sink_matches_keep_last_model(spark, steps, tmp_path_factory):
    lake = str(tmp_path_factory.mktemp("sink") / "lake")
    model: dict[tuple, tuple] = {}
    last = None
    for batch_id, rows in enumerate(steps):
        if rows == "replay":
            if last is None:
                continue
            rows = last
        bars = [(t, f"2024-01-0{d} 14:0{m}:00", float(c), v) for t, d, m, c, v in rows]
        winners: dict[tuple, tuple] = {}
        for t, ts, c, v in bars:
            winners[(t, ts)] = max(winners.get((t, ts), (c, v)), (c, v))
        model.update(winners)
        write_ingest_batch(_bars(spark, bars), batch_id, lake, tf="minute")
        last = rows

    if not model:
        return
    got = {
        (r["ticker"], str(r["datetime"])): (r["close"], r["volume"])
        for r in read_lake(spark, lake).collect()
    }
    assert read_lake(spark, lake).count() == len(got)  # one row per bar
    assert got == model
    assert not os.path.exists(os.path.join(lake, STAGING))
