"""Property test: merge_into_lake against a dict model.

Random initial lakes and update batches (updates, inserts, and keys
that MOVE partitions); after the merge the lake must equal the model
(last write wins per key) and the returned counts must match.
Filesystem effects (emptied partitions removed) are covered by
test_merge_into_lake.py; this pins the data semantics across the
partition-combinatorics space.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from polygon_io_data_ingestion_pipeline_spark.sources.lake import merge_into_lake

PARTS = ["p0", "p1", "p2"]

row = st.tuples(
    st.integers(min_value=0, max_value=11),          # key
    st.sampled_from(PARTS),                          # partition value
    st.integers(min_value=0, max_value=999),         # payload
)


def _unique_by_key(rows):
    seen = {}
    for k, p, v in rows:
        seen[k] = (k, p, v)
    return list(seen.values())


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    base=st.lists(row, min_size=1, max_size=12),
    upd=st.lists(row, min_size=0, max_size=8),
)
def test_merge_matches_dict_model(spark, base, upd, tmp_path_factory):
    base = _unique_by_key(base)
    upd = _unique_by_key(upd)
    lake = str(tmp_path_factory.mktemp("lake") / "t")
    spark.createDataFrame(
        pd.DataFrame(base, columns=["k", "part", "v"])
    ).write.partitionBy("part").parquet(lake)

    updates = spark.createDataFrame(
        pd.DataFrame(upd, columns=["k", "part", "v"]),
        "k long, part string, v long",
    )
    stats = merge_into_lake(spark, lake, updates, "k")

    model = {k: (p, v) for k, p, v in base}
    n_upd = sum(1 for k, _, _ in upd if k in model)
    for k, p, v in upd:
        model[k] = (p, v)
    assert stats == {"rows_updated": n_upd, "rows_inserted": len(upd) - n_upd}

    got = {
        r["k"]: (r["part"], r["v"])
        for r in spark.read.parquet(lake).collect()
    }
    assert got == model
