"""The lake maintenance CLI wires compaction, takedown deletion, and
keyed upsert to real paths with the same semantics as the operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from polygon_io_data_ingestion_pipeline_spark.cli import main
from polygon_io_data_ingestion_pipeline_spark.sources import table


def test_lake_delete_and_merge_cli(spark, tmp_path, capsys):
    docs = table(spark, "/root/testdata/sf0.001", "documents")
    lake = str(tmp_path / "corpus")
    docs.write.partitionBy("source").parquet(lake)

    victims = docs.select("doc_id").limit(2)
    keys_path = str(tmp_path / "keys.parquet")
    victims.write.parquet(keys_path)
    assert main([
        "lake", "delete", "--path", lake, "--keys", keys_path,
        "--key-col", "doc_id",
        "--master", "local[2]",
    ]) == 0
    assert "deleted 2 rows" in capsys.readouterr().out
    assert spark.read.parquet(lake).count() == docs.count() - 2

    upd_path = str(tmp_path / "upd.parquet")
    docs.limit(1).withColumn("text", F.lit("PATCHED")).write.parquet(upd_path)
    assert main([
        "lake", "merge", "--path", lake, "--updates", upd_path,
        "--key-col", "doc_id",
        "--master", "local[2]",
    ]) == 0
    out = capsys.readouterr().out
    assert "updated" in out
    after = spark.read.parquet(lake)
    assert after.filter(F.col("text") == "PATCHED").count() == 1


def test_lake_delete_requires_keys(tmp_path):
    import pytest

    with pytest.raises(SystemExit):
        main(["lake", "delete", "--path", str(tmp_path)])
