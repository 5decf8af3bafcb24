"""File-format sources and sinks: round-trips, partition pruning, and
shuffle-free bucketed joins."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from datajudge_spark.sources.files import (
    CsvDataSource,
    JsonDataSource,
    OrcDataSource,
    write_bucketed_table,
    write_parquet,
)


@pytest.fixture(scope="module")
def sample(spark):
    return spark.createDataFrame(
        [Row(k=i % 3, v=i, s=f"row{i}") for i in range(30)]
    )


def test_csv_roundtrip(spark, sample, tmp_path):
    path = str(tmp_path / "csv")
    sample.write.option("header", True).csv(path)
    src = CsvDataSource(path, header=True, inferSchema=True)
    df = src.get_df(spark)
    assert df.count() == 30
    assert set(df.columns) == {"k", "v", "s"}
    assert str(src) == "csv"


def test_json_roundtrip(spark, sample, tmp_path):
    for source, fmt in ((JsonDataSource, "json"), (OrcDataSource, "orc")):
        path = str(tmp_path / fmt)
        sample.write.format(fmt).save(path)
        df = source(path).get_df(spark)
        assert df.count() == 30, fmt
        assert set(df.columns) == {"k", "v", "s"}, fmt
        assert str(source(path)) == fmt


def test_write_parquet_partition_pruning(spark, sample, tmp_path):
    path = str(tmp_path / "part")
    write_parquet(sample, path, partition_by=["k"], num_files=2)
    back = spark.read.parquet(path)
    assert back.count() == 30
    pruned = back.where("k = 1")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # the k=1 filter must become a partition filter, not a row filter
    assert "PartitionFilters: [" in plan
    assert pruned.count() == 10


def test_bucketed_join_has_no_shuffle(spark, sample):
    spark.sql("DROP TABLE IF EXISTS t_bucket_a")
    spark.sql("DROP TABLE IF EXISTS t_bucket_b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed_table(sample, "t_bucket_a", ["v"], num_buckets=4)
        write_bucketed_table(sample, "t_bucket_b", ["v"], num_buckets=4)
        joined = spark.table("t_bucket_a").join(spark.table("t_bucket_b"), "v")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, (
            "bucketed join should not shuffle"
        )
        assert joined.count() == 30
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS t_bucket_a")
        spark.sql("DROP TABLE IF EXISTS t_bucket_b")
