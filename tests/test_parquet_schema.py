"""``io.parquet_schema``: Spark's own inferred Parquet schema, memoized
per session and file set, so every read after the first of a file set
launches no Spark job."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from geoparquet_python_spark import io, registry
from geoparquet_python_spark.geo import io as gio
from geoparquet_python_spark.geo.functions import st_point


def _jobs(spark, fn) -> list[int]:
    """Ids of the Spark jobs ``fn()`` launches."""
    sc = spark.sparkContext
    group = f"schema_probe_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "parquet schema probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _points(spark, n=20):
    return spark.range(n, numPartitions=2).select(
        F.col("id").alias("k"),
        st_point(F.col("id") * 0.5, F.col("id") * -0.25).alias("geometry"),
    )


def test_warm_reads_launch_no_jobs(spark, sf_dir_small, tmp_path):
    io.load_table(spark, sf_dir_small, "orders")
    assert _jobs(spark, lambda: io.load_table(spark, sf_dir_small, "orders")) == []
    # Catalog metadata, not a derived result: releasing the derived
    # caches keeps it.
    registry.clear_derived_caches()
    assert _jobs(spark, lambda: io.load_table(spark, sf_dir_small, "orders")) == []

    path = str(tmp_path / "gpq")
    gio.write_geoparquet(_points(spark), path)
    assert len(_jobs(spark, lambda: gio.read_geoparquet(spark, path))) == 1  # infers
    assert _jobs(spark, lambda: gio.read_geoparquet(spark, path)) == []


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01", "sf0.1"])
@pytest.mark.parametrize("table", io.TABLES)
def test_memoized_schema_equals_spark_inference(spark, sf_dir, scale, table):
    path = os.path.join(os.path.dirname(sf_dir), scale, f"{table}.parquet")
    if not os.path.exists(path):
        pytest.skip(f"no {scale} testdata")
    inferred = spark.read.parquet(path).schema
    io.parquet_schema(spark, path)  # warm
    assert io.parquet_schema(spark, path) == inferred
    assert io.read_parquet(spark, path).schema == inferred


def test_rewrite_with_new_schema_gives_new_schema(spark, tmp_path):
    path = str(tmp_path / "gpq")
    gio.write_geoparquet(_points(spark), path)
    assert gio.read_geoparquet(spark, path).columns == ["k", "geometry", "bbox"]

    renamed = _points(spark, 7).select(
        F.col("k").cast("string").alias("name"), "geometry", F.lit(1.5).alias("w")
    )
    gio.write_geoparquet(renamed, path)
    back = gio.read_geoparquet(spark, path)
    # read_geoparquet only adds the geo field metadata to the schema
    assert [(f.name, f.dataType) for f in back.schema] == [
        (f.name, f.dataType) for f in spark.read.parquet(path).schema
    ]
    assert back.columns == ["name", "geometry", "w", "bbox"]
    assert sorted(r.name for r in back.collect()) == [str(i) for i in range(7)]


def test_partitioned_read_keeps_partition_columns(spark, tmp_path):
    """A hive-partitioned directory reads back with the inferred layout:
    partition columns last, typed as inferred, pruned by directory."""
    path = str(tmp_path / "cells")
    spark.range(12).select(
        "id", (F.col("id") % 3).alias("cell")
    ).write.partitionBy("cell").parquet(path)
    inferred = spark.read.parquet(path).schema
    df = io.read_parquet(spark, path)
    assert df.schema == inferred and df.columns == ["id", "cell"]
    pruned = df.where(F.col("cell") == 1)
    assert sorted(r.id for r in pruned.collect()) == [1, 4, 7, 10]
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(cell" in plan


def test_unlistable_path_is_never_memoized(spark, tmp_path):
    """A URI the driver cannot list has no file set to key a rewrite on,
    so it infers on every read and a rewrite is seen at once."""
    local = str(tmp_path / "uri")
    uri = "file://" + local
    spark.range(3).write.parquet(local)
    assert io.parquet_schema(spark, uri).names == ["id"]
    assert len(_jobs(spark, lambda: io.parquet_schema(spark, uri))) == 1
    assert uri not in io._SCHEMAS.get(spark, {})

    spark.range(3).select(F.col("id").alias("k")).write.mode("overwrite").parquet(local)
    assert io.read_parquet(spark, uri).columns == ["k"]
