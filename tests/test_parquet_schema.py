"""``io.parquet_schema``: Spark's own inferred Parquet schema, memoized
per session and file set, so every read after the first of a file set
launches no Spark job."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

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

    # The writer seeds the memo with the schema it committed, so even
    # the first read of a fresh write infers nothing.
    path = str(tmp_path / "gpq")
    gio.write_geoparquet(_points(spark), path)
    assert _jobs(spark, lambda: gio.read_geoparquet(spark, path)) == []
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


# Every type the writer seeds a schema for: Spark's inference over the
# part files must give exactly the seeded schema.
_TYPED = {
    "long": "id",
    "int": "cast(id AS int)",
    "short": "cast(id AS short)",
    "byte": "cast(id AS byte)",
    "double": "id * 0.5D",
    "float": "cast(id * 0.5 AS float)",
    "boolean": "id % 2 = 0",
    "string": "cast(id AS string)",
    "binary": "cast(cast(id AS string) AS binary)",
    "date": "date_add(DATE'2024-01-01', cast(id AS int))",
    "timestamp": "cast(id AS timestamp)",
    "timestamp_ntz": "cast(cast(id AS timestamp) AS timestamp_ntz)",
    "decimal(10,2)": "cast(id AS decimal(10,2))",
    "decimal(38,6)": "cast(id AS decimal(38,6))",
    "array": "array(id, id + 1)",
    "struct": "named_struct('a', cast(id AS int), 'b', cast(id AS string))",
    "map": "map(cast(id AS string), id * 0.5D)",
    "nested": "array(named_struct('m', map('k', array(cast(id AS int)))))",
}


def _typed_frame(spark):
    """A point frame plus, for every type, a nullable column (null in
    some rows) and a non-null one."""
    cols = [F.col("k"), F.col("geometry")]
    for i, e in enumerate(_TYPED.values()):
        cols.append(F.expr(f"IF(k > 2, {e}, NULL)").alias(f"c{i}_null"))
        cols.append(F.expr(e).alias(f"c{i}_set"))
    return _points(spark, 6).withColumn("id", F.col("k")).select(*cols)


def test_seeded_schema_equals_spark_inference_for_each_type(spark, tmp_path):
    df = _typed_frame(spark)
    assert not all(f.nullable for f in df.schema.fields)
    path = str(tmp_path / "typed")
    gio.write_geoparquet(df, path)
    seeded = io._SCHEMAS[spark][path][1]
    io._SCHEMAS[spark].pop(path)  # an unmemoized inference to compare with
    assert seeded == spark.read.parquet(path).schema
    assert all(not f.metadata for f in seeded.fields)


def test_unchecked_types_and_foreign_files_are_not_seeded(spark, tmp_path):
    """A type outside the checked set leaves the first read to infer; so
    does a file in the directory that the writer did not commit, and
    then no manifest is seeded either."""
    # A collated string reads back as a plain one: seeding df.schema's
    # type would be wrong.
    odd = _points(spark, 6).withColumn("s", F.expr("collate('x', 'UTF8_LCASE')"))
    path = str(tmp_path / "odd")
    gio.write_geoparquet(odd, path)
    assert path not in io._SCHEMAS.get(spark, {})
    assert path in gio._MANIFESTS
    assert len(_jobs(spark, lambda: gio.read_geoparquet(spark, path))) == 1
    assert gio.read_geoparquet(spark, path).schema["s"].dataType == T.StringType()

    path = str(tmp_path / "foreign")
    os.makedirs(path)
    with open(os.path.join(path, "notes.txt"), "w") as f:
        f.write("not a part")
    gio.write_geoparquet(_points(spark), path)
    assert path not in io._SCHEMAS.get(spark, {})
    assert path not in gio._MANIFESTS


def test_warm_read_lists_once_and_opens_no_footer(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "gpq")
    gio.write_geoparquet(_points(spark), path)
    calls = {"file_set": 0, "footer": 0}
    listing, footer = io.file_set, gio.pq.ParquetFile

    def counted_listing(p):
        calls["file_set"] += 1
        return listing(p)

    def counted_footer(*a, **kw):
        calls["footer"] += 1
        return footer(*a, **kw)

    monkeypatch.setattr(io, "file_set", counted_listing)
    monkeypatch.setattr(gio.pq, "ParquetFile", counted_footer)
    back = gio.read_geoparquet(spark, path)
    assert calls == {"file_set": 1, "footer": 0}
    assert back.schema["bbox"].metadata == {"envelope_of": "geometry"}
    assert back.schema["geometry"].metadata["geo_primary"] is True
    assert back.count() == 20

    # A rewrite changes the file set: the footers are read again, once.
    os.utime(os.path.join(path, "part-00000.parquet"), ns=(1, 1))
    gio.read_geoparquet(spark, path)
    assert calls == {"file_set": 2, "footer": 2}
    gio.read_geoparquet(spark, path)
    assert calls == {"file_set": 3, "footer": 2}
