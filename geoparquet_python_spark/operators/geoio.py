"""GeoParquet I/O as an oracle-checked query (SURVEY.md §2.A A1/A2):
write customer points through the distributed footer-stamping sink, scan
them back, and answer a bbox-windowed extent query whose spatial filter
rides the covering column into Parquet PushedFilters. The DuckDB oracle
recomputes from first principles (key-derived lon/lat), so the match
certifies sink, source, covering column, and pushdown semantics at once.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geoparquet_python_spark.geo import io as gio
from geoparquet_python_spark.geo.functions import st_point, st_x, st_y
from geoparquet_python_spark.io import load_table, read_parquet, run_scratch_dir
from geoparquet_python_spark.registry import query

_LON_SQL = "(((c_custkey * 7919) % 3600) / 10.0 - 180.0)"
_LAT_SQL = "(((c_custkey * 4409) % 1700) / 10.0 - 85.0)"

# bbox window: plain comparisons on both sides
_X0, _X1, _Y0, _Y1 = -90.0, 60.0, -40.0, 55.0


@query(
    "q_geoparquet_roundtrip_window",
    oracle=f"""
    WITH g AS (
      SELECT c_custkey, c_nationkey,
             {_LON_SQL} AS x, {_LAT_SQL} AS y
      FROM customer
    )
    SELECT c_nationkey,
           COUNT(*) AS n,
           MIN(x) AS min_x, MAX(x) AS max_x,
           MIN(y) AS min_y, MAX(y) AS max_y
    FROM g
    WHERE x BETWEEN {_X0} AND {_X1} AND y BETWEEN {_Y0} AND {_Y1}
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def q_geoparquet_roundtrip_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """write_geoparquet -> read_geoparquet -> bbox-window filter.

    The filter runs on the covering column's fields (bbox.xmin, ...) so
    it reaches the parquet scan as PushedFilters — on a 100 TB lake the
    window prunes whole row groups before any WKB byte is read. ST_X/
    ST_Y then decode only surviving rows for the extent aggregate."""
    out = run_scratch_dir(spark, "gpq_roundtrip", sf_dir)
    shutil.rmtree(out, ignore_errors=True)

    cust = load_table(spark, sf_dir, "customer")
    lon = (F.col("c_custkey") * 7919 % 3600) / 10.0 - 180.0
    lat = (F.col("c_custkey") * 4409 % 1700) / 10.0 - 85.0
    pts = cust.select(
        "c_custkey", "c_nationkey", st_point(lon, lat).alias("geometry")
    )
    gio.write_geoparquet(pts, out, "geometry", crs="OGC:CRS84")

    back = gio.read_geoparquet(spark, out)
    windowed = back.where(
        (F.col("bbox.xmin") >= _X0)
        & (F.col("bbox.xmax") <= _X1)
        & (F.col("bbox.ymin") >= _Y0)
        & (F.col("bbox.ymax") <= _Y1)
    )
    return (
        windowed.select(
            "c_nationkey", st_x("geometry").alias("x"), st_y("geometry").alias("y")
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
        .orderBy("c_nationkey")
    )


@query(
    "q_geo_sql_pushdown_window",
    oracle=f"""
    WITH g AS (
      SELECT c_custkey, c_nationkey,
             {_LON_SQL} AS x, {_LAT_SQL} AS y
      FROM customer
    )
    SELECT c_nationkey,
           COUNT(*) AS n,
           MIN(x) AS min_x, MAX(x) AS max_x
    FROM g
    WHERE x <= {_X1} AND x >= {_X0} AND y <= {_Y1} AND y >= {_Y0}
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def q_geo_sql_pushdown_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §4.3 SQL-STRING pushdown path: the same windowed extent
    query phrased as a plain SQL string with an ST_EnvelopeIntersects
    predicate, run through geo_sql() — the rewriter conjoins sargable
    bbox.{{xmin..ymax}} comparisons to the UDF atom, so the Parquet
    scan prunes row groups exactly as the DataFrame API's
    spatial_window_filter does (tests/test_geoparquet_io.py asserts
    PushedFilters and rewrite soundness under OR/NOT)."""
    from geoparquet_python_spark.geo.sqlrewrite import geo_sql

    out = run_scratch_dir(spark, "gpq_sqlpush", sf_dir)
    shutil.rmtree(out, ignore_errors=True)

    cust = load_table(spark, sf_dir, "customer")
    lon = (F.col("c_custkey") * 7919 % 3600) / 10.0 - 180.0
    lat = (F.col("c_custkey") * 4409 % 1700) / 10.0 - 85.0
    pts = cust.select(
        "c_custkey", "c_nationkey", st_point(lon, lat).alias("geometry")
    )
    gio.write_geoparquet(pts, out, "geometry", crs="OGC:CRS84")

    return geo_sql(
        spark,
        f"""
        SELECT c_nationkey,
               COUNT(*) AS n,
               MIN(ST_X(geometry)) AS min_x,
               MAX(ST_X(geometry)) AS max_x
        FROM {{geo_pts}}
        WHERE ST_EnvelopeIntersects(geometry, {_X0}, {_Y0}, {_X1}, {_Y1})
        GROUP BY c_nationkey
        ORDER BY c_nationkey
        """,
        geo_pts=gio.read_geoparquet(spark, out),
    )


_CELL_DEG = 30  # hive-partition cell width (degrees of longitude)


@query(
    "q_geo_partitioned_scan",
    oracle=f"""
    WITH g AS (
      SELECT c_custkey, c_nationkey,
             {_LON_SQL} AS x, {_LAT_SQL} AS y,
             CAST(FLOOR({_LON_SQL} / {_CELL_DEG}) AS BIGINT) AS cell_x
      FROM customer
    )
    SELECT cell_x,
           COUNT(*) AS n,
           MIN(x) AS min_x, MAX(x) AS max_x,
           MIN(y) AS min_y, MAX(y) AS max_y
    FROM g
    WHERE cell_x BETWEEN -3 AND 0
    GROUP BY cell_x
    ORDER BY cell_x
    """,
)
def q_geo_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatially PARTITIONED lake layout: points written hive-
    partitioned by a 30°-longitude cell id, then scanned with a cell
    filter. Unlike the covering-column query (row-group PushedFilters),
    this prunes at the DIRECTORY level — PartitionFilters in the plan,
    asserted by tests/test_geoparquet_io.py — so a 100 TB lake query
    touching 4 of 12 cells never lists, opens, or reads the other 8.
    The two levers compose: partition pruning skips files, the bbox
    covering column then prunes row groups inside survivors.
    """
    out = run_scratch_dir(spark, "gpq_cells", sf_dir)
    shutil.rmtree(out, ignore_errors=True)

    cust = load_table(spark, sf_dir, "customer")
    lon = (F.col("c_custkey") * 7919 % 3600) / 10.0 - 180.0
    lat = (F.col("c_custkey") * 4409 % 1700) / 10.0 - 85.0
    pts = cust.select(
        "c_custkey",
        "c_nationkey",
        lon.alias("x"),
        lat.alias("y"),
        F.floor(lon / _CELL_DEG).cast("bigint").alias("cell_x"),
        st_point(lon, lat).alias("geometry"),
    )
    pts.write.mode("overwrite").partitionBy("cell_x").parquet(out)

    back = read_parquet(spark, out).where(F.col("cell_x").between(-3, 0))
    return (
        back.groupBy("cell_x")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
        .orderBy("cell_x")
    )


@query(
    "q_geoparquet_multi_geom_roundtrip",
    oracle=f"""
    WITH g AS (
      SELECT c_custkey, c_nationkey,
             {_LON_SQL} AS x, {_LAT_SQL} AS y
      FROM customer
    )
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(x) AS min_origin_x,
           MAX(x / 2.0) AS max_dest_x,
           MIN(y) AS min_origin_y,
           MAX(y / 2.0) AS max_dest_y
    FROM g
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def q_geoparquet_multi_geom_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-geometry-column GeoParquet round trip: a dataset with an
    origin point (primary) AND a destination point (secondary) in one
    file — spec-legal (the `geo` doc lists one entry per geometry
    column; primary_column marks the default), and the shape every
    OD-matrix / trajectory table has. The sink stamps per-column
    geometry_types into every part footer; the scan re-attaches
    metadata to BOTH columns (geo_primary marks which one is primary —
    asserted in tests/test_geoparquet_io.py). The extent aggregate
    decodes both columns, proving both survived the trip byte-exactly
    (x/2 is exact IEEE halving, so the oracle needs no rounding)."""
    out = run_scratch_dir(spark, "gpq_multigeom", sf_dir)
    shutil.rmtree(out, ignore_errors=True)

    cust = load_table(spark, sf_dir, "customer")
    lon = (F.col("c_custkey") * 7919 % 3600) / 10.0 - 180.0
    lat = (F.col("c_custkey") * 4409 % 1700) / 10.0 - 85.0
    pts = cust.select(
        "c_custkey",
        "c_nationkey",
        st_point(lon, lat).alias("geometry"),
        st_point(lon / 2.0, lat / 2.0).alias("dest"),
    )
    gio.write_geoparquet(
        pts, out, "geometry", crs="OGC:CRS84", secondary_geometry_cols=["dest"]
    )
    back = gio.read_geoparquet(spark, out)
    return (
        back.select(
            "c_nationkey",
            st_x("geometry").alias("ox"),
            st_y("geometry").alias("oy"),
            st_x("dest").alias("dx"),
            st_y("dest").alias("dy"),
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("ox").alias("min_origin_x"),
            F.max("dx").alias("max_dest_x"),
            F.min("oy").alias("min_origin_y"),
            F.max("dy").alias("max_dest_y"),
        )
        .orderBy("c_nationkey")
    )
