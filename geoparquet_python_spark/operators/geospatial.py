"""Geospatial queries (SURVEY.md §2.D D1–D10) — the reference's reason to
exist, oracle-checked WITHOUT a spatial oracle: DuckDB on this box has no
spatial extension (BASELINE.md), so every query derives deterministic
lon/lat from integer keys with identical arithmetic on both sides, and
all geometry math is either bit-exact (min/max/count, envelope algebra)
or rounded to 6 decimals where libm ulp differences could leak
(precedent: operators/scalars.py q_math_functions).

The WKB encode→decode chain (reference geoparquet/__init__.py:30≈,:60≈)
runs INSIDE the queries via the ST_* Arrow UDFs, so the oracle equality
proves codec correctness end-to-end, not just query-shape parity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from geoparquet_python_spark.geo.functions import (
    haversine_km,
    mercator_x,
    mercator_y,
    st_area,
    st_buffer,
    st_centroid,
    st_contains_point,
    st_envelope,
    st_length,
    st_point,
    st_x,
    st_y,
)
from geoparquet_python_spark.geo import wkb
from geoparquet_python_spark.io import load_table
from geoparquet_python_spark.registry import query

# Deterministic synthetic coordinates: integer-modulus arithmetic gives
# bit-identical doubles in Spark and DuckDB (TESTDATA has no geometry
# column — SURVEY.md §7.M2 "derive deterministic points from testdata").
_LON_SQL = "((({k} * 7919) % 3600) / 10.0 - 180.0)"
_LAT_SQL = "((({k} * 4409) % 1700) / 10.0 - 85.0)"


def _lon(k: Column) -> Column:
    return (k * 7919 % 3600) / 10.0 - 180.0


def _lat(k: Column) -> Column:
    return (k * 4409 % 1700) / 10.0 - 85.0


def _points(spark: SparkSession, sf_dir: str, table: str, key: str) -> DataFrame:
    """Table + a WKB point column derived from its integer key. The point
    is built by the vectorized ST_Point UDF — downstream ST_X/ST_Y calls
    therefore exercise the full encode→decode WKB path."""
    df = load_table(spark, sf_dir, table)
    return df.withColumn("geom", st_point(_lon(F.col(key)), _lat(F.col(key))))


# --------------------------------------------------------------------------
# D1/D2/D3: codec round-trip at query scale
# --------------------------------------------------------------------------


@query(
    "q_geo_extent_by_nation",
    oracle=f"""
    SELECT c_nationkey,
           COUNT(*) AS n,
           MIN({_LON_SQL.format(k='c_custkey')}) AS min_x,
           MAX({_LON_SQL.format(k='c_custkey')}) AS max_x,
           MIN({_LAT_SQL.format(k='c_custkey')}) AS min_y,
           MAX({_LAT_SQL.format(k='c_custkey')}) AS max_y
    FROM customer
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def q_geo_extent_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation spatial extent through the full WKB round-trip:
    ST_Point encodes, ST_X/ST_Y decode — min/max aggregates are
    order-insensitive and bit-exact, so the oracle match certifies the
    codec over every customer row."""
    pts = _points(spark, sf_dir, "customer", "c_custkey")
    return (
        pts.select(
            "c_nationkey", st_x("geom").alias("x"), st_y("geom").alias("y")
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


# --------------------------------------------------------------------------
# D7: haversine distance (pure built-ins — pushdown-able, codegen'd)
# --------------------------------------------------------------------------

_HUBS = [
    ("singapore", 103.82, 1.35),
    ("frankfurt", 8.68, 50.11),
    ("ashburn", -77.49, 39.04),
]

_HAVERSINE_SQL = """(2.0 * 6371.0088 * atan2(
    sqrt(pow(sin(radians({lat2} - ({lat1})) / 2), 2)
         + cos(radians({lat1})) * cos(radians({lat2}))
           * pow(sin(radians({lon2} - ({lon1})) / 2), 2)),
    sqrt(1 - (pow(sin(radians({lat2} - ({lat1})) / 2), 2)
         + cos(radians({lat1})) * cos(radians({lat2}))
           * pow(sin(radians({lon2} - ({lon1})) / 2), 2)))))"""


def _hub_dist_sql(lon_sql: str, lat_sql: str, hub_lon: float, hub_lat: float) -> str:
    return _HAVERSINE_SQL.format(
        lon1=lon_sql, lat1=lat_sql, lon2=hub_lon, lat2=hub_lat
    )


@query(
    "q_geo_nearest_hub",
    oracle=f"""
    WITH d AS (
      SELECT c_custkey, c_nationkey,
             {_hub_dist_sql(_LON_SQL.format(k='c_custkey'), _LAT_SQL.format(k='c_custkey'), 103.82, 1.35)} AS d_singapore,
             {_hub_dist_sql(_LON_SQL.format(k='c_custkey'), _LAT_SQL.format(k='c_custkey'), 8.68, 50.11)} AS d_frankfurt,
             {_hub_dist_sql(_LON_SQL.format(k='c_custkey'), _LAT_SQL.format(k='c_custkey'), -77.49, 39.04)} AS d_ashburn
      FROM customer
    )
    SELECT CASE
             WHEN d_singapore <= d_frankfurt AND d_singapore <= d_ashburn THEN 'singapore'
             WHEN d_frankfurt <= d_ashburn THEN 'frankfurt'
             ELSE 'ashburn'
           END AS hub,
           COUNT(*) AS n_customers,
           ROUND(MIN(LEAST(d_singapore, d_frankfurt, d_ashburn)), 6) AS min_km,
           ROUND(MAX(LEAST(d_singapore, d_frankfurt, d_ashburn)), 6) AS max_km
    FROM d
    GROUP BY 1
    ORDER BY hub
    """,
)
def q_geo_nearest_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-hub assignment with haversine entirely in built-ins
    (ST_DistanceSphere, D7): no UDF, whole-stage codegen, and the exact
    same formula text runs in DuckDB. Distances rounded to 1e-6 km (mm)
    to absorb libm ulp skew; counts and the argmin are exact."""
    cust = load_table(spark, sf_dir, "customer")
    lon, lat = _lon(F.col("c_custkey")), _lat(F.col("c_custkey"))
    d = cust.select(
        "c_custkey",
        *[
            haversine_km(lon, lat, F.lit(hlon), F.lit(hlat)).alias(f"d_{name}")
            for name, hlon, hlat in _HUBS
        ],
    )
    hub = (
        F.when(
            (F.col("d_singapore") <= F.col("d_frankfurt"))
            & (F.col("d_singapore") <= F.col("d_ashburn")),
            "singapore",
        )
        .when(F.col("d_frankfurt") <= F.col("d_ashburn"), "frankfurt")
        .otherwise("ashburn")
    )
    best = F.least("d_singapore", "d_frankfurt", "d_ashburn")
    return (
        d.select(hub.alias("hub"), best.alias("best"))
        .groupBy("hub")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.min("best"), 6).alias("min_km"),
            F.round(F.max("best"), 6).alias("max_km"),
        )
        .orderBy("hub")
    )


# --------------------------------------------------------------------------
# D4/D5/D6/D9: buffer -> area/length/centroid/envelope, closed-form oracle
# --------------------------------------------------------------------------


@query(
    "q_geo_buffer_measures",
    oracle=f"""
    WITH g AS (
      SELECT s_suppkey,
             {_LON_SQL.format(k='s_suppkey')} AS lon,
             {_LAT_SQL.format(k='s_suppkey')} AS lat,
             ((s_suppkey * 13) % 50) / 10.0 + 0.5 AS d
      FROM supplier
    )
    SELECT s_suppkey,
           ROUND(0.5 * 16 * d * d * sin(2 * pi() / 16), 6) AS area,
           ROUND(2 * 16 * d * sin(pi() / 16), 6) AS perimeter,
           ROUND(lon, 6) AS cx, ROUND(lat, 6) AS cy,
           lon - d AS xmin, lat - d AS ymin,
           lon + d AS xmax, lat + d AS ymax
    FROM g
    ORDER BY s_suppkey
    """,
)
def q_geo_buffer_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Buffer(point, d, 16) -> regular 16-gon, then ST_Area /
    ST_Length / ST_Centroid / ST_Envelope. The oracle uses the
    closed-form regular-polygon area/perimeter; the envelope compare is
    BIT-EXACT because the 16-gon hits angles {{0, π/2, π, 3π/2}} where
    cos/sin are exactly ±1/0 in IEEE double, so xmin = lon - d on both
    engines."""
    sup = load_table(spark, sf_dir, "supplier")
    d = ((F.col("s_suppkey") * 13) % 50) / 10.0 + 0.5
    g = sup.select(
        "s_suppkey",
        st_buffer(
            st_point(_lon(F.col("s_suppkey")), _lat(F.col("s_suppkey"))),
            d,
            F.lit(16),
        ).alias("poly"),
    )
    env = st_envelope(F.col("poly"))
    cen = st_centroid(F.col("poly"))
    return g.select(
        "s_suppkey",
        F.round(st_area("poly"), 6).alias("area"),
        F.round(st_length("poly"), 6).alias("perimeter"),
        F.round(st_x(cen), 6).alias("cx"),
        F.round(st_y(cen), 6).alias("cy"),
        env["xmin"].alias("xmin"),
        env["ymin"].alias("ymin"),
        env["xmax"].alias("xmax"),
        env["ymax"].alias("ymax"),
    ).orderBy("s_suppkey")


# --------------------------------------------------------------------------
# D8: point-in-polygon (ray-cast UDF vs half-plane SQL on a convex shape)
# --------------------------------------------------------------------------

# Convex, CCW; non-axis-aligned edges so no 0.1-grid point lies on a
# boundary (verified: min |cross| over sf0.1 points ≫ 0).
_PENTAGON = [
    (-40.13, -20.71),
    (10.57, -35.23),
    (45.31, 0.17),
    (20.11, 40.59),
    (-30.47, 30.03),
]
_PENTAGON_WKB = wkb.encode(
    ("Polygon", [[list(p) for p in _PENTAGON] + [list(_PENTAGON[0])]])
)


def _halfplane_sql(px: str, py: str) -> str:
    terms = []
    n = len(_PENTAGON)
    for i in range(n):
        x1, y1 = _PENTAGON[i]
        x2, y2 = _PENTAGON[(i + 1) % n]
        terms.append(
            f"(({x2} - ({x1})) * ({py} - ({y1}))"
            f" - ({y2} - ({y1})) * ({px} - ({x1})) > 0)"
        )
    return "(" + " AND ".join(terms) + ")"


@query(
    "q_geo_point_in_polygon",
    oracle=f"""
    SELECT c_nationkey,
           COUNT(*) AS n_customers,
           COUNT(*) FILTER (WHERE {_halfplane_sql(_LON_SQL.format(k='c_custkey'), _LAT_SQL.format(k='c_custkey'))}) AS n_inside
    FROM customer
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def q_geo_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Contains(pentagon, customer point) via the ray-cast Arrow UDF
    (D8); the oracle proves the same membership with five half-plane
    sign tests — two independent algorithms agreeing on every row."""
    pts = _points(spark, sf_dir, "customer", "c_custkey")
    inside = st_contains_point(
        F.lit(bytearray(_PENTAGON_WKB)), st_x("geom"), st_y("geom")
    )
    return (
        pts.select("c_nationkey", inside.alias("inside"))
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.count_if("inside").alias("n_inside"),
        )
        .orderBy("c_nationkey")
    )


# --------------------------------------------------------------------------
# Spatial join: grid-cell equi-join + exact refine (SURVEY.md §4.3)
# --------------------------------------------------------------------------

_CELL_DEG = 6.0
_RADIUS_KM = 200.0


@query(
    "q_geo_grid_distance_join",
    oracle=f"""
    WITH c AS (
      SELECT c_custkey,
             {_LON_SQL.format(k='c_custkey')} AS lon,
             {_LAT_SQL.format(k='c_custkey')} AS lat
      FROM customer
      WHERE abs({_LAT_SQL.format(k='c_custkey')}) <= 70
        AND abs({_LON_SQL.format(k='c_custkey')}) <= 150
    ),
    s AS (
      SELECT s_suppkey,
             {_LON_SQL.format(k='s_suppkey')} AS lon,
             {_LAT_SQL.format(k='s_suppkey')} AS lat
      FROM supplier
      WHERE abs({_LAT_SQL.format(k='s_suppkey')}) <= 70
        AND abs({_LON_SQL.format(k='s_suppkey')}) <= 150
    ),
    pairs AS (
      SELECT c.c_custkey,
             {_HAVERSINE_SQL.format(lon1='c.lon', lat1='c.lat', lon2='s.lon', lat2='s.lat')} AS km
      FROM c, s
    )
    SELECT c_custkey,
           COUNT(*) AS n_within,
           ROUND(MIN(km), 6) AS nearest_km
    FROM pairs
    WHERE km <= {_RADIUS_KM}
    GROUP BY c_custkey
    ORDER BY c_custkey
    """,
)
def q_geo_grid_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-radius spatial join as a grid-cell EQUI-join + exact
    refine (SURVEY.md §4.3 "spatial join big⋈big"): each supplier is
    exploded into its 3×3 neighborhood of 6° cells, the join runs on the
    cell key (shuffle/broadcast hash join — NO cross product), then the
    exact haversine predicate filters. The oracle IS the cross product,
    so the match proves the grid covers every qualifying pair (cell span
    6° ≥ 200 km at |lat| ≤ 70 where 1° lon ≥ 38 km).

    At 100 TB this is the scale path: candidate pairs are bounded by
    cell co-location, both sides shuffle at most once on the cell key,
    and AQE handles populous-cell skew."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        _lon(F.col("c_custkey")).alias("lon"),
        _lat(F.col("c_custkey")).alias("lat"),
    ).where((F.abs(F.col("lat")) <= 70) & (F.abs(F.col("lon")) <= 150))
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        _lon(F.col("s_suppkey")).alias("s_lon"),
        _lat(F.col("s_suppkey")).alias("s_lat"),
    ).where((F.abs(F.col("s_lat")) <= 70) & (F.abs(F.col("s_lon")) <= 150))

    cell = lambda lon, lat: (  # noqa: E731
        F.floor(lon / _CELL_DEG) * 10000 + F.floor(lat / _CELL_DEG)
    )
    cust_c = cust.withColumn("cell", cell(F.col("lon"), F.col("lat")))
    sup_c = sup.withColumn(
        "off",
        F.explode(
            F.array(
                [F.lit(dx * 10000 + dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
            )
        ),
    ).withColumn("cell", cell(F.col("s_lon"), F.col("s_lat")) + F.col("off"))

    km = haversine_km(F.col("lon"), F.col("lat"), F.col("s_lon"), F.col("s_lat"))
    return (
        cust_c.join(sup_c, "cell")
        .withColumn("km", km)
        .where(F.col("km") <= _RADIUS_KM)
        .groupBy("c_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_within"),
            F.round(F.min("km"), 6).alias("nearest_km"),
        )
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# D10: CRS transform (lon/lat -> Web-Mercator, closed form, built-ins)
# --------------------------------------------------------------------------


@query(
    "q_geo_mercator_extent",
    oracle=f"""
    WITH g AS (
      SELECT c_nationkey,
             radians({_LON_SQL.format(k='c_custkey')}) * 6378137.0 AS mx,
             6378137.0 * ln(tan(pi() / 4.0
               + radians({_LAT_SQL.format(k='c_custkey')}) / 2)) AS my
      FROM customer
    )
    SELECT c_nationkey,
           COUNT(*) AS n,
           ROUND(MIN(mx), 3) AS min_mx, ROUND(MAX(mx), 3) AS max_mx,
           ROUND(MIN(my), 3) AS min_my, ROUND(MAX(my), 3) AS max_my
    FROM g
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def q_geo_mercator_extent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Transform (EPSG:4326 -> 3857) as a closed-form built-in
    expression (D10 — the reference only stores CRS, never reprojects;
    this covers the one transform worth owning). Rounded to mm: ln/tan
    are libm-backed."""
    cust = load_table(spark, sf_dir, "customer")
    g = cust.select(
        "c_nationkey",
        mercator_x(_lon(F.col("c_custkey"))).alias("mx"),
        mercator_y(_lat(F.col("c_custkey"))).alias("my"),
    )
    return (
        g.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("mx"), 3).alias("min_mx"),
            F.round(F.max("mx"), 3).alias("max_mx"),
            F.round(F.min("my"), 3).alias("min_my"),
            F.round(F.max("my"), 3).alias("max_my"),
        )
        .orderBy("c_nationkey")
    )


# --------------------------------------------------------------------------
# Z-order (Morton) layout: the space-filling-curve clustering lever
# --------------------------------------------------------------------------

# The synthetic coordinates are integer tenths-of-degrees before the
# /10 scaling (see _LON_SQL/_LAT_SQL), so quantization and the bit
# interleave stay in EXACT integer arithmetic end to end — the same
# expression text runs on both engines (DIV/% only).


@query(
    "q_zorder_layout",
    oracle=f"""
    WITH q AS (
      SELECT c_custkey,
             (((c_custkey * 7919) % 3600) * 256) // 3600 AS qx,
             (((c_custkey * 4409) % 1700) * 256) // 1700 AS qy,
             ((c_custkey * 7919) % 3600) / 10.0 - 180.0 AS lon,
             ((c_custkey * 4409) % 1700) / 10.0 - 85.0 AS lat
      FROM customer
    ),
    z AS (
      SELECT c_custkey, lon, lat,
             ({" + ".join(f"(((qx // {1 << b}) % 2) * {1 << (2 * b)}) + (((qy // {1 << b}) % 2) * {1 << (2 * b + 1)})" for b in range(8))}) AS zval
      FROM q
    )
    SELECT zval // 1024 AS z_cell,
           COUNT(*) AS n_points,
           CAST(MIN(zval) AS BIGINT) AS z_min,
           CAST(MAX(zval) AS BIGINT) AS z_max,
           MIN(lon) AS min_lon, MAX(lon) AS max_lon,
           MIN(lat) AS min_lat, MAX(lat) AS max_lat
    FROM z
    GROUP BY 1
    ORDER BY z_cell
    """,
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order clustering audit: interleave the quantized
    (lon, lat) bits into a 16-bit z-value, bucket into 64 curve cells,
    and report each cell's point count and geographic extent — the
    bounded per-cell extents are exactly why Delta/Iceberg OPTIMIZE
    ZORDER works: sorting files by zval makes bbox predicates skip
    whole files.

    At 100 TB the layout pass is `repartitionByRange(z).sortWithin
    Partitions(z)` + write — one range shuffle; this audit query is
    the map-only + 64-key-agg proof of cell locality. All quantization
    and interleaving is integer arithmetic (DIV/%) — bit-exact on both
    engines with no bit-manipulation builtins.
    """
    d = load_table(spark, sf_dir, "customer")
    qx = F.expr("(((c_custkey * 7919) % 3600) * 256) DIV 3600")
    qy = F.expr("(((c_custkey * 4409) % 1700) * 256) DIV 1700")
    q = d.select(
        "c_custkey",
        qx.alias("qx"),
        qy.alias("qy"),
        _lon(F.col("c_custkey")).alias("lon"),
        _lat(F.col("c_custkey")).alias("lat"),
    )
    zval = F.expr(
        " + ".join(
            f"(((qx DIV {1 << b}) % 2) * {1 << (2 * b)})"
            f" + (((qy DIV {1 << b}) % 2) * {1 << (2 * b + 1)})"
            for b in range(8)
        )
    )
    return (
        q.select("lon", "lat", zval.alias("zval"))
        .groupBy((F.col("zval") / 1024).cast("bigint").alias("z_cell"))
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min("zval").cast("bigint").alias("z_min"),
            F.max("zval").cast("bigint").alias("z_max"),
            F.min("lon").alias("min_lon"),
            F.max("lon").alias("max_lon"),
            F.min("lat").alias("min_lat"),
            F.max("lat").alias("max_lat"),
        )
        .orderBy("z_cell")
    )


# --------------------------------------------------------------------------
# Spatial KNN join: k nearest suppliers per customer, grid-bounded
# --------------------------------------------------------------------------


@query(
    "q_geo_knn_join",
    oracle=f"""
    WITH c AS (
      SELECT c_custkey,
             {_LON_SQL.format(k='c_custkey')} AS lon,
             {_LAT_SQL.format(k='c_custkey')} AS lat,
             floor({_LON_SQL.format(k='c_custkey')} / {_CELL_DEG}) * 10000
               + floor({_LAT_SQL.format(k='c_custkey')} / {_CELL_DEG}) AS cell
      FROM customer
      WHERE abs({_LAT_SQL.format(k='c_custkey')}) <= 70
        AND abs({_LON_SQL.format(k='c_custkey')}) <= 150
    ),
    s AS (
      SELECT s_suppkey,
             {_LON_SQL.format(k='s_suppkey')} AS lon,
             {_LAT_SQL.format(k='s_suppkey')} AS lat,
             floor({_LON_SQL.format(k='s_suppkey')} / {_CELL_DEG}) * 10000
               + floor({_LAT_SQL.format(k='s_suppkey')} / {_CELL_DEG}) AS cell
      FROM supplier
      WHERE abs({_LAT_SQL.format(k='s_suppkey')}) <= 70
        AND abs({_LON_SQL.format(k='s_suppkey')}) <= 150
    ),
    pairs AS (
      SELECT c.c_custkey, s.s_suppkey,
             ROUND({_HAVERSINE_SQL.format(lon1='c.lon', lat1='c.lat',
                                          lon2='s.lon', lat2='s.lat')}, 6)
               AS km_r
      FROM c JOIN s
        ON s.cell IN (c.cell - 10001, c.cell - 10000, c.cell - 9999,
                      c.cell - 1, c.cell, c.cell + 1,
                      c.cell + 9999, c.cell + 10000, c.cell + 10001)
    )
    SELECT c_custkey, s_suppkey, km_r, rank FROM (
      SELECT c_custkey, s_suppkey, km_r,
             row_number() OVER (PARTITION BY c_custkey
                                ORDER BY km_r, s_suppkey) AS rank
      FROM pairs
    )
    WHERE rank <= 3
    ORDER BY c_custkey, rank
    """,
)
def q_geo_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-nearest-neighbor spatial join (k=3 suppliers per customer),
    bounded to the customer's 3x3 grid-cell neighborhood — the
    standard distributed KNN shape: equi-join on the cell key, exact
    distance rank within the candidate set. Customers whose
    neighborhood holds no supplier yield no rows; production expands
    the ring iteratively (the same plan with a wider offset array) —
    documented, not silently approximated.

    Ranking is by ROUND(km, 6) with s_suppkey tie-break: haversine is
    libm-backed, so raw-double ordering could flip near-equal
    distances between engines; millimetre rounding + the id
    tie-break makes the top-k total order engine-stable.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        _lon(F.col("c_custkey")).alias("lon"),
        _lat(F.col("c_custkey")).alias("lat"),
    ).where((F.abs(F.col("lat")) <= 70) & (F.abs(F.col("lon")) <= 150))
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        _lon(F.col("s_suppkey")).alias("s_lon"),
        _lat(F.col("s_suppkey")).alias("s_lat"),
    ).where((F.abs(F.col("s_lat")) <= 70) & (F.abs(F.col("s_lon")) <= 150))

    cell = lambda lon, lat: (  # noqa: E731
        F.floor(lon / _CELL_DEG) * 10000 + F.floor(lat / _CELL_DEG)
    )
    cust_c = cust.withColumn("cell", cell(F.col("lon"), F.col("lat")))
    sup_c = sup.withColumn(
        "off",
        F.explode(
            F.array(
                [F.lit(dx * 10000 + dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
            )
        ),
    ).withColumn("cell", cell(F.col("s_lon"), F.col("s_lat")) + F.col("off"))

    km_r = F.round(
        haversine_km(F.col("lon"), F.col("lat"), F.col("s_lon"), F.col("s_lat")),
        6,
    )
    w = Window.partitionBy("c_custkey").orderBy("km_r", "s_suppkey")
    return (
        cust_c.join(sup_c, "cell")
        .select("c_custkey", "s_suppkey", km_r.alias("km_r"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .orderBy("c_custkey", "rank")
    )


# --------------------------------------------------------------------------
# D1+: multi-part geometries at query scale (MultiPolygon / MultiLineString)
# --------------------------------------------------------------------------

# Every registered geo query so far exercises Points and Polygons; the
# codec supports all 7 WKB types (geo/wkb.py). This query closes the
# codec-vs-query coverage gap: per-nation MULTI-part territories
# (MultiPolygon of 1-3 axis-aligned squares) and supply routes
# (MultiLineString of 3-4-5 right-triangle hypotenuse segments), with a
# closed-form oracle in the q_geo_buffer_measures style. All
# coordinates are dyadic rationals (integers and halves), so envelope
# algebra is BIT-exact cross-engine; area/perimeter/centroid reduce to
# exact small-integer forms (part sides are equal within a nation, so
# the area-weighted centroid equals the mean of part centers —
# divisions by p in {1,2,3} land on integers or exact halves by
# construction of the center grid).

import pyarrow as pa  # noqa: E402
from pyspark.sql.functions import arrow_udf  # noqa: E402
from pyspark.sql.types import BinaryType  # noqa: E402

from geoparquet_python_spark.geo.functions import _per_row, st_num_geometries  # noqa: E402


def _territory_params(k: int) -> tuple[int, int]:
    """(n_parts, side) for nation key k — mirrored in the oracle SQL."""
    return k % 3 + 1, k % 4 + 1


@arrow_udf(BinaryType())
def _territory_wkb(keys: pa.Array) -> pa.Array:
    """MultiPolygon of p axis-aligned squares (side s, centers
    (10k+7i, 5k-4i)) — CCW shells, no holes."""

    def one(k: int) -> bytes:
        p, s = _territory_params(k)
        h = s / 2.0
        polys = []
        for i in range(p):
            cx, cy = 10.0 * k + 7.0 * i, 5.0 * k - 4.0 * i
            ring = [
                [cx - h, cy - h],
                [cx + h, cy - h],
                [cx + h, cy + h],
                [cx - h, cy + h],
                [cx - h, cy - h],
            ]
            polys.append([ring])
        return wkb.encode(("MultiPolygon", polys))

    return _per_row(one, pa.binary(), keys)


@arrow_udf(BinaryType())
def _routes_wkb(keys: pa.Array) -> pa.Array:
    """MultiLineString of p segments, each a 3-4-5 hypotenuse from the
    matching square's center — per-segment length exactly 5.0."""

    def one(k: int) -> bytes:
        p, _ = _territory_params(k)
        lines = []
        for i in range(p):
            cx, cy = 10.0 * k + 7.0 * i, 5.0 * k - 4.0 * i
            lines.append([[cx, cy], [cx + 3.0, cy + 4.0]])
        return wkb.encode(("MultiLineString", lines))

    return _per_row(one, pa.binary(), keys)


@query(
    "q_geo_multipart_territories",
    oracle="""
    WITH g AS (
      SELECT n_nationkey,
             (n_nationkey % 3) + 1 AS p,
             (n_nationkey % 4) + 1 AS s
      FROM nation
    )
    SELECT n_nationkey,
           CAST(p AS INTEGER) AS n_parts,
           ROUND(CAST(p * s * s AS DOUBLE), 6) AS area,
           ROUND(CAST(4.0 * s * p AS DOUBLE), 6) AS perimeter,
           ROUND(10.0 * n_nationkey + 3.5 * (p - 1), 6) AS cx,
           ROUND(5.0 * n_nationkey - 2.0 * (p - 1), 6) AS cy,
           10.0 * n_nationkey - s / 2.0 AS xmin,
           5.0 * n_nationkey - 4.0 * (p - 1) - s / 2.0 AS ymin,
           10.0 * n_nationkey + 7.0 * (p - 1) + s / 2.0 AS xmax,
           5.0 * n_nationkey + s / 2.0 AS ymax,
           ROUND(CAST(5.0 * p AS DOUBLE), 6) AS route_len
    FROM g
    ORDER BY n_nationkey
    """,
)
def q_geo_multipart_territories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-geometry measures end-to-end through the WKB codec: build
    each nation's MultiPolygon territory and MultiLineString route
    network, then ST_NumGeometries / ST_Area / ST_Length / ST_Centroid
    / ST_Envelope over the multi-part forms (geo/wkb.py sums parts and
    subtracts holes; the oracle is the closed-form algebra of the same
    construction). Nation is a 25-row dim — the Arrow batch cost is
    nil; the point of the query is codec + measure parity on every
    multi-part branch, certified by the same oracle machinery as the
    single-geometry queries."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey")
    g = n.select(
        "n_nationkey",
        _territory_wkb(F.col("n_nationkey")).alias("terr"),
        _routes_wkb(F.col("n_nationkey")).alias("routes"),
    )
    env = st_envelope(F.col("terr"))
    cen = st_centroid(F.col("terr"))
    return g.select(
        "n_nationkey",
        st_num_geometries("terr").alias("n_parts"),
        F.round(st_area("terr"), 6).alias("area"),
        F.round(st_length("terr"), 6).alias("perimeter"),
        F.round(st_x(cen), 6).alias("cx"),
        F.round(st_y(cen), 6).alias("cy"),
        env["xmin"].alias("xmin"),
        env["ymin"].alias("ymin"),
        env["xmax"].alias("xmax"),
        env["ymax"].alias("ymax"),
        F.round(st_length("routes"), 6).alias("route_len"),
    ).orderBy("n_nationkey")


@arrow_udf(BinaryType())
def _landmark_wkb(keys: pa.Array) -> pa.Array:
    """GeometryCollection per nation: capital Point at (10k, 5k), one
    territory square (side s, center (10k+7, 5k-4)), one 3-4-5 route
    segment from (10k+14, 5k-8) — the heterogeneous-geometry case the
    Multi* types can't represent."""

    def one(k: int) -> bytes:
        _, s = _territory_params(k)
        h = s / 2.0
        cx, cy = 10.0 * k + 7.0, 5.0 * k - 4.0
        lx, ly = 10.0 * k + 14.0, 5.0 * k - 8.0
        ring = [
            [cx - h, cy - h],
            [cx + h, cy - h],
            [cx + h, cy + h],
            [cx - h, cy + h],
            [cx - h, cy - h],
        ]
        return wkb.encode(
            (
                "GeometryCollection",
                [
                    ("Point", (10.0 * k, 5.0 * k)),
                    ("Polygon", [ring]),
                    ("LineString", [[lx, ly], [lx + 3.0, ly + 4.0]]),
                ],
            )
        )

    return _per_row(one, pa.binary(), keys)


@query(
    "q_geo_collection_measures",
    oracle="""
    WITH g AS (
      SELECT n_nationkey, (n_nationkey % 4) + 1 AS s FROM nation
    )
    SELECT n_nationkey,
           CAST(3 AS INTEGER) AS n_parts,
           ROUND(CAST(s * s AS DOUBLE), 6) AS area,
           ROUND(CAST(4.0 * s + 5.0 AS DOUBLE), 6) AS length,
           ROUND((30.0 * n_nationkey + 22.5) / 3, 6) AS cx,
           ROUND((15.0 * n_nationkey - 10.0) / 3, 6) AS cy,
           10.0 * n_nationkey AS xmin,
           5.0 * n_nationkey - 8.0 AS ymin,
           10.0 * n_nationkey + 17.0 AS xmax,
           5.0 * n_nationkey AS ymax
    FROM g
    ORDER BY n_nationkey
    """,
)
def q_geo_collection_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeometryCollection measures — the 7th and last WKB type at
    query scale (completing q_geo_multipart_territories's coverage of
    the Multi* forms): per-nation collection of a Point + Polygon +
    LineString, measured by the dimensionality rules geo/wkb.py
    implements — area counts polygons only (s²), length counts ring
    perimeters + paths (4s + 5: the route is a 3-4-5 hypotenuse),
    collection centroid is the MEAN of member centroids (point itself,
    square center, segment midpoint — the /3 lands on thirds, absorbed
    by the shared ROUND(..., 6) convention), envelope spans every
    member coordinate (all dyadic → bit-exact). Same closed-form
    oracle pattern and 25-row nation dim as the multipart query."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey")
    g = n.select(
        "n_nationkey", _landmark_wkb(F.col("n_nationkey")).alias("geom")
    )
    env = st_envelope(F.col("geom"))
    cen = st_centroid(F.col("geom"))
    return g.select(
        "n_nationkey",
        st_num_geometries("geom").alias("n_parts"),
        F.round(st_area("geom"), 6).alias("area"),
        F.round(st_length("geom"), 6).alias("length"),
        F.round(st_x(cen), 6).alias("cx"),
        F.round(st_y(cen), 6).alias("cy"),
        env["xmin"].alias("xmin"),
        env["ymin"].alias("ymin"),
        env["xmax"].alias("xmax"),
        env["ymax"].alias("ymax"),
    ).orderBy("n_nationkey")
