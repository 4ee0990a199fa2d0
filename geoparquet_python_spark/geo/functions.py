"""ST_* scalar surface (SURVEY.md §2.D rows D1–D10).

Split by execution tier, fastest first:

* pure-Column functions (``haversine_km``, ``mercator_x/y``) and the
  bbox conjuncts of ``spatial_window_filter`` — built-in
  pyspark.sql.functions only: JVM-side, whole-stage-codegen, usable in
  pushdown-able predicates. The reference computed these shapely-side
  per row (geoparquet/__init__.py:60≈ decodes everything eagerly first).
* UDFs over the numpy WKB codec (geoparquet_python_spark.geo.wkb) for
  anything that must touch coordinates of arbitrary geometries. Each is
  one Python hop per Arrow batch; inside it, only some are vectorized:

  - ``st_envelope``, ``st_x``, ``st_y`` and ``st_distance`` are Arrow
    UDFs: ``wkb.envelope_struct`` and the batch point decoder read the
    batch's WKB buffers directly, with no Arrow → pandas → Arrow round
    trip (a per-row decode only for multi-part, big-endian and
    NaN/EMPTY rows, and for what is not a 21-byte little-endian point);
  - the rest are pandas UDFs. ``st_envelope_intersects`` uses
    ``wkb.envelopes``; ``st_point`` uses the batch point encoder;
  - ``st_area``, ``st_length``, ``st_centroid``, ``st_astext``,
    ``st_contains_point``, ``st_buffer``, ``st_simplify`` and
    ``st_num_geometries`` decode every row in a Python loop.

``register_sql(spark)`` exposes every UDF to SQL-string users.
"""

from __future__ import annotations

import math
import weakref

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf, pandas_udf
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from geoparquet_python_spark.geo import wkb

_BBOX_TYPE = StructType([StructField(n, DoubleType()) for n in wkb.ENVELOPE_FIELDS])
# Field metadata key on a ``bbox`` column: the geometry column whose exact
# envelope it holds (the envelope mark, geo/io.py).
ENVELOPE_OF = "envelope_of"

# ------------------------------------------------------------- built-ins

EARTH_RADIUS_KM = 6371.0088  # IUGG mean Earth radius


def haversine_km(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle distance in km, entirely in built-ins (D7): stays in
    whole-stage codegen and is DuckDB-oracle-expressible in plain SQL."""
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = F.pow(F.sin(dlat), 2) + F.cos(F.radians(lat1)) * F.cos(
        F.radians(lat2)
    ) * F.pow(F.sin(dlon), 2)
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.atan2(F.sqrt(a), F.sqrt(1 - a))


_WEB_MERCATOR_R = 6378137.0


def mercator_x(lon: Column) -> Column:
    """Web-Mercator easting (EPSG:3857) — closed-form ST_Transform (D10)."""
    return F.radians(lon) * F.lit(_WEB_MERCATOR_R)


def mercator_y(lat: Column) -> Column:
    return F.lit(_WEB_MERCATOR_R) * F.log(
        F.tan(F.lit(math.pi / 4.0) + F.radians(lat) / 2)
    )


def _covering_is_envelope(df, bbox_col: str, geometry_col: str) -> bool:
    """Is ``bbox_col`` known to hold exactly ``st_envelope(geometry_col)``
    in every row? Only for a frame over one ``read_geoparquet`` of a
    dataset written with the envelope mark (geo/io.py): its ``bbox_col``
    metadata names ``geometry_col``, which still carries the reader's
    primary ``geo`` metadata (a ``withColumn`` over either column drops
    it), and the analyzed plan has that one relation as its only leaf (a
    union or join takes each column's metadata from one side alone), and
    that relation's files carry the mark (``geo.io.relation_mark``: the
    metadata alone can come from a footer Spark's writer stamped, or
    from a schema given to the read)."""
    from geoparquet_python_spark.geo.io import relation_mark

    meta = {f.name: f.metadata for f in df.schema.fields}
    if not (meta[bbox_col].get(ENVELOPE_OF) == geometry_col
            and meta.get(geometry_col, {}).get("geo_primary") is True):
        return False
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return leaves.size() == 1 and relation_mark(leaves.head()) == geometry_col


def spatial_window_filter(
    df,
    window: tuple[float, float, float, float],
    geometry_col: str = "geometry",
    bbox_col: str = "bbox",
    exact: bool = True,
):
    """The §4.3 spatial-pushdown rewrite, done in the API layer (no
    Catalyst rule needed): ``ST_Intersects(geom, window)`` becomes plain
    bbox-field comparisons — which Spark pushes to Parquet row-group
    stats when ``bbox_col`` is a materialized covering column — plus an
    exact per-geometry envelope refine (a Python hop per batch) for rows
    whose covering box is coarser than the geometry's envelope, since
    ``bbox_col`` may hold any box that contains the envelope.

    The refine is skipped, and the filter stays in the JVM, when the
    covering is known to be the envelope itself (``_covering_is_envelope``:
    a ``read_geoparquet`` of a dataset this engine's writer marked); there
    the refine could drop no row the comparisons keep. Without
    ``bbox_col`` the refine alone runs; ``exact=False`` skips it always.

    window = (xmin, ymin, xmax, ymax)."""
    x0, y0, x1, y1 = window
    if bbox_col in df.columns:
        b = F.col(bbox_col)
        coarse = (
            (b["xmin"] <= x1)
            & (b["xmax"] >= x0)
            & (b["ymin"] <= y1)
            & (b["ymax"] >= y0)
        )
        df = df.where(coarse)  # pushdown-able: plain struct-field compares
        if not exact or _covering_is_envelope(df, bbox_col, geometry_col):
            return df
    env = st_envelope(F.col(geometry_col))
    fine = (
        (env["xmin"] <= x1)
        & (env["xmax"] >= x0)
        & (env["ymin"] <= y1)
        & (env["ymax"] >= y0)
    )
    return df.where(fine)


# ------------------------------------------------------- Arrow and pandas UDFs


@pandas_udf(BinaryType())
def st_point(x: pd.Series, y: pd.Series) -> pd.Series:
    """ST_Point(x, y) -> WKB (D2); vectorized single-buffer encoder."""
    return pd.Series(wkb.encode_points(x.to_numpy("f8"), y.to_numpy("f8")))


def _doubles(xs: np.ndarray) -> pa.Array:
    """float64 values as an Arrow array, a NaN as null (the rule of
    Spark's pandas conversion)."""
    return pa.array(xs, pa.float64(), from_pandas=True)


@arrow_udf(DoubleType())
def st_x(g: pa.Array) -> pa.Array:
    xs, _ = wkb.decode_points(g)
    return _doubles(xs)


@arrow_udf(DoubleType())
def st_y(g: pa.Array) -> pa.Array:
    _, ys = wkb.decode_points(g)
    return _doubles(ys)


@arrow_udf(_BBOX_TYPE)
def st_envelope(g: pa.Array) -> pa.Array:
    """Bounding box struct (D4) — also the GeoParquet-1.1 covering column;
    a NaN bound is a null field."""
    return wkb.envelope_struct(g)


def outward(v, up: bool) -> float:
    """The number ``v`` (an int, a float or a ``decimal.Decimal``) as the
    nearest float toward +inf (``up``) or -inf, so that comparing a float
    against it gives what Python's exact comparison against ``v`` gives."""
    f = float(v)
    exact = f >= v if up else f <= v
    return f if exact else float(np.nextafter(f, np.inf if up else -np.inf))


def _bound(s: pd.Series, up: bool) -> np.ndarray:
    """A window-bound column as float64, each value ``outward`` rounded.
    SQL literals such as ``-90.5`` arrive as ``decimal.Decimal``; nulls
    become NaN, which no comparison passes."""
    if s.dtype.kind == "f":
        return s.to_numpy("f8")
    codes, uniq = pd.factorize(s)
    table = np.empty(len(uniq) + 1)
    table[-1] = np.nan  # factorize codes nulls as -1
    for i, v in enumerate(np.asarray(uniq).tolist()):  # Python scalars compare exactly
        table[i] = outward(v, up)
    return table[codes]


@pandas_udf(BooleanType())
def st_envelope_intersects(
    g: pd.Series, x0: pd.Series, y0: pd.Series, x1: pd.Series, y1: pd.Series
) -> pd.Series:
    """ST_EnvelopeIntersects(geom, x0, y0, x1, y1): does the geometry's
    envelope overlap the window? The exact per-row refine behind the
    SQL-string pushdown rewrite (geo/sqlrewrite.py), where it cannot be
    lowered to JVM comparisons — same predicate spatial_window_filter
    applies through the DataFrame API."""
    env = wkb.envelopes(pa.array(g, type=pa.large_binary()))
    hit = (
        (env[:, 0] <= _bound(x1, up=False))
        & (env[:, 2] >= _bound(x0, up=True))
        & (env[:, 1] <= _bound(y1, up=False))
        & (env[:, 3] >= _bound(y0, up=True))
    ).astype(object)
    hit[g.isna().to_numpy()] = None
    return pd.Series(hit, dtype="object")


@pandas_udf(DoubleType())
def st_area(g: pd.Series) -> pd.Series:
    return pd.Series(
        [np.nan if v is None else wkb.area(wkb.decode(v)) for v in g], dtype="f8"
    )


@pandas_udf(DoubleType())
def st_length(g: pd.Series) -> pd.Series:
    return pd.Series(
        [np.nan if v is None else wkb.length(wkb.decode(v)) for v in g], dtype="f8"
    )


@pandas_udf(BinaryType())
def st_centroid(g: pd.Series) -> pd.Series:
    def one(v):
        if v is None:
            return None
        return wkb.encode(("Point", wkb.centroid(wkb.decode(v))))

    return pd.Series([one(v) for v in g])


@pandas_udf(StringType())
def st_astext(g: pd.Series) -> pd.Series:
    return pd.Series([None if v is None else wkb.to_wkt(wkb.decode(v)) for v in g])


@arrow_udf(DoubleType())
def st_distance(a: pa.Array, b: pa.Array) -> pa.Array:
    """Planar point-point distance on WKB columns (D7). General
    geometry-geometry minimum distance is out of reference scope
    (SURVEY.md §2.D)."""
    ax, ay = wkb.decode_points(a)
    bx, by = wkb.decode_points(b)
    return _doubles(np.hypot(bx - ax, by - ay))


@pandas_udf(BooleanType())
def st_contains_point(poly: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
    """ST_Contains(polygon, point) via ray-cast (D8). Decodes each
    distinct polygon once per batch — the common shape is one query
    polygon broadcast against many points."""
    cache: dict[bytes, tuple] = {}
    xs = x.to_numpy("f8")
    ys = y.to_numpy("f8")
    out = np.zeros(len(poly), dtype=bool)
    for i, p in enumerate(poly):
        if p is None:
            continue
        key = bytes(p)
        geom = cache.get(key)
        if geom is None:
            geom = cache[key] = wkb.decode(key)
        out[i] = wkb.contains(geom, xs[i], ys[i])
    return pd.Series(out)


@pandas_udf(BinaryType())
def st_buffer(g: pd.Series, dist: pd.Series, segs: pd.Series) -> pd.Series:
    """Point buffer -> regular polygon approximation (D9; points only —
    the reference's shapely closure covers general buffer, flagged hard
    and lowest-priority in SURVEY.md §7.M2)."""

    def one(v, d, n):
        if v is None:
            return None
        kind, val = wkb.decode(v)
        if kind != "Point":
            raise ValueError("st_buffer implemented for points only")
        d = float(d)  # SQL literals may arrive as decimal.Decimal
        n = int(n)
        ang = np.linspace(0.0, 2 * np.pi, n, endpoint=False)
        ring = np.column_stack(
            [val[0] + d * np.cos(ang), val[1] + d * np.sin(ang)]
        )
        ring = np.vstack([ring, ring[:1]])
        return wkb.encode(("Polygon", [ring]))

    return pd.Series([one(v, d, n) for v, d, n in zip(g, dist, segs)])


def _douglas_peucker(a: np.ndarray, tol: float) -> np.ndarray:
    """Iterative Douglas-Peucker on an (n,2) path."""
    n = len(a)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        seg = a[j] - a[i]
        L = np.hypot(*seg)
        mid = a[i + 1 : j]
        if L == 0.0:
            d = np.hypot(mid[:, 0] - a[i, 0], mid[:, 1] - a[i, 1])
        else:
            d = np.abs(
                (mid[:, 0] - a[i, 0]) * seg[1] - (mid[:, 1] - a[i, 1]) * seg[0]
            ) / L
        k = int(np.argmax(d))
        if d[k] > tol:
            m = i + 1 + k
            keep[m] = True
            stack.append((i, m))
            stack.append((m, j))
    return a[keep]


@pandas_udf(BinaryType())
def st_simplify(g: pd.Series, tol: pd.Series) -> pd.Series:
    """Douglas-Peucker simplification for LineString/Polygon rings (D9)."""

    def one(v, t):
        if v is None:
            return None
        kind, val = wkb.decode(v)
        if kind == "LineString":
            return wkb.encode((kind, _douglas_peucker(val, t)))
        if kind == "Polygon":
            return wkb.encode((kind, [_douglas_peucker(r, t) for r in val]))
        return v  # other kinds pass through unchanged

    return pd.Series([one(v, t) for v, t in zip(g, tol)])


@pandas_udf(IntegerType())
def st_num_geometries(g: pd.Series) -> pd.Series:
    """ST_NumGeometries: part count of a Multi*/GeometryCollection,
    1 for a single geometry (PostGIS semantics), None for NULL."""

    def one(v):
        if v is None:
            return None
        kind, val = wkb.decode(v)
        if kind in ("MultiPoint", "MultiLineString", "MultiPolygon",
                    "GeometryCollection"):
            return len(val)
        return 1

    return pd.Series([one(v) for v in g], dtype="object")


_UDFS = {
    "ST_Point": st_point,
    "ST_X": st_x,
    "ST_Y": st_y,
    "ST_Envelope": st_envelope,
    "ST_Area": st_area,
    "ST_Length": st_length,
    "ST_Centroid": st_centroid,
    "ST_AsText": st_astext,
    "ST_Distance": st_distance,
    "ST_ContainsPoint": st_contains_point,
    "ST_Buffer": st_buffer,
    "ST_Simplify": st_simplify,
    "ST_EnvelopeIntersects": st_envelope_intersects,
    "ST_NumGeometries": st_num_geometries,
}


_REGISTERED: weakref.WeakSet[SparkSession] = weakref.WeakSet()


def register_sql(spark: SparkSession) -> None:
    """Expose the ST_* UDFs to spark.sql string queries (§2.G), once per
    session: each ``spark.udf.register`` is a JVM round trip, and a
    ``newSession()`` has its own function registry."""
    if spark in _REGISTERED:
        return
    for name, fn in _UDFS.items():
        spark.udf.register(name, fn)
    _REGISTERED.add(spark)
