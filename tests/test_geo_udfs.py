"""The ST_* UDF surface through Spark, row by row against the WKB codec.

Every ``register_sql`` name and the three geometry generators of
``operators/geospatial.py`` run over edge rows — null, POINT EMPTY, a
NaN coordinate, big-endian Point and Polygon, a polygon with a hole,
the Multi* types and a GeometryCollection — with SQL decimal literals
as arguments, and must give what ``geo/wkb.py`` gives per row, bit for
bit (a NaN result is a null)."""

from __future__ import annotations

import math
import struct
from decimal import Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

from geoparquet_python_spark.geo import wkb
from geoparquet_python_spark.geo.functions import _UDFS, _douglas_peucker, register_sql
from geoparquet_python_spark.operators import geospatial


def _ring(points) -> np.ndarray:
    return np.asarray(list(points) + [points[0]], dtype="f8")


def _be_polygon(ring: np.ndarray) -> bytes:
    return b"\x00" + struct.pack(">III", 3, 1, len(ring)) + b"".join(
        struct.pack(">dd", x, y) for x, y in ring)


_SQ = _ring([(0, 0), (4, 0), (4, 4), (0, 4)])
_ROWS = [
    None,
    wkb.encode(("Point", (np.nan, np.nan))),  # POINT EMPTY
    wkb.encode(("Point", (np.nan, 2.0))),
    wkb.encode(("Point", (1.5, -2.0))),
    b"\x00" + struct.pack(">Idd", 1, 3.5, -7.25),  # big-endian Point
    wkb.encode(("Point", (0.1, 0.1))),  # 0.1 as a double exceeds the decimal 0.1
    _be_polygon(_SQ - 1.0),
    wkb.encode(("Polygon", [_SQ, _SQ / 4 + 1])),  # with a hole
    wkb.encode(("LineString", np.array([[0, 0], [1, 0.05], [2, -0.2], [3, 0], [4, 0.01]]))),
    wkb.encode(("MultiPoint", np.array([[1.0, 2.0], [-3.0, 4.0]]))),
    wkb.encode(("MultiLineString", [np.array([[0, 0], [3, 4]]), np.array([[1, 1], [1, 0.02], [1, -1]])])),
    wkb.encode(("MultiPolygon", [[_SQ], [_SQ + 10.0, _SQ / 4 + 11.0]])),
    wkb.encode(("GeometryCollection", [
        ("Point", (9.0, -9.0)),
        ("Polygon", [_SQ * 2]),
        ("LineString", np.array([[0.0, 0.0], [1.0, 1.0]])),
    ])),
]
_ALL = range(len(_ROWS))
_POINTS = range(6)
_POLYGONAL = (6, 7, 11)


def _nan_null(v: float):
    return None if math.isnan(v) else float(v)


def _x(g: bytes):
    return _nan_null(wkb.decode(g)[1][0])


def _y(g: bytes):
    return _nan_null(wkb.decode(g)[1][1])


def _envelope(g):
    if g is None:
        return (None,) * 4
    return tuple(_nan_null(b) for b in wkb.bbox(wkb.decode(g)))


def _window(x0, y0, x1, y1):
    def hit(g):
        xmin, ymin, xmax, ymax = wkb.bbox(wkb.decode(g))
        return xmin <= x1 and xmax >= x0 and ymin <= y1 and ymax >= y0
    return hit


def _buffer(g, d, n):
    x, y = wkb.decode(g)[1]
    ang = np.linspace(0.0, 2 * np.pi, n, endpoint=False)
    ring = np.column_stack([x + d * np.cos(ang), y + d * np.sin(ang)])
    return wkb.encode(("Polygon", [np.vstack([ring, ring[:1]])]))


def _simplify(g, tol):
    kind, val = wkb.decode(g)
    if kind == "LineString":
        return wkb.encode((kind, _douglas_peucker(val, tol)))
    if kind == "Polygon":
        return wkb.encode((kind, [_douglas_peucker(r, tol) for r in val]))
    return g


def _num_geometries(g):
    kind, val = wkb.decode(g)
    multi = ("MultiPoint", "MultiLineString", "MultiPolygon", "GeometryCollection")
    return len(val) if kind in multi else 1


def _strict(fn):
    """``fn`` of a non-null geometry; a null geometry gives null."""
    return lambda g: None if g is None else fn(g)


# name -> [(SQL expression over ``g``, rows, per-row expectation)]
_CASES = {
    "ST_Point": [
        ("ST_Point(ST_X(g), ST_Y(g))", range(1, 6), lambda g: wkb.encode(
            ("Point", tuple(np.nan if c is None else c for c in (_x(g), _y(g)))))),
        ("ST_Point(0.5, -90.5)", _ALL, lambda g: wkb.encode(("Point", (0.5, -90.5)))),
    ],
    "ST_X": [("ST_X(g)", _POINTS, _strict(_x))],
    "ST_Y": [("ST_Y(g)", _POINTS, _strict(_y))],
    "ST_Envelope": [("ST_Envelope(g)", _ALL, _envelope)],
    "ST_Area": [("ST_Area(g)", _ALL, _strict(lambda g: _nan_null(wkb.area(wkb.decode(g)))))],
    "ST_Length": [("ST_Length(g)", _ALL, _strict(lambda g: _nan_null(wkb.length(wkb.decode(g)))))],
    "ST_Centroid": [("ST_Centroid(g)", _ALL, _strict(
        lambda g: wkb.encode(("Point", wkb.centroid(wkb.decode(g))))))],
    "ST_AsText": [("ST_AsText(g)", _ALL, _strict(lambda g: wkb.to_wkt(wkb.decode(g))))],
    "ST_Distance": [("ST_Distance(g, ST_Point(1.0D, -1.0D))", _POINTS, _strict(
        lambda g: _nan_null(math.hypot(1.0 - wkb.decode(g)[1][0], -1.0 - wkb.decode(g)[1][1]))))],
    "ST_ContainsPoint": [
        (f"ST_ContainsPoint(g, {x}, {y})", _POLYGONAL,
         lambda g, x=x, y=y: wkb.contains(wkb.decode(g), float(Decimal(x)), float(Decimal(y))))
        for x, y in [("0.5", "0.5"), ("1.5", "1.5"), ("2.9", "-0.5"), ("12.5", "10.1")]
    ],
    "ST_Buffer": [("ST_Buffer(g, 0.5, 16)", _POINTS, _strict(lambda g: _buffer(g, 0.5, 16)))],
    "ST_Simplify": [("ST_Simplify(g, 0.1)", _ALL, _strict(lambda g: _simplify(g, Decimal("0.1"))))],
    "ST_EnvelopeIntersects": [
        (f"ST_EnvelopeIntersects(g, {', '.join(w)})", _ALL,
         _strict(_window(*(Decimal(b) for b in w))))
        for w in [("-90.5", "-3", "2.5", "90.5"), ("-90.5", "-3", "0.1", "90.5"),
                  ("0.1", "0.1", "0.1", "0.1"), ("3.5", "-7.25", "3.5", "-7.25")]
    ],
    "ST_NumGeometries": [("ST_NumGeometries(g)", _ALL, _strict(_num_geometries))],
}


def _bits(v):
    """A result value with each double as its bit pattern (NaN, -0.0)."""
    if isinstance(v, float):
        return struct.pack("<d", v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, tuple):
        return tuple(_bits(x) for x in v)
    return v


@pytest.fixture(scope="module")
def edge_rows(spark):
    register_sql(spark)
    df = spark.createDataFrame(list(enumerate(_ROWS)), "i int, g binary")
    df.createOrReplaceTempView("st_edge_rows")
    return df


def test_every_registered_udf_has_edge_cases():
    assert set(_CASES) == set(_UDFS)


def test_every_st_udf_is_an_arrow_udf():
    """One execution tier: each UDF of the geo path runs as an Arrow UDF
    (``ArrowEvalPython`` with no pandas conversion)."""
    from pyspark.util import PythonEvalType

    udfs = {**_UDFS, **{n: getattr(geospatial, n) for n in _GENERATORS}}
    assert {n: u.evalType for n, u in udfs.items()} == dict.fromkeys(
        udfs, PythonEvalType.SQL_SCALAR_ARROW_UDF)


@pytest.mark.parametrize("name", sorted(_CASES))
def test_udf_matches_the_per_row_codec_on_edge_rows(spark, edge_rows, name):
    for expr, rows, want in _CASES[name]:
        got = spark.sql(
            f"SELECT i, {expr} AS v FROM st_edge_rows "
            f"WHERE i IN ({', '.join(map(str, rows))}) ORDER BY i").collect()
        assert [r.i for r in got] == list(rows), expr
        for r in got:
            v = tuple(r.v) if name == "ST_Envelope" else r.v
            assert _bits(v) == _bits(want(_ROWS[r.i])), (expr, r.i)


def test_a_null_argument_gives_null(spark, edge_rows):
    """A NULL polygon or point coordinate makes ST_ContainsPoint NULL, not
    FALSE; a NULL distance, segment count or tolerance makes ST_Buffer
    and ST_Simplify NULL."""
    got = spark.sql("""
        SELECT i, ST_ContainsPoint(g, 0.5, 0.5) AS inside,
               ST_ContainsPoint(g, CAST(NULL AS DOUBLE), 0.5) AS null_x,
               ST_ContainsPoint(g, 0.5, ST_Y(CAST(NULL AS BINARY))) AS null_y,
               ST_Simplify(g, CAST(NULL AS DOUBLE)) AS simplified
        FROM st_edge_rows WHERE i IN (0, 6, 7, 11) ORDER BY i""").collect()
    assert [tuple(r) for r in got] == [
        (0, None, None, None, None),
        (6, True, None, None, None),
        (7, True, None, None, None),
        (11, True, None, None, None),
    ]
    got = spark.sql("""
        SELECT ST_Buffer(g, CAST(NULL AS DOUBLE), 16) AS a, ST_Buffer(g, 0.5, NULL) AS b
        FROM st_edge_rows WHERE i IN (0, 3, 4)""").collect()
    assert [tuple(r) for r in got] == [(None, None)] * 3


def _territory(k):
    p, s = k % 3 + 1, k % 4 + 1
    sq = _ring([(-s / 2, -s / 2), (s / 2, -s / 2), (s / 2, s / 2), (-s / 2, s / 2)])
    return wkb.encode(("MultiPolygon", [
        [sq + (10.0 * k + 7.0 * i, 5.0 * k - 4.0 * i)] for i in range(p)]))


def _routes(k):
    return wkb.encode(("MultiLineString", [
        np.array([[10.0 * k + 7.0 * i, 5.0 * k - 4.0 * i],
                  [10.0 * k + 7.0 * i + 3.0, 5.0 * k - 4.0 * i + 4.0]])
        for i in range(k % 3 + 1)]))


def _landmark(k):
    s = k % 4 + 1
    sq = _ring([(-s / 2, -s / 2), (s / 2, -s / 2), (s / 2, s / 2), (-s / 2, s / 2)])
    lx, ly = 10.0 * k + 14.0, 5.0 * k - 8.0
    return wkb.encode(("GeometryCollection", [
        ("Point", (10.0 * k, 5.0 * k)),
        ("Polygon", [sq + (10.0 * k + 7.0, 5.0 * k - 4.0)]),
        ("LineString", np.array([[lx, ly], [lx + 3.0, ly + 4.0]])),
    ]))


_GENERATORS = {
    "_territory_wkb": _territory,
    "_routes_wkb": _routes,
    "_landmark_wkb": _landmark,
}


@pytest.mark.parametrize("name", sorted(_GENERATORS))
def test_generator_matches_the_per_row_codec(spark, name):
    udf = getattr(geospatial, name)
    got = spark.range(25).select("id", udf(F.col("id")).alias("g")).orderBy("id").collect()
    assert [(r.id, bytes(r.g)) for r in got] == [(k, _GENERATORS[name](k)) for k in range(25)]
