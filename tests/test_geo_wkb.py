"""WKB codec round-trip + measure tests (SURVEY.md §5.2: systematize the
reference's implicit round-trip test with hypothesis properties)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from geoparquet_python_spark.geo import wkb

finite = st.floats(
    allow_nan=False,
    allow_infinity=False,
    min_value=-1e12,
    max_value=1e12,
)
coord = st.tuples(finite, finite)


def ring(points: list[tuple[float, float]]) -> np.ndarray:
    """Close a ring (first == last) as WKB expects."""
    return np.asarray(points + [points[0]], dtype="f8")


@given(coord)
def test_point_roundtrip(p):
    kind, val = wkb.decode(wkb.encode(("Point", p)))
    assert kind == "Point"
    assert val == (p[0], p[1])


@given(st.lists(coord, min_size=2, max_size=50))
def test_linestring_roundtrip(pts):
    a = np.asarray(pts, dtype="f8")
    kind, val = wkb.decode(wkb.encode(("LineString", a)))
    assert kind == "LineString"
    np.testing.assert_array_equal(val, a)


@given(
    st.lists(st.lists(coord, min_size=3, max_size=12), min_size=1, max_size=4)
)
@settings(max_examples=50)
def test_polygon_roundtrip(rings):
    poly = [ring(r) for r in rings]
    kind, val = wkb.decode(wkb.encode(("Polygon", poly)))
    assert kind == "Polygon"
    assert len(val) == len(poly)
    for got, want in zip(val, poly):
        np.testing.assert_array_equal(got, want)


@given(st.lists(coord, min_size=1, max_size=30))
def test_multipoint_roundtrip(pts):
    a = np.asarray(pts, dtype="f8")
    kind, val = wkb.decode(wkb.encode(("MultiPoint", a)))
    assert kind == "MultiPoint"
    np.testing.assert_array_equal(val, a)


@given(
    st.lists(
        st.lists(st.lists(coord, min_size=3, max_size=8), min_size=1, max_size=2),
        min_size=1,
        max_size=3,
    )
)
@settings(max_examples=30)
def test_multipolygon_roundtrip(polys):
    mp = [[ring(r) for r in rings] for rings in polys]
    kind, val = wkb.decode(wkb.encode(("MultiPolygon", mp)))
    assert kind == "MultiPolygon"
    assert len(val) == len(mp)


def test_collection_roundtrip():
    g = (
        "GeometryCollection",
        [
            ("Point", (1.0, 2.0)),
            ("LineString", np.array([[0.0, 0.0], [1.0, 1.0]])),
        ],
    )
    kind, val = wkb.decode(wkb.encode(g))
    assert kind == "GeometryCollection"
    assert val[0] == ("Point", (1.0, 2.0))


def test_big_endian_decode():
    import struct

    buf = b"\x00" + struct.pack(">I", 1) + struct.pack(">dd", 3.5, -7.25)
    assert wkb.decode(buf) == ("Point", (3.5, -7.25))


@given(st.lists(coord, min_size=1, max_size=64))
def test_vectorized_points(pts):
    a = np.asarray(pts, dtype="f8")
    bufs = wkb.encode_points(a[:, 0], a[:, 1])
    assert all(len(b) == 21 for b in bufs)
    xs, ys = wkb.decode_points(bufs)
    np.testing.assert_array_equal(xs, a[:, 0])
    np.testing.assert_array_equal(ys, a[:, 1])
    # scalar codec agrees with the vectorized one
    assert wkb.decode(bufs[0]) == ("Point", (a[0, 0], a[0, 1]))


def test_area_square_with_hole():
    shell = ring([(0, 0), (10, 0), (10, 10), (0, 10)])
    hole = ring([(2, 2), (4, 2), (4, 4), (2, 4)])
    assert wkb.area(("Polygon", [shell])) == pytest.approx(100.0)
    assert wkb.area(("Polygon", [shell, hole])) == pytest.approx(96.0)
    assert wkb.area(("MultiPolygon", [[shell], [hole]])) == pytest.approx(104.0)


def test_length_and_perimeter():
    ls = np.array([[0.0, 0.0], [3.0, 4.0], [3.0, 8.0]])
    assert wkb.length(("LineString", ls)) == pytest.approx(9.0)
    sq = ring([(0, 0), (2, 0), (2, 2), (0, 2)])
    assert wkb.length(("Polygon", [sq])) == pytest.approx(8.0)


def test_centroid():
    sq = ring([(0, 0), (4, 0), (4, 4), (0, 4)])
    assert wkb.centroid(("Polygon", [sq])) == pytest.approx((2.0, 2.0))
    # hole pulls centroid away symmetrically -> still center if hole centered
    hole = ring([(1, 1), (3, 1), (3, 3), (1, 3)])
    assert wkb.centroid(("Polygon", [sq, hole])) == pytest.approx((2.0, 2.0))
    # off-center hole shifts it
    hole2 = ring([(0, 0), (2, 0), (2, 2), (0, 2)])
    cx, cy = wkb.centroid(("Polygon", [sq, hole2]))
    assert cx > 2.0 and cy > 2.0
    assert wkb.centroid(("LineString", np.array([[0.0, 0.0], [2.0, 0.0]]))) == (
        1.0,
        0.0,
    )


def test_bbox():
    poly = [ring([(1, -2), (5, 0), (3, 7)])]
    assert wkb.bbox(("Polygon", poly)) == (1.0, -2.0, 5.0, 7.0)
    assert wkb.bbox(("Point", (2.0, 3.0))) == (2.0, 3.0, 2.0, 3.0)


def test_point_in_polygon():
    shell = ring([(0, 0), (10, 0), (10, 10), (0, 10)])
    hole = ring([(4, 4), (6, 4), (6, 6), (4, 6)])
    poly = ("Polygon", [shell, hole])
    assert wkb.contains(poly, 1.0, 1.0)
    assert not wkb.contains(poly, 5.0, 5.0)  # in the hole
    assert not wkb.contains(poly, 11.0, 5.0)
    # concave polygon
    concave = ("Polygon", [ring([(0, 0), (10, 0), (10, 10), (5, 2), (0, 10)])])
    assert wkb.contains(concave, 1.0, 2.0)
    assert not wkb.contains(concave, 5.0, 6.0)


def test_wkt():
    assert wkb.to_wkt(("Point", (1.5, -2.0))) == "POINT (1.5 -2)"
    sq = ring([(0, 0), (1, 0), (1, 1), (0, 1)])
    assert wkb.to_wkt(("Polygon", [sq])).startswith("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")


# ------------------------------------------- Arrow-buffer envelope kernel


def _per_row_boxes(vals) -> np.ndarray:
    out = np.full((len(vals), 4), np.nan)
    for i, v in enumerate(vals):
        if v is not None:
            out[i] = wkb.bbox(wkb.decode(v))
    return out


def _assert_bit_identical(got: np.ndarray, want: np.ndarray) -> None:
    """Equal bit for bit: NaN matches NaN at the same position only, and
    -0.0 does not match 0.0."""
    assert got.shape == want.shape and got.dtype == want.dtype
    np.testing.assert_array_equal(got.view(np.uint64), want.view(np.uint64))


def _be_point(x: float, y: float) -> bytes:
    import struct

    return b"\x00" + struct.pack(">Idd", 1, x, y)


_SQ = ring([(0, 0), (4, 0), (4, 4), (0, 4)])
_CORPUS = [
    wkb.encode(("Point", (1.5, -2.0))),
    _be_point(3.5, -7.25),
    None,
    wkb.encode(("Point", (np.nan, np.nan))),  # POINT EMPTY
    wkb.encode(("Point", (np.nan, 2.0))),
    wkb.encode(("LineString", np.array([[0.0, 1.0], [2.0, -3.0], [-1.0, 5.0]]))),
    wkb.encode(("LineString", np.array([[0.0, 0.5], [np.nan, 1.0]]))),
    wkb.encode(("LineString", np.array([[0.0, -0.0], [-0.0, 0.0]]))),
    wkb.encode(("LineString", np.zeros((0, 2)))),
    wkb.encode(("Polygon", [_SQ - 9.0])),
    wkb.encode(("Polygon", [_SQ, _SQ / 4 + 1])),  # with a hole
    None,
    wkb.encode(("MultiPolygon", [[_SQ], [_SQ + 10.0, _SQ / 4 + 11.0]])),
    wkb.encode(
        (
            "GeometryCollection",
            [("Point", (9.0, -9.0)), ("LineString", np.array([[0.0, 0.0], [1.0, 1.0]]))],
        )
    ),
    wkb.encode(("MultiPoint", np.array([[1.0, 2.0], [-3.0, 4.0]]))),
]


@pytest.mark.parametrize("typ", [pa.binary(), pa.large_binary()], ids=str)
def test_envelopes_match_per_row_bbox(typ):
    arr = pa.array(_CORPUS, typ)
    _assert_bit_identical(wkb.envelopes(arr), _per_row_boxes(_CORPUS))


@pytest.mark.parametrize("typ", [pa.binary(), pa.large_binary()], ids=str)
def test_envelopes_on_sliced_empty_and_null_arrays(typ):
    arr = pa.array(_CORPUS, typ)
    for lo, hi in [(1, 7), (4, 15), (11, 12), (5, 5)]:
        _assert_bit_identical(
            wkb.envelopes(arr.slice(lo, hi - lo)), _per_row_boxes(_CORPUS[lo:hi])
        )
    assert wkb.envelopes(pa.array([], typ)).shape == (0, 4)
    _assert_bit_identical(wkb.envelopes(pa.array([None, None], typ)), np.full((2, 4), np.nan))


@given(st.lists(st.one_of(st.none(), coord), min_size=1, max_size=40))
@settings(max_examples=50)
def test_envelopes_points_and_rings_property(items):
    vals = []
    for i, p in enumerate(items):
        if p is None:
            vals.append(None)
        elif i % 3 == 0:
            vals.append(wkb.encode(("Point", p)))
        elif i % 3 == 1:
            vals.append(wkb.encode(("LineString", np.array([p, (p[1], p[0])]))))
        else:
            vals.append(wkb.encode(("Polygon", [ring([p, (p[0] + 1, p[1]), (p[0], p[1] - 1)])])))
    _assert_bit_identical(wkb.envelopes(pa.array(vals, pa.binary())), _per_row_boxes(vals))


def test_headers_read_byte_order_and_type_code():
    arr = pa.array([_CORPUS[0], _CORPUS[1], None, b"\x01\x02", _CORPUS[12]], pa.binary())
    h = wkb.headers(arr.slice(1))
    assert h.valid.tolist() == [True, False, True, True]
    assert h.headed.tolist() == [True, False, False, True]
    assert h.little.tolist() == [False, False, False, True]
    assert h.code.tolist() == [1, 0, 0, 6]


def test_envelope_intersects_decimal_bounds_match_exact_comparison():
    """SQL literal bounds arrive as decimals, and comparing a float
    against a Decimal in Python is exact; the vectorized refine must give
    the same answers as that per-row comparison, nulls included, for
    decimal128, float64 and int64 bound columns."""
    from decimal import Decimal

    from geoparquet_python_spark.geo.functions import st_envelope_intersects

    def per_row(g, x0, y0, x1, y1):
        out = []
        for v, a, b, c, d in zip(*(col.to_pylist() for col in (g, x0, y0, x1, y1))):
            if v is None:
                out.append(None)
                continue
            xmin, ymin, xmax, ymax = wkb.bbox(wkb.decode(v))
            out.append(bool(xmin <= c and xmax >= a and ymin <= d and ymax >= b))
        return out

    g = pa.array(
        [
            wkb.encode(("Point", (0.1, 0.2))),
            None,
            wkb.encode(("Point", (0.1, 0.1))),
            wkb.encode(("Point", (np.nan, np.nan))),
            wkb.encode(("Polygon", [_SQ / 40])),
            _be_point(0.1, 0.1),
        ],
        pa.binary(),
    )
    n = len(g)
    bounds = [Decimal("0.1"), 0.1, Decimal("0.2"), 2**53 + 1, Decimal("-90.5")]
    for lo in bounds:
        for hi in bounds:
            args = [pa.array([lo] * n), pa.array([lo] * n),
                    pa.array([hi] * n), pa.array([hi] * n)]
            got = st_envelope_intersects.func(g, *args)
            assert got.type == pa.bool_()
            assert got.to_pylist() == per_row(g, *args), (lo, hi)
    assert {pa.array([b]).type.id for b in bounds} == {
        pa.decimal128(1, 1).id, pa.float64().id, pa.int64().id}


def test_outward_rounds_a_bound_beyond_every_double_exactly():
    """A bound no Arrow decimal holds (``sqlrewrite`` primes literals
    with ``outward`` too) still rounds toward the outside of the window."""
    import sys
    from decimal import Decimal

    from geoparquet_python_spark.geo.functions import outward

    big = sys.float_info.max
    assert outward(Decimal("1e400"), up=True) == np.inf
    assert outward(Decimal("1e400"), up=False) == big
    assert outward(Decimal("-1e400"), up=False) == -np.inf
    assert outward(Decimal("-1e400"), up=True) == -big
    # each is on the same side of every double as the Decimal itself
    for f in (big, -big, 0.1):
        assert (f <= outward(Decimal("1e400"), up=False)) == (f <= Decimal("1e400"))
        assert (f >= outward(Decimal("-1e400"), up=True)) == (f >= Decimal("-1e400"))


# ----------------------------------------------- batch point decoder


def _per_row_points(vals) -> tuple[np.ndarray, np.ndarray]:
    xs = np.full(len(vals), np.nan)
    ys = np.full(len(vals), np.nan)
    for i, v in enumerate(vals):
        if v is not None:
            xs[i], ys[i] = wkb.decode(v)[1]
    return xs, ys


_POINTS = [
    wkb.encode(("Point", (1.5, -2.0))),
    None,
    _be_point(3.5, -7.25),
    wkb.encode(("Point", (np.nan, np.nan))),  # POINT EMPTY
    wkb.encode(("Point", (-0.0, 0.0))),
    None,
    wkb.encode(("Point", (np.nan, 2.0))),
    _be_point(-0.0, np.inf),
]


@pytest.mark.parametrize(
    "as_input",
    [list, lambda v: pa.array(v, pa.binary()), lambda v: pa.array(v, pa.large_binary())],
    ids=["list", "binary", "large_binary"],
)
def test_decode_points_with_nulls_matches_per_row_decode(as_input):
    """Nulls and big-endian rows no longer send the whole batch through
    the per-row loop; the result stays bit-identical to it."""
    vals = _POINTS * 3
    got = wkb.decode_points(as_input(vals))
    want = _per_row_points(vals)
    for g, w in zip(got, want):
        _assert_bit_identical(g, w)
    for lo, hi in [(1, 7), (5, 6), (3, 3)]:
        got = wkb.decode_points(pa.array(vals, pa.binary()).slice(lo, hi - lo))
        for g, w in zip(got, _per_row_points(vals[lo:hi])):
            _assert_bit_identical(g, w)


def test_decode_points_decodes_per_row_only_off_the_fast_path(monkeypatch):
    """One null in a batch of little-endian points used to send every
    row through ``decode``; now only the big-endian row takes it."""
    calls = []
    real = wkb.decode
    monkeypatch.setattr(wkb, "decode", lambda v: calls.append(v) or real(v))
    vals = [_POINTS[0]] * 100 + [None, _be_point(3.5, -7.25)]
    xs, _ = wkb.decode_points(vals)
    assert len(calls) == 1 and xs[-1] == 3.5


@given(st.lists(st.one_of(st.none(), coord), max_size=40))
@settings(max_examples=50)
def test_decode_points_property(items):
    vals = [
        None if p is None else (_be_point(*p) if i % 4 == 3 else wkb.encode(("Point", p)))
        for i, p in enumerate(items)
    ]
    for g, w in zip(wkb.decode_points(vals), _per_row_points(vals)):
        _assert_bit_identical(g, w)


@pytest.mark.parametrize(
    "geom", [("Polygon", [_SQ]), ("LineString", _SQ)], ids=["polygon", "linestring"]
)
def test_decode_points_raises_on_non_points(geom):
    with pytest.raises(ValueError, match="expected Point"):
        wkb.decode_points([_POINTS[0], None, wkb.encode(geom)])


# ------------------------------------------------ covering bbox struct


def test_envelope_struct_nulls_exactly_the_nan_bounds():
    from geoparquet_python_spark.geo.functions import st_envelope

    arr = pa.array(_CORPUS, pa.binary())
    got = wkb.envelope_struct(arr)
    assert [f.name for f in got.type] == list(wkb.ENVELOPE_FIELDS)
    assert got.null_count == 0  # the struct itself is never null
    box = wkb.envelopes(arr)
    for i, name in enumerate(wkb.ENVELOPE_FIELDS):
        col = got.field(name)
        assert col.is_null().to_numpy(zero_copy_only=False).tolist() == np.isnan(box[:, i]).tolist()
        _assert_bit_identical(col.fill_null(np.nan).to_numpy(), box[:, i])
    # the Arrow UDF returns the same struct
    assert st_envelope.func(arr).equals(got)
    assert len(wkb.envelope_struct(pa.array([], pa.binary()))) == 0
