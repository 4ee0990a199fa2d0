"""Well-Known-Binary codec in pure numpy/struct — no shapely on this box.

Reference parity: the reference round-trips geometry as WKB via shapely
(`geoparquet/__init__.py:30≈` encode ``geom.wkb`` per row, `:60≈` decode
``shapely.wkb.loads`` per row — both per-row Python loops). Here the
codec is a self-contained batch library: encode/decode whole batches
of WKB inside one UDF call, with no per-row Python for the common
layouts.

The batch kernels work on the buffers of an Arrow binary column instead
of per-row bytes objects:

* ``headers(arr)`` reads every row's byte order and type code from the
  offset, validity and data buffers (the GeoParquet writer's
  ``geometry_types`` come from it);
* ``decode_points(arr)`` gathers the coordinates of every 21-byte
  little-endian Point at once, nulls included;
* ``envelopes(arr)`` gives the ``(n, 4)`` bounding boxes behind
  ``ST_Envelope``, the covering ``bbox`` column and the window refine,
  and ``envelope_struct(arr)`` gives them as that column's Arrow struct.
  Little-endian Points and single-ring LineStrings/Polygons are reduced
  with one numpy gather.

Rows a gather does not cover go through the per-row ``decode``, so every
kernel equals the per-row path bit for bit.

Supported: 2-D Point, LineString, Polygon (with holes), MultiPoint,
MultiLineString, MultiPolygon, GeometryCollection; both byte orders on
decode, little-endian on encode (the de-facto standard).

Internal geometry representation (no classes — cheap to build in UDFs):
    ("Point", (x, y))
    ("LineString", ndarray (n,2))
    ("Polygon", [ring ndarray (n,2), ...])        # ring 0 = shell
    ("MultiPoint", ndarray (n,2))
    ("MultiLineString", [ndarray (n,2), ...])
    ("MultiPolygon", [[ring, ...], ...])
    ("GeometryCollection", [geom, ...])
"""

from __future__ import annotations

import struct
from typing import NamedTuple

import numpy as np
import pyarrow as pa

_POINT, _LINESTRING, _POLYGON = 1, 2, 3
_MULTIPOINT, _MULTILINESTRING, _MULTIPOLYGON = 4, 5, 6
_COLLECTION = 7

_NAMES = {
    _POINT: "Point",
    _LINESTRING: "LineString",
    _POLYGON: "Polygon",
    _MULTIPOINT: "MultiPoint",
    _MULTILINESTRING: "MultiLineString",
    _MULTIPOLYGON: "MultiPolygon",
    _COLLECTION: "GeometryCollection",
}
_CODES = {v: k for k, v in _NAMES.items()}

# ---------------------------------------------------------------- encode


def _enc_coords(arr: np.ndarray) -> bytes:
    a = np.ascontiguousarray(np.asarray(arr, dtype="<f8").reshape(-1, 2))
    return struct.pack("<I", a.shape[0]) + a.tobytes()


def encode(geom: tuple) -> bytes:
    """Internal representation -> little-endian WKB bytes."""
    kind, val = geom
    code = _CODES[kind]
    head = b"\x01" + struct.pack("<I", code)
    if code == _POINT:
        return head + struct.pack("<dd", float(val[0]), float(val[1]))
    if code == _LINESTRING:
        return head + _enc_coords(val)
    if code == _POLYGON:
        body = struct.pack("<I", len(val)) + b"".join(_enc_coords(r) for r in val)
        return head + body
    if code == _MULTIPOINT:
        pts = np.asarray(val, dtype="<f8").reshape(-1, 2)
        body = struct.pack("<I", pts.shape[0]) + b"".join(
            encode(("Point", (p[0], p[1]))) for p in pts
        )
        return head + body
    if code == _MULTILINESTRING:
        body = struct.pack("<I", len(val)) + b"".join(
            encode(("LineString", ls)) for ls in val
        )
        return head + body
    if code == _MULTIPOLYGON:
        body = struct.pack("<I", len(val)) + b"".join(
            encode(("Polygon", rings)) for rings in val
        )
        return head + body
    if code == _COLLECTION:
        body = struct.pack("<I", len(val)) + b"".join(encode(g) for g in val)
        return head + body
    raise ValueError(f"unsupported geometry kind {kind}")


# ---------------------------------------------------------------- decode


def _decode_at(buf: bytes, off: int) -> tuple[tuple, int]:
    bo = "<" if buf[off] == 1 else ">"
    (code,) = struct.unpack_from(bo + "I", buf, off + 1)
    code &= 0xFF  # tolerate EWKB/ISO flag bits (SRID bit not supported)
    off += 5
    if code == _POINT:
        x, y = struct.unpack_from(bo + "dd", buf, off)
        return ("Point", (x, y)), off + 16
    if code in (_LINESTRING, _MULTIPOINT):
        (n,) = struct.unpack_from(bo + "I", buf, off)
        off += 4
        if code == _LINESTRING:
            a = np.frombuffer(buf, dtype=bo + "f8", count=2 * n, offset=off)
            return ("LineString", a.reshape(n, 2).astype("f8")), off + 16 * n
        pts = np.empty((n, 2), dtype="f8")
        for i in range(n):
            g, off = _decode_at(buf, off)
            pts[i] = g[1]
        return ("MultiPoint", pts), off
    if code == _POLYGON:
        (nr,) = struct.unpack_from(bo + "I", buf, off)
        off += 4
        rings = []
        for _ in range(nr):
            (n,) = struct.unpack_from(bo + "I", buf, off)
            off += 4
            a = np.frombuffer(buf, dtype=bo + "f8", count=2 * n, offset=off)
            rings.append(a.reshape(n, 2).astype("f8"))
            off += 16 * n
        return ("Polygon", rings), off
    if code in (_MULTILINESTRING, _MULTIPOLYGON, _COLLECTION):
        (n,) = struct.unpack_from(bo + "I", buf, off)
        off += 4
        parts = []
        for _ in range(n):
            g, off = _decode_at(buf, off)
            parts.append(g)
        if code == _MULTILINESTRING:
            return ("MultiLineString", [g[1] for g in parts]), off
        if code == _MULTIPOLYGON:
            return ("MultiPolygon", [g[1] for g in parts]), off
        return ("GeometryCollection", parts), off
    raise ValueError(f"unsupported WKB geometry code {code}")


def decode(buf: bytes) -> tuple:
    """WKB bytes -> internal representation."""
    geom, _ = _decode_at(bytes(buf), 0)
    return geom


# ------------------------------------------------- vectorized batch paths


def encode_points(x: np.ndarray, y: np.ndarray) -> list[bytes]:
    """Vectorized Point encoder: builds all 21-byte records in one numpy
    buffer, then slices — no per-row struct packing."""
    n = len(x)
    rec = np.zeros(n, dtype=[("bo", "u1"), ("code", "<u4"), ("xy", "<f8", 2)])
    rec["bo"] = 1
    rec["code"] = _POINT
    rec["xy"][:, 0] = x
    rec["xy"][:, 1] = y
    raw = rec.tobytes()
    return [raw[i * 21 : (i + 1) * 21] for i in range(n)]


def decode_points(bufs) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized Point decoder over a WKB binary array or a sequence of
    WKB bytes (``None`` for null); nulls give NaN. Every 21-byte
    little-endian Point is read with one gather over the Arrow data
    buffer; only the other rows take the per-row ``decode``, where
    non-points raise."""
    arr = bufs if isinstance(bufs, pa.Array) else pa.array(bufs, pa.large_binary())
    h = headers(arr)
    xs = np.full(len(arr), np.nan)
    ys = np.full(len(arr), np.nan)
    fast = h.little & (h.code == _POINT) & (h.size == 21)
    f8 = _unaligned(h.data, "<f8")
    xs[fast] = f8[h.start[fast] + 5]
    ys[fast] = f8[h.start[fast] + 13]
    for i in np.flatnonzero(h.valid & ~fast):
        s = h.start[i]
        kind, val = decode(h.data[s : s + h.size[i]])
        if kind != "Point":
            raise ValueError(f"expected Point, got {kind}")
        xs[i], ys[i] = val
    return xs, ys


# ------------------------------------------------- Arrow-buffer kernels


class Headers(NamedTuple):
    """The WKB header of every row of an Arrow binary array."""

    data: np.ndarray  # uint8 view of the values buffer
    start: np.ndarray  # int64 byte offset of each row in ``data``
    size: np.ndarray  # int64 byte length of each row
    valid: np.ndarray  # bool: not null
    headed: np.ndarray  # bool: not null and long enough for the 5-byte header
    little: np.ndarray  # bool: headed and the byte-order byte is 1
    code: np.ndarray  # uint32 type code in the row's byte order (0 if not headed)


def _unaligned(data: np.ndarray, dtype: str) -> np.ndarray:
    """``data`` as ``dtype`` values starting at every byte: element ``i`` is
    the value whose first byte is ``data[i]`` (WKB fields are unaligned)."""
    size = np.dtype(dtype).itemsize
    return np.ndarray(
        (max(len(data) - size + 1, 0),), dtype, data, 0, (1,)
    )


def headers(arr: pa.BinaryArray | pa.LargeBinaryArray) -> Headers:
    """Byte order and type code of every row, read from the Arrow offset,
    validity and data buffers with no per-row Python."""
    n = len(arr)
    large = pa.types.is_large_binary(arr.type)
    if not (large or pa.types.is_binary(arr.type)):
        raise TypeError(f"expected a binary array, got {arr.type}")
    _, offsets_buf, data_buf = arr.buffers()
    if n:
        offsets = np.frombuffer(offsets_buf, np.int64 if large else np.int32)
        offsets = offsets[arr.offset : arr.offset + n + 1].astype(np.int64)
    else:
        offsets = np.zeros(1, np.int64)
    data = (
        np.frombuffer(data_buf, np.uint8)
        if data_buf is not None
        else np.empty(0, np.uint8)
    )
    start = offsets[:-1]
    size = np.diff(offsets)
    valid = arr.is_valid().to_numpy(zero_copy_only=False)
    headed = valid & (size >= 5)
    at = start[headed]
    little = np.zeros(n, bool)
    little[headed] = data[at] == 1
    code = np.zeros(n, np.uint32)
    code[headed] = np.where(
        little[headed],
        _unaligned(data, "<u4")[at + 1],
        _unaligned(data, ">u4")[at + 1],
    )
    return Headers(data, start, size, valid, headed, little, code)


def envelopes(arr: pa.BinaryArray | pa.LargeBinaryArray) -> np.ndarray:
    """``(n, 4)`` float64 (xmin, ymin, xmax, ymax) of every row of a WKB
    binary array, NaN for nulls; equal bit for bit to ``bbox(decode(v))``.

    Little-endian Points and single-ring LineStrings/Polygons keep their
    coordinates in one run, so one gather and ``reduceat`` bound them all.
    Every other row takes the per-row path: big-endian, multi-part and
    collections, and rows whose box has a NaN (NaN coordinates, POINT
    EMPTY) or a zero (whose sign would depend on reduction order)."""
    h = headers(arr)
    n = len(h.start)
    out = np.full((n, 4), np.nan)
    u4 = _unaligned(h.data, "<u4")
    first = np.zeros(n, np.int64)  # byte offset of the first coordinate
    count = np.zeros(n, np.int64)  # coordinates in the run
    pt = h.little & (h.code == _POINT) & (h.size == 21)
    first[pt], count[pt] = h.start[pt] + 5, 1
    ls = np.flatnonzero(h.little & (h.code == _LINESTRING) & (h.size >= 9))
    first[ls], count[ls] = h.start[ls] + 9, u4[h.start[ls] + 5]
    pg = np.flatnonzero(h.little & (h.code == _POLYGON) & (h.size >= 13))
    pg = pg[u4[h.start[pg] + 5] == 1]
    first[pg], count[pg] = h.start[pg] + 13, u4[h.start[pg] + 9]
    run = np.flatnonzero((count > 0) & (first + 16 * count == h.start + h.size))
    done = np.zeros(n, bool)
    if run.size:
        k = count[run]
        seg = np.cumsum(k) - k  # each row's first index in the gather
        pos = np.repeat(first[run] - 16 * seg, k) + 16 * np.arange(int(k.sum()))
        f8 = _unaligned(h.data, "<f8")
        xs, ys = f8[pos], f8[pos + 8]
        box = np.column_stack([
            np.minimum.reduceat(xs, seg),
            np.minimum.reduceat(ys, seg),
            np.maximum.reduceat(xs, seg),
            np.maximum.reduceat(ys, seg),
        ])
        ok = ~np.isnan(box).any(axis=1) & ((k == 1) | (box != 0.0).all(axis=1))
        out[run[ok]] = box[ok]
        done[run[ok]] = True
    for i in np.flatnonzero(h.valid & ~done):
        s = h.start[i]
        out[i] = bbox(decode(h.data[s : s + h.size[i]]))
    return out


ENVELOPE_FIELDS = ("xmin", "ymin", "xmax", "ymax")


def envelope_struct(arr: pa.BinaryArray | pa.LargeBinaryArray) -> pa.StructArray:
    """``envelopes(arr)`` as the {xmin, ymin, xmax, ymax} struct of the
    covering ``bbox`` column: a NaN bound (null row, POINT EMPTY, NaN
    coordinate) becomes a null field, the struct itself is never null."""
    box = envelopes(arr)
    nan = np.isnan(box)
    return pa.StructArray.from_arrays(
        [pa.array(box[:, i], mask=nan[:, i]) for i in range(4)],
        names=list(ENVELOPE_FIELDS),
    )


# ------------------------------------------------------ geometry measures


def _coords_iter(geom: tuple):
    kind, val = geom
    if kind == "Point":
        yield np.asarray([val], dtype="f8")
    elif kind in ("LineString", "MultiPoint"):
        yield np.asarray(val, dtype="f8")
    elif kind == "Polygon":
        for r in val:
            yield np.asarray(r, dtype="f8")
    elif kind == "MultiLineString":
        for ls in val:
            yield np.asarray(ls, dtype="f8")
    elif kind == "MultiPolygon":
        for rings in val:
            for r in rings:
                yield np.asarray(r, dtype="f8")
    elif kind == "GeometryCollection":
        for g in val:
            yield from _coords_iter(g)


def bbox(geom: tuple) -> tuple[float, float, float, float]:
    """(xmin, ymin, xmax, ymax) over every coordinate."""
    xmin = ymin = np.inf
    xmax = ymax = -np.inf
    for a in _coords_iter(geom):
        if a.size == 0:
            continue
        xmin = min(xmin, a[:, 0].min())
        xmax = max(xmax, a[:, 0].max())
        ymin = min(ymin, a[:, 1].min())
        ymax = max(ymax, a[:, 1].max())
    return float(xmin), float(ymin), float(xmax), float(ymax)


def _ring_area2(r: np.ndarray) -> float:
    """Twice the signed shoelace area of a closed ring."""
    x, y = r[:, 0], r[:, 1]
    return float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))


def area(geom: tuple) -> float:
    """Planar area: |shell| - |holes| per polygon, summed over multis."""
    kind, val = geom
    if kind == "Polygon":
        if not val:
            return 0.0
        a = abs(_ring_area2(val[0]))
        a -= sum(abs(_ring_area2(r)) for r in val[1:])
        return a / 2.0
    if kind == "MultiPolygon":
        return sum(area(("Polygon", rings)) for rings in val)
    if kind == "GeometryCollection":
        return sum(area(g) for g in val)
    return 0.0


def _path_length(a: np.ndarray) -> float:
    d = np.diff(a, axis=0)
    return float(np.sqrt((d * d).sum(axis=1)).sum())


def length(geom: tuple) -> float:
    """Planar length: linestring path length; polygon -> ring perimeters."""
    kind, val = geom
    if kind == "LineString":
        return _path_length(np.asarray(val, dtype="f8"))
    if kind == "MultiLineString":
        return sum(_path_length(np.asarray(ls, dtype="f8")) for ls in val)
    if kind == "Polygon":
        return sum(_path_length(np.asarray(r, dtype="f8")) for r in val)
    if kind == "MultiPolygon":
        return sum(length(("Polygon", rings)) for rings in val)
    if kind == "GeometryCollection":
        return sum(length(g) for g in val)
    return 0.0


def centroid(geom: tuple) -> tuple[float, float]:
    """Centroid by dimensionality rule (area-weighted for polygons,
    length-weighted for lines, mean for points)."""
    kind, val = geom
    if kind == "Point":
        return float(val[0]), float(val[1])
    if kind == "MultiPoint":
        a = np.asarray(val, dtype="f8")
        return float(a[:, 0].mean()), float(a[:, 1].mean())
    if kind in ("LineString", "MultiLineString"):
        parts = [np.asarray(val, dtype="f8")] if kind == "LineString" else [
            np.asarray(v, dtype="f8") for v in val
        ]
        tot = cx = cy = 0.0
        for a in parts:
            d = np.diff(a, axis=0)
            seg = np.sqrt((d * d).sum(axis=1))
            mid = (a[:-1] + a[1:]) / 2.0
            tot += seg.sum()
            cx += float((mid[:, 0] * seg).sum())
            cy += float((mid[:, 1] * seg).sum())
        if tot == 0.0:
            a = np.vstack(parts)
            return float(a[:, 0].mean()), float(a[:, 1].mean())
        return cx / tot, cy / tot
    if kind in ("Polygon", "MultiPolygon"):
        polys = [val] if kind == "Polygon" else val
        tot = cx = cy = 0.0
        for rings in polys:
            for i, r in enumerate(rings):
                a2 = _ring_area2(r)
                if a2 == 0.0:
                    continue
                w = abs(a2) * (1.0 if i == 0 else -1.0)  # holes subtract
                x, y = r[:, 0], r[:, 1]
                xn, yn = np.roll(x, -1), np.roll(y, -1)
                cross = x * yn - xn * y
                cx += float(((x + xn) * cross).sum()) / (3.0 * a2) * w
                cy += float(((y + yn) * cross).sum()) / (3.0 * a2) * w
                tot += w
        if tot == 0.0:
            return centroid(("MultiPoint", np.vstack([r for rings in polys for r in rings])))
        return cx / tot, cy / tot
    if kind == "GeometryCollection":
        pts = np.asarray([centroid(g) for g in val], dtype="f8")
        return float(pts[:, 0].mean()), float(pts[:, 1].mean())
    raise ValueError(f"unsupported geometry kind {kind}")


def point_in_ring(px: float, py: float, ring: np.ndarray) -> bool:
    """Ray-cast (crossing number) point-in-ring test; boundary-inclusive
    behavior is not guaranteed (standard ray-cast semantics)."""
    x, y = ring[:, 0], ring[:, 1]
    xn, yn = np.roll(x, -1), np.roll(y, -1)
    cond = (y > py) != (yn > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x + (py - y) * (xn - x) / (yn - y)
    return bool((cond & (px < xint)).sum() % 2)


def contains(poly: tuple, px: float, py: float) -> bool:
    """Point-in-polygon: inside shell, outside every hole."""
    kind, val = poly
    if kind == "Polygon":
        if not val or not point_in_ring(px, py, val[0]):
            return False
        return not any(point_in_ring(px, py, r) for r in val[1:])
    if kind == "MultiPolygon":
        return any(contains(("Polygon", rings), px, py) for rings in val)
    raise ValueError(f"contains() needs a polygonal geometry, got {kind}")


def to_wkt(geom: tuple, digits: int = 9) -> str:
    """Minimal WKT writer (round-trip fidelity is WKB's job)."""
    kind, val = geom
    fmt = f"%.{digits}g"

    def pt(p):
        return f"{fmt % p[0]} {fmt % p[1]}"

    def seq(a):
        return "(" + ", ".join(pt(p) for p in np.asarray(a).reshape(-1, 2)) + ")"

    if kind == "Point":
        return f"POINT ({pt(val)})"
    if kind == "LineString":
        return f"LINESTRING {seq(val)}"
    if kind == "Polygon":
        return "POLYGON (" + ", ".join(seq(r) for r in val) + ")"
    if kind == "MultiPoint":
        return "MULTIPOINT " + seq(val)
    if kind == "MultiLineString":
        return "MULTILINESTRING (" + ", ".join(seq(v) for v in val) + ")"
    if kind == "MultiPolygon":
        return (
            "MULTIPOLYGON ("
            + ", ".join("(" + ", ".join(seq(r) for r in rings) + ")" for rings in val)
            + ")"
        )
    if kind == "GeometryCollection":
        return "GEOMETRYCOLLECTION (" + ", ".join(to_wkt(g, digits) for g in val) + ")"
    raise ValueError(f"unsupported geometry kind {kind}")
