"""GeoParquet sink/source round-trip tests (SURVEY.md §5.1: the
reference's implicit test IS the metadata-preserving round-trip)."""

from __future__ import annotations

import json
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from geoparquet_python_spark.geo import io as gio
from geoparquet_python_spark.geo import wkb
from geoparquet_python_spark.geo.functions import (
    _BBOX_TYPE,
    spatial_window_filter,
    st_envelope,
    st_point,
)
from geoparquet_python_spark.io import load_table


@pytest.fixture()
def tmp_out(tmp_path):
    out = str(tmp_path / "gpq")
    yield out
    shutil.rmtree(out, ignore_errors=True)


def _points_df(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    lon = (F.col("c_custkey") * 7919 % 3600) / 10.0 - 180.0
    lat = (F.col("c_custkey") * 4409 % 1700) / 10.0 - 85.0
    return cust.select("c_custkey", st_point(lon, lat).alias("geometry"))


def test_roundtrip_preserves_bytes_and_metadata(spark, sf_dir_small, tmp_out):
    df = _points_df(spark, sf_dir_small)
    n = gio.write_geoparquet(df, tmp_out, "geometry", crs="OGC:CRS84")
    assert n == df.count()

    meta = gio.geo_metadata(tmp_out)
    assert meta["version"] == gio.SPEC_VERSION
    assert meta["primary_column"] == "geometry"
    assert meta["columns"]["geometry"]["encoding"] == "WKB"
    assert meta["columns"]["geometry"]["crs"] == "OGC:CRS84"

    back = gio.read_geoparquet(spark, tmp_out)
    assert "bbox" in back.columns  # covering column materialized at write
    want = {(r.c_custkey, bytes(r.geometry)) for r in df.collect()}
    got = {(r.c_custkey, bytes(r.geometry)) for r in back.collect()}
    assert got == want
    # geometry column carries the geo metadata in its schema
    field = dict(zip(back.columns, back.schema.fields))["geometry"]
    assert field.metadata["geo"]["encoding"] == "WKB"


def test_footer_carries_true_bbox_and_geometry_types(spark, sf_dir_small, tmp_out):
    """Spec-form consumers prune files on footer bbox/geometry_types, so
    the sink must stamp TRUE per-file values (not placeholders), and
    geo_metadata must merge them into the dataset extent."""
    df = _points_df(spark, sf_dir_small)
    gio.write_geoparquet(df, tmp_out, "geometry", crs="OGC:CRS84")

    # dataset-level merged metadata equals the brute-force extent
    xs, ys = [], []
    for r in df.collect():
        x, y = wkb.decode(bytes(r.geometry))[1]
        xs.append(x)
        ys.append(y)
    meta = gio.geo_metadata(tmp_out)
    col = meta["columns"]["geometry"]
    assert col["geometry_types"] == ["Point"]
    bb = col["bbox"]
    assert bb == pytest.approx([min(xs), min(ys), max(xs), max(ys)])

    # every individual part footer carries its own true (tighter) bbox
    import glob as _glob

    for f in sorted(_glob.glob(f"{tmp_out}/*.parquet")):
        md = pq.ParquetFile(f).schema_arrow.metadata
        doc = json.loads(md[gio.GEO_KEY].decode())
        c = doc["columns"]["geometry"]
        assert c["geometry_types"] == ["Point"]
        fb = c["bbox"]
        assert bb[0] <= fb[0] and bb[1] <= fb[1]
        assert fb[2] <= bb[2] and fb[3] <= bb[3]
        # per-file bbox matches that file's actual rows
        tbl = pq.read_table(f, columns=["geometry"])
        pts = [wkb.decode(v.as_py())[1] for v in tbl.column("geometry")]
        assert fb == pytest.approx(
            [min(p[0] for p in pts), min(p[1] for p in pts),
             max(p[0] for p in pts), max(p[1] for p in pts)]
        )
        assert c["covering"] == {"bbox": {
            f: ["bbox", f] for f in ("xmin", "ymin", "xmax", "ymax")}}
    assert col["covering"] == gio.COVERING

    # read side surfaces merged bbox + types on the column metadata
    back = gio.read_geoparquet(spark, tmp_out)
    field = dict(zip(back.columns, back.schema.fields))["geometry"]
    assert field.metadata["geo"]["geometry_types"] == ["Point"]
    assert field.metadata["geo"]["bbox"] == pytest.approx(bb)


def test_footer_geometry_types_mixed(spark, tmp_path):
    """Mixed geometry types in one file all surface in the footer."""
    geoms = [
        wkb.encode(("Point", (1.0, 2.0))),
        wkb.encode(("LineString", [(0.0, 0.0), (1.0, 1.0)])),
        wkb.encode(("Polygon", [[(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 0.0)]])),
    ]
    df = spark.createDataFrame(
        [(i, bytearray(g)) for i, g in enumerate(geoms)], "id long, geometry binary"
    ).coalesce(1)
    out = str(tmp_path / "mixed")
    gio.write_geoparquet(df, out, "geometry")
    meta = gio.geo_metadata(out)
    assert meta["columns"]["geometry"]["geometry_types"] == [
        "LineString", "Point", "Polygon"
    ]
    assert meta["columns"]["geometry"]["bbox"] == pytest.approx([0.0, 0.0, 2.0, 2.0])


def test_legacy_reference_form_read(spark, tmp_path):
    """The reference's pre-spec footer key (geometry_fields, SURVEY.md
    §0.2 step ⑤) must be readable and normalized."""
    out = str(tmp_path / "legacy")
    pts = [wkb.encode(("Point", (float(i), float(-i)))) for i in range(5)]
    table = pa.table({"id": list(range(5)), "geom": pts})
    legacy = json.dumps(
        [{"field_name": "geom", "geometry_format": "wkb", "crs": "epsg:4326"}]
    ).encode()
    table = table.replace_schema_metadata({gio.LEGACY_KEY: legacy})
    import os

    os.makedirs(out)
    pq.write_table(table, f"{out}/part-0.parquet")

    meta = gio.geo_metadata(out)
    assert meta["version"] == "legacy"
    assert meta["primary_column"] == "geom"
    assert meta["columns"]["geom"]["encoding"] == "WKB"
    assert meta["columns"]["geom"]["crs"] == "epsg:4326"

    back = gio.read_geoparquet(spark, out)
    assert back.count() == 5
    assert wkb.decode(bytes(back.orderBy("id").first().geom)) == ("Point", (0.0, -0.0))


def test_bbox_filter_pushdown(spark, sf_dir_small, tmp_out):
    """Spatial predicate -> bbox conjuncts -> Parquet PushedFilters
    (SURVEY.md §4.3: the rewrite happens in the API layer, pushdown is
    free from the scan)."""
    gio.write_geoparquet(_points_df(spark, sf_dir_small), tmp_out, "geometry")
    back = gio.read_geoparquet(spark, tmp_out)
    q = back.where(
        (F.col("bbox.xmin") >= 0.0) & (F.col("bbox.ymax") <= 40.0)
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "xmin" in plan  # bbox struct fields reached the scan
    # and the filter is correct
    rows = q.collect()
    for r in rows:
        x, y = wkb.decode(bytes(r.geometry))[1]
        assert x >= 0.0 and y <= 40.0
    full = {bytes(r.geometry) for r in back.collect()}
    kept = {
        g
        for g in full
        if wkb.decode(g)[1][0] >= 0.0 and wkb.decode(g)[1][1] <= 40.0
    }
    assert {bytes(r.geometry) for r in rows} == kept


def test_spatial_window_filter_rewrite(spark, sf_dir_small, tmp_out):
    """spatial_window_filter = coarse pushdown-able bbox conjuncts +
    exact envelope refine; equals brute-force intersection test."""
    from geoparquet_python_spark.geo.functions import spatial_window_filter

    gio.write_geoparquet(_points_df(spark, sf_dir_small), tmp_out, "geometry")
    back = gio.read_geoparquet(spark, tmp_out)
    win = (-30.0, -20.0, 90.0, 70.0)
    got = {
        bytes(r.geometry)
        for r in spatial_window_filter(back, win, "geometry").collect()
    }
    want = set()
    for r in back.collect():
        x, y = wkb.decode(bytes(r.geometry))[1]
        if win[0] <= x <= win[2] and win[1] <= y <= win[3]:
            want.add(bytes(r.geometry))
    assert got == want
    plan = (
        spatial_window_filter(back, win, "geometry")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "xmin" in plan


def test_st_functions_sql_registration(spark, sf_dir_small):
    """register_sql exposes the ST_* UDF surface to SQL strings (§2.G)."""
    from geoparquet_python_spark.geo.functions import register_sql

    register_sql(spark)
    row = spark.sql(
        """
        SELECT ST_X(p) AS x, ST_Y(p) AS y,
               ST_AsText(p) AS wkt,
               ST_Area(ST_Buffer(p, 2.0, 16)) AS a
        FROM (SELECT ST_Point(3.5D, -1.25D) AS p)
        """
    ).first()
    assert row.x == 3.5 and row.y == -1.25
    assert row.wkt == "POINT (3.5 -1.25)"
    import math

    assert abs(row.a - 0.5 * 16 * 4.0 * math.sin(2 * math.pi / 16)) < 1e-9


def test_write_is_idempotent_per_partition(spark, sf_dir_small, tmp_out):
    """Task-commit protocol: re-running the same write (the user-level
    analogue of a retried/speculative task attempt) renames onto the
    SAME canonical part names — no duplicate part files, no doubled
    rows, no leftover temp files."""
    import glob
    import os

    df = _points_df(spark, sf_dir_small)
    n1 = gio.write_geoparquet(df, tmp_out, "geometry")
    files1 = sorted(glob.glob(os.path.join(tmp_out, "*.parquet")))
    n2 = gio.write_geoparquet(df, tmp_out, "geometry")
    files2 = sorted(glob.glob(os.path.join(tmp_out, "*.parquet")))
    assert n1 == n2 == df.count()
    assert files1 == files2, "retry must overwrite, not add part files"
    assert gio.read_geoparquet(spark, tmp_out).count() == df.count()
    assert not glob.glob(os.path.join(tmp_out, ".part-*")), "temp files leaked"


def test_write_empty_dataframe_is_readable(spark, sf_dir_small, tmp_out):
    """An all-empty write must still leave a valid zero-row GeoParquet
    dataset (schema + geo footer), not an empty directory that breaks
    read_geoparquet."""
    df = _points_df(spark, sf_dir_small).where(F.lit(False))
    n = gio.write_geoparquet(df, tmp_out, "geometry")
    assert n == 0
    meta = gio.geo_metadata(tmp_out)
    assert meta is not None and meta["primary_column"] == "geometry"
    back = gio.read_geoparquet(spark, tmp_out)
    assert back.count() == 0
    assert "geometry" in back.columns


def test_rewrite_removes_stale_part_files(spark, tmp_out):
    """Rewriting a path replaces the dataset: no part file of the
    previous write survives, so neither its rows nor its footer bbox
    leak into the read-back — for a smaller rewrite and an empty one."""
    from geoparquet_python_spark.geo.functions import st_point

    def pts(n, parts, scale):
        return spark.range(n, numPartitions=parts).select(
            F.col("id").alias("k"),
            st_point(F.col("id") * scale, F.col("id") * 0.5).alias("geometry"),
        )

    assert gio.write_geoparquet(pts(1000, 4, 0.1), tmp_out, "geometry") == 1000
    assert gio.write_geoparquet(pts(10, 1, 0.01), tmp_out, "geometry") == 10
    assert gio.read_geoparquet(spark, tmp_out).count() == 10
    bbox = gio.geo_metadata(tmp_out)["columns"]["geometry"]["bbox"]
    assert bbox == [0.0, 0.0, 0.09, 4.5]

    assert gio.write_geoparquet(pts(0, 2, 0.1), tmp_out, "geometry") == 0
    assert gio.read_geoparquet(spark, tmp_out).count() == 0
    assert gio.geo_metadata(tmp_out)["columns"]["geometry"].get("bbox") is None


def test_root_level_reference_parity_api(spark, tmp_path):
    """The reference exposes read_geoparquet as a module function and
    to_geoparquet as the writer name — both work from the package
    root, so a reference user can switch with an import change."""
    import geoparquet_python_spark as gpq
    from geoparquet_python_spark.geo.functions import st_point

    d = spark.range(7).select(
        F.col("id").alias("k"),
        st_point(F.col("id") * 1.0, F.col("id") * 2.0).alias("geometry"),
    )
    path = str(tmp_path / "root_api")
    assert gpq.to_geoparquet(d, path) == 7
    back = gpq.read_geoparquet(spark, path)
    assert back.count() == 7
    assert "geometry" in back.columns


def test_sql_rewrite_injects_sargable_conjuncts():
    """Text-level: every ST_EnvelopeIntersects atom gains covering-box
    conjuncts, in ANY boolean context (atom-local implied-conjunct
    rewrites are equivalences), and non-matching atoms are untouched."""
    from geoparquet_python_spark.geo.sqlrewrite import rewrite_spatial_sql

    sql = (
        "SELECT * FROM t WHERE NOT (ST_EnvelopeIntersects(g, -1, -2.5, 3e1, 4)"
        " OR flag) AND ST_EnvelopeIntersects(g, 0, 0, 1, 1)"
    )
    out = rewrite_spatial_sql(sql)
    assert out.count("bbox.xmin <=") == 2
    # atom preserved inside the conjunction (stays as the exact refine)
    assert out.count("ST_EnvelopeIntersects(g, -1, -2.5, 3e1, 4)") == 1
    assert "(bbox.xmin <= 3e1 AND bbox.xmax >= -1" in out
    # column-bound windows are not literal-matchable: left untouched
    dyn = "SELECT * FROM t WHERE ST_EnvelopeIntersects(g, a, 0, 1, 1)"
    assert rewrite_spatial_sql(dyn) == dyn


def test_sql_pushdown_query_prunes_and_matches_unrewritten(spark, sf_dir):
    """The registered SQL-string query must (a) push the injected bbox
    conjuncts into the Parquet scan, (b) return exactly what the same
    SQL returns WITHOUT the rewrite (soundness end-to-end)."""
    from geoparquet_python_spark import registry
    from geoparquet_python_spark.geo.functions import register_sql
    from geoparquet_python_spark.io import run_scratch_dir
    from geoparquet_python_spark.testing import canonicalize

    registry.load_all()
    df = registry.QUERIES["q_geo_sql_pushdown_window"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(bbox.xmin)" in plan, (
        "bbox conjuncts did not reach the Parquet scan"
    )

    # same statement, no rewrite (UDF-only filter), over the dataset the
    # query above wrote
    register_sql(spark)
    raw = spark.sql(
        """
        SELECT c_nationkey, COUNT(*) AS n,
               MIN(ST_X(geometry)) AS min_x, MAX(ST_X(geometry)) AS max_x
        FROM {geo_pts}
        WHERE ST_EnvelopeIntersects(geometry, -90.0, -40.0, 60.0, 55.0)
        GROUP BY c_nationkey ORDER BY c_nationkey
        """,
        geo_pts=gio.read_geoparquet(
            spark, run_scratch_dir(spark, "gpq_sqlpush", sf_dir)
        ),
    )
    assert canonicalize(df.toPandas()).equals(canonicalize(raw.toPandas()))


def test_partitioned_scan_prunes_directories(spark, sf_dir):
    """The hive-partitioned layout must prune at the directory level:
    the cell filter appears in PartitionFilters (files for other cells
    are never listed into the scan), distinct from the covering
    column's row-group PushedFilters."""
    from geoparquet_python_spark import registry

    registry.load_all()
    df = registry.QUERIES["q_geo_partitioned_scan"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(cell_x" in plan
    assert "(cell_x" in plan.split("PartitionFilters:")[1][:120]


def test_multi_geometry_metadata_on_both_columns(spark, sf_dir, tmp_path):
    """A two-geometry-column write must stamp a `columns` entry per
    geometry into every footer; the read must re-attach metadata to
    BOTH Spark columns with geo_primary marking the primary — the
    multi-geometry capability GeoParquet 1.1 specifies and the round-6
    VERDICT listed as the last unimplemented nice-to-have."""
    from pyspark.sql import functions as F

    from geoparquet_python_spark.geo import io as gio
    from geoparquet_python_spark.geo.functions import st_point
    from geoparquet_python_spark.io import load_table

    out = str(tmp_path / "multigeom")
    cust = load_table(spark, sf_dir, "customer").limit(200)
    lon = (F.col("c_custkey") * 7919 % 3600) / 10.0 - 180.0
    lat = (F.col("c_custkey") * 4409 % 1700) / 10.0 - 85.0
    pts = cust.select(
        "c_custkey",
        st_point(lon, lat).alias("geometry"),
        st_point(lon / 2.0, lat / 2.0).alias("dest"),
    )
    gio.write_geoparquet(
        pts, out, "geometry", secondary_geometry_cols=["dest"]
    )
    meta = gio.geo_metadata(out)
    assert set(meta["columns"]) == {"geometry", "dest"}
    assert meta["primary_column"] == "geometry"
    assert meta["columns"]["dest"]["geometry_types"] == ["Point"]
    assert "bbox" in meta["columns"]["geometry"]

    back = gio.read_geoparquet(spark, out)
    fields = {f.name: f for f in back.schema.fields}
    assert fields["geometry"].metadata["geo_primary"] is True
    assert fields["dest"].metadata["geo_primary"] is False
    assert fields["dest"].metadata["geo"]["encoding"] == "WKB"


def test_geo_sql_registers_udfs_once_per_session(spark, monkeypatch):
    """geo_sql registers the ST_* UDFs on a session's first call only;
    a new session gets its own registration."""
    from geoparquet_python_spark.geo.sqlrewrite import geo_sql

    geo_sql(spark, "SELECT 1 AS one")
    calls = []
    stock = type(spark.udf).register

    def counting(self, name, f, *args, **kwargs):
        calls.append(name)
        return stock(self, name, f, *args, **kwargs)

    monkeypatch.setattr(type(spark.udf), "register", counting)
    geo_sql(spark, "SELECT 1 AS one")
    assert calls == []

    other = spark.newSession()
    try:
        row = geo_sql(other, "SELECT ST_X(ST_Point(2.5D, 1.0D)) AS x").first()
    finally:
        # a later frame binds to the active session (Python and JVM),
        # so hand it back to the fixture's
        SparkSession._activeSession = spark
        spark._jvm.SparkSession.setActiveSession(spark._jsparkSession)
    assert row.x == 2.5
    assert "ST_X" in calls
    assert SparkSession.getActiveSession() is spark
    assert spark._jvm.SparkSession.getActiveSession().get().equals(
        spark._jsparkSession
    )


def test_point_udfs_keep_pandas_null_rules(spark):
    """ST_X, ST_Y and ST_Distance on null, POINT EMPTY, a NaN coordinate,
    -0.0 and points in both byte orders: a null or NaN result is null,
    as Spark's pandas conversion made it, and every value is exact."""
    import math
    import struct

    from geoparquet_python_spark.geo.functions import st_distance, st_x, st_y

    def le(x, y):
        return wkb.encode(("Point", (x, y)))

    def be(x, y):
        return b"\x00" + struct.pack(">Idd", 1, x, y)

    nan = float("nan")
    rows = [
        (0, le(1.5, -2.0), be(3.5, -7.25)),
        (1, be(3.5, -7.25), le(1.5, -2.0)),
        (2, None, le(1.5, -2.0)),
        (3, le(nan, nan), le(1.5, -2.0)),  # POINT EMPTY
        (4, le(nan, 2.0), be(0.0, 2.0)),
        (5, le(-0.0, 0.0), None),
        (6, be(-1e300, 1e-300), le(0.0, 0.0)),
    ]
    df = spark.createDataFrame(rows, "i bigint, a binary, b binary")
    got = sorted(
        df.select(
            "i",
            st_x("a").alias("x"),
            st_y("a").alias("y"),
            st_distance("a", "b").alias("d"),
        ).collect()
    )
    want = [
        (0, 1.5, -2.0, math.hypot(2.0, -5.25)),
        (1, 3.5, -7.25, math.hypot(-2.0, 5.25)),
        (2, None, None, None),
        (3, None, None, None),
        (4, None, 2.0, None),
        (5, -0.0, 0.0, None),
        (6, -1e300, 1e-300, math.hypot(1e300, -1e-300)),
    ]
    assert [tuple(r) for r in got] == want
    assert math.copysign(1.0, got[5].x) == -1.0


def test_geo_sql_binds_frames_by_name(spark):
    from geoparquet_python_spark.geo.sqlrewrite import geo_sql

    pts = spark.createDataFrame([(1, 0.5, 0.5), (2, 5.0, 5.0)], ["id", "x", "y"])
    pts = pts.select("id", st_point(F.col("x"), F.col("y")).alias("geometry"))
    pts = pts.withColumn("bbox", st_envelope(F.col("geometry")))
    got = geo_sql(
        spark,
        "SELECT id FROM {pts} WHERE ST_EnvelopeIntersects(geometry, 0, 0, 1, 1)",
        pts=pts,
    )
    assert [r.id for r in got.collect()] == [1]


# ------------------------------------------------ one Python pass per write


def _mixed_frame(spark):
    """LE/BE Points, POINT EMPTY, a NaN coordinate, a Polygon, a
    MultiPolygon and a null geometry, in 3 fixed partitions."""
    import struct

    import numpy as np

    sq = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], dtype="f8")
    geoms = [
        wkb.encode(("Point", (1.5, -2.0))),
        b"\x00" + struct.pack(">Idd", 1, 3.5, -7.25),
        wkb.encode(("Point", (np.nan, np.nan))),
        wkb.encode(("Point", (np.nan, 2.0))),
        wkb.encode(("Polygon", [sq - 9.0])),
        wkb.encode(("MultiPolygon", [[sq], [sq + 10.0]])),
        None,
    ]
    rows = [(k, geoms[k % len(geoms)]) for k in range(40)]
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 3), "k long, geometry binary"
    )


def _part_bytes(path):
    from pathlib import Path

    return {f.name: f.read_bytes() for f in sorted(Path(path).glob("*.parquet"))}


@pandas_udf(_BBOX_TYPE)
def _pandas_envelope(g: pd.Series) -> pd.DataFrame:
    """``st_envelope`` as the pandas UDF it was: Spark's pandas
    conversion turns each NaN bound into a null field."""
    out = wkb.envelopes(pa.array(g, type=pa.large_binary()))
    return pd.DataFrame(out, columns=list(wkb.ENVELOPE_FIELDS))


def test_write_builds_bbox_in_its_kernel_byte_identical(spark, tmp_path):
    """The writer kernel's own ``bbox`` gives the same part files, byte
    for byte, as a ``bbox`` built first by the pandas envelope UDF (the
    old route, NaN bounds nulled by Spark's pandas conversion) or by the
    Arrow ``st_envelope``; for an all-empty write too."""
    routes = {
        "kernel": lambda d: d,
        "pandas_udf": lambda d: d.withColumn("bbox", _pandas_envelope(F.col("geometry"))),
        "arrow_udf": lambda d: d.withColumn("bbox", st_envelope(F.col("geometry"))),
    }
    for label, frame in [("rows", _mixed_frame(spark)),
                         ("empty", _mixed_frame(spark).where(F.lit(False)))]:
        parts = {}
        for route, add in routes.items():
            out = str(tmp_path / f"{label}_{route}")
            gio.write_geoparquet(add(frame), out, "geometry")
            parts[route] = _part_bytes(out)
        assert len(parts["kernel"]) == (3 if label == "rows" else 1)
        assert parts["kernel"] == parts["pandas_udf"] == parts["arrow_udf"], label


def test_empty_write_schema_only_part_keeps_bbox(spark, tmp_out):
    gio.write_geoparquet(_mixed_frame(spark).where(F.lit(False)), tmp_out, "geometry")
    (part,) = _part_bytes(tmp_out)
    schema = pq.read_schema(f"{tmp_out}/{part}")
    assert schema.names == ["k", "geometry", "bbox"]
    assert schema.field("bbox").type == wkb.envelope_struct(pa.array([], pa.binary())).type
    assert gio.read_geoparquet(spark, tmp_out).columns == ["k", "geometry", "bbox"]


def test_write_plan_is_one_map_in_arrow(spark, tmp_path, monkeypatch):
    """The write's executed plan holds one MapInArrow and no
    ArrowEvalPython: rows cross into Python once. A ``bbox`` built
    before the write adds the ArrowEvalPython hop the probe would see."""
    df = _mixed_frame(spark)
    plans = []
    cls = type(df)
    stock = cls.collect

    def recording(self):
        rows = stock(self)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return rows

    monkeypatch.setattr(cls, "collect", recording)
    gio.write_geoparquet(df, str(tmp_path / "kernel"), "geometry")
    (plan,) = plans
    assert plan.count("MapInArrow") == 1, plan
    assert "ArrowEvalPython" not in plan, plan

    plans.clear()
    gio.write_geoparquet(
        df.withColumn("bbox", st_envelope(F.col("geometry"))), str(tmp_path / "udf"), "geometry")
    assert "ArrowEvalPython" in plans[0]


# ------------------------------------------------ the envelope mark


_ROUTES = {
    "kernel": lambda d: d,
    "pandas_udf": lambda d: d.withColumn("bbox", _pandas_envelope(F.col("geometry"))),
    "arrow_udf": lambda d: d.withColumn("bbox", st_envelope(F.col("geometry"))),
}


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _padded(df, pad: float = 3.0):
    """``df`` with a ``bbox`` that contains each envelope but is wider."""
    env = st_envelope(F.col("geometry"))
    return df.withColumn("bbox", F.struct(
        (env["xmin"] - pad).alias("xmin"), (env["ymin"] - pad).alias("ymin"),
        (env["xmax"] + pad).alias("xmax"), (env["ymax"] + pad).alias("ymax")))


def _envelope_hits(df, win) -> set:
    """Brute force: the ``(k, geometry)`` rows whose geometry's envelope
    meets ``win``, computed on the driver row by row."""
    out = set()
    for r in df.select("k", "geometry").collect():
        if r.geometry is None:
            continue
        xmin, ymin, xmax, ymax = wkb.bbox(wkb.decode(bytes(r.geometry)))
        if xmin <= win[2] and xmax >= win[0] and ymin <= win[3] and ymax >= win[1]:
            out.add((r.k, bytes(r.geometry)))
    return out


def _window_rows(df, win, exact: bool = True) -> set:
    rows = spatial_window_filter(df, win, exact=exact).select("k", "geometry").collect()
    return {(r.k, None if r.geometry is None else bytes(r.geometry)) for r in rows}


# Around the MultiPolygon's gap; the point and the polygon; the big-endian
# point alone; everything with a finite envelope.
_EDGE_WINDOWS = [(5.0, 5.0, 9.0, 9.0), (-10.0, -10.0, 2.0, 0.0),
                 (3.0, -8.0, 4.0, -7.0), (-100.0, -100.0, 100.0, 100.0)]
# Meets the padded boxes of the points at (1.5, -2) and (3.5, -7.25) but
# only the MultiPolygon's envelope.
_PADDED_WINDOW = (4.2, -3.0, 6.0, 0.0)


@pytest.mark.parametrize("route", list(_ROUTES))
def test_window_read_of_a_marked_dataset_stays_in_the_jvm(spark, sf_dir_small, tmp_out, route):
    """Every write route marks its ``bbox`` as the geometry's envelope;
    a window read of the dataset then runs no Python refine and still
    returns exactly the brute-force rows."""
    gio.write_geoparquet(_ROUTES[route](_points_df(spark, sf_dir_small)), tmp_out, "geometry")
    for f in _part_bytes(tmp_out):
        field = pq.read_schema(f"{tmp_out}/{f}").field("bbox")
        assert field.metadata == {b"envelope_of": b"geometry"}
    back = gio.read_geoparquet(spark, tmp_out)
    assert back.schema["bbox"].metadata == {"envelope_of": "geometry"}
    win = (-30.0, -20.0, 90.0, 70.0)
    q = spatial_window_filter(back, win, "geometry")
    plan = _executed(q)
    assert "ArrowEvalPython" not in plan, plan
    assert "PushedFilters" in plan and "xmin" in plan
    want = set()
    for r in back.collect():
        x, y = wkb.decode(bytes(r.geometry))[1]
        if win[0] <= x <= win[2] and win[1] <= y <= win[3]:
            want.add(bytes(r.geometry))
    assert {bytes(r.geometry) for r in q.collect()} == want


@pytest.mark.parametrize("route", list(_ROUTES))
def test_marked_window_read_keeps_edge_rows_exact(spark, tmp_path, route):
    """Null, POINT EMPTY, NaN-coordinate, big-endian and MultiPolygon
    rows: without the refine the window read still equals the envelope
    brute force."""
    frame = _mixed_frame(spark)
    out = str(tmp_path / route)
    gio.write_geoparquet(_ROUTES[route](frame), out, "geometry")
    back = gio.read_geoparquet(spark, out)
    for win in _EDGE_WINDOWS:
        assert "ArrowEvalPython" not in _executed(spatial_window_filter(back, win))
        assert _window_rows(back, win) == _envelope_hits(frame, win), win


def _assert_refined(df, frame, win=_PADDED_WINDOW):
    """The window read of ``df`` runs the refine, which drops rows the
    ``bbox`` comparisons keep, and equals the brute force over ``frame``."""
    assert "ArrowEvalPython" in _executed(spatial_window_filter(df, win))
    want = _envelope_hits(frame, win)
    assert _window_rows(df, win) == want
    assert _window_rows(df, win, exact=False) > want


def test_padded_caller_bbox_is_not_marked_and_keeps_the_refine(spark, tmp_path):
    frame = _mixed_frame(spark)
    out = str(tmp_path / "padded")
    gio.write_geoparquet(_padded(frame), out, "geometry")
    for f in _part_bytes(out):
        assert not pq.read_schema(f"{out}/{f}").field("bbox").metadata
    back = gio.read_geoparquet(spark, out)
    assert not back.schema["bbox"].metadata
    _assert_refined(back, frame)


def test_columns_replaced_after_a_marked_read_keep_the_refine(spark, tmp_path):
    """A replaced ``bbox`` or geometry column (by an expression, or by
    the secondary geometry column, which keeps its own ``geo``
    metadata), or a union with an unmarked frame, drops the guarantee
    the mark gave."""
    frame = _mixed_frame(spark)
    halved = F.when(F.col("k") % 2 == 0, F.col("geometry"))
    out = str(tmp_path / "marked")
    gio.write_geoparquet(frame.withColumn("dest", halved), out, "geometry",
                         secondary_geometry_cols=["dest"])
    back = gio.read_geoparquet(spark, out).drop("dest")

    _assert_refined(_padded(back), frame)
    _assert_refined(back.withColumn("geometry", halved), frame.withColumn("geometry", halved))
    swapped = gio.read_geoparquet(spark, out).withColumn("geometry", F.col("dest"))
    assert swapped.schema["geometry"].metadata["geo_primary"] is False
    _assert_refined(swapped.drop("dest"), frame.withColumn("geometry", halved))
    # A union takes each column's metadata from its first side.
    loose = _padded(frame.withColumn("k", F.col("k") + 1000))
    union = back.unionByName(loose)
    assert union.schema["bbox"].metadata == {"envelope_of": "geometry"}
    _assert_refined(union, frame.unionByName(loose.drop("bbox")))


@pytest.mark.parametrize("extra", ["part-09999.parquet", "extra-part"])
def test_one_unmarked_file_keeps_the_refine(spark, tmp_path, extra):
    """One file Spark reads without the mark (another writer's, or one
    written before the mark existed) makes the whole dataset unmarked,
    whether or not its name ends in ``.parquet``."""
    frame = _mixed_frame(spark)
    out, loose_out = str(tmp_path / "marked"), str(tmp_path / "loose")
    gio.write_geoparquet(frame, out, "geometry")
    loose = _padded(frame.withColumn("k", F.col("k") + 1000).coalesce(1))
    gio.write_geoparquet(loose, loose_out, "geometry")
    shutil.copy(f"{loose_out}/part-00000.parquet", f"{out}/{extra}")
    back = gio.read_geoparquet(spark, out)
    assert back.count() == 80
    assert not back.schema["bbox"].metadata
    _assert_refined(back, frame.unionByName(loose.drop("bbox")))


# ------------------------------------------------ the dataset manifest


def test_manifest_merges_every_part(tmp_path):
    """A part without ``geo`` clears the dataset's mark and its covering,
    but the parts sorted after it still merge into the extent and the
    type union."""
    out = tmp_path / "three"
    out.mkdir()

    def part(name, geometry_types=None, bbox=None):
        table = pa.table({"geometry": pa.array([b"\x01"], pa.binary())})
        if bbox is not None:
            doc = {"version": gio.SPEC_VERSION, "primary_column": "geometry",
                   "columns": {"geometry": {"encoding": "WKB", "bbox": bbox,
                                            "geometry_types": geometry_types,
                                            "covering": gio.COVERING}}}
            table = table.replace_schema_metadata({gio.GEO_KEY: json.dumps(doc)})
        pq.write_table(table, out / name)

    part("part-00000.parquet", ["Point"], [0, 0, 1, 1])
    part("part-00001.parquet")
    part("part-00002.parquet", ["Polygon"], [5, 5, 9, 9])
    meta = gio.geo_metadata(str(out))
    col = meta["columns"]["geometry"]
    assert col["bbox"] == [0, 0, 9, 9]
    assert col["geometry_types"] == ["Point", "Polygon"]
    assert "covering" not in col
    man = gio.manifest(str(out))
    assert man.envelope_of is None
    assert man.parts["part-00001.parquet"] == (None, None)
    # Each caller gets its own copy: the memoized document stays whole.
    col["bbox"] = None
    assert gio.geo_metadata(str(out))["columns"]["geometry"]["bbox"] == [0, 0, 9, 9]


def test_write_seeds_the_manifest_it_would_read(spark, tmp_path):
    """The manifest a write seeds from its kernel's stats rows equals the
    one read from the footers it committed."""
    out = str(tmp_path / "seeded")
    frame = _mixed_frame(spark)
    gio.write_geoparquet(frame.withColumn("dest", F.col("geometry")), out, "geometry",
                         secondary_geometry_cols=["dest"])
    seeded = gio._MANIFESTS[out][1]
    assert seeded == gio._read_manifest(out, gio.pio.file_set(out))
    assert seeded.envelope_of == "geometry" and len(seeded.parts) == 3


# ------------------------------------------------ geo_sql lowering


def _window_frame(spark):
    """``_mixed_frame`` plus points on decimal bounds no double equals
    (0.1) and on a bound a double does equal (-90.5)."""
    extra = spark.createDataFrame(
        [(100, wkb.encode(("Point", (0.1, 0.1)))),
         (101, wkb.encode(("Point", (-90.5, -1.0))))], "k long, geometry binary")
    return _mixed_frame(spark).unionByName(extra)


# (x0, y0, x1, y1) as SQL literal text: decimal, exponent (double) and
# integer literals, with rows on their edges.
_SQL_WINDOWS = [("0", "0", "0.1", "1e-1"), ("0.1", "-90.5", "2", "1e-1"),
                ("-90.5", "-10", "-1e-1", "0"), ("-100", "-100", "100", "100")]


def _literal(text: str):
    """The number a SQL numeric literal denotes, as Spark types it."""
    from decimal import Decimal

    if "e" in text.lower():
        return float(text)
    return Decimal(text) if "." in text else int(text)


def _atom_brute(rows, geometry: str, win) -> dict:
    """``ST_EnvelopeIntersects`` per row on the driver: None for a null
    geometry, else whether its envelope meets the window, compared
    exactly against the literals (a NaN bound meets nothing)."""
    import math

    x0, y0, x1, y1 = map(_literal, win)
    out = {}
    for r in rows:
        g = r[geometry]
        if g is None:
            out[r.k] = None
            continue
        xmin, ymin, xmax, ymax = wkb.bbox(wkb.decode(bytes(g)))
        out[r.k] = not any(math.isnan(v) for v in (xmin, ymin, xmax, ymax)) and (
            xmin <= x1 and xmax >= x0 and ymin <= y1 and ymax >= y0)
    return out


def _sql_forms(atom: str) -> dict:
    """Each statement over ``{t}``, and what it returns given the atom's
    value per ``k``."""
    return {
        f"SELECT k FROM {{t}} WHERE {atom}":
            lambda hits: {k for k, h in hits.items() if h is True},
        f"SELECT k FROM {{t}} WHERE NOT {atom}":
            lambda hits: {k for k, h in hits.items() if h is False},
        f"SELECT k, {atom} AS hit FROM {{t}}":
            lambda hits: set(hits.items()),
        f"SELECT k FROM {{t}} WHERE {atom} OR k = 3":
            lambda hits: {k for k, h in hits.items() if h is True or k == 3},
    }


def _rows_of(df) -> set:
    return {r.k if len(r) == 1 else tuple(r) for r in df.collect()}


def _runs_python(df) -> bool:
    plan = _executed(df)
    return "ArrowEvalPython" in plan or "BatchEvalPython" in plan


def _udf_form(spark, sql: str, **frames):
    from geoparquet_python_spark.geo.functions import register_sql
    from geoparquet_python_spark.geo.sqlrewrite import rewrite_spatial_sql

    register_sql(spark)
    return spark.sql(rewrite_spatial_sql(sql), **frames)


@pytest.mark.parametrize("win", _SQL_WINDOWS)
def test_geo_sql_lowers_the_atom_over_a_marked_dataset(spark, tmp_path, win):
    """Over a marked read, through ``{t}`` and a temp view, every form of
    the atom runs without Python and equals both the UDF form and the
    per-row brute force on null, POINT EMPTY, NaN, big-endian,
    MultiPolygon and bound-edge rows."""
    from geoparquet_python_spark.geo.sqlrewrite import geo_sql

    frame = _window_frame(spark)
    out = str(tmp_path / "marked")
    gio.write_geoparquet(frame, out, "geometry")
    back = gio.read_geoparquet(spark, out)
    hits = _atom_brute(frame.collect(), "geometry", win)
    atom = f"ST_EnvelopeIntersects(geometry, {', '.join(win)})"
    for sql, want in _sql_forms(atom).items():
        got = geo_sql(spark, sql, t=back)
        assert not _runs_python(got), sql
        assert _rows_of(got) == want(hits) == _rows_of(_udf_form(spark, sql, t=back)), sql
    back.createOrReplaceTempView("gpq_lowered")
    view = geo_sql(spark, f"SELECT k FROM gpq_lowered WHERE {atom}")
    assert not _runs_python(view)
    assert _rows_of(view) == {k for k, h in hits.items() if h is True}


def test_geo_sql_keeps_the_udf_where_the_mark_does_not_hold(spark, tmp_path):
    """An unmarked dataset, a union with an unmarked frame, a self-join,
    a subquery that redefines ``geometry``, a ``bbox`` replaced after the
    read and an atom over the secondary geometry column keep the UDF
    atom, and return the brute-force rows. The window meets the padded
    boxes of two points, and the redefined geometry is POINT EMPTY where
    the ``bbox`` still holds a point's envelope, so a lowered atom would
    return more rows in each case."""
    from geoparquet_python_spark.geo.sqlrewrite import geo_sql

    win = ("4.2", "-3.0", "6", "0")
    atom = f"ST_EnvelopeIntersects(geometry, {', '.join(win)})"
    frame = _window_frame(spark)
    empty = wkb.encode(("Point", (float("nan"), float("nan"))))
    emptied = F.when(F.col("k") % 2 == 0, F.col("geometry")).otherwise(F.lit(empty))
    out, padded_out = str(tmp_path / "marked"), str(tmp_path / "padded")
    gio.write_geoparquet(frame.withColumn("dest", emptied), out, "geometry",
                         secondary_geometry_cols=["dest"])
    gio.write_geoparquet(_padded(frame), padded_out, "geometry")
    back = gio.read_geoparquet(spark, out)
    loose = _padded(frame.withColumn("k", F.col("k") + 1000))

    def hits_of(rows, geometry="geometry"):
        return {k for k, h in _atom_brute(rows, geometry, win).items() if h is True}

    cases = {
        "unmarked dataset": (f"SELECT k FROM {{t}} WHERE {atom}",
                             gio.read_geoparquet(spark, padded_out), hits_of(frame.collect())),
        "union": (f"SELECT k FROM {{t}} WHERE {atom}",
                  back.drop("dest").unionByName(loose),
                  hits_of(frame.collect()) | hits_of(loose.collect())),
        "self-join": (f"SELECT a.k FROM {{t}} a JOIN (SELECT k AS k2 FROM {{t}}) b"
                      f" ON a.k = b.k2 WHERE {atom.replace('(geometry', '(a.geometry')}",
                      back, hits_of(frame.collect())),
        "redefined geometry": (f"SELECT k FROM (SELECT k, bbox, dest AS geometry FROM {{t}})"
                               f" WHERE {atom}", back,
                               hits_of(frame.withColumn("geometry", emptied).collect())),
        "replaced bbox": (f"SELECT k FROM {{t}} WHERE {atom}", _padded(back),
                          hits_of(frame.collect())),
        "secondary geometry": (f"SELECT k FROM {{t}} WHERE {atom.replace('(geometry', '(dest')}",
                               back, hits_of(frame.withColumn("dest", emptied).collect(), "dest")),
    }
    for label, (sql, t, want) in cases.items():
        got = geo_sql(spark, sql, t=t)
        assert _runs_python(got), label
        assert _rows_of(got) == want, label
    # The brute force differs from the bbox comparisons alone: each case
    # tests the atom.
    assert hits_of(frame.collect()) < {r.k for r in gio.read_geoparquet(spark, padded_out)
                                       .where(F.expr(f"bbox.xmin <= 6 AND bbox.xmax >= 4.2"
                                                     f" AND bbox.ymin <= 0 AND bbox.ymax >= -3"))
                                       .collect()}


def test_a_spark_written_mark_keeps_the_udf_and_the_refine(spark, tmp_path):
    """Spark's own Parquet writer stores field metadata in its footers,
    so a union of a marked read with a padded frame, written with
    ``df.write.parquet``, reads back with the first child's envelope mark
    on ``bbox``; so does any path read with a marked schema. None of
    these files carries the mark, so ``read_geoparquet`` drops it, and
    ``geo_sql`` keeps the UDF atom and ``spatial_window_filter`` its
    refine, each returning the brute-force rows."""
    from geoparquet_python_spark.geo.functions import ENVELOPE_OF
    from geoparquet_python_spark.geo.sqlrewrite import geo_sql

    win = ("4.2", "-3.0", "6", "0")
    atom = f"ST_EnvelopeIntersects(geometry, {', '.join(win)})"
    frame = _window_frame(spark)
    marked, written = str(tmp_path / "marked"), str(tmp_path / "spark")
    gio.write_geoparquet(frame, marked, "geometry")
    back = gio.read_geoparquet(spark, marked)
    loose = _padded(frame.withColumn("k", F.col("k") + 1000))
    union = back.unionByName(loose)
    assert union.schema["bbox"].metadata == {ENVELOPE_OF: "geometry"}
    union.write.parquet(written)
    want = {k for rows in (frame.collect(), loose.collect())
            for k, h in _atom_brute(rows, "geometry", win).items() if h is True}
    reads = {
        "read_geoparquet": gio.read_geoparquet(spark, written),
        "spark.read.parquet": spark.read.parquet(written),
        "marked schema": spark.read.schema(back.schema).parquet(written),
    }
    assert ENVELOPE_OF not in reads["read_geoparquet"].schema["bbox"].metadata
    assert "geo_primary" not in reads["read_geoparquet"].schema["geometry"].metadata
    assert reads["spark.read.parquet"].schema["bbox"].metadata == {ENVELOPE_OF: "geometry"}
    for label, t in reads.items():
        got = geo_sql(spark, f"SELECT k FROM {{t}} WHERE {atom}", t=t)
        assert _runs_python(got), label
        assert _rows_of(got) == want, label
        _assert_refined(t, frame.unionByName(loose.drop("bbox")))


def test_geo_sql_lowers_selects_only(spark, tmp_path):
    """A statement ``spark.sql`` runs when analyzed (a command) keeps the
    UDF atom, and so does a WITH query; a parenthesized SELECT is
    lowered."""
    from geoparquet_python_spark.geo.sqlrewrite import geo_sql

    out = str(tmp_path / "marked")
    gio.write_geoparquet(_window_frame(spark), out, "geometry")
    gio.read_geoparquet(spark, out).createOrReplaceTempView("gpq_cmd_src")
    atom = "ST_EnvelopeIntersects(geometry, 0, 0, 2, 2)"
    geo_sql(spark, f"CREATE OR REPLACE TEMP VIEW gpq_cmd AS"
                   f" SELECT k FROM gpq_cmd_src WHERE {atom}")
    assert _runs_python(spark.table("gpq_cmd"))
    cte = geo_sql(spark, f"WITH w AS (SELECT k FROM gpq_cmd_src WHERE {atom}) SELECT * FROM w")
    assert _runs_python(cte)
    lowered = geo_sql(spark, f" (SELECT k FROM gpq_cmd_src WHERE {atom})")
    assert not _runs_python(lowered)
    assert _rows_of(lowered) == _rows_of(cte) == _rows_of(spark.table("gpq_cmd")) != set()
