"""The benchmark's workloads: their op lists and how each op runs and is
checked.

An op has two timed phases, ``build`` (driver-side construction, where
eager checkpoint jobs and stream drains run) and ``act`` (the action that
executes the plan), and an untimed ``check`` of what ``act`` returned.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
from pyspark.sql import Observation
from pyspark.sql import functions as F

import datagen
from stats import check_fingerprint, median

# The registered queries the ``queries`` workload runs once per pass, by
# family: one join-heavy SQL query (scan, exchange, aggregate), one
# windowed-state stream drained through ``run_to_memory_table``, one
# Arrow-kernel and one construction-heavy LLM-curation query. Together they
# exercise every layer, and a run (JVM start, two warm-up passes and two
# measured passes) stays near a minute on 4 cores. The other headline queries
# cost more per op (``q_ann_topk_ivfpq`` spends 5 s in construction at
# this size) and are left to ``bench.py``.
SQL_QUERIES = [
    "q5_local_supplier_volume",
]
STREAM_QUERIES = [
    "q_stream_tumbling_counts",
]
LLM_QUERIES = [
    "q_minhash_lsh_neardup",
    "q_hybrid_rrf_topk",
]
FAMILY = {**dict.fromkeys(SQL_QUERIES, "sql"), **dict.fromkeys(STREAM_QUERIES, "stream"),
          **dict.fromkeys(LLM_QUERIES, "llm")}
WORKLOADS = ("queries", "geoparquet_io")
# Nominal wall of one warm pass on 4 cores. A run measures
# ``round(--seconds / PASS_S)`` passes (at least one), so every run of a
# workload takes the same number of samples whatever the host's speed.
PASS_S = {"queries": 10.0, "geoparquet_io": 9.0}
# Untimed passes before the measured ones (numbered 0, -1, ...).
WARMUP_PASSES = {"queries": 2, "geoparquet_io": 1}

TABLE_SF = 0.01
GEO_POINTS = 50_000
GEO_POLYGONS = 5_000
WINDOW_FRACTIONS = (0.001, 0.01, 0.1)
LAYOUTS = ("tile", "random")
READ_PATHS = ("columns", "geo_sql")
GEOMETRY_TYPES = ["Point", "Polygon"]


@dataclass
class Op:
    name: str
    kind: str  # "sql", "stream", "llm", "geo_write" or "geo_read"
    build: Callable[[], Any]
    act: Callable[[Any], Any]
    check: Callable[[Any], str | None]
    layout: str | None = None


def fingerprint_action(df) -> dict:
    """Run ``df`` to completion with a noop write; an ``observe`` on the
    same plan returns its row count and the sum of ``xxhash64`` over all
    columns, so the check costs no extra job."""
    obs = Observation("perfbench_fp")
    cols = [F.col(f"`{c}`") for c in df.columns]
    df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("fp"),
    ).write.format("noop").mode("overwrite").save()
    got = obs.get
    return {"rows": int(got["rows"]), "fp": str(got["fp"] if got["fp"] is not None else 0)}


def op_order(names: list[str], seed: int, pass_no: int) -> list[str]:
    """The ops of one pass in the order set by ``seed``."""
    order = list(names)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


# ---------------------------------------------------------- query workloads


def query_ops(spark, registry, data_dir: str, fixture: dict,
              seed: int, pass_no: int) -> list[Op]:
    ops = []
    for name in op_order(list(FAMILY), seed, pass_no):
        fn = registry.QUERIES[name]
        ops.append(Op(
            name=name,
            kind=FAMILY[name],
            build=lambda fn=fn: fn(spark, data_dir),
            act=fingerprint_action,
            check=lambda got, name=name: check_fingerprint(name, got, fixture),
        ))
    return ops


# ------------------------------------------------------- geoparquet_io


class GeoWorkload:
    """Generated points and polygons, written in two layouts and read back
    through bbox windows.

    ``tile`` orders rows by a 16x16 tile grid, so each part file and row
    group covers a narrow band and window reads can skip row groups by
    their ``bbox`` statistics; ``random`` shuffles rows, so every row
    group spans the whole extent and nothing can be skipped."""

    def __init__(self, seed: int, tracer):
        from geoparquet_python_spark.geo import wkb

        self.tracer = tracer
        g = datagen.geo_inputs(seed, GEO_POINTS, GEO_POLYGONS)
        self.g = g
        x, y, h = g["x"], g["y"], g["half"]
        pts = h == 0
        with tracer.span("geo.wkb.encode_points"):
            pwkb = wkb.encode_points(x[pts], y[pts])
        with tracer.span("geo.wkb.encode"):
            polys = [
                wkb.encode(("Polygon", [np.array(
                    [[cx - hh, cy - hh], [cx + hh, cy - hh], [cx + hh, cy + hh],
                     [cx - hh, cy + hh], [cx - hh, cy - hh]])]))
                for cx, cy, hh in zip(x[~pts], y[~pts], h[~pts])
            ]
        geom = np.empty(len(x), dtype=object)
        geom[pts] = pwkb
        geom[~pts] = polys
        self.wkb = geom
        self.xmin, self.xmax = x - h, x + h
        self.ymin, self.ymax = y - h, y + h
        self.user_bytes = 16 * len(x) + int(sum(len(b) for b in geom))
        rng = np.random.default_rng(seed + 2)
        orders = {
            "tile": np.lexsort((g["id"], g["tile"])),
            "random": rng.permutation(len(x)),
        }
        self.inputs = {
            layout: pa.table({
                "id": g["id"][order],
                "attr": g["attr"][order],
                "geometry": pa.array(list(geom[order]), pa.binary()),
            }).to_pandas()
            for layout, order in orders.items()
        }
        self.windows = datagen.windows(seed, WINDOW_FRACTIONS)
        self.verified: dict[int, dict] = {}

    def bind(self, spark, out_dir: str) -> None:
        """Attach to a (new) session: the inputs become DataFrames of it."""
        self.spark = spark
        self.out_dir = out_dir
        self.frames = {k: spark.createDataFrame(v) for k, v in self.inputs.items()}
        self.paths: dict[str, str] = {}
        self.pass_dirs: list[str] = []
        self.written = {"tile": [], "random": []}  # bytes of each write
        self.decode_checked = False

    def drop_pass_outputs(self) -> None:
        for d in self.pass_dirs:
            shutil.rmtree(d, ignore_errors=True)
        self.pass_dirs = []
        self.decode_checked = False  # decode once per pass, so a traced pass times it

    def expected_ids(self, w: int) -> np.ndarray:
        x0, y0, x1, y1 = self.windows[w]
        hit = ((self.xmin <= x1) & (self.xmax >= x0)
               & (self.ymin <= y1) & (self.ymax >= y0))
        return self.g["id"][hit]

    # -- ops

    def ops(self, seed: int, pass_no: int) -> list[Op]:
        rnd = random.Random(f"{seed}:{pass_no}")
        layouts = list(LAYOUTS)
        rnd.shuffle(layouts)
        if pass_no == 0:  # the warm-up: one layout runs every code path
            layouts = layouts[:1]
        out = []
        for layout in layouts:
            path = os.path.join(self.out_dir, f"{layout}-{pass_no}")
            out.append(Op(f"write[{layout}]", "geo_write", lambda: None,
                          lambda _df, layout=layout, path=path: self._write(layout, path),
                          lambda got, layout=layout, path=path: self._check_write(layout, path, got),
                          layout))
            # One read per window; the column-predicate and ``geo_sql``
            # paths alternate over windows, layouts and passes.
            reads = [(w, READ_PATHS[(w + pass_no + LAYOUTS.index(layout)) % 2])
                     for w in range(len(self.windows))]
            rnd.shuffle(reads)
            for w, via in reads:
                out.append(Op(
                    f"read[{layout},w{w},{via}]", "geo_read",
                    lambda layout=layout, w=w, via=via: self._read(layout, w, via),
                    fingerprint_action,
                    lambda got, layout=layout, w=w: self._check_read(layout, w, got),
                    layout))
        return out

    def _write(self, layout: str, path: str) -> dict:
        from geoparquet_python_spark.geo.io import geo_metadata, write_geoparquet

        with self.tracer.span("geo.io.write_geoparquet"):
            rows = write_geoparquet(self.frames[layout], path)
        with self.tracer.span("geo.io.geo_metadata"):
            meta = geo_metadata(path)
        self.paths[layout] = path
        self.pass_dirs.append(path)
        return {"rows": rows, "meta": meta}

    def _read(self, layout: str, w: int, via: str):
        from geoparquet_python_spark.geo.functions import spatial_window_filter
        from geoparquet_python_spark.geo.io import read_geoparquet
        from geoparquet_python_spark.geo.sqlrewrite import geo_sql

        with self.tracer.span("geo.io.read_geoparquet"):
            df = read_geoparquet(self.spark, self.paths[layout])
        if via == "columns":
            return spatial_window_filter(df, self.windows[w]).select("id", "attr", "geometry")
        view = f"perfbench_geo_{layout}"
        df.createOrReplaceTempView(view)
        x0, y0, x1, y1 = self.windows[w]
        with self.tracer.span("geo.sqlrewrite.geo_sql"):
            return geo_sql(self.spark, f"SELECT id, attr, geometry FROM {view} "
                           f"WHERE ST_EnvelopeIntersects(geometry, {x0}, {y0}, {x1}, {y1})")

    # -- checks (untimed)

    def _check_write(self, layout: str, path: str, got: dict) -> str | None:
        from geoparquet_python_spark.geo import wkb

        n = len(self.wkb)
        files = glob.glob(os.path.join(path, "*.parquet"))
        self.written[layout].append((len(files), sum(os.path.getsize(f) for f in files)))
        if got["rows"] != n:
            return f"write[{layout}]: {got['rows']} rows written, {n} generated"
        col = (got["meta"] or {}).get("columns", {}).get("geometry", {})
        bbox = col.get("bbox")
        x0, y0, x1, y1 = datagen.EXTENT
        if not bbox or bbox[0] > x0 or bbox[1] > y0 or bbox[2] < x1 or bbox[3] < y1:
            return f"write[{layout}]: footer bbox {bbox} does not cover {datagen.EXTENT}"
        if col.get("geometry_types") != GEOMETRY_TYPES:
            return f"write[{layout}]: footer geometry_types {col.get('geometry_types')}"
        back = pads.dataset(path, format="parquet").to_table(
            columns=["id", "attr", "geometry"]).sort_by("id")
        if back.column("id").to_numpy().tolist() != self.g["id"].tolist():
            return f"write[{layout}]: read-back ids differ"
        if not np.array_equal(back.column("attr").to_numpy(), self.g["attr"]):
            return f"write[{layout}]: read-back attr differs"
        geom = back.column("geometry").to_pylist()
        if geom != self.wkb.tolist():
            return f"write[{layout}]: read-back WKB bytes differ"
        if not self.decode_checked:
            self.decode_checked = True
            pts = self.g["half"] == 0
            with self.tracer.span("geo.wkb.decode_points"):
                xs, ys = wkb.decode_points([geom[i] for i in np.flatnonzero(pts)])
            if not (np.array_equal(xs, self.g["x"][pts]) and np.array_equal(ys, self.g["y"][pts])):
                return f"write[{layout}]: decoded point coordinates differ"
            with self.tracer.span("geo.wkb.decode"):
                boxes = [wkb.bbox(wkb.decode(geom[i])) for i in np.flatnonzero(~pts)]
            if not np.array_equal(np.array(boxes), np.column_stack(
                    [self.xmin[~pts], self.ymin[~pts], self.xmax[~pts], self.ymax[~pts]])):
                return f"write[{layout}]: decoded polygon extents differ"
        return None

    def _check_read(self, layout: str, w: int, got: dict) -> str | None:
        """The first read of each window is compared row by row with the
        generated data; every later read of it, in either layout and
        through either path, must give the same count and fingerprint."""
        ref = self.verified.get(w)
        if ref is not None:
            if got != ref:
                return f"window {w}: {got} != first verified read {ref}"
            return None
        want = self.expected_ids(w)
        if got["rows"] != len(want):
            return f"window {w}: {got['rows']} rows, expected {len(want)}"
        from geoparquet_python_spark.geo.functions import spatial_window_filter
        from geoparquet_python_spark.geo.io import read_geoparquet

        rows = (spatial_window_filter(read_geoparquet(self.spark, self.paths[layout]),
                                      self.windows[w])
                .select("id", "geometry").toArrow().sort_by("id"))
        ids = rows.column("id").to_numpy()
        if not np.array_equal(ids, np.sort(want)):
            return f"window {w}: returned ids differ from the generated window"
        if rows.column("geometry").to_pylist() != self.wkb[ids].tolist():
            return f"window {w}: returned WKB bytes differ from those written"
        self.verified[w] = got
        return None

    def layer_metrics(self, traced: dict, tracer) -> dict:
        """``geo.*`` per-layer metrics of the traced pass."""
        ops = traced["ops"]
        files = sum(f for w in self.written.values() for f, _ in w[-1:])
        stored = sum(b for w in self.written.values() for _, b in w[-1:])
        m = {
            "geo.wkb.encode_points_s": tracer.total("geo.wkb.encode_points"),
            "geo.wkb.decode_points_s": tracer.total("geo.wkb.decode_points"),
            "geo.wkb.decode_s": tracer.total("geo.wkb.decode"),
            "geo.io.write_s.p50": median([o["wall_s"] for o in ops if o["kind"] == "geo_write"]),
            "geo.io.files_written": files,
            "geo.io.bytes_written": stored,
            "geo.io.stored_bytes_per_user_byte": stored / (len(LAYOUTS) * self.user_bytes),
            "geo.io.geo_metadata_s": tracer.total("geo.io.geo_metadata"),
            "geo.io.read_geoparquet_s": tracer.total("geo.io.read_geoparquet"),
            "geo.sqlrewrite.geo_sql_s": tracer.total("geo.sqlrewrite.geo_sql"),
        }
        for layout in LAYOUTS:
            reads = [o for o in ops if o["kind"] == "geo_read" and o["layout"] == layout]
            m[f"geo.read_s.p50.{layout}"] = median([o["wall_s"] for o in reads])
            size = self.written[layout][-1][1]
            counted = [o["counters"] for o in reads if "counters" in o]
            scanned = sum(c["action"]["input_bytes"] for c in counted)
            scan_rows = sum(c["action"]["scan_rows"] for c in counted)
            kept = sum(o["rows"] for o in reads if "counters" in o)
            m[f"geo.scan.bytes_read_ratio.{layout}"] = scanned / (size * len(counted)) if counted else 0.0
            m[f"geo.scan.rows_kept_ratio.{layout}"] = kept / scan_rows if scan_rows else 0.0
        return m
