"""GeoParquet source/sink (SURVEY.md §2.A rows A1/A2) — the reference's
entire public API re-expressed for Spark:

* reference ``gdf.to_geoparquet(path)`` (geoparquet/__init__.py:22–45≈):
  single file, eager, per-row WKB encode, geo metadata stamped into the
  Parquet footer on one process.
* reference ``read_geoparquet(path)`` (geoparquet/__init__.py:47–70≈):
  single file, eager decode of every geometry row.

Spark re-design: Spark's parquet sink cannot stamp footer key-value
metadata, so the writer runs as ``mapInArrow`` — every partition writes
its own footer-correct part file with pyarrow IN PARALLEL on the
executors (one pass, no post-hoc rewrite; at 100 TB there is no
driver-side step proportional to data size). That one Arrow pass is the
only time rows cross into Python: the kernel also computes the
GeoParquet 1.1-style ``bbox`` covering struct (``wkb.envelope_struct``)
that lets spatial predicates push down to row-group stats (§4.3).

The reader is a vectorized ``spark.read.parquet`` (pushdown intact)
given the memoized schema of ``io.parquet_schema``, so only the first
read of a freshly written dataset spends Spark's schema-inference job;
the footer metadata hop is pyarrow-on-the-driver, reading the footers.

Geometry stays WKB ``BinaryType`` end-to-end; nothing decodes at scan
time (decode is per-operator, SURVEY.md §1.1).

The envelope mark: when a part file's ``bbox`` is exactly
``wkb.envelope_struct`` of its primary geometry column (always for the
kernel-built column; a caller's column only after the kernel compares
it field by field, nulls included), the writer stamps the Arrow field
metadata ``{"envelope_of": <geometry column>}`` on ``bbox``. It lives in
the footer's Arrow schema, outside the spec ``geo`` document, so other
readers ignore it. When every file Spark would read under the path
carries the same mark, ``read_geoparquet`` stamps the Spark ``bbox``
field with it, and ``spatial_window_filter`` skips its per-row Python
refine: on such a column the refine can drop no row the bbox
comparisons keep.
"""

from __future__ import annotations

import glob
import json
import os
import uuid
from collections.abc import Iterator
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geoparquet_python_spark.geo import wkb
from geoparquet_python_spark.geo.functions import ENVELOPE_OF, st_envelope
from geoparquet_python_spark.io import file_set, read_parquet

GEO_KEY = b"geo"
# Pre-spec key the reference used (SURVEY.md §0.2 — exact name uncertain,
# tolerate it and the spec form on read).
LEGACY_KEY = b"geometry_fields"

SPEC_VERSION = "1.1.0"
# GeoParquet 1.1 ``covering`` of the primary column: where the ``bbox``
# struct's bounds live, so spec readers can prune on them too.
COVERING = {"bbox": {f: ["bbox", f] for f in wkb.ENVELOPE_FIELDS}}


def _geo_column_entry(
    crs: Any,
    bbox: list | None,
    geometry_types: list[str] | None = None,
    covering: bool = False,
) -> dict[str, Any]:
    col: dict[str, Any] = {"encoding": "WKB", "geometry_types": geometry_types or []}
    if crs is not None:
        col["crs"] = crs
    if bbox is not None:
        col["bbox"] = bbox
    if covering:
        col["covering"] = COVERING
    return col


def _geo_metadata_json(
    geometry_col: str,
    crs: Any,
    bbox: list | None,
    geometry_types: list[str] | None = None,
    extra_cols: dict[str, dict] | None = None,
    covering: bool = False,
) -> bytes:
    """Spec `geo` doc: the primary column entry plus any SECONDARY
    geometry columns (GeoParquet allows several; exactly one is
    primary_column). Secondaries carry encoding/crs/geometry_types;
    the dataset bbox, and the ``covering`` when the file has a ``bbox``
    column, ride on the primary."""
    doc = {
        "version": SPEC_VERSION,
        "primary_column": geometry_col,
        "columns": {
            geometry_col: _geo_column_entry(crs, bbox, geometry_types, covering),
            **(extra_cols or {}),
        },
    }
    return json.dumps(doc).encode("utf-8")


def _is_envelope(box: pa.Array, geom: pa.Array) -> bool:
    """Is ``box`` exactly ``wkb.envelope_struct(geom)``: the same type,
    and each bound equal, with its nulls in the same rows?"""
    import pyarrow.compute as pc

    env = wkb.envelope_struct(geom)
    return box.type == env.type and all(
        pc.struct_field(box, f).equals(pc.struct_field(env, f))
        for f in wkb.ENVELOPE_FIELDS
    )


def _marked(schema: pa.Schema, geometry_col: str) -> pa.Schema:
    """``schema`` with the envelope mark on its ``bbox`` field."""
    i = schema.get_field_index("bbox")
    field = schema.field(i)
    return schema.set(i, field.with_metadata(
        {**(field.metadata or {}), ENVELOPE_OF: geometry_col}))


def _wkb_type_codes(arr: pa.Array) -> set[int]:
    """Raw WKB geometry type codes present in a pyarrow binary array, read
    from its buffers by ``wkb.headers`` — no per-row Python in the write
    hot path. Nulls and values shorter than a WKB header carry no type."""
    h = wkb.headers(arr)
    return set(int(c) for c in np.unique(h.code[h.headed]))


def _type_code_names(codes: set[int]) -> list[str]:
    """Spec geometry_types names from raw WKB codes; ISO Z/M/ZM
    variants (1000/2000/3000 offsets) map to the suffixed spec form."""
    names = []
    for c in sorted(codes):
        base = wkb._NAMES.get(c % 1000)
        if base is None:
            continue
        suffix = {0: "", 1: " Z", 2: " M", 3: " ZM"}.get(c // 1000, "")
        names.append(base + suffix)
    return sorted(set(names))


def add_bbox_column(df: DataFrame, geometry_col: str = "geometry") -> DataFrame:
    """Materialize the GeoParquet-1.1 covering column: a
    {xmin,ymin,xmax,ymax} struct. Plain comparisons against its fields
    are pushed to Parquet row-group stats by Spark's scan — this column
    IS the spatial index at 100 TB. ``write_geoparquet`` builds the same
    column inside its own kernel instead; this is for frames used
    without a write."""
    return df.withColumn("bbox", st_envelope(F.col(geometry_col)))


def write_geoparquet(
    df: DataFrame,
    path: str,
    geometry_col: str = "geometry",
    crs: Any = "OGC:CRS84",
    bbox_covering: bool = True,
    secondary_geometry_cols: list[str] | None = None,
) -> int:
    """Distributed GeoParquet sink; returns rows written.

    Each input partition becomes one part file whose footer carries the
    OGC ``geo`` key-value metadata — written by pyarrow inside
    ``mapInArrow``, so the stamping is executor-side and single-pass
    (the reference's ``replace_schema_metadata`` + ``pq.write_table``,
    geoparquet/__init__.py:35–40≈, parallelized). With ``bbox_covering``
    and no ``bbox`` column in ``df``, the same kernel appends the covering
    struct to every batch (a null field where a bound is NaN, as Spark's
    pandas conversion gives), so the rows cross into Python once; the
    schema-only part of an all-empty write carries the field too. A part
    file with a ``bbox`` column declares it as the primary column's 1.1
    ``covering``, and carries the envelope mark (module docstring) when
    the kernel built it or found it equal to the geometry's envelope.

    Task-commit protocol (retries/speculation are routine at 100 TB):
    each attempt writes to a hidden temp name derived from
    (partitionId, taskAttemptId), then atomically renames to the
    canonical ``part-{partitionId}.parquet`` on close. Retried or
    speculative attempts of the same partition overwrite the SAME final
    name with identical content instead of leaving a second part file
    (the silent row-duplication failure of uuid naming). The rename is
    atomic on POSIX local/NFS filesystems; on an object store deploy
    this function's commit step is where an S3A-style committer slots
    in. An empty input still produces one schema-only part file, so the
    output directory is always a readable dataset."""
    secondary = list(secondary_geometry_cols or [])
    for c in [geometry_col, *secondary]:
        if c not in df.columns:
            raise ValueError(f"geometry column {c!r} not in {df.columns}")
    add_bbox = bbox_covering and "bbox" not in df.columns
    has_bbox = bbox_covering or "bbox" in df.columns

    os.makedirs(path, exist_ok=True)

    def write_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        attempt = ctx.taskAttemptId() if ctx is not None else uuid.uuid4().hex
        final = os.path.join(path, f"part-{pid:05d}.parquet")
        tmp = os.path.join(path, f".part-{pid:05d}-{attempt}.parquet.tmp")
        # Footer bbox/geometry_types are only known after the last row,
        # but pyarrow fixes schema metadata at writer construction — so
        # buffer the partition's batches (bounded by
        # spark.sql.files.maxPartitionBytes, the same bound any Arrow
        # exchange already has) and stamp true per-file stats at open.
        buffered: list[pa.RecordBatch] = []
        rows = 0
        inf = float("inf")
        ext = [inf, inf, -inf, -inf]  # xmin, ymin, xmax, ymax
        codes: set[int] = set()
        sec_codes: dict[str, set[int]] = {c: set() for c in secondary}
        exact = has_bbox  # is every row's bbox its geometry's envelope?
        for batch in batches:
            if add_bbox:
                batch = batch.append_column(
                    "bbox", wkb.envelope_struct(batch.column(geometry_col))
                )
            elif exact:
                exact = _is_envelope(batch.column("bbox"), batch.column(geometry_col))
            buffered.append(batch)
            rows += batch.num_rows
            codes |= _wkb_type_codes(batch.column(geometry_col))
            for c in secondary:
                sec_codes[c] |= _wkb_type_codes(batch.column(c))
            if "bbox" in batch.schema.names:
                import pyarrow.compute as pc

                box = batch.column("bbox")
                for i, field in enumerate(wkb.ENVELOPE_FIELDS):
                    key, pick = ("min", min) if i < 2 else ("max", max)
                    v = pc.min_max(pc.struct_field(box, field)).as_py()[key]
                    if v is not None:
                        ext[i] = pick(ext[i], v)
        bbox = ext if ext[0] <= ext[2] else None
        meta_json = _geo_metadata_json(
            geometry_col,
            crs,
            bbox,
            _type_code_names(codes),
            extra_cols={
                c: _geo_column_entry(crs, None, _type_code_names(sec_codes[c]))
                for c in secondary
            },
            covering=has_bbox,
        )
        writer = None
        try:
            for batch in buffered:
                if writer is None:
                    schema = batch.schema.with_metadata(
                        {**(batch.schema.metadata or {}), GEO_KEY: meta_json}
                    )
                    if exact:
                        schema = _marked(schema, geometry_col)
                    writer = pq.ParquetWriter(tmp, schema)
                writer.write_batch(batch)
            if writer is not None:
                writer.close()
                os.replace(tmp, final)  # commit: atomic, last attempt wins
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)  # abort path: never leak half-written files
        yield pa.RecordBatch.from_pylist(
            [{"file": final, "rows": rows}] if rows else [],
            schema=pa.schema([("file", pa.string()), ("rows", pa.int64())]),
        )

    stats = df.mapInArrow(write_partition, "file string, rows long").collect()
    committed = {os.path.basename(r.file) for r in stats} or {"part-00000.parquet"}
    # A rewrite of an existing path must not leave the previous write's
    # parts behind: readers would see their rows and footer bboxes.
    for f in glob.glob(os.path.join(glob.escape(path), "part-*.parquet")):
        if os.path.basename(f) not in committed:
            os.remove(f)
    if not stats:
        # Every partition was empty: emit one schema-only part so the
        # directory is a valid (zero-row) GeoParquet dataset.
        tbl = df.limit(0).toArrow()
        if add_bbox:
            empty = wkb.envelope_struct(pa.array([], pa.binary()))
            tbl = tbl.append_column(
                "bbox", pa.chunked_array([], type=empty.type)
            )
        tbl = tbl.replace_schema_metadata(
            {**(tbl.schema.metadata or {}),
             GEO_KEY: _geo_metadata_json(
                 geometry_col, crs, None, [],
                 extra_cols={
                     c: _geo_column_entry(crs, None, []) for c in secondary
                 },
                 covering=has_bbox,
             )}
        )
        if has_bbox and _is_envelope(
            tbl.column("bbox").combine_chunks(),
            tbl.column(geometry_col).combine_chunks(),
        ):
            tbl = tbl.cast(_marked(tbl.schema, geometry_col))
        pq.write_table(tbl, os.path.join(path, "part-00000.parquet"))
        return 0
    return sum(r.rows for r in stats)


def _read_footers(path: str) -> tuple[dict | None, str | None]:
    """The merged ``geo`` document of ``geo_metadata`` and the geometry
    column whose exact envelope the dataset's ``bbox`` is: the name that
    every file Spark would read under ``path`` carries as its envelope
    mark, else None."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet"))) or [path]
    # A file Spark reads but this listing misses (not named *.parquet)
    # could hold any bbox: then no mark holds for the dataset.
    read = {os.path.join(path, rel) if rel else path for rel, _, _ in file_set(path)}
    marks = set() if read == set(files) else {None}
    merged: dict | None = None
    for f in files:
        schema = pq.ParquetFile(f).schema_arrow
        md = schema.metadata or {}
        if GEO_KEY not in md:
            marks.add(None)
            break
        bbox_md = schema.field("bbox").metadata if "bbox" in schema.names else None
        marks.add((bbox_md or {}).get(ENVELOPE_OF.encode()))
        doc = json.loads(md[GEO_KEY].decode("utf-8"))
        if merged is None:
            merged = doc
            continue
        # Merge EVERY geometry column's per-file stats (multi-geometry
        # datasets carry one entry per column; exactly one is primary).
        for cname, a in merged["columns"].items():
            b = doc.get("columns", {}).get(cname, {})
            a["geometry_types"] = sorted(
                set(a.get("geometry_types", []))
                | set(b.get("geometry_types", []))
            )
            ba, bb = a.get("bbox"), b.get("bbox")
            if ba and bb:
                a["bbox"] = [min(ba[0], bb[0]), min(ba[1], bb[1]),
                             max(ba[2], bb[2]), max(ba[3], bb[3])]
            elif bb:
                a["bbox"] = bb
            if a.get("covering") != b.get("covering"):
                a.pop("covering", None)  # only a covering every file shares
    mark = marks.pop() if len(marks) == 1 else None
    envelope_of = mark.decode("utf-8") if mark else None
    if merged is not None:
        return merged, envelope_of
    md = pq.ParquetFile(files[0]).schema_arrow.metadata or {}
    if LEGACY_KEY in md:
        legacy = json.loads(md[LEGACY_KEY].decode("utf-8"))
        if isinstance(legacy, list) and legacy:
            first = legacy[0]
            name = first.get("field_name", "geometry")
            return {
                "version": "legacy",
                "primary_column": name,
                "columns": {
                    name: {
                        "encoding": first.get("geometry_format", "wkb").upper(),
                        "geometry_types": [],
                        "crs": first.get("crs"),
                    }
                },
            }, None
    return None, None


def geo_metadata(path: str) -> dict | None:
    """Parse geo metadata from the dataset's part-file footers. Accepts
    the OGC spec form (``geo``) and the reference's legacy pre-spec form
    (``geometry_fields`` — normalized into the spec shape).

    Each part file carries its own true ``bbox`` / ``geometry_types``
    (stamped executor-side at write); this merges them into the
    dataset-level extent and type union, and keeps the primary column's
    ``covering`` when every file declares the same one. Footer reads are
    KB-sized and O(num_files) on the driver — independent of data
    volume."""
    return _read_footers(path)[0]


def read_geoparquet(spark: SparkSession, path: str) -> DataFrame:
    """GeoParquet scan: vectorized Spark parquet read (pushdown/pruning
    intact) with the memoized ``io.parquet_schema`` — no Spark job once
    the file set's schema is known; geo footer metadata (driver-side
    footer reads) attached to the geometry column's schema metadata. WKB
    stays binary — decode is lazy, per-operator (the reference decodes
    every row up front, geoparquet/__init__.py:60≈ — the 100 TB
    anti-pattern). When every file carries the envelope mark (module
    docstring), the ``bbox`` column's metadata names the geometry column
    it is the exact envelope of."""
    df = read_parquet(spark, path)
    meta, envelope_of = _read_footers(path)
    if envelope_of is not None and "bbox" in df.columns:
        df = df.withMetadata("bbox", {ENVELOPE_OF: envelope_of})
    if meta is not None:
        # Attach metadata to EVERY geometry column the footer declares
        # (multi-geometry files are spec-legal; primary_column marks the
        # default one). The primary keeps an extra marker so consumers
        # can find it without re-reading footers.
        for cname, entry in meta["columns"].items():
            if cname in df.columns:
                df = df.withMetadata(
                    cname,
                    {
                        "geo": entry,
                        "geo_primary": cname == meta["primary_column"],
                    },
                )
    return df
