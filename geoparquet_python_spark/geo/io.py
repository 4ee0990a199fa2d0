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
given the memoized schema of ``io.parquet_schema`` with the geo field
metadata already on its fields: one listing of the path and one
``spark.read.schema(...)`` call. The footers' ``geo`` documents and
envelope marks come from the dataset ``Manifest``, read once per file
set (``io.file_set``, the key of the schema memo) and memoized in the
process, not per session: footers are file content, and
``geo_metadata`` takes no session.

Memo policy. After its commit, ``write_geoparquet`` seeds both memos
for the files it has just written, when the directory holds no other
file Spark would read: the manifest from its kernel's stats rows (the
very ``geo`` document and mark each footer got), and the schema memo
with what Spark's Parquet inference gives for those files —
``df.schema`` with every level nullable (a file source reads its data
schema as nullable), no field metadata (pyarrow writes no Spark schema
into the footer), then the kernel's ``bbox`` struct. That equality is
tested per type (``tests/test_parquet_schema.py``); a column of any
other type, or a session setting that changes what Spark infers for
binary or ``timestamp_ntz`` columns, leaves the schema unseeded and the
first read infers as before. So the first read of a fresh write runs no
job and no read of an unchanged dataset opens a footer. Any change to
the file set (a rewrite, a file added by hand) misses both memos.

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
field with it, ``geo_sql`` lowers its window atom to JVM comparisons
(geo/sqlrewrite.py), and ``spatial_window_filter`` skips its per-row Python
refine: on such a column the refine can drop no row the bbox
comparisons keep. Only the manifest grants the mark, and the ``geo``
and ``geo_primary`` keys: Spark's own Parquet writer stores field
metadata in its footers, so a frame that carried the mark (a union
takes its first child's) comes back from ``df.write.parquet`` with it.
``read_geoparquet`` drops those keys wherever the manifest does not set
them, and both consumers of the mark also check, through
``relation_mark``, that the manifest of the files their one plan leaf
reads carries it.
"""

from __future__ import annotations

import copy
import glob
import json
import os
import uuid
from collections.abc import Iterator
from dataclasses import dataclass
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geoparquet_python_spark import io as pio
from geoparquet_python_spark.geo import wkb
from geoparquet_python_spark.geo.functions import _BBOX_TYPE, ENVELOPE_OF, st_envelope

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
        stat = {"file": final, "rows": rows, "geo": meta_json.decode("utf-8"),
                "mark": geometry_col if exact else None}
        yield pa.RecordBatch.from_pylist([stat] if rows else [], schema=_STATS)

    stats = df.mapInArrow(write_partition, _STATS_DDL).collect()
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
    _seed_memos(df, path, add_bbox, {
        os.path.basename(r.file): (json.loads(r.geo), r.mark) for r in stats})
    return sum(r.rows for r in stats)


# One row per committed part file: its path, rows, ``geo`` document and
# envelope mark, as the writer kernel stamped them into the footer.
_STATS = pa.schema([("file", pa.string()), ("rows", pa.int64()),
                    ("geo", pa.string()), ("mark", pa.string())])
_STATS_DDL = "file string, rows long, geo string, mark string"

# The Spark types checked to come back from a part file as themselves
# under Spark's Parquet schema inference (tests/test_parquet_schema.py),
# and the containers built from them.
_ROUND_TRIP_TYPES = (
    T.LongType, T.IntegerType, T.ShortType, T.ByteType, T.DoubleType,
    T.FloatType, T.BooleanType, T.BinaryType, T.DateType, T.TimestampType,
    T.TimestampNTZType, T.DecimalType,
)


def _inferred_type(dt: T.DataType) -> T.DataType | None:
    """What Spark infers back from a part file for a column of Spark type
    ``dt`` written through Arrow by pyarrow: ``dt`` with every level
    nullable (a file source reads its data schema as nullable) and no
    field metadata (pyarrow writes no Spark schema into the footer).
    None for a type outside ``_ROUND_TRIP_TYPES``, strings and the
    containers of those."""
    if isinstance(dt, _ROUND_TRIP_TYPES) or dt == T.StringType():
        return dt
    if isinstance(dt, T.ArrayType):
        el = _inferred_type(dt.elementType)
        return None if el is None else T.ArrayType(el, True)
    if isinstance(dt, T.MapType):
        k, v = _inferred_type(dt.keyType), _inferred_type(dt.valueType)
        return None if k is None or v is None else T.MapType(k, v, True)
    if isinstance(dt, T.StructType):
        fields = [_inferred_type(f.dataType) for f in dt.fields]
        if any(f is None for f in fields):
            return None
        return T.StructType([T.StructField(f.name, t, True)
                             for f, t in zip(dt.fields, fields)])
    return None


def _seed_memos(df: DataFrame, path: str, add_bbox: bool,
                parts: dict[str, tuple[dict, str | None]]) -> None:
    """Seed the memos of a read of ``path`` from what this write
    committed, so that read launches no inference job and opens no
    footer: the manifest from the kernel's stats rows, and Spark's
    inferred schema from ``df.schema`` (``_inferred_type`` of each
    column, then the kernel's ``bbox``). Neither is seeded when the
    directory holds a file this write did not commit; the schema is not
    seeded when a column's type is outside the checked set, or when a
    session setting changes what Spark infers for binary or
    ``timestamp_ntz`` columns."""
    files = pio.file_set(path)
    if {rel for rel, _, _ in files} != set(parts):
        return
    _MANIFESTS[path] = (files, _manifest_of(parts))
    spark = df.sparkSession
    fields = [(f.name, _inferred_type(f.dataType)) for f in df.schema.fields]
    if add_bbox:
        fields.append(("bbox", _BBOX_TYPE))
    if any(t is None for _, t in fields):
        return
    conf = spark.conf
    if conf.get("spark.sql.parquet.binaryAsString").lower() != "false":
        return
    if any("timestamp_ntz" in t.simpleString() for _, t in fields) and conf.get(
            "spark.sql.parquet.inferTimestampNTZ.enabled").lower() != "true":
        return
    pio.seed_schema(spark, path, files,
                    T.StructType([T.StructField(n, t, True) for n, t in fields]))


@dataclass(frozen=True)
class Manifest:
    """What the footers of one GeoParquet dataset say, read once per file
    set: each part's ``geo`` document and envelope mark (None where the
    footer has none), the merged document of ``geo_metadata`` and the
    geometry column whose exact envelope the dataset's ``bbox`` is (the
    mark every part carries, else None)."""

    parts: dict[str, tuple[dict | None, str | None]]
    merged: dict | None
    envelope_of: str | None


# path -> (io.file_set(path), its Manifest); a rewrite changes the file
# set, so the next lookup misses and reads the footers again.
_MANIFESTS: dict[str, tuple[tuple, Manifest]] = {}


def _merge(docs: list[dict | None]) -> dict | None:
    """The dataset ``geo`` document of the parts' documents: the first
    part's, with every geometry column's extent and type union taken
    over all parts, and the ``covering`` kept only where every part
    declares the same one. A part without ``geo`` adds no extent or
    type, and it declares no covering."""
    first = next((i for i, d in enumerate(docs) if d is not None), None)
    if first is None:
        return None
    merged = copy.deepcopy(docs[first])
    for doc in docs[:first] + docs[first + 1:]:
        # Merge EVERY geometry column's per-file stats (multi-geometry
        # datasets carry one entry per column; exactly one is primary).
        for cname, a in merged["columns"].items():
            b = (doc or {}).get("columns", {}).get(cname, {})
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
    return merged


def _manifest_of(parts: dict[str, tuple[dict | None, str | None]]) -> Manifest:
    marks = {mark for _, mark in parts.values()}
    return Manifest(parts, _merge([doc for doc, _ in parts.values()]),
                    marks.pop() if len(marks) == 1 else None)


def _legacy_doc(md: dict) -> dict | None:
    """The reference's pre-spec ``geometry_fields`` footer entry in the
    spec shape, if ``md`` has one."""
    legacy = json.loads(md[LEGACY_KEY].decode("utf-8")) if LEGACY_KEY in md else None
    if not (isinstance(legacy, list) and legacy):
        return None
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
    }


def _read_manifest(path: str, files: tuple) -> Manifest:
    """The manifest of every file in ``files`` (``io.file_set(path)``),
    each footer opened once. A file pyarrow cannot open as Parquet has
    no ``geo`` and no mark. With no part in the spec form, the first
    part's legacy entry stands for the dataset."""
    parts: dict[str, tuple[dict | None, str | None]] = {}
    legacy = None
    for rel, _, _ in files:
        try:
            schema = pq.ParquetFile(os.path.join(path, rel) if rel else path).schema_arrow
        except (OSError, pa.ArrowException):
            parts[rel] = (None, None)
            continue
        md = schema.metadata or {}
        if legacy is None and not parts:
            legacy = _legacy_doc(md)
        bbox_md = schema.field("bbox").metadata if "bbox" in schema.names else None
        mark = (bbox_md or {}).get(ENVELOPE_OF.encode())
        parts[rel] = (json.loads(md[GEO_KEY].decode("utf-8")) if GEO_KEY in md else None,
                      mark.decode("utf-8") if mark else None)
    man = _manifest_of(parts)
    if man.merged is None and legacy is not None:
        man = Manifest(parts, legacy, None)
    return man


def manifest(path: str, files: tuple | None = None) -> Manifest:
    """The dataset manifest of ``path``, memoized per file set (``files``,
    when given, is ``io.file_set(path)`` as the caller listed it). A hit
    opens no footer; ``write_geoparquet`` seeds the entry of the dataset
    it has just committed. A path the driver cannot list (an empty file
    set) has no parts and is never memoized."""
    if files is None:
        files = pio.file_set(path)
    hit = _MANIFESTS.get(path)
    if hit is not None and hit[0] == files:
        return hit[1]
    man = _read_manifest(path, files)
    if files:
        _MANIFESTS[path] = (files, man)
    return man


def relation_mark(leaf) -> str | None:
    """The envelope mark of the files an analyzed plan leaf (a py4j
    ``LogicalPlan``) reads: its manifest's, when the leaf is a file
    relation over one local root path, else None. A field's
    ``envelope_of`` alone does not tie the mark to the files: Spark's
    Parquet writer stores field metadata in the footers it writes, and
    ``spark.read.schema`` puts a given schema's on any path."""
    if leaf.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = leaf.relation()
    if rel.getClass().getSimpleName() != "HadoopFsRelation":
        return None
    roots = rel.location().rootPaths()
    if roots.size() != 1:
        return None
    uri = roots.head().toUri()
    if uri.getScheme() not in (None, "file"):
        return None
    return manifest(uri.getPath()).envelope_of


def geo_metadata(path: str) -> dict | None:
    """Parse geo metadata from the dataset's part-file footers. Accepts
    the OGC spec form (``geo``) and the reference's legacy pre-spec form
    (``geometry_fields`` — normalized into the spec shape).

    Each part file carries its own true ``bbox`` / ``geometry_types``
    (stamped executor-side at write); this merges them into the
    dataset-level extent and type union over every part that has a
    ``geo`` key, and keeps the primary column's ``covering`` when every
    file declares the same one. Footers are read once per file set
    (``manifest``); the caller gets its own copy of the document."""
    return copy.deepcopy(manifest(path).merged)


# The field metadata keys ``read_geoparquet`` sets from the manifest.
_GEO_FIELD_KEYS = ("geo", "geo_primary", ENVELOPE_OF)


def _with_geo_fields(schema: T.StructType, man: Manifest) -> T.StructType:
    """``schema`` with the field metadata ``read_geoparquet`` promises:
    ``geo`` and ``geo_primary`` on every geometry column the merged
    document declares, and the envelope mark on ``bbox``. Only the
    manifest grants those keys: an inferred schema can carry them from
    the Spark schema that Spark's own Parquet writer stores in a footer
    (a union of a marked read with a padded frame keeps the first
    child's metadata), and there they say nothing of the files, so they
    are dropped wherever the manifest does not set them."""
    meta = man.merged
    fields = []
    for f in schema.fields:
        md = {k: v for k, v in f.metadata.items() if k not in _GEO_FIELD_KEYS}
        if meta is not None and f.name in meta["columns"]:
            md = {"geo": meta["columns"][f.name],
                  "geo_primary": f.name == meta["primary_column"]}
        elif f.name == "bbox" and man.envelope_of is not None:
            md = {ENVELOPE_OF: man.envelope_of}
        fields.append(T.StructField(f.name, f.dataType, f.nullable, md))
    return T.StructType(fields)


def read_geoparquet(spark: SparkSession, path: str) -> DataFrame:
    """GeoParquet scan: vectorized Spark parquet read (pushdown/pruning
    intact) given the memoized ``io.parquet_schema`` with the geo field
    metadata already on it, so a warm read lists the path once, opens no
    footer and launches no job. Every geometry column the footers
    declare carries its merged ``geo`` entry and ``geo_primary`` (true
    on the primary column only). WKB stays binary — decode is lazy,
    per-operator (the reference decodes every row up front,
    geoparquet/__init__.py:60≈ — the 100 TB anti-pattern). When every
    file carries the envelope mark (module docstring), the ``bbox``
    column's metadata names the geometry column it is the exact
    envelope of."""
    files = pio.file_set(path)
    man = manifest(path, files)
    schema = pio.parquet_schema(spark, path, files)
    return spark.read.schema(_with_geo_fields(schema, man)).parquet(path)
