"""Table loading for the driver-generated star schema.

Reference parity: the reference's only scan is ``pq.read_table(path)``
(geoparquet/__init__.py:50≈ — reads all columns eagerly, no pushdown).
Here every scan is a lazy ``spark.read.parquet`` DataFrame, so Catalyst
column pruning and Parquet row-group predicate pushdown apply for free
(SURVEY.md §4.2); at 100 TB that is the difference between reading the
footprint of the query and reading the table.

Every Parquet read in the package goes through :func:`parquet_schema`,
so only the first read of a file set spends Spark's schema-inference
job. Memo policy: the memo holds Spark's own inferred ``StructType`` —
catalog metadata, the role a metastore plays, not a derived result — so
``registry.clear_derived_caches()`` does not clear it and a timed rerun
does not re-infer. It is keyed by the session (held weakly), the path
and the ``(name, size, st_mtime_ns)`` of every non-hidden file under
the path: a rewrite misses the memo and infers again, and each path
keeps only its latest entry. A path the driver cannot list (a URI such
as ``s3a://`` or ``file:/``) is never memoized: it infers on every
read. A miss returns the inferring read itself, so a first read costs
what it did without the memo. The schema is never built from the
pyarrow footer, which gives ``timestamp`` where Spark infers
``timestamp_ntz``.

One writer seeds entries (``seed_schema``): ``geo.io.write_geoparquet``
memoizes, under the file set it has just committed, the schema it knows
Spark infers from those files — its input's Spark schema made nullable
at every level, without field metadata, plus its ``bbox`` struct — for
the column types checked to infer back as themselves, and only when no
other file sits in the directory (geo/io.py). That is the same
``StructType`` the inference would give, so the first read of a fresh
write runs no job.
"""

from __future__ import annotations

import os
import re
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geoparquet_python_spark.session import prepare

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Dimension tables small enough to broadcast at ANY scale factor (they
# scale sublinearly or not at all in TPC-H-like schemas). Joins against
# these should never shuffle the fact side.
BROADCAST_TABLES = {"region", "nation", "supplier"}


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to session-TZ TimestampType.

    The driver has shipped this column in two physical forms across
    testdata generations: parquet TIMESTAMP(NANOS) (which Spark 4
    surfaces as raw int64 under ``nanosAsLong``) and plain
    TIMESTAMP(MICROS) without a timezone (Spark's TIMESTAMP_NTZ).
    Adapt on the *schema we actually read*, not on an assumed one, so
    both generations load identically. Session TZ is pinned to UTC
    (session.py), so NTZ→TZ is a pure re-tag: collected values match
    the DuckDB oracle bit-for-bit either way.
    """
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        # Raw int64 nanos → µs. Integer DIV (not double /): ns values
        # ~1.7e18 exceed double's 2^53 exact-integer range. (Truncation
        # toward zero == floor for post-1970 data; this table is 2024.)
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


_SCHEMAS: weakref.WeakKeyDictionary[
    SparkSession, dict[str, tuple[tuple, T.StructType]]
] = weakref.WeakKeyDictionary()


def file_set(path: str) -> tuple:
    """``(name, size, st_mtime_ns)`` of every file Spark would list under
    ``path``: names starting with ``_`` or ``.`` (commit markers, temp
    parts) are skipped, as Spark skips them."""
    if not os.path.isdir(path):
        try:
            st = os.stat(path)
        except OSError:
            return ()
        return (("", st.st_size, st.st_mtime_ns),)
    out = []
    for d, dirs, files in os.walk(path):
        dirs[:] = sorted(x for x in dirs if not x.startswith(("_", ".")))
        for f in sorted(files):
            if f.startswith(("_", ".")):
                continue
            full = os.path.join(d, f)
            try:
                st = os.stat(full)
            except OSError:
                continue  # removed while listing: the next read re-keys
            out.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(out)


def _memo_lookup(
    spark: SparkSession, path: str, files: tuple | None = None
) -> tuple[tuple, T.StructType | None]:
    """The file set under ``path`` (listed here unless given) and the
    schema memoized for it, if any."""
    if files is None:
        files = file_set(path)
    hit = _SCHEMAS.get(spark, {}).get(path)
    return files, (hit[1] if hit is not None and hit[0] == files else None)


def _inferring_read(spark: SparkSession, path: str, files: tuple) -> DataFrame:
    """``spark.read.parquet(path)``, its inferred schema memoized under
    ``files`` (listed before inferring: a rewrite racing the inference
    leaves an entry keyed by the old files, which the next read misses).
    An empty file set (a URI such as ``s3a://`` or ``file:/``, or a path
    not visible here) is never memoized: no entry could see a rewrite."""
    df = spark.read.parquet(path)
    seed_schema(spark, path, files, df.schema)
    return df


def seed_schema(
    spark: SparkSession, path: str, files: tuple, schema: T.StructType
) -> None:
    """Memoize ``schema`` as Spark's inferred schema of ``path`` under
    ``files``: the inferring read's own, or what a writer knows Spark
    infers from the files it has just committed (module docstring). An
    empty file set is never memoized."""
    if files:
        _SCHEMAS.setdefault(spark, {})[path] = (files, schema)


def parquet_schema(
    spark: SparkSession, path: str, files: tuple | None = None
) -> T.StructType:
    """Spark's inferred schema of the Parquet data at ``path``, memoized
    per session and file set (see the module docstring for the policy);
    ``files``, when given, is ``file_set(path)`` as the caller listed it.
    ``spark.read.schema(parquet_schema(spark, p)).parquet(p)`` equals
    ``spark.read.parquet(p)`` without its inference job once warm."""
    files, schema = _memo_lookup(spark, path, files)
    return schema if schema is not None else _inferring_read(spark, path, files).schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the memoized schema; a miss is
    the inferring read itself."""
    files, schema = _memo_lookup(spark, path)
    if schema is None:
        return _inferring_read(spark, path, files)
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    prepare(spark)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def parquet_row_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Table row count from Parquet FOOTER metadata — zero Spark jobs.

    Sizing decisions made before the main query (e.g. packing's
    shard_count) used to spend a full ``df.count()`` job per query; at
    100 TB a count-before-plan is an extra pass over the table. Parquet
    footers already carry exact row counts, so read them driver-side
    with pyarrow (single file or a directory of part files) and fall
    back to ``count()`` only for non-Parquet inputs. tests/test_plans
    asserts query *construction* launches no jobs."""
    path = f"{sf_dir}/{name}.parquet"
    try:
        import pyarrow.parquet as pq

        return sum(
            frag.metadata.num_rows for frag in pq.ParquetDataset(path).fragments
        )
    except Exception:
        return load_table(spark, sf_dir, name).count()


_SCRATCH_REGISTERED: set[str] = set()
_STALE_SWEPT = False
_STALE_AGE_S = 24 * 3600


def register_scratch(path: str) -> str:
    """Track a scratch path for END-OF-PROCESS cleanup and, once per
    process, sweep STALE scratch dirs left by dead runs.

    The applicationId keying that fixed the concurrent-run race
    (round 7) also meant every session leaked its scratch copies in
    the temp dir forever, where the old per-sf paths were at least
    reused (ADVICE r7). Two-part fix: (a) an atexit hook removes this
    process's own paths — atexit rather than a SparkContext stop hook
    because bench/driver sessions are stopped and restarted within one
    process while the paths are still reused across those sessions;
    (b) a sweep clears dirs whose owning process died before its hook
    ran — gated on BOTH age (> 24 h mtime) and owner liveness (ADVICE
    r8: a live session can legitimately hold scratch written > 24 h
    ago — e.g. a bucketed table registered early in a long run — so
    mtime alone could delete it out from under that session). The
    owner's pid rides in the dir name (`..._p<pid>` suffix,
    run_scratch_dir); a dir is swept only when that pid no longer
    exists. Pid-reuse false-negatives just defer cleanup to a later
    sweep; legacy dirs without the suffix stay age-only."""
    import atexit
    import shutil
    import tempfile as _tempfile
    import time as _time

    global _STALE_SWEPT
    if not _SCRATCH_REGISTERED:
        atexit.register(
            lambda: [
                shutil.rmtree(p, ignore_errors=True)
                for p in _SCRATCH_REGISTERED
            ]
        )
    _SCRATCH_REGISTERED.add(path)
    if not _STALE_SWEPT:
        _STALE_SWEPT = True
        tmp = _tempfile.gettempdir()
        cutoff = _time.time() - _STALE_AGE_S
        try:
            for name in os.listdir(tmp):
                if not name.startswith("spark_graft_"):
                    continue
                full = os.path.join(tmp, name)
                try:
                    if not (
                        os.path.isdir(full) and os.path.getmtime(full) < cutoff
                    ):
                        continue
                    m = re.search(r"_p(\d+)$", name)
                    if m and _pid_alive(int(m.group(1))):
                        continue  # owner still running — not stale
                    shutil.rmtree(full, ignore_errors=True)
                except OSError:
                    continue
        except OSError:
            pass
    return path


def _pid_alive(pid: int) -> bool:
    """True when a process with this pid exists (signal-0 probe;
    EPERM counts as alive — it exists, just isn't ours)."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    except OSError:
        return True
    return True


def run_scratch_dir(spark: SparkSession, label: str, sf_dir: str = "") -> str:
    """Session-unique scratch directory for queries that round-trip
    through a temp dataset (GeoParquet/JSONL/CSV/ORC/IVFPQ stores).

    The path carries the Spark applicationId: a path keyed only by the
    scale factor races when two concurrent runs hit the same sf — one
    run's mode=overwrite DELETE lands between the other's listing and
    read, yielding flaky FileNotFound/corrupt reads (round-6 ADVICE on
    the IVFPQ cell store; every fixed-tempdir round-trip shared the
    hazard). applicationId is unique per SparkContext, so concurrent
    drivers never collide and repeated calls within one session still
    reuse/overwrite their own path (bench best-of-N friendly).
    Registered for end-of-process cleanup (register_scratch); the
    trailing `_p<pid>` marks the owner for the liveness-gated stale
    sweep."""
    import tempfile as _tempfile

    sfl = os.path.basename(os.path.normpath(sf_dir)) if sf_dir else ""
    app = spark.sparkContext.applicationId
    return register_scratch(
        os.path.join(
            _tempfile.gettempdir(),
            f"spark_graft_{label}_{app}_{sfl}_p{os.getpid()}",
        )
    )
