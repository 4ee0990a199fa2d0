"""Streaming source for the events table.

Same adapter as the batch path (io.load_table): the raw ``ts`` column
(int64 nanos or TIMESTAMP_NTZ, depending on testdata generation) is
normalized to a µs TimestampType — the queries built on top are
identical batch/stream (the Structured Streaming promise: one
DataFrame program, two run modes).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from geoparquet_python_spark.io import (
    normalize_event_ts,
    parquet_row_count,
    parquet_schema,
)
from geoparquet_python_spark.session import prepare

# Optimization r12 (guide §2, "make partitioning scale-adaptive"):
# streaming state-store partition count. Unlike batch shuffles, the
# stateful-operator partition count is NOT AQE-managed — it is frozen
# from spark.sql.shuffle.partitions at the first micro-batch, and every
# micro-batch then pays a fixed per-partition state-store open/commit
# cost (session.prepare already documents this). For an availableNow
# drain of a corpus-sized table, 32 state partitions of near-empty
# state cost ~0.65 s of pure store overhead at sf0.1 (measured:
# tumbling drain 1.72 s at 32 partitions vs 1.06 s at 8 on the same
# box). Size the count from the SOURCE'S OWN row count (parquet footer
# metadata — zero jobs), clamped to the session's parallelism-derived
# cap, so the same rule yields few partitions for a local test file
# and the full parallelism at weak-scaling replicas / cluster scale.
_ROWS_PER_STATE_PARTITION = 250_000
# ADVICE r12: sizing used to flow through a module-level accumulator
# (read_*_stream recorded, the next drain consumed), which leaked a
# built-but-never-drained stream's count into the next unrelated
# drain's sizing, and sized a second drain of the same stream with 0.
# Sizing input is now EXPLICIT: each drain site passes
# ``source_rows=table_rows(spark, sf_dir, <its source table>)`` — no
# cross-query state at all.


def table_rows(spark: SparkSession, sf_dir: str, table: str) -> int:
    """Footer row count of a stream's source table (zero jobs), for
    :func:`run_to_memory_table`'s state-partition sizing. Multi-source
    queries (stream-stream joins) pass the max of their sources. 0 on
    any failure (the drain then skips sizing)."""
    try:
        return parquet_row_count(spark, sf_dir, table)
    except Exception:
        return 0


def _suggest_state_partitions(spark: SparkSession, rows: int) -> int:
    cores = spark.sparkContext.defaultParallelism
    cap = max(2 * cores, 16)
    need = -(-rows // _ROWS_PER_STATE_PARTITION)  # ceil
    return max(4, min(need, cap))


def read_table_stream(
    spark: SparkSession, sf_dir: str, table: str
) -> DataFrame:
    """readStream over ``{sf_dir}/{table}.parquet``, layout-aware.

    The driver testdata ships each table as a single FILE next to its
    siblings, so the file-stream source (which wants a directory) gets
    the parent dir + a pathGlobFilter. Spark-written corpora — e.g. the
    weak-scaling replica corpus — write the table as a DIRECTORY of
    part files; there the glob form matches nothing (pathGlobFilter
    filters leaf FILES, and the parts are named part-*.parquet), so the
    source loads the directory itself. Round 12: this split is what
    lets the q_stream_* family run on replica corpora at all — before
    it, every streaming super-scaling leg would silently time an empty
    stream (the reason streaming was excluded from DEFAULT_QUERIES).

    Streaming sources need an explicit schema: the same memoized
    inferred schema ``load_table`` reads with (``io.parquet_schema``).
    """
    prepare(spark)
    path = f"{sf_dir}/{table}.parquet"
    reader = spark.readStream.schema(parquet_schema(spark, path)).format("parquet")
    if os.path.isdir(path):
        return reader.load(path)
    return reader.option("pathGlobFilter", f"{table}.parquet").load(sf_dir)


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the documents parquet (layout-aware — see
    read_table_stream)."""
    return read_table_stream(spark, sf_dir, "documents")


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with the ns→µs conversion
    (layout-aware — see read_table_stream)."""
    return normalize_event_ts(read_table_stream(spark, sf_dir, "events"))


def run_to_memory_table(
    stream_df: DataFrame,
    output_mode: str = "append",
    source_rows: int = 0,
) -> str:
    """Drain a streaming DataFrame with trigger(availableNow) into a
    uniquely-named in-memory sink; returns the table name.

    availableNow processes everything present then stops — this is the
    batch-parity harness (same code path as a continuous run, bounded
    input). Production sinks swap format('memory') for parquet/kafka.

    ``source_rows``: the drained stream's source row count for
    state-partition sizing — pass :func:`table_rows` of the source
    table (max over sources for stream-stream joins). 0 skips the
    sizing (session default partition count).
    """
    name = f"sink_{uuid.uuid4().hex[:12]}"
    spark = stream_df.sparkSession
    # Scale-adaptive state-partition count for THIS drain (see the
    # module note above): set spark.sql.shuffle.partitions only around
    # start() — the stream copies the session conf when it starts and
    # records the count in its offset log — and restore the session
    # value before the drain, so batch plans built meanwhile by other
    # threads are untouched. Stateless (map-only) streams simply have
    # no shuffle for the setting to size; harmless there.
    rows = source_rows
    prev = None
    if rows:
        try:
            prev = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(_suggest_state_partitions(spark, rows)),
            )
        except Exception:
            prev = None
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        if prev is not None:
            try:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
            except Exception:
                pass
    q.awaitTermination()
    return name
