"""Query over the Spark-4 Python Data Source (sources/synthetic.py):
proves the custom-source escape hatch end-to-end with a byte-exact
oracle — the DuckDB side REGENERATES the same content-addressed corpus
in SQL and must match a per-group 60-bit text checksum, so any
divergence in the source (schema, option handling, partition
boundaries, generation logic) hash-fails."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geoparquet_python_spark.functions.text import md5_long
from geoparquet_python_spark.registry import query
from geoparquet_python_spark.session import prepare
from geoparquet_python_spark.sources.synthetic import register

_ROWS = 1000
_PARTS = 8


@query(
    "q_pyds_synthetic_scan",
    oracle=f"""
    WITH ids AS (SELECT unnest(generate_series(0, {_ROWS - 1})) AS doc_id),
    toks AS (
      SELECT ids.doc_id, j.j,
             substr(md5(ids.doc_id || ':' || j.j), 1, 6) AS tok
      FROM ids, LATERAL (
        SELECT unnest(generate_series(0, 2 + ids.doc_id % 5)) AS j
      ) j
    ),
    texts AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY j) AS text
      FROM toks GROUP BY doc_id
    )
    SELECT CAST(3 + doc_id % 5 AS INT) AS n_tokens,
           COUNT(*) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(SUM(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)
                    % 1000000007) AS BIGINT) AS text_checksum
    FROM texts
    GROUP BY 1
    ORDER BY n_tokens
    """,
)
def q_pyds_synthetic_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read {ROWS} content-addressed docs through the registered
    ``synthetic_docs`` Python data source ({PARTS} InputPartitions —
    a genuinely parallel scan), then aggregate per token-count bucket
    with a summed md5 checksum (60-bit hash mod 1e9+7 per doc — the
    sum of ≤250 such terms stays far inside int64) over every text
    byte. sf_dir is
    unused: the source generates; the oracle regenerates in SQL.
    """
    prepare(spark)
    register(spark)
    docs = (
        spark.read.format("synthetic_docs")
        .option("rows", _ROWS)
        .option("partitions", _PARTS)
        .load()
    )
    return (
        docs.groupBy(
            F.size(F.split("text", " ")).cast("int").alias("n_tokens")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.sum(md5_long(F.col("text")) % 1000000007).cast("bigint").alias(
                "text_checksum"
            ),
        )
        .orderBy("n_tokens")
    )


_STREAM_ROWS = 250
_STREAM_BATCH = 100


@query(
    "q_pyds_stream_scan",
    oracle=f"""
    WITH ids AS (
      SELECT unnest(generate_series(0, {_STREAM_ROWS - 1})) AS doc_id
    ),
    toks AS (
      SELECT ids.doc_id, j.j,
             substr(md5(ids.doc_id || ':' || j.j), 1, 6) AS tok
      FROM ids, LATERAL (
        SELECT unnest(generate_series(0, 2 + ids.doc_id % 5)) AS j
      ) j
    ),
    texts AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY j) AS text
      FROM toks GROUP BY doc_id
    )
    SELECT CAST(3 + doc_id % 5 AS INT) AS n_tokens,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)
                    % 1000000007) AS BIGINT) AS text_checksum
    FROM texts
    GROUP BY 1
    ORDER BY n_tokens
    """,
)
def q_pyds_stream_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING read through the same Python data source
    (SimpleDataSourceStreamReader): {ROWS} docs arrive in micro-batches
    of {BATCH} (genuinely 3 batches — Spark's availableNow falls back
    to single-batch for Python stream sources, so the drain polls the
    stream's progress until the offset-bounded stream is exhausted, then
    stops). Content-addressed generation makes the offsets replayable, so
    the drained result equals the batch regeneration the oracle runs —
    the exactly-once story for a custom streaming source.
    """
    import time
    import uuid

    prepare(spark)
    register(spark)
    stream = (
        spark.readStream.format("synthetic_docs")
        .option("rows", _STREAM_ROWS)
        .option("batch", _STREAM_BATCH)
        .load()
    )
    name = f"sink_{uuid.uuid4().hex[:12]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        # A batch's progress is reported once the sink has committed it,
        # and reading it launches no job, so the jobs this construction
        # runs do not depend on how long the micro-batches take.
        while sum(p["numInputRows"] for p in q.recentProgress) < _STREAM_ROWS:
            if time.time() > deadline:
                raise TimeoutError("stream drain did not finish")
            time.sleep(0.2)
    finally:
        q.stop()
    return (
        spark.table(name)
        .groupBy(F.size(F.split("text", " ")).cast("int").alias("n_tokens"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(md5_long(F.col("text")) % 1000000007)
            .cast("bigint")
            .alias("text_checksum"),
        )
        .orderBy("n_tokens")
    )


@query(
    "q_pyds_writer_roundtrip",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)
                    % 1000000007) AS BIGINT) AS text_cksum
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_pyds_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITER face of the Python Data Source API (DataSourceWriter):
    push `documents` through the custom manifest-committed JSONL sink
    — each task writes part-{pid}-{uuid}.jsonl and returns a commit
    message; only driver-committed files reach _MANIFEST.json — then
    read back ONLY the manifest-listed files and aggregate per-lang
    counts + an order-independent text checksum. Equality with the
    oracle's direct aggregate over the parquet table proves (a) the
    V2 commit protocol surfaced every committed row exactly once and
    (b) the JSON round-trip is byte-faithful. The read honoring only
    the manifest is what makes aborted-attempt files invisible — the
    exactly-once visibility contract, exercised end to end.
    """
    import json
    import os
    import tempfile

    from geoparquet_python_spark.io import load_table, run_scratch_dir
    from geoparquet_python_spark.operators.jsonio import _SCHEMA

    prepare(spark)
    register(spark)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", "n_chars"
    )
    path = run_scratch_dir(spark, "pyds_w", sf_dir)
    d.write.format("synthetic_docs").mode("overwrite").save(path)
    with open(os.path.join(path, "_MANIFEST.json")) as fh:
        manifest = json.load(fh)
    files = [os.path.join(path, f["name"]) for f in manifest["files"]]
    back = spark.read.schema(_SCHEMA).json(files)
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(md5_long(F.col("text")) % 1000000007)
            .cast("bigint")
            .alias("text_cksum"),
        )
        .orderBy("lang")
    )


_PD_LO, _PD_HI = 100, 300


@query(
    "q_pyds_pushdown_scan",
    oracle=f"""
    WITH ids AS (
      SELECT unnest(generate_series({_PD_LO}, {_PD_HI - 1})) AS doc_id
    ),
    toks AS (
      SELECT ids.doc_id, j.j,
             substr(md5(ids.doc_id || ':' || j.j), 1, 6) AS tok
      FROM ids, LATERAL (
        SELECT unnest(generate_series(0, 2 + ids.doc_id % 5)) AS j
      ) j
    ),
    texts AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY j) AS text
      FROM toks GROUP BY doc_id
    )
    SELECT CAST(3 + doc_id % 5 AS INT) AS n_tokens,
           COUNT(*) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc,
           CAST(SUM(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)
                    % 1000000007) AS BIGINT) AS text_checksum
    FROM texts
    GROUP BY 1
    ORDER BY n_tokens
    """,
)
def q_pyds_pushdown_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER PUSHDOWN through the Python Data Source (Spark 4.1
    `pushFilters`): a doc_id range predicate reaches the reader,
    which narrows its GENERATION range — filtered ids are never
    produced, the strongest form of pushdown (the database/API-source
    scenario the API exists for). The oracle regenerates exactly the
    narrowed range, so if pushdown silently widened or shifted the
    range, min/max/count/checksum all hash-fail; non-pushable
    predicates stay residual and are Spark-evaluated (unit-tested in
    tests/test_layout.py)."""
    prepare(spark)
    register(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    docs = (
        spark.read.format("synthetic_docs")
        .option("rows", _ROWS)
        .option("partitions", _PARTS)
        .load()
        .where(
            (F.col("doc_id") >= _PD_LO) & (F.col("doc_id") < _PD_HI)
        )
    )
    return (
        docs.groupBy(
            F.size(F.split("text", " ")).cast("int").alias("n_tokens")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.max("doc_id").cast("bigint").alias("last_doc"),
            F.sum(md5_long(F.col("text")) % 1000000007).cast("bigint").alias(
                "text_checksum"
            ),
        )
        .orderBy("n_tokens")
    )
