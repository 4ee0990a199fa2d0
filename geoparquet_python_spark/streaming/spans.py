"""Streaming duplicated-span screening: positional k-gram shingles
over a document stream, matched against a static corpus shingle index
(E7 stream-static join × the spans.py substring-dedup machinery).

The ingestion-time face of span dedup: as documents arrive, each
positional shingle is checked against the EXISTING corpus's shingle
set; matched positions drain to the sink and the per-document maximal
spans + duplication burden are assembled on the drained table (batch
presentation of a streaming result — the sessionization pattern).
An ingest gate reads the burden to KEEP / TRIM / DROP before the
document ever lands in the corpus.

Scale: the stream stage is stateless (no watermark state — append
mode): per-microbatch shingling is the same in-row projection the
batch query uses, and the corpus side is a (shingle → min/max owner)
table — two int64s per distinct shingle, bucketed by shingle at
100 TB (or a bloom filter when only a boolean screen is needed; the
min/max owners are kept here so self-matches are excluded exactly).

Batch≡stream: availableNow drains the whole table through the same
plan, so the result equals the batch SQL — which is what the DuckDB
oracle runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from geoparquet_python_spark.io import load_table
from geoparquet_python_spark.operators.spans import (
    _K,
    positional_shingles_frame,
)
from geoparquet_python_spark.registry import query
from geoparquet_python_spark.streaming.source import (
    read_documents_stream,
    run_to_memory_table,
    table_rows,
)

# Static screening corpus: even doc_ids (the "already ingested" half).
_CORPUS_PRED = "doc_id % 2 = 0"


def _sql_stream_span_ctes() -> str:
    joins = "\n".join(
        f"      JOIN pos t{j} ON t{j}.doc_id = t0.doc_id AND t{j}.i = t0.i + {j}"
        for j in range(1, _K)
    )
    concat = " || ' ' || ".join(f"t{j}.w" for j in range(_K))
    return f"""
    pos AS (
      SELECT doc_id,
             unnest(str_split(text, ' ')) AS w,
             generate_subscripts(str_split(text, ' '), 1) AS i
      FROM documents
    ),
    psh AS (
      SELECT t0.doc_id, CAST(t0.i AS BIGINT) AS p, {concat} AS s
      FROM pos t0
{joins}
    ),
    corpus AS (
      SELECT s, MIN(doc_id) AS mn, MAX(doc_id) AS mx
      FROM psh WHERE {_CORPUS_PRED}
      GROUP BY s
    ),
    marked AS (
      -- psh is unique per (doc_id, p) and corpus unique per s, so the
      -- join emits at most one row per position: no DISTINCT needed
      -- (and none on the stream side, where dedup would mean state).
      SELECT h.doc_id, h.p
      FROM psh h
      JOIN corpus c ON c.s = h.s
                   AND (c.mn <> h.doc_id OR c.mx <> h.doc_id)
    ),
    isl AS (
      SELECT doc_id, p,
             SUM(CASE WHEN prev_p IS NULL OR p - prev_p > {_K}
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY p) AS island
      FROM (
        SELECT doc_id, p,
               lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev_p
        FROM marked
      )
    ),
    spans AS (
      SELECT doc_id, island,
             CAST(MAX(p) + {_K} - MIN(p) AS BIGINT) AS span_tokens
      FROM isl GROUP BY doc_id, island
    )"""


@query(
    "q_stream_span_screen",
    oracle=f"""
    WITH {_sql_stream_span_ctes()}
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens
    FROM spans
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def q_stream_span_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream every document's positional shingles against the static
    even-doc_id corpus index; per flagged doc, the count of maximal
    duplicated spans and the total duplicated tokens — the ingest-time
    KEEP / TRIM / DROP signal, computed before admission.

    Self-matches are excluded exactly: a corpus doc streamed against
    the index it belongs to only counts shingles ANOTHER corpus doc
    also owns (min/max owner ≠ self)."""
    stream_docs = read_documents_stream(spark, sf_dir)
    stream_sh = positional_shingles_frame(stream_docs)

    corpus = (
        positional_shingles_frame(
            load_table(spark, sf_dir, "documents").where(F.expr(_CORPUS_PRED))
        )
        .groupBy("s")
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
    )
    marked = (
        stream_sh.join(
            corpus,
            (stream_sh["s"] == corpus["s"])
            & ((F.col("mn") != stream_sh["doc_id"]) | (F.col("mx") != stream_sh["doc_id"])),
        )
        .select(stream_sh["doc_id"], "p")
    )

    name = run_to_memory_table(
        marked,
        output_mode="append",
        source_rows=table_rows(spark, sf_dir, "documents"),
    )
    drained = spark.table(name)

    w = Window.partitionBy("doc_id").orderBy("p")
    brk = F.when(
        F.lag("p").over(w).isNull() | (F.col("p") - F.lag("p").over(w) > _K),
        F.lit(1),
    ).otherwise(F.lit(0))
    isl = drained.withColumn(
        "island",
        F.sum(brk).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = isl.groupBy("doc_id", "island").agg(
        (F.max("p") + _K - F.min("p")).cast("bigint").alias("span_tokens")
    )
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum("span_tokens").cast("bigint").alias("dup_tokens"),
        )
        .orderBy("doc_id")
    )
