"""Streaming near-duplicate screening: MinHash-LSH over a document
stream against a static corpus (E7 stream-static join x F2 banding).

The ingestion-time shape of dedup: as new documents arrive they are
banded with the SAME fused signature projection the batch pipeline
uses (operators/dedup.minhash_bands — stateless transforms + one
explode, so it lifts to a stream unchanged) and equi-joined against
the static corpus's band table. A match = the incoming doc agrees
with some corpus doc on a full band — the standard LSH screen that
gates admission before any expensive exact refine.

Scale: the stream side is per-microbatch work; the static band table
is a regular DataFrame on the join's other side (Spark re-plans it per
microbatch — at 100 TB you keep it compact: band tables are 3 narrow
columns, bucketed by (band, sig), or reduced to a bloom filter of
band signatures when only a boolean screen is needed). The join is
stateless (no watermark state): candidate emission is append-mode.

Batch≡stream: availableNow drains the whole table through the same
plan, so the result equals the batch SQL join — which is exactly what
the DuckDB oracle runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geoparquet_python_spark.functions.text import shingle_sets, sql_shingles_cte
from geoparquet_python_spark.io import load_table
from geoparquet_python_spark.operators.dedup import _sql_minhash, minhash_bands
from geoparquet_python_spark.registry import query
from geoparquet_python_spark.streaming.source import (
    read_documents_stream,
    run_to_memory_table,
    table_rows,
)

# Static screening corpus: even doc_ids (deterministic half of the
# table); the stream plays every document against it.
_CORPUS_PRED = "doc_id % 2 = 0"


@query(
    "q_stream_neardup_screen",
    oracle=f"""
    WITH {sql_shingles_cte(k=3)},
    {_sql_minhash()},
    corpus AS (
      SELECT doc_id, band, sig FROM bands WHERE {_CORPUS_PRED}
    ),
    matches AS (
      SELECT s.doc_id, s.band, MIN(c.doc_id) AS min_match
      FROM bands s
      JOIN corpus c ON c.band = s.band AND c.sig = s.sig
                   AND c.doc_id <> s.doc_id
      GROUP BY s.doc_id, s.band
    )
    SELECT doc_id,
           COUNT(*) AS n_matched_bands,
           MIN(min_match) AS min_match_doc
    FROM matches
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def q_stream_neardup_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream every document through the LSH band screen against the
    static even-doc_id corpus; report, per flagged doc, how many of its
    16 bands hit the corpus and the smallest matching corpus doc.

    The STREAM stage is the banding + stateless stream-static join
    (append mode, no state store); the per-doc rollup happens on the
    drained sink table — batch presentation of a streaming result,
    like the sessionization queries. Oracle: the identical join in
    DuckDB over the full table (batch≡stream under availableNow).
    """
    # Docs shorter than k tokens have an EMPTY shingle array: every
    # minhash slot would be NULL and concat_ws would collapse each band
    # sig to the same empty string, band-matching every short stream doc
    # to every short corpus doc. The oracle's sh CTE naturally emits no
    # rows for them, so drop them here BEFORE banding — on both sides.
    stream = read_documents_stream(spark, sf_dir)
    stream_bands = minhash_bands(shingle_sets(stream).where(F.size("sh") > 0))

    corpus = load_table(spark, sf_dir, "documents").where(F.expr(_CORPUS_PRED))
    corpus_docs = shingle_sets(corpus).where(F.size("sh") > 0)
    corpus_bands = minhash_bands(corpus_docs).select(
        F.col("doc_id").alias("corpus_doc"),
        F.col("band").alias("cband"),
        F.col("sig").alias("csig"),
    )

    matches = stream_bands.join(
        corpus_bands,
        (F.col("band") == F.col("cband"))
        & (F.col("sig") == F.col("csig"))
        & (F.col("doc_id") != F.col("corpus_doc")),
    ).select("doc_id", F.col("band").alias("sband"), "corpus_doc")

    name = run_to_memory_table(
        matches,
        output_mode="append",
        source_rows=table_rows(spark, sf_dir, "documents"),
    )
    drained = spark.table(name)
    per_band = drained.groupBy("doc_id", "sband").agg(
        F.min("corpus_doc").alias("min_match")
    )
    return (
        per_band.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched_bands"),
            F.min("min_match").alias("min_match_doc"),
        )
        .orderBy("doc_id")
    )
