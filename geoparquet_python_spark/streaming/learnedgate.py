"""Streaming learned-quality gate: ingest-time CLASSIFIER filtering
of a document stream, with the classifier trained in-engine on the
already-ingested corpus half (the fastText-style "model-based quality
filter" of CCNet-lineage pipelines, next to the LM-ratio DSIR gate in
dsirgate.py).

Composition: operators/regression.py's latticed 2-step IRLS trains
target-source-ness on the FROZEN half (doc_id % 2 = 0, the module
convention shared with the span screen and DSIR gate); the fitted
3-coefficient model is collected driver-side (ONE row of atomic
doubles — the bounded-collect pattern, same as Bloom words / k-means
centroids) and inlined as double literals into a STATELESS stream
projection. Each arriving document is scored eta = b0 + b1*tokens +
b2*distinct-tokens and gated KEEP iff eta clears the frozen half's
lower-median score (top-half selection — the top-p idiom of
classifier-based corpus filtering) — a map-only
per-microbatch plan: no state store, no watermark, no shuffle; at
100 TB of stream the gate cost is one fused projection per batch, and
the model refresh cadence is an orchestration choice (retrain on the
growing corpus, swap literals).

Exactness: the fit is bit-identical to the oracle's CTE chain
(regression.py's lattice contract), the collected doubles round-trip
exactly through py4j literals, and eta reuses the _ETA template's op
order — so every per-doc score hash-matches at the IEEE-bit level.

Batch≡stream: availableNow drains the whole table through the same
stateless plan, so the drained result equals the batch SQL the DuckDB
oracle runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geoparquet_python_spark.io import load_table
from geoparquet_python_spark.operators.dsir import _TARGET_SOURCES
from geoparquet_python_spark.operators.regression import (
    _ETA,
    _irls2,
    _sql_irls2_chain,
)
from geoparquet_python_spark.registry import query
from geoparquet_python_spark.streaming.source import (
    read_documents_stream,
    run_to_memory_table,
    table_rows,
)

_FROZEN_PRED = "doc_id % 2 = 0"

_SQL_GATE = f"""
    WITH gatefeats AS (
      SELECT CAST(source IN {_TARGET_SOURCES} AS BIGINT) AS y,
             CAST(len(str_split(text, ' ')) AS BIGINT) AS x1,
             CAST(len(list_distinct(str_split(text, ' '))) AS BIGINT) AS x2
      FROM documents WHERE {_FROZEN_PRED}
    ),{_sql_irls2_chain("gatefeats")},
    per_x AS (
      SELECT pred, CAST(COUNT(*) AS BIGINT) AS cnt FROM scored GROUP BY pred
    ),
    cum AS (
      SELECT pred, CAST(SUM(cnt) OVER (ORDER BY pred
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS crun
      FROM per_x
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM per_x),
    thr AS (
      SELECT MIN(pred) AS thr FROM cum CROSS JOIN tot
      WHERE crun >= (n + 1) // 2
    ),
    stream AS (
      SELECT doc_id, lang,
             CAST(len(str_split(text, ' ')) AS DOUBLE) AS x1d,
             CAST(len(list_distinct(str_split(text, ' '))) AS DOUBLE) AS x2d
      FROM documents
    )
    SELECT doc_id, lang, {_ETA} AS score, {_ETA} > thr AS keep
    FROM stream CROSS JOIN beta2 CROSS JOIN thr
    ORDER BY doc_id
"""


def _gate_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(F.expr(_FROZEN_PRED))
    toks = F.split(F.col("text"), " ")
    return d.select(
        F.col("source").isin(*_TARGET_SOURCES).cast("bigint").alias("y"),
        F.size(toks).cast("bigint").alias("x1"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("x2"),
    )


@query("q_stream_learned_quality_gate", oracle=_SQL_GATE)
def q_stream_learned_quality_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ingest-time learned filter: train target-source-ness on the
    frozen corpus half, threshold at the frozen half's own LOWER-MEDIAN
    score (a top-half selection gate — the top-p idiom of
    classifier-based corpus filtering; the order statistic is computed
    on the DISTINCT-SCORE frame, bounded by the feature grid, never an
    unpartitioned corpus sort), then inline the 3 fitted coefficients
    + threshold as literals and score/gate the document stream with a
    STATELESS map-only projection (see module docstring)."""
    from pyspark.sql import Window

    _, beta2, scored = _irls2(_gate_feats(spark, sf_dir))
    b = beta2.collect()[0]  # one row, three atomic doubles — bounded
    per_x = scored.groupBy("pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w = Window.orderBy("pred").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_x.select(
        "pred", F.sum("cnt").over(w).cast("bigint").alias("crun")
    )
    tot = per_x.agg(F.sum("cnt").cast("bigint").alias("n"))
    thr = (
        cum.crossJoin(tot)
        .where(F.expr("crun >= (n + 1) DIV 2"))
        .agg(F.min("pred").alias("thr"))
        .collect()[0]["thr"]
    )

    stream_docs = read_documents_stream(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    # _ETA's op order with the collected coefficients as exact double
    # literals: ((b0 + (b1 * x1d)) + (b2 * x2d)).
    x1d = F.size(toks).cast("double")
    x2d = F.size(F.array_distinct(toks)).cast("double")
    eta = (F.lit(b.b0) + (F.lit(b.b1) * x1d)) + (F.lit(b.b2) * x2d)
    gated = stream_docs.select(
        "doc_id",
        "lang",
        eta.alias("score"),
        (eta > F.lit(thr)).alias("keep"),
    )

    name = run_to_memory_table(
        gated,
        output_mode="append",
        source_rows=table_rows(spark, sf_dir, "documents"),
    )
    return spark.table(name).orderBy("doc_id")
