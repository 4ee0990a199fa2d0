"""Streaming DSIR quality gate: ingest-time importance scoring of a
document stream against LMs trained on the EXISTING corpus (E7
stream-static join × the operators/dsir.py selection machinery).

The ingestion-time face of DSIR data selection: the batch query
(q_dsir_importance_selection) scores a finished pool; this gate
scores documents AS THEY ARRIVE, against a frozen (term → log-ratio)
table built from the already-ingested half of the corpus, and labels
each KEEP (target-like, mean ratio ≥ 0) or REVIEW before it lands.

Scale: the stream stage is stateless (append mode, no watermark
state) — per-microbatch tokenization is an in-row explode and the
ratio side is two int64 columns per distinct known term, bucketed by
term at 100 TB exactly like the span screen's shingle index. Unseen
terms drop at the inner join by design: the gate scores the KNOWN
vocabulary and reports n_scored so a too-low coverage is itself a
reviewable signal (the OOV face is q_vocab_oov_rate's).

Batch≡stream: availableNow drains the whole table through the same
plan, so the drained result equals the batch SQL the DuckDB oracle
runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geoparquet_python_spark.functions.exact import broadcast_narrow
from geoparquet_python_spark.functions.text import tokens
from geoparquet_python_spark.io import load_table
from geoparquet_python_spark.operators.dsir import _TARGET_SOURCES
from geoparquet_python_spark.registry import query
from geoparquet_python_spark.streaming.source import (
    read_documents_stream,
    run_to_memory_table,
    table_rows,
)

# Frozen LM corpus: even doc_ids (the "already ingested" half — the
# same convention as the streaming span screen's shingle index).
_LM_PRED = "doc_id % 2 = 0"


def _ratio_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term, lpd): fixed-point ln p_target − ln p_raw with add-one
    smoothing over the frozen half's vocabulary — operators/dsir.py's
    ratio table restricted to the static corpus half."""
    d = load_table(spark, sf_dir, "documents").where(F.expr(_LM_PRED))
    tok = d.select(
        F.col("source").isin(*_TARGET_SOURCES).alias("is_target"),
        F.explode(tokens("text")).alias("term"),
    )
    freq = tok.groupBy("term").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0))
        .cast("bigint")
        .alias("c_t"),
        F.sum(F.when(F.col("is_target"), 0).otherwise(1))
        .cast("bigint")
        .alias("c_r"),
    )
    tot = freq.agg(
        F.sum("c_t").cast("bigint").alias("n_t"),
        F.sum("c_r").cast("bigint").alias("n_r"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    lp_t = F.round(
        F.log(
            (F.col("c_t") + F.lit(1.0))
            / (F.col("n_t") + F.col("v")).cast("double")
        )
        * 1e6
    ).cast("bigint")
    lp_r = F.round(
        F.log(
            (F.col("c_r") + F.lit(1.0))
            / (F.col("n_r") + F.col("v")).cast("double")
        )
        * 1e6
    ).cast("bigint")
    return freq.crossJoin(broadcast_narrow(tot)).select(
        "term", (lp_t - lp_r).alias("lpd")
    )


_SQL_GATE = f"""
    WITH tok AS (
      SELECT CASE WHEN source IN {_TARGET_SOURCES} THEN TRUE ELSE FALSE END
               AS is_target,
             unnest(str_split(text, ' ')) AS term
      FROM documents WHERE {_LM_PRED}
    ),
    freq AS (
      SELECT term,
             CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT)
               AS c_t,
             CAST(SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS BIGINT)
               AS c_r
      FROM tok GROUP BY term
    ),
    tot AS (
      SELECT CAST(SUM(c_t) AS BIGINT) AS n_t,
             CAST(SUM(c_r) AS BIGINT) AS n_r,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM freq
    ),
    lp AS (
      SELECT term,
             CAST(round(ln((c_t + 1.0) / (n_t + v)) * 1000000) AS BIGINT)
           - CAST(round(ln((c_r + 1.0) / (n_r + v)) * 1000000) AS BIGINT)
               AS lpd
      FROM freq CROSS JOIN tot
    ),
    stream_tok AS (
      SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_scored,
           CAST(SUM(l.lpd) AS BIGINT) AS llr_fp,
           CAST(SUM(l.lpd) AS BIGINT) >= 0 AS keep
    FROM stream_tok s JOIN lp l ON l.term = s.term
    GROUP BY s.doc_id
    ORDER BY s.doc_id
"""


@query("q_stream_dsir_gate", oracle=_SQL_GATE)
def q_stream_dsir_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time DSIR gate: the document stream's tokens are scored
    by a stream-static join against the frozen (term → log-ratio)
    table; per-token contributions drain to the sink and the per-doc
    verdict (KEEP iff the summed ratio ≥ 0, i.e. the doc looks more
    target than raw) is assembled on the drained table — the span
    screen's stateless-screen / batch-assemble composition applied to
    quality instead of duplication."""
    stream_docs = read_documents_stream(spark, sf_dir)
    stream_tok = stream_docs.select(
        "doc_id", F.explode(tokens("text")).alias("term")
    )
    ratio = _ratio_frame(spark, sf_dir)
    scored = stream_tok.join(ratio, "term").select("doc_id", "lpd")

    name = run_to_memory_table(
        scored,
        output_mode="append",
        source_rows=table_rows(spark, sf_dir, "documents"),
    )
    drained = spark.table(name)
    return (
        drained.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_scored"),
            F.sum("lpd").cast("bigint").alias("llr_fp"),
        )
        .select(
            "doc_id",
            "n_scored",
            "llr_fp",
            (F.col("llr_fp") >= 0).alias("keep"),
        )
        .orderBy("doc_id")
    )
