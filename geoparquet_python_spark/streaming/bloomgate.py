"""Streaming Bloom dedup gate: ingest-time exact-duplicate screening
of a document stream against a Bloom filter of the existing corpus's
content hashes — the Dolma-deduper shape (AllenAI's corpus dedup IS a
Bloom filter over document/paragraph hashes; public tooling), fused
with this repo's stream-static confirm step.

A new document whose hash MISSES the filter is guaranteed unseen (no
false negatives) and can land without touching the corpus at all; a
HIT is only *maybe* seen and goes to the exact confirm join, which at
a well-sized m/n touches ~(dup_rate + fp_rate) of the stream instead
of all of it. That asymmetry is the entire point at 100 TB: the
filter is a few MB broadcast riding INSIDE the stateless stream
projection (no state store, no watermark, append mode), and the
expensive hash-keyed corpus join runs only for the sliver the filter
could not clear.

Determinism: content key = md5(text) hex; bit positions come from ONE
salted md5_long("bfs_" || key) evaluation expanded by Kirsch–
Mitzenmacher double hashing (operators/bloomjoin.py's convention — one
md5 per probed row instead of three since r9; 63 usable bits per int64
word so neither engine shifts into the sign bit), so bloom_hit and
even the false-positive flags are oracle-exact booleans.

Batch≡stream: availableNow drains the whole documents table through
the same stateless plan, so the drained result equals the batch SQL
the DuckDB oracle runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geoparquet_python_spark.functions.text import SQL_MD5_LONG
from geoparquet_python_spark.io import load_table
from geoparquet_python_spark.operators.bloomjoin import (
    _dense_words,
    _h_expr,
    _m_bits,
    _spark_pass_expr,
    _spark_positions_arr,
    _sql_msize_cte,
    _sql_positions_list,
)
from geoparquet_python_spark.registry import query
from geoparquet_python_spark.streaming.source import (
    read_documents_stream,
    run_to_memory_table,
    table_rows,
)

# Frozen "already ingested" corpus half (same convention as the
# streaming span screen and DSIR gate).
_HALF_PRED = "doc_id % 2 = 0"
_N_HASH = 3


def _filter_words(spark: SparkSession, sf_dir: str) -> tuple[list[int], int]:
    """(dense word list, m) of the Bloom filter over the frozen half's
    md5(text) content keys — one narrow count sizes m, one narrow
    aggregate builds the bits; <= m/63 rows collected (key-count
    bounded by construction). m auto-sizes from the frozen-half row
    count (16-32 bits/key) like the batch filter — the round-7
    fixed-65536 constant was sized for the toy corpus only (ADVICE r7).
    Positions use bloomjoin's KM expansion with this gate's 'bfs' salt."""
    d = load_table(spark, sf_dir, "documents").where(F.expr(_HALF_PRED))
    m = _m_bits(d.count())
    words = (
        d.select(
            F.explode(
                F.expr(_spark_positions_arr("md5(text)", m, salt="bfs"))
            ).alias("pos")
        )
        .select(
            F.expr("CAST(pos DIV 63 AS BIGINT)").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))"
            ).alias("mask"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
        .collect()
    )
    return _dense_words(words, m), m


_SQL_GATE = f"""
    WITH frozen AS (
      SELECT md5(text) AS k FROM documents WHERE {_HALF_PRED}
    ),
    {_sql_msize_cte("SELECT COUNT(*) FROM frozen")},
    hp AS (
      SELECT k, unnest({_sql_positions_list()}) AS pos
      FROM (SELECT k, {_h_expr(SQL_MD5_LONG, "k", salt="bfs")} AS h FROM frozen)
    ),
    words AS (
      SELECT pos // 63 AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INTEGER)) AS bits
      FROM hp GROUP BY 1
    ),
    probe AS (
      SELECT doc_id, md5(text) AS k FROM documents
    ),
    pp AS (
      SELECT doc_id, k, unnest({_sql_positions_list()}) AS pos
      FROM (SELECT doc_id, k, {_h_expr(SQL_MD5_LONG, "k", salt="bfs")} AS h
            FROM probe)
    ),
    tested AS (
      SELECT p.doc_id, MIN(p.k) AS k,
             SUM(CASE WHEN (w.bits >> CAST(p.pos % 63 AS INTEGER)) & 1 = 1
                      THEN 1 ELSE 0 END) AS n_set
      FROM pp p LEFT JOIN words w ON w.word = p.pos // 63
      GROUP BY p.doc_id
    ),
    fk AS (SELECT DISTINCT k FROM frozen)
    SELECT t.doc_id,
           t.n_set = {_N_HASH} AS bloom_hit,
           fk.k IS NOT NULL AS exact_dup,
           t.n_set = {_N_HASH} AND fk.k IS NULL AS false_pos
    FROM tested t LEFT JOIN fk ON fk.k = t.k
    ORDER BY t.doc_id
"""


@query("q_stream_bloom_dedup_gate", oracle=_SQL_GATE)
def q_stream_bloom_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time Bloom dedup: every streamed document is probed
    MAP-ONLY (stateless, append) against the frozen half's content
    filter; the drained table then exact-confirms the hits against
    the frozen hash set, labelling each doc (bloom_hit, exact_dup,
    false_pos). No false negatives by construction — asserted in
    tests/test_streaming.py along with batch≡stream parity."""
    words, m = _filter_words(spark, sf_dir)
    words_lit = "array(" + ",".join(f"{w}L" for w in words) + ")"

    stream_docs = read_documents_stream(spark, sf_dir)
    probed = stream_docs.select(
        "doc_id",
        F.md5("text").alias("k"),
        F.expr(_spark_pass_expr("md5(text)", m, words_lit, salt="bfs")).alias(
            "bloom_hit"
        ),
    )
    name = run_to_memory_table(
        probed,
        output_mode="append",
        source_rows=table_rows(spark, sf_dir, "documents"),
    )
    drained = spark.table(name)

    frozen = (
        load_table(spark, sf_dir, "documents")
        .where(F.expr(_HALF_PRED))
        .select(F.md5("text").alias("k"))
        .distinct()
        .withColumn("__seen", F.lit(True))
    )
    return (
        drained.join(frozen, "k", "left")
        .select(
            "doc_id",
            "bloom_hit",
            F.coalesce("__seen", F.lit(False)).alias("exact_dup"),
            (F.col("bloom_hit") & F.coalesce(~F.col("__seen"), F.lit(True))).alias(
                "false_pos"
            ),
        )
        .orderBy("doc_id")
    )
