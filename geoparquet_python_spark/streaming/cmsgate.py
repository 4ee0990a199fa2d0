"""Streaming hot-term CMS gate: ingest-time boilerplate/burst screening
of a document stream against a Count-Min sketch of the frozen corpus
half's term frequencies.

The batch twin (operators/sketches.q_countmin_heavy_hitters) builds
the mergeable d×w counter table offline; HERE the same linear sketch
rides as a literal inside a STATELESS stream projection — the
bloomgate pattern with counters instead of bits. Per streamed document the gate counts how
many of its token occurrences are corpus-hot (sketch estimate ≥ a
token-mass-derived threshold) and emits a hot-token ppm, the signal a
curation pipeline uses to flag template spam / boilerplate floods at
ingest without any state store, watermark, or corpus join: the sketch
is d·w int64s (32 KB here, a few MB at production widths) broadcast
into the projection, and CMS's one-sided error means a LOW hot_ppm is
trustworthy (estimates never undercount, so "few hot tokens" can only
be overstated, never missed).

Determinism: the sketch hashes are per-row md5-salted buckets (see the
constants note on the hash-family difference from the batch twin);
empty buckets read 0 from the dense literal (mirrored by the
oracle's LEFT JOIN + COALESCE(c, 0) — a stream token unseen in the
frozen half can land in an untouched bucket). The threshold is
max(1, N_frozen_tokens DIV {_HOT_DIV}) — derived from the same corpus
count in both engines.

Batch≡stream: availableNow drains the whole documents table through
the same stateless plan, so the drained result equals the batch SQL
the DuckDB oracle runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geoparquet_python_spark.functions.text import SQL_MD5_LONG
from geoparquet_python_spark.io import load_table
from geoparquet_python_spark.registry import query
from geoparquet_python_spark.streaming.source import (
    read_documents_stream,
    run_to_memory_table,
    table_rows,
)

_HALF_PRED = "doc_id % 2 = 0"
# Same (depth, width) as the batch twin q_countmin_heavy_hitters
# (operators/sketches.py). The hash FAMILY differs deliberately: the
# batch sketch uses Kirsch–Mitzenmacher double hashing (one md5 per
# term), while this gate salts each row independently ('cms{r}_' ||
# term) so every row's bucket is one self-contained expression inside
# the stream filter lambda — both families are deterministic md5 and
# both are mirrored bit-for-bit in their oracles.
_CMS_D = 4
_CMS_W = 1024
# Hot threshold = max(1, frozen-half token mass DIV _HOT_DIV): a term
# is "hot" when the sketch attributes ≥ 0.5% of the frozen corpus's
# token occurrences to its buckets. Mass-relative, so the rule is
# scale-free (the same gate semantics at sf0.001 and at 100 TB).
_HOT_DIV = 200

_SPARK_MD5_LONG = "CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def _sketch_arrays(
    spark: SparkSession, sf_dir: str
) -> tuple[list[list[int]], int]:
    """(d dense counter arrays of width w, frozen-half token count).
    One token pass into the (r, bucket) aggregate; ≤ d·w rows
    collected — fixed-size by construction (the mergeable-sketch
    contract; a 100 TB build collects the same 4,096 int64s)."""
    half = load_table(spark, sf_dir, "documents").where(F.expr(_HALF_PRED))
    tok = half.select(F.explode(F.split("text", " ")).alias("term"))
    mem = tok.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("bigint").alias("r"),
                        F.expr(
                            _SPARK_MD5_LONG.format(
                                expr=f"concat('cms{r}_', term)"
                            )
                            + f" % {_CMS_W}"
                        ).alias("bucket"),
                    )
                    for r in range(_CMS_D)
                ]
            )
        ).alias("rb")
    ).select(F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket"))
    rows = (
        mem.groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .collect()
    )
    dense = [[0] * _CMS_W for _ in range(_CMS_D)]
    for row in rows:
        dense[int(row["r"])][int(row["bucket"])] = int(row["c"])
    n_tokens = sum(dense[0])
    return dense, n_tokens


def _est_expr(token_var: str, arrays_lit: list[str]) -> str:
    """SQL expression for the CMS estimate of ``token_var`` — the min
    over rows of element_at(row-array, bucket + 1); dense arrays make
    the empty-bucket read an explicit 0."""
    parts = []
    for r in range(_CMS_D):
        h = _SPARK_MD5_LONG.format(expr=f"concat('cms{r}_', {token_var})")
        parts.append(
            f"element_at({arrays_lit[r]}, CAST(({h}) % {_CMS_W} AS INT) + 1)"
        )
    return "least(" + ", ".join(parts) + ")"


_SQL_CMS_GATE = f"""
    WITH half_tok AS (
      SELECT unnest(str_split(text, ' ')) AS term
      FROM documents WHERE {_HALF_PRED}
    ),
    nh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM half_tok),
    thr AS (SELECT GREATEST(1, n // {_HOT_DIV}) AS t FROM nh),
    mem AS (
      SELECT t.r,
             {SQL_MD5_LONG.format(expr="'cms' || CAST(t.r AS VARCHAR) || '_' || term")}
               % {_CMS_W} AS bucket
      FROM half_tok CROSS JOIN range({_CMS_D}) t(r)
    ),
    sketch AS (
      SELECT r, bucket, CAST(COUNT(*) AS BIGINT) AS c
      FROM mem GROUP BY 1, 2
    ),
    tok AS (
      SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents
    ),
    dt AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tok GROUP BY 1, 2
    ),
    terms AS (SELECT DISTINCT term FROM tok),
    test AS (
      SELECT tm.term, CAST(MIN(COALESCE(s.c, 0)) AS BIGINT) AS est
      FROM terms tm
      CROSS JOIN range({_CMS_D}) t(r)
      LEFT JOIN sketch s
        ON s.r = t.r
       AND s.bucket = {SQL_MD5_LONG.format(expr="'cms' || CAST(t.r AS VARCHAR) || '_' || tm.term")}
                      % {_CMS_W}
      GROUP BY 1
    ),
    docstats AS (
      SELECT dt.doc_id,
             CAST(SUM(dt.cnt) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN e.est >= thr.t THEN dt.cnt ELSE 0 END)
                  AS BIGINT) AS n_hot
      FROM dt JOIN test e ON e.term = dt.term CROSS JOIN thr
      GROUP BY 1
    )
    SELECT doc_id, n_tokens, n_hot,
           (1000000 * n_hot) // n_tokens AS hot_ppm
    FROM docstats
    ORDER BY doc_id
"""


@query("q_stream_hot_term_gate", oracle=_SQL_CMS_GATE)
def q_stream_hot_term_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time hot-term screening: every streamed document's token
    occurrences are scored MAP-ONLY (stateless, append) against the
    frozen half's Count-Min sketch riding as a dense literal; emits
    per doc (n_tokens, n_hot, hot_ppm). The sketch's one-sided
    guarantee makes the LOW side of hot_ppm trustworthy at any scale;
    tests/test_streaming.py asserts batch≡stream parity and the
    never-undercount property on planted hot terms."""
    dense, n_half = _sketch_arrays(spark, sf_dir)
    arrays_lit = [
        "array(" + ",".join(f"{c}L" for c in row) + ")" for row in dense
    ]
    thr = max(1, n_half // _HOT_DIV)

    stream_docs = read_documents_stream(spark, sf_dir)
    est = _est_expr("t", arrays_lit)
    gated = stream_docs.select(
        "doc_id",
        F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("n_tokens"),
        F.expr(
            f"CAST(size(filter(split(text, ' '), t -> ({est}) >= {thr}))"
            " AS BIGINT)"
        ).alias("n_hot"),
    )
    name = run_to_memory_table(
        gated,
        output_mode="append",
        source_rows=table_rows(spark, sf_dir, "documents"),
    )
    return (
        spark.table(name)
        .select(
            "doc_id",
            "n_tokens",
            "n_hot",
            F.expr("(1000000 * n_hot) DIV n_tokens").alias("hot_ppm"),
        )
        .orderBy("doc_id")
    )
