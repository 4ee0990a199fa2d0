"""Product quantization (PQ): compress 64-dim float embeddings to
32-bit codes (8 subspaces x 4-bit codebook index) and search with
asymmetric distance computation (ADC) — the storage layout every
100 TB-scale vector store uses (a billion 64-dim float32 vectors =
256 GB raw; their PQ codes = 4 GB, RAM-resident).

Training is the shared fixed-point Lloyd trainer of
operators/kmeans.py (kmeans._lloyd) at M = 8: all 8 subspaces run IN
ONE DataFrame pass per iteration (subspace id is just another
aggregation key), so the cost is one corpus scan per iteration
regardless of M. Codes are a map-only projection against the codebook
literal; ADC search broadcasts the query-side lookup table (per
(subspace, centroid) partial distances — M*K rows per query) and
never shuffles the corpus except the (qid, vec) partial-distance
rollup.

Everything is int64 fixed point (floor(x*1e6) per dim), truncating
integer division for centroid updates — bit-identical in Spark,
DuckDB, and the driver loop, so codes, reconstruction errors, and
ADC distances are all oracle-exact.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from geoparquet_python_spark.functions.exact import broadcast_narrow
from geoparquet_python_spark.functions.vector import arrow_matrix
from geoparquet_python_spark.operators import kmeans as km
from geoparquet_python_spark.registry import query

_M = 8  # subspaces
_SUBD = 8  # dims per subspace (64 / _M)
_K = 16  # centroids per subspace (4-bit codes)
_T = 2  # Lloyd iterations
_NQ = 10
_TOPK = 3

_POW16 = "array(" + ",".join(str(1 << (4 * m)) for m in range(_M)) + ")"
_POW16_SQL = "[" + ",".join(str(1 << (4 * m)) for m in range(_M)) + "]"


def _cb_lit(cents: list[list[list[int]]]) -> F.Column:
    """Codebook literal: [m][k][d] nested arrays."""
    return F.array(
        *[
            F.array(*[F.array(*[F.lit(int(v)) for v in c]) for c in sub])
            for sub in cents
        ]
    )


def _codes_udf(cents: list[list[list[int]]]) -> F.Column:
    """Per-row array of _M centroid ids (map-only, ties -> lowest).

    Arrow-vectorized (one int64 matmul per subspace per batch) — the
    same exact-algebra swap as kmeans._assign_expr: argmin over
    |x − c|² equals argmin over (|c|² − 2·x·c), every quantity is an
    int64 far below overflow, and np.argmin returns the FIRST minimum
    (ties to the lowest cid), so the codes are bit-identical to the
    interpreted-HOF form this replaced — which evaluated M×K
    transform/aggregate lambdas per row and dominated both PQ
    training and the encode pass (measured ~2× on the IVFADC wall)."""
    preps = [km._argmin_prep(sub) for sub in cents]

    @arrow_udf("array<bigint>")
    def codes(xf: pa.Array) -> pa.Array:
        if len(xf) == 0:
            return pa.array([], pa.list_(pa.int64()))
        c = km._argmin_subspaces(arrow_matrix(xf, np.int64), preps)  # B×M
        off = np.arange(0, c.size + 1, c.shape[1], dtype=np.int32)
        return pa.ListArray.from_arrays(off, c.ravel())

    return codes(F.col("xfix"))


def _codes_expr(cents: list[list[list[int]]]) -> tuple[F.Column, F.Column]:
    """(codes_column, codebook_literal) for callers that index the
    codebook in expressions (reconstruction error). The literal is
    M×K×SUBD nested F.lit arrays — ~1k py4j column constructions, a
    measurable driver cost per plan build — so callers that only need
    the codes (the IVFADC encode pass) use :func:`_codes_udf` alone."""
    return _codes_udf(cents), _cb_lit(cents)


def _train_pq(spark: SparkSession, sf_dir: str) -> list[list[list[int]]]:
    return _train_pq_frame(
        lambda: km._fixed_points(spark, sf_dir).select("vec_id", "xfix"),
        f"pq|{sf_dir}",
    )


def _train_pq_frame(
    frame: Callable[[], DataFrame], key: str
) -> list[list[list[int]]]:
    """The M×K×SUBD codebook from the shared fixed-point Lloyd trainer
    (kmeans._lloyd at M = _M) over the (vec_id, xfix) frame that
    ``frame()`` builds — the raw fixed-point embeddings
    (q_pq_codes/q_pq_adc_topk) or the coarse residuals (ivfpq.py).
    Same deterministic contract either way."""
    return km._lloyd(frame, key, _K, _M, _T)


def _sql_pq_ctes(src_xf: str | None = None, prefix: str = "") -> str:
    """xs (per-subspace fixed subvectors), c0, T unrolled rounds
    ending in c{T} (codebook) and a{T} (final codes).

    ``src_xf``: name of an existing (vec_id, xfix) CTE to quantize
    (ivfpq.py passes its coarse-residual frame); default builds ``xf``
    from the embeddings table. ``prefix`` renames every generated CTE
    so the block composes with the k-means CTEs (which also emit
    c0/a0/s0) inside one WITH clause."""

    def n(name: str) -> str:
        return f"{prefix}{name}"

    def assign(src: str, out: str) -> str:
        return f"""{out} AS (
      SELECT vec_id, m, sv, cid FROM (
        SELECT x.vec_id, x.m, x.sv, c.cid,
               row_number() OVER (PARTITION BY x.vec_id, x.m ORDER BY
                 list_sum(list_transform(list_zip(x.sv, c.cfix),
                          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
        FROM {n("xs")} x JOIN {src} c ON c.m = x.m
      ) WHERE rn = 1
    )"""

    parts = []
    if src_xf is None:
        src_xf = n("xf")
        parts.append(f"""{src_xf} AS (
      SELECT vec_id,
             list_transform(embedding, x ->
               CAST(floor(CAST(x AS DOUBLE) * {km._SCALE}) AS BIGINT)) AS xfix
      FROM embeddings
    )""")
    parts.append(f"""{n("xs")} AS (
      SELECT vec_id, m,
             xfix[m * {_SUBD} + 1 : m * {_SUBD} + {_SUBD}] AS sv
      FROM {src_xf}, (SELECT unnest(range({_M})) AS m)
    )""")
    parts.append(
        f"{n('c0')} AS (SELECT m, vec_id AS cid, sv AS cfix "
        f"FROM {n('xs')} WHERE vec_id < {_K})"
    )
    for t in range(_T):
        parts.append(assign(n(f"c{t}"), n(f"a{t}")))
        parts.append(f"""{n(f"s{t}")} AS (
      SELECT m, cid, d, CAST(SUM(v) AS BIGINT) AS sv, COUNT(*) AS n
      FROM (SELECT m, cid, unnest(sv) AS v,
                   generate_subscripts(sv, 1) AS d
            FROM {n(f"a{t}")})
      GROUP BY m, cid, d
    )""")
        parts.append(f"""{n(f"c{t + 1}")} AS (
      SELECT p.m, p.cid,
             list(CASE WHEN s.n IS NULL THEN p.v ELSE s.sv // s.n END
                  ORDER BY p.d) AS cfix
      FROM (SELECT m, cid, unnest(cfix) AS v,
                   generate_subscripts(cfix, 1) AS d
            FROM {n(f"c{t}")}) p
      LEFT JOIN {n(f"s{t}")} s ON s.m = p.m AND s.cid = p.cid AND s.d = p.d
      GROUP BY p.m, p.cid
    )""")
    parts.append(assign(n(f"c{_T}"), n(f"a{_T}")))
    return ",\n    ".join(parts)


@query(
    "q_pq_codes",
    oracle=f"""
    WITH {_sql_pq_ctes()},
    werr AS (
      SELECT a.vec_id, a.m, a.cid,
             list_sum(list_transform(list_zip(a.sv, c.cfix),
                      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS err
      FROM a{_T} a JOIN c{_T} c ON c.m = a.m AND c.cid = a.cid
    )
    SELECT vec_id,
           CAST(SUM(cid * ({_POW16_SQL})[m + 1]) AS BIGINT) AS pq_code,
           CAST(SUM(err) AS BIGINT) AS recon_err_fp
    FROM werr
    GROUP BY vec_id
    ORDER BY vec_id
    """,
)
def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every vector's packed 32-bit PQ code (8 x 4-bit centroid ids)
    plus its fixed-point reconstruction error — the compression audit.
    Encoding is one map-only projection against the codebook literal
    (a few KB broadcast in the plan itself); at a billion rows this is
    the full-scan-no-shuffle pass that builds the ANN store."""
    cents = _train_pq(spark, sf_dir)
    codes, cb = _codes_expr(cents)
    enc = (
        km._fixed_points(spark, sf_dir)
        .withColumn("__cb", cb)
        .select("vec_id", "xfix", codes.alias("codes"))
    )
    recon = F.expr(
        f"aggregate(transform(sequence(0, {_M - 1}), m -> aggregate("
        f"  zip_with(slice(xfix, m * {_SUBD} + 1, {_SUBD}),"
        f"           __cb[m][codes[m]],"
        f"           (a, b) -> (a - b) * (a - b)),"
        f"  CAST(0 AS BIGINT), (acc, x) -> acc + x)),"
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    pack = F.expr(
        f"aggregate(transform(sequence(0, {_M - 1}), "
        f"m -> codes[m] * element_at({_POW16}, m + 1)), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    return (
        enc.withColumn("__cb", cb)
        .select(
            "vec_id",
            pack.alias("pq_code"),
            recon.alias("recon_err_fp"),
        )
        .orderBy("vec_id")
    )


@query(
    "q_pq_adc_topk",
    oracle=f"""
    WITH {_sql_pq_ctes()},
    lut AS (
      SELECT q.vec_id AS qid, c.m, c.cid,
             list_sum(list_transform(list_zip(q.sv, c.cfix),
                      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS pd
      FROM xs q JOIN c{_T} c ON c.m = q.m
      WHERE q.vec_id < {_NQ}
    ),
    est AS (
      SELECT l.qid, a.vec_id AS cid2, CAST(SUM(l.pd) AS BIGINT) AS dist_est
      FROM a{_T} a JOIN lut l ON l.m = a.m AND l.cid = a.cid
      WHERE a.vec_id <> l.qid
      GROUP BY l.qid, a.vec_id
    )
    SELECT qid, cid2 AS cid, dist_est, rank FROM (
      SELECT qid, cid2, dist_est,
             row_number() OVER (PARTITION BY qid
                                ORDER BY dist_est, cid2) AS rank
      FROM est
    )
    WHERE rank <= {_TOPK}
    ORDER BY qid, rank
    """,
)
def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance top-k: per query, precompute the M x K
    table of exact subspace distances to every codebook centroid
    (the ADC lookup table), then score every corpus vector as the SUM
    of M table lookups through its code — no corpus-side float math
    at all. The LUT (queries x M x K rows) is broadcast; the corpus
    contributes M rows per vector to a uniform (qid, vec) rollup.
    In production the rollup is a map-side array gather per vector;
    the result ranks by estimated distance (rank by exact distance
    after a refine step — q_ann_topk_ivf's shape — when recall
    matters)."""
    cents = _train_pq(spark, sf_dir)
    codes, cb = _codes_expr(cents)
    enc = (
        km._fixed_points(spark, sf_dir)
        .withColumn("__cb", cb)
        .select("vec_id", codes.alias("codes"))
    )
    code_rows = enc.select(
        F.col("vec_id").alias("cvec"),
        F.explode(
            F.expr(
                f"transform(sequence(0, {_M - 1}), "
                f"m -> struct(m AS m, codes[m] AS cid))"
            )
        ).alias("c"),
    ).select("cvec", F.col("c.m").alias("m"), F.col("c.cid").alias("cid"))
    q = km._fixed_points(spark, sf_dir).where(F.col("vec_id") < _NQ)
    lut = (
        q.withColumn("__cb", cb)
        .select(
            F.col("vec_id").alias("qid"),
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(0, {_M - 1}), m -> "
                    f"transform(sequence(0, {_K - 1}), k -> struct("
                    f"m AS m, k AS cid, aggregate("
                    f"  zip_with(slice(xfix, m * {_SUBD} + 1, {_SUBD}),"
                    f"           __cb[m][k],"
                    f"           (a, b) -> (a - b) * (a - b)),"
                    f"  CAST(0 AS BIGINT), (acc, x) -> acc + x) AS pd))))"
                )
            ).alias("l"),
        )
        .select(
            "qid",
            F.col("l.m").alias("m"),
            F.col("l.cid").alias("cid"),
            F.col("l.pd").alias("pd"),
        )
    )
    est = (
        code_rows.join(broadcast_narrow(lut), ["m", "cid"])
        .where(F.col("cvec") != F.col("qid"))
        .groupBy("qid", "cvec")
        .agg(F.sum("pd").alias("dist_est"))
    )
    w = Window.partitionBy("qid").orderBy("dist_est", "cvec")
    return (
        est.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TOPK)
        .select("qid", F.col("cvec").alias("cid"), "dist_est", "rank")
        .orderBy("qid", "rank")
    )
