"""Deterministic fixed-point k-means coarse quantizer + IVF ANN.

q_ann_topk_blocked (similarity.py) uses the pre-labelled `label`
column as its IVF cells; this module TRAINS the cells: Lloyd's
algorithm with a fixed iteration count, deterministic init (the K
lowest vec_ids), and all arithmetic in per-dimension fixed-point
int64 — so the trained centroids are bit-identical in any engine and
the whole pipeline (train -> assign -> probe -> exact refine) is
oracle-checkable against an unrolled-CTE DuckDB mirror.

Scale design (MLlib-style driver loop, map-only assignment):
- assignment broadcasts the K x dim centroid matrix as a LITERAL into
  one fused projection (distance transform + array_position argmin):
  zero shuffle, whole corpus streamed once per iteration;
- the update is a (cid, dim) aggregate — K*dim keys, full map-side
  combine — and only K*dim int64s are collected to the driver per
  iteration (the canonical k-means driver loop; NOT a per-row
  collect);
- IVF search broadcasts the probed (qid, cell) list (queries are few
  by definition) against the cell-assigned corpus: a map-side
  equi-join, then the exact fixed-point cosine refine and a top-k
  window over |qid| partitions.
At 100 TB: K grows to thousands (centroid literal is K*dim*8 bytes —
a few MB, still broadcast-friendly), iterations stay fixed, and the
per-iteration shuffle stays K*dim keys. Empty clusters keep their
previous centroid (same rule in the SQL mirror).

Shared trainer: _lloyd is the one fixed-point Lloyd driver loop of
the vector family — k-means here is its M = 1 case, and the PQ
codebooks (pq.py) and the IVFADC residual codebooks (ivfpq.py) are
its M = 8 case (a product quantizer is k-means in each of M
subspaces, Jégou et al.). _SCALE, _XFIX and _tdiv below are the
fixed-point contract of every vector operator.

Determinism contract: fixed-point xfix = floor(x * 1e6) per dim;
distances are int64 sums of squared int diffs (order-independent);
argmin ties break to the lowest cid (array_position finds the FIRST
minimum; the SQL mirror orders by (dist, cid)); centroid update uses
truncating integer division, identical in Spark (DIV), DuckDB (//),
and the driver loop (_tdiv).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from geoparquet_python_spark.functions.vector import (
    SQL_COSINE,
    SQL_FLAT_EMBEDDINGS,
    SQL_NORMS,
    arrow_matrix,
    cosine_top_k,
    norm2_scaled,
    pair_cosine,
    sql_pair_dot_scaled,
)
from geoparquet_python_spark.functions.exact import broadcast_bounded, materialize
from geoparquet_python_spark.io import load_table
from geoparquet_python_spark.registry import query

_K = 8  # clusters (cells)
_T = 3  # fixed Lloyd iterations
_SCALE = 1_000_000  # per-dim fixed point of every vector operator
_NQ = 10  # query vectors: vec_id < _NQ
_NPROBE = 2  # cells probed per query
_TOPK = 3
_F64_SAFE = 1 << 23  # |int64| bound under which dgemm is exact (_assign_expr)

_XFIX = (
    f"transform(embedding, x -> "
    f"CAST(floor(CAST(x AS DOUBLE) * {_SCALE}) AS BIGINT))"
)


def _tdiv(s: int, n: int) -> int:
    """Truncating integer division (matches Spark DIV / DuckDB //)."""
    q = abs(s) // n
    return q if s >= 0 else -q


def _fixed_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return e.select("vec_id", "embedding", F.expr(_XFIX).alias("xfix"))


def _argmin_prep(cents: list[list[int]]):
    """(c, c2, c_blas) for the shared argmin math — see _assign_expr's
    exactness notes (argmin over |c|²−2x·c; dgemm-safe below 2^23)."""
    c = np.asarray(cents, dtype=np.int64)  # K×d
    c2 = (c * c).sum(axis=1)  # |c_k|^2, int64
    c_blas = c.astype(np.float64) if np.abs(c).max() < _F64_SAFE else None
    return c, c2, c_blas


def _argmin_cells(x, c, c2, c_blas):
    """First-minimum nearest-centroid ids for an (n × d) int64 batch —
    the exact math of _assign_expr, shared with the trainer's kernel
    (via _argmin_subspaces) so the two paths can never diverge."""
    if c_blas is not None and (len(x) == 0 or np.abs(x).max() < _F64_SAFE):
        dots = (x.astype(np.float64) @ c_blas.T).astype(np.int64)
    else:  # exact fallback: naive int64 matmul
        dots = x @ c.T
    scores = c2[None, :] - 2 * dots  # n×K, exact int64
    return np.argmin(scores, axis=1).astype(np.int64)


def _assign_expr(cents: list[list[int]]) -> F.Column:
    """Map-only nearest-centroid id over the `xfix` column, vectorized
    (Arrow batch → one int64 matmul per batch).

    Exact-algebra equivalence with the SQL mirror: argmin over
    distance |x - c_k|^2 equals argmin over (|c_k|^2 - 2 x·c_k) — the
    |x|^2 term is constant per row — and every quantity is an int64 of
    magnitude < 2^47, so the numpy integer matmul is bit-exact, not
    approximately equal. np.argmin returns the FIRST minimum index:
    ties break to the lowest cid, like array_position / the SQL
    (dist, cid) order.

    This replaced the interpreted HOF form (transform + aggregate over
    a K×dim literal): at K ∝ corpus (the SemDeDup contract) the
    assignment is O(K·n·d) and the interpreted evaluator made it the
    dominant wall of every consumer (measured: the whole-pipeline
    SemDeDup 8× ratio stayed ~6× even after its pair stage was fixed,
    entirely assignment-bound). A vectorized batch matmul is the same
    flop count at ~100× the throughput, and is exactly what a 100 TB
    deployment does with its centroid matrix (a few MB broadcast into
    each Arrow worker)."""
    # BLAS eligibility (round 12): numpy has NO BLAS kernel for int64 —
    # an integer matmul falls back to naive C loops, and at the
    # SemDeDup K-scaling contract (K ∝ n) the resulting O(K·n·d)
    # assignment was the measured knee of the 64× weak-scaling leg
    # (q_curation_pipeline_v4: _assigned_base 37 s of a 67 s wall).
    # When every |value| < 2^23, each product < 2^46 and every 64-term
    # partial sum < 2^52 is an exactly-representable float64 integer,
    # so a dgemm computes the SAME integers at any summation order —
    # the _hyperplane_signatures/dot_scaled exactness argument. The
    # corpus contract (unit-ish embeddings × 1e6 scale → |xfix| < 2^20)
    # sits far inside the bound; the guard re-checks per batch and
    # falls back to the exact int64 loop rather than trusting it.
    # (The math lives in _argmin_prep/_argmin_cells, shared with the
    # trainer's kernel, _lloyd_stats_kernel.)
    c, c2, c_blas = _argmin_prep(cents)

    @arrow_udf("bigint")
    def assign(xf: pa.Array) -> pa.Array:
        if len(xf) == 0:
            return pa.array([], pa.int64())
        return pa.array(_argmin_cells(arrow_matrix(xf, np.int64), c, c2, c_blas))

    return assign(F.col("xfix"))


def _argmin_subspaces(x, preps):
    """(n × M) first-minimum centroid ids of each row's M equal-width
    subvectors — one _argmin_cells call per subspace, ``preps`` holding
    one _argmin_prep per subspace codebook. k-means is M = 1; the PQ
    encoder (pq._codes_udf) and the trainer kernel share this loop."""
    subd = x.shape[1] // len(preps)
    out = np.empty((len(x), len(preps)), dtype=np.int64)
    for m, prep in enumerate(preps):
        out[:, m] = _argmin_cells(x[:, m * subd : (m + 1) * subd], *prep)
    return out


def _lloyd_stats_kernel(cents: list[list[list[int]]]):
    """mapInArrow kernel for one Lloyd update of an M-subspace codebook
    ``cents[m][cid][d]``: assign each row's M subvectors to their
    nearest centroids (_argmin_subspaces) AND reduce to per-(m, cid, d)
    partial sums/counts INSIDE the task (guide §2.3 — aggregate before
    you shuffle). Emits at most M×K×SUBD partial rows per task instead
    of n×dim exploded value rows, so the per-iteration exchange stays
    codebook-sized at any corpus size."""

    def kernel(it):
        preps = [_argmin_prep(sub) for sub in cents]
        m_n, k, subd = len(cents), len(cents[0]), len(cents[0][0])
        sv = np.zeros((m_n, k, subd), dtype=np.int64)
        n = np.zeros((m_n, k), dtype=np.int64)
        seen = False
        for batch in it:
            if batch.num_rows == 0:
                continue
            seen = True
            x = arrow_matrix(batch.column("xfix"), np.int64)
            codes = _argmin_subspaces(x, preps)
            for m in range(m_n):
                order = np.argsort(codes[:, m], kind="stable")
                cs = codes[order, m]
                xs = x[order, m * subd : (m + 1) * subd]
                starts = np.flatnonzero(np.r_[True, cs[1:] != cs[:-1]])
                counts = np.diff(np.r_[starts, len(cs)])
                np.add.at(sv[m], cs[starts], np.add.reduceat(xs, starts, axis=0))
                np.add.at(n[m], cs[starts], counts)
        if not seen:
            return
        ms, cids = np.nonzero(n)
        yield pa.RecordBatch.from_pydict(
            {
                "m": np.repeat(ms, subd),
                "cid": np.repeat(cids, subd),
                "d": np.tile(np.arange(subd, dtype=np.int64), len(ms)),
                "sv": sv[ms, cids].ravel(),
                "n": np.repeat(n[ms, cids], subd),
            }
        )

    return kernel


_CENT_CACHE: dict[str, list[list[list[int]]]] = {}


def _lloyd(
    frame: Callable[[], DataFrame], key: str, k: int, m: int, t: int
) -> list[list[list[int]]]:
    """The fixed-point Lloyd trainer shared by k-means (M = 1), PQ and
    the IVFADC residual PQ (M = 8): ``t`` synchronous iterations over
    the (vec_id, xfix) frame that ``frame()`` builds, returning the
    codebook ``cents[m][cid][d]`` of each of the ``m`` equal-width
    subspaces.

    ``frame`` is called only on a cache miss, so the caller decides
    what to materialize and a cached model costs no plan and no job.
    Init is the ``k`` lowest vec_ids' subvectors; each iteration is one
    _lloyd_stats_kernel pass plus a (m, cid, d) aggregate collected to
    the driver, where the update is an int64 sum over a truncating
    division (_tdiv) and an empty cluster keeps its centroid — the
    rule of the unrolled-CTE oracles (_sql_kmeans_ctes,
    pq._sql_pq_ctes)."""
    key = f"{key}|{k}|{m}|{t}|{_SCALE}"
    if key in _CENT_CACHE:
        return _CENT_CACHE[key]
    x = frame()
    init = x.where(F.col("vec_id") < k).orderBy("vec_id").collect()
    subd = len(init[0]["xfix"]) // m
    cents = [
        [list(r["xfix"][j * subd : (j + 1) * subd]) for r in init]
        for j in range(m)
    ]
    for _ in range(t):
        rows = (
            x.select("xfix")
            .mapInArrow(
                _lloyd_stats_kernel(cents),
                "m bigint, cid bigint, d bigint, sv bigint, n bigint",
            )
            .groupBy("m", "cid", "d")
            .agg(F.sum("sv").alias("sv"), F.sum("n").alias("n"))
            .collect()
        )
        # an empty cluster emits no partials and keeps its centroid
        new = [[list(c) for c in sub] for sub in cents]
        for r in rows:
            new[r["m"]][r["cid"]][r["d"]] = _tdiv(r["sv"], r["n"])
        cents = new
    _CENT_CACHE[key] = cents
    return cents


def _train(
    spark: SparkSession, sf_dir: str, k: int | None = None
) -> list[list[int]]:
    """k-means centroids: the shared trainer (_lloyd) at M = 1, T = _T;
    returns the final k x dim int64 matrix.

    ``k`` defaults to the module's fixed _K; callers whose contract
    scales the cell count with the corpus (SemDeDup — the paper runs
    50k clusters for LAION) pass their computed k and get a separate
    cache entry. Everything downstream (_assign_expr) adapts to
    len(cents). The training input is materialized once and feeds the
    init collect and every iteration (MLlib's persist-the-training-input
    pattern)."""
    k = _K if k is None else k
    return _lloyd(
        lambda: materialize(_fixed_points(spark, sf_dir).select("vec_id", "xfix")),
        f"kmeans|{sf_dir}",
        k,
        1,
        _T,
    )[0]


def _sql_assign(src_cents: str, out: str, where: str = "") -> str:
    """CTE assigning every xf row to its nearest centroid in
    ``src_cents`` (ties to lowest cid)."""
    return f"""{out} AS (
      SELECT vec_id, xfix, cid FROM (
        SELECT x.vec_id, x.xfix, c.cid,
               row_number() OVER (PARTITION BY x.vec_id ORDER BY
                 list_sum(list_transform(list_zip(x.xfix, c.cfix),
                          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
        FROM xf x CROSS JOIN {src_cents} c {where}
      ) WHERE rn = 1
    )"""


def _sql_kmeans_ctes(k_sql: str | None = None) -> str:
    """xf, c0, then T unrolled (assign, sum, update) rounds ending in
    c{T} (final centroids) and a{T} (final assignment).

    ``k_sql``: SQL expression for the cluster count in the c0 init
    (default: the fixed _K literal). A K-scaled consumer passes a
    scalar subquery over the same corpus its Spark side counts, so
    both engines derive the identical k from the identical rule."""
    k_expr = str(_K) if k_sql is None else k_sql
    parts = [
        f"""xf AS (
      SELECT vec_id,
             list_transform(embedding, x ->
               CAST(floor(CAST(x AS DOUBLE) * {_SCALE}) AS BIGINT)) AS xfix
      FROM embeddings
    )""",
        f"c0 AS (SELECT vec_id AS cid, xfix AS cfix FROM xf WHERE vec_id < {k_expr})",
    ]
    for t in range(_T):
        parts.append(_sql_assign(f"c{t}", f"a{t}"))
        parts.append(f"""s{t} AS (
      SELECT cid, d, CAST(SUM(v) AS BIGINT) AS sv, COUNT(*) AS n
      FROM (SELECT cid, unnest(xfix) AS v,
                   generate_subscripts(xfix, 1) AS d
            FROM a{t})
      GROUP BY cid, d
    )""")
        parts.append(f"""c{t + 1} AS (
      SELECT p.cid,
             list(CASE WHEN s.n IS NULL THEN p.v ELSE s.sv // s.n END
                  ORDER BY p.d) AS cfix
      FROM (SELECT cid, unnest(cfix) AS v,
                   generate_subscripts(cfix, 1) AS d
            FROM c{t}) p
      LEFT JOIN s{t} s ON s.cid = p.cid AND s.d = p.d
      GROUP BY p.cid
    )""")
    parts.append(_sql_assign(f"c{_T}", f"a{_T}"))
    return ",\n    ".join(parts)


@query(
    "q_kmeans_centroids",
    oracle=f"""
    WITH {_sql_kmeans_ctes()},
    cnt AS (SELECT cid, COUNT(*) AS n_members FROM a{_T} GROUP BY cid),
    ce AS (
      SELECT cid, generate_subscripts(cfix, 1) - 1 AS d,
             unnest(cfix) AS c_val
      FROM c{_T}
    )
    SELECT ce.cid, COALESCE(cnt.n_members, 0) AS n_members,
           CAST(ce.d AS BIGINT) AS d, CAST(ce.c_val AS BIGINT) AS c_val
    FROM ce LEFT JOIN cnt USING (cid)
    ORDER BY cid, d
    """,
)
def q_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final centroids (exploded per dimension) + member counts under
    the final assignment. K*dim rows of pure int64 — bit-exact vs the
    unrolled-CTE oracle."""
    cents = _train(spark, sf_dir)
    x = _fixed_points(spark, sf_dir).select("vec_id", "xfix")
    counts = (
        x.select(_assign_expr(cents).alias("cid"))
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_members"))
    )
    cent_rows = [
        (cid, d, int(v)) for cid, c in enumerate(cents) for d, v in enumerate(c)
    ]
    cent_df = spark.createDataFrame(
        cent_rows, "cid bigint, d bigint, c_val bigint"
    )
    return (
        cent_df.join(counts, "cid", "left")
        .select(
            "cid",
            F.coalesce("n_members", F.lit(0).cast("bigint")).alias("n_members"),
            "d",
            "c_val",
        )
        .orderBy("cid", "d")
    )


@query(
    "q_ann_topk_ivf",
    oracle=f"""
    WITH {_sql_kmeans_ctes()},
    probe AS (
      SELECT vec_id AS qid, cid AS cell FROM (
        SELECT x.vec_id, c.cid,
               row_number() OVER (PARTITION BY x.vec_id ORDER BY
                 list_sum(list_transform(list_zip(x.xfix, c.cfix),
                          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
        FROM xf x CROSS JOIN c{_T} c WHERE x.vec_id < {_NQ}
      ) WHERE rn <= {_NPROBE}
    ),
    cand AS (
      SELECT p.qid, a.vec_id AS cid
      FROM probe p JOIN a{_T} a ON a.cid = p.cell AND a.vec_id <> p.qid
    ),
    flat AS ({SQL_FLAT_EMBEDDINGS}),
    norms AS ({SQL_NORMS}),
    dots AS (
      SELECT c.qid, c.cid, {sql_pair_dot_scaled("fa", "fb")} AS d
      FROM cand c
      JOIN flat fa ON fa.vec_id = c.qid
      JOIN flat fb ON fb.vec_id = c.cid AND fb.i = fa.i
      GROUP BY c.qid, c.cid
    ),
    cos AS (
      SELECT qid, cid,
             {SQL_COSINE.format(dot="d", na="na.n2", nb="nb.n2")} AS cosine
      FROM dots
      JOIN norms na ON na.vec_id = qid
      JOIN norms nb ON nb.vec_id = cid
    )
    SELECT qid, cid, cosine, rank FROM (
      SELECT qid, cid, cosine,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cosine DESC, cid) AS rank
      FROM cos
    )
    WHERE rank <= {_TOPK}
    ORDER BY qid, rank
    """,
)
def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with TRAINED cells: assign the corpus to its nearest
    k-means centroid (map-only literal projection), probe the
    _NPROBE nearest cells per query, exact fixed-point cosine refine,
    top-k window. The (qid, cell) probe list is broadcast, so the
    corpus never shuffles for the search."""
    cents = _train(spark, sf_dir)
    base = _fixed_points(spark, sf_dir).select(
        "vec_id", "embedding", "xfix", norm2_scaled("embedding").alias("n2")
    )
    # Own side projections: the cell / probe-cell columns follow the
    # norm here, where vec_side puts passthrough columns before it.
    corpus = base.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("c_emb"),
        F.col("n2").alias("c_n2"),
        _assign_expr(cents).alias("cell"),
    )
    # Probe cells inline: sort (dist, cid) structs, take _NPROBE ids.
    lit = F.array(*[F.array(*[F.lit(int(v)) for v in c]) for c in cents])
    dists = F.transform(
        lit,
        lambda c: F.aggregate(
            F.zip_with(F.col("xfix"), c, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ),
    )
    probe_cells = F.expr(
        f"slice(transform(array_sort(zip_with(__dists, "
        f"sequence(0, {_K - 1}), (d, i) -> struct(d AS d, CAST(i AS BIGINT) AS i))), "
        f"s -> s.i), 1, {_NPROBE})"
    )
    probes = (
        base.where(F.col("vec_id") < _NQ)
        .withColumn("__dists", dists)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("q_emb"),
            F.col("n2").alias("q_n2"),
            F.explode(probe_cells).alias("q_cell"),
        )
    )
    # Probe frame carries q_emb arrays but is bounded by contract to
    # _NQ x _NPROBE rows — runtime-asserted, never silently unbounded.
    pairs = broadcast_bounded(probes, max_rows=_NQ * _NPROBE).join(
        corpus,
        (F.col("q_cell") == F.col("cell")) & (F.col("qid") != F.col("cid")),
    )
    return cosine_top_k(
        pairs.select("qid", "cid", pair_cosine("q", "c").alias("cosine")), _TOPK
    ).orderBy("qid", "rank")
