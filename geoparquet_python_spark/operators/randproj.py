"""Random projection (Johnson–Lindenstrauss) and power-iteration PCA:
the two classical embedding-geometry reductions, as pure dataflow.

- JL: project 64-dim embeddings to _D dims through a ±1 sign matrix
  (Achlioptas 2001's database-friendly construction — the one used
  precisely because it's a map-only integer pass), then AUDIT the
  distance distortion against the JL promise on a bounded pair set.
- PCA: the top principal direction by two unrolled power-iteration
  rounds of v ← Xᵀ(Xv) — the matrix-free form every distributed PCA
  runs (MLlib's RowMatrix does the same mat-vec under the hood),
  expressed as two aggregates per round with fixed-point rescaling so
  the whole recurrence is bit-exact vs the unrolled SQL mirror.

No reference equivalent (SURVEY.md §0 — GeoParquet round-trip shim);
[N] north-star scope beside the embedding family (SURVEY.md §2.F3).

Scale design: the projection matrix is _D×64 ±1 entries derived from
md5 parity — it is never materialized as literals; it rides as ONE
broadcast data row (the hyperplane-LSH planes pattern, which replaced
a 6144-literal expression tree that made Catalyst analysis the
bottleneck). The projection and every power-iteration mat-vec are
map-only corpus passes followed by a dim-keyed (64- or _D-key)
aggregate with full map-side combine; nothing is ever pairwise except
the _NQ-bounded distortion audit. v is collected once per round —
64 int64s, the k-means trainer-literal contract.

Determinism: xfix = floor(x·1e6) per dim; sign entries from md5
parity (reproducible in DuckDB); products/sums int64 with rescaling
by truncating DIV 2^26 (identical in Spark DIV / DuckDB //, both
truncate toward zero — verified); normalization to max|v| = 2^20
keeps every later product under 2^51.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geoparquet_python_spark.functions.exact import broadcast_bounded, spread
from geoparquet_python_spark.io import load_table
from geoparquet_python_spark.operators.kmeans import _SCALE, _XFIX, _tdiv
from geoparquet_python_spark.registry import query

_DIM = 64
_D = 16  # projected dimensionality
_NQ = 10  # audit pair set: vec_id < _NQ (45 pairs)
_PCA_T = 2  # power-iteration rounds
_VNORM = 1 << 20  # v renormalization target: max|v| after each round
_SDIV = 1 << 26  # mat-vec rescale divisor between the two half-steps


def _sign_rows() -> list[list[int]]:
    """±1 projection matrix r[j][i] from md5 parity of "rp{j}_{i}",
    i 1-based to align with DuckDB generate_subscripts."""
    return [
        [
            1
            if int(hashlib.md5(f"rp{j}_{i}".encode()).hexdigest()[:15], 16) & 1
            else -1
            for i in range(1, _DIM + 1)
        ]
        for j in range(_D)
    ]


_SQL_SIGNS = f"""
    signs AS (
      SELECT j, i,
             CASE WHEN (CAST(('0x' || substr(md5('rp' || CAST(j AS VARCHAR)
                        || '_' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT)
                        & 1) = 1
                  THEN 1 ELSE -1 END AS r
      FROM range({_D}) t(j) CROSS JOIN range(1, {_DIM + 1}) u(i)
    ),
    xf AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {_SCALE})
                  AS BIGINT) AS xi
      FROM embeddings
    ),
    proj AS (
      SELECT x.vec_id, s.j, CAST(SUM(x.xi * s.r) AS BIGINT) AS y
      FROM xf x JOIN signs s ON s.i = x.i
      GROUP BY x.vec_id, s.j
    )"""


def _proj_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, ys): projected _D-vector per embedding, map-only
    against the one-row broadcast sign matrix."""
    e = load_table(spark, sf_dir, "embeddings")
    signs_df = spark.createDataFrame(
        [(_sign_rows(),)], "signs array<array<bigint>>"
    )
    ys = F.expr(
        "transform(signs, row -> aggregate(zip_with(xi, row, "
        "(a, b) -> a * b), CAST(0 AS BIGINT), (acc, v) -> acc + v))"
    )
    return (
        e.select("vec_id", F.expr(_XFIX).alias("xi"))
        .join(broadcast_bounded(signs_df, max_rows=1))
        .select("vec_id", ys.alias("ys"))
    )


@query(
    "q_random_projection",
    oracle=f"""
    WITH {_SQL_SIGNS}
    SELECT vec_id, CAST(j AS BIGINT) AS j, y
    FROM proj
    ORDER BY vec_id, j
    """,
)
def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every embedding's {_D}-dim ±1-sign projection, exploded to
    (vec_id, j, y) rows. The storage/compute reduction step upstream
    of LSH and coarse clustering: one map-only integer pass, 4x fewer
    dims downstream."""
    return (
        _proj_frame(spark, sf_dir)
        .select(
            "vec_id",
            F.posexplode("ys").alias("j", "y"),
        )
        .select("vec_id", F.col("j").cast("bigint").alias("j"), "y")
        .orderBy("vec_id", "j")
    )


@query(
    "q_jl_distortion_audit",
    oracle=f"""
    WITH {_SQL_SIGNS},
    d2o AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             CAST(SUM((a.xi - b.xi) * (a.xi - b.xi)) AS BIGINT) AS d2
      FROM xf a JOIN xf b ON b.i = a.i AND b.vec_id > a.vec_id
      WHERE a.vec_id < {_NQ} AND b.vec_id < {_NQ}
      GROUP BY 1, 2
    ),
    d2p AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             CAST(SUM((a.y - b.y) * (a.y - b.y)) AS BIGINT) AS d2
      FROM proj a JOIN proj b ON b.j = a.j AND b.vec_id > a.vec_id
      WHERE a.vec_id < {_NQ} AND b.vec_id < {_NQ}
      GROUP BY 1, 2
    )
    SELECT o.va, o.vb,
           o.d2 AS d2_orig,
           p.d2 AS d2_proj,
           CAST((p.d2 // {1 << 20}) * 1000000
                // GREATEST(({_D} * o.d2) // {1 << 20}, 1) AS BIGINT)
             AS ratio_ppm
    FROM d2o o JOIN d2p p ON p.va = o.va AND p.vb = o.vb
    ORDER BY o.va, o.vb
    """,
)
def q_jl_distortion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JL promise, measured: each ±1 projection row j contributes
    E[(y_a − y_b)_j²] = ‖a−b‖², so over _D rows E[d2_proj] =
    _D·d2_orig and the unbiased distortion ratio is
    ratio_ppm = d2_proj·1e6 / (_D·d2_orig) ≈ 1e6, with spread
    shrinking as _D grows. The registered rows carry the exact
    integers per pair; pytest asserts every ratio stays inside a wide
    JL band (the audit that catches a broken sign matrix or a dropped
    dimension instantly). Pair set bounded at C({_NQ},2)=45 rows by
    contract — audits sample, they don't all-pairs."""
    proj = _proj_frame(spark, sf_dir).where(F.col("vec_id") < _NQ)
    e = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < _NQ)
    x = e.select("vec_id", F.expr(_XFIX).alias("xi"))
    a = x.select(F.col("vec_id").alias("va"), F.col("xi").alias("xa"))
    b = x.select(F.col("vec_id").alias("vb"), F.col("xi").alias("xb"))
    d2o = (
        broadcast_bounded(a, max_rows=_NQ)
        .join(b, F.col("vb") > F.col("va"))
        .select(
            "va",
            "vb",
            F.expr(
                "aggregate(zip_with(xa, xb, (p, q) -> (p - q) * (p - q)), "
                "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
            ).alias("d2_orig"),
        )
    )
    pa = proj.select(F.col("vec_id").alias("va"), F.col("ys").alias("ya"))
    pb = proj.select(F.col("vec_id").alias("vb"), F.col("ys").alias("yb"))
    d2p = (
        broadcast_bounded(pa, max_rows=_NQ)
        .join(pb, F.col("vb") > F.col("va"))
        .select(
            "va",
            "vb",
            F.expr(
                "aggregate(zip_with(ya, yb, (p, q) -> (p - q) * (p - q)), "
                "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
            ).alias("d2_proj"),
        )
    )
    return (
        d2o.join(d2p, ["va", "vb"])
        .select(
            "va",
            "vb",
            "d2_orig",
            "d2_proj",
            # both operands rescaled by 2^20 before the ppm ratio:
            # d2_proj can reach ~2^58 and *1e6 would overflow int64
            # (Spark 4 ANSI raises; DuckDB too) — the shared downscale
            # keeps every product under 2^60 while the quotient loses
            # nothing (values are far above the 2^20 quantum)
            F.expr(
                f"CAST((d2_proj DIV {1 << 20}) * 1000000 "
                f"DIV GREATEST(({_D} * d2_orig) DIV {1 << 20}, 1) AS BIGINT)"
            ).alias("ratio_ppm"),
        )
        .orderBy("va", "vb")
    )


def _sql_pca_rounds() -> str:
    """Unrolled power iteration: v0 = all-ones; per round t:
    s{t}(vec_id) = Σ_i x_i·v_i (rescaled by //_SDIV), u{t}(i) =
    Σ_rows x_i·s', v{t+1} = u·_VNORM // max|u| — all integer."""
    parts = [
        f"v0 AS (SELECT i, CAST({_VNORM} AS BIGINT) AS v "
        f"FROM range(1, {_DIM + 1}) t(i))"
    ]
    for t in range(_PCA_T):
        parts.append(f"""s{t} AS (
      SELECT x.vec_id,
             CAST(SUM(x.xi * v.v) AS BIGINT) // {_SDIV} AS sv
      FROM xf x JOIN v{t} v ON v.i = x.i
      GROUP BY x.vec_id
    )""")
        parts.append(f"""u{t} AS (
      SELECT x.i, CAST(SUM(x.xi * s.sv) AS BIGINT) AS u
      FROM xf x JOIN s{t} s ON s.vec_id = x.vec_id
      GROUP BY x.i
    )""")
        parts.append(f"""m{t} AS (SELECT MAX(abs(u)) AS mx FROM u{t})""")
        parts.append(f"""v{t + 1} AS (
      SELECT u.i, u.u * {_VNORM} // GREATEST(m.mx, 1) AS v
      FROM u{t} u CROSS JOIN m{t} m
    )""")
    return ",\n    ".join(parts)


@query(
    "q_pca_power_iteration",
    oracle=f"""
    WITH xf AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {_SCALE})
                  AS BIGINT) AS xi
      FROM embeddings
    ),
    {_sql_pca_rounds()}
    SELECT CAST(i AS BIGINT) AS d, CAST(v AS BIGINT) AS v_fixed
    FROM v{_PCA_T}
    ORDER BY d
    """,
)
def q_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by {_PCA_T}
    matrix-free power-iteration rounds (v ← Xᵀ(Xv), renormalized to
    max|v| = 2^20 each round) — the decorrelation/whitening front end
    of embedding compression (PCA-before-PQ is FAISS's OPQ-lite
    default) and the spectral diagnostic behind "is this embedding
    space collapsing" monitors.

    Plan per round (r12 form): Xv is an IN-ROW dot product against
    the 64 literal v values (zip_with + aggregate on the fixed-point
    array — no join, no per-vector frame), and XᵀXv folds into the
    SAME pass as an i-keyed aggregate (64 keys, full map-side
    combine); the renormalizing max is one scalar. v never exceeds 64
    int64s collected per round — the k-means driver-loop contract.
    ONE corpus pass per round with a 64-row exchange, zero pairwise
    anything: this is how a billion-vector PCA actually runs (MLlib
    RowMatrix / scikit's randomized SVD both reduce to the same
    mat-vec loop, and neither shuffles the matrix)."""
    e = load_table(spark, sf_dir, "embeddings")
    # spread: the whole one-pass round below is compute-bound map work
    # (HOF dot product + explode + partial agg); a narrow local source
    # arrives as ONE split and would serialize it onto one core
    # (functions/exact.spread docstring — the established signature-
    # build treatment). Measured r12: 0.82 s -> 0.47 s per round.
    #
    # Fixed-width contract (ADVICE r12): the in-row dot product below
    # zip_withs xi against a 64-literal array, which NULL-PADS if an
    # embedding were ever not exactly _DIM long — the whole aggregate
    # would go NULL and the row would silently vanish from u (the old
    # join-on-i form, and the oracle, sum over available dims instead).
    # The embeddings schema guarantees fixed _DIM-wide arrays
    # (TESTDATA.md); enforce it loudly: assert_true returns NULL on
    # success (row kept), raises on the first malformed row. One int
    # comparison per row — negligible next to the dot product.
    xarr = spread(e.select(F.expr(_XFIX).alias("xi"))).where(
        F.assert_true(
            F.size("xi") == _DIM,
            F.lit(f"q_pca_power_iteration: embedding is not {_DIM}-dim"),
        ).isNull()
    )

    v = [(i, _VNORM) for i in range(1, _DIM + 1)]
    for _ in range(_PCA_T):
        # Optimization r12 (guide §2.4/§8): one corpus pass per round
        # instead of two plus a vec_id shuffle join. v is 64 known
        # integers, so s(vec) = Σ_i x_i·v_i is an IN-ROW dot product
        # (zip_with + aggregate over the fixed-point array against the
        # literal v array — identical integer sum, identical DIV
        # rescale), and u(i) = Σ_rows x_i·s folds into the SAME pass:
        # explode the array next to the per-row scalar and aggregate to
        # the 64 dimension keys with full map-side combine. The old
        # shape exploded the corpus, shuffled it by vec_id to build s
        # as a frame, then joined it back — two passes and a
        # corpus-sized exchange per round, all of which this removes
        # (the only exchange left is the 64-key partial-agg one).
        v_lit = ", ".join(f"{val}L" for _, val in v)
        sv = F.expr(
            f"CAST(aggregate(zip_with(xi, array({v_lit}), "
            f"(x, vv) -> x * vv), 0L, (a, b) -> a + b) AS BIGINT) "
            f"DIV {_SDIV}"
        )
        u = (
            xarr.select(sv.alias("sv"), F.posexplode("xi").alias("i0", "xi"))
            .groupBy((F.col("i0") + 1).alias("i"))
            .agg(F.sum(F.col("xi") * F.col("sv")).cast("bigint").alias("u"))
        )
        # 64 rows collected per round: the trainer driver-loop contract.
        rows = {int(r["i"]): int(r["u"]) for r in u.collect()}
        mx = max((abs(x) for x in rows.values()), default=1) or 1
        v = [(i, _tdiv(rows.get(i, 0) * _VNORM, mx)) for i in range(1, _DIM + 1)]
    out = spark.createDataFrame(v, "d bigint, v_fixed bigint")
    return out.orderBy("d")
