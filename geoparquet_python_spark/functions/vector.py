"""Vector math over `array<float>` embedding columns, in two forms
that give the same bits: built-in JVM higher-order functions
(zip_with / aggregate / transform) and numpy over Arrow batches.

Determinism: dot products and squared norms are accumulated in
**fixed-point int64** (each term `floor(x*y*1e12)`), because float
addition is order-dependent but integer addition is not — the same
trick as functions/exact.py, without decimal-type precision juggling.
Exactness: float32 → float64 widening, the float64 product, `* 1e12`,
`floor`, the int64 sum, `sqrt` and division are each exactly
specified by IEEE 754, and the int64 sum is order-independent, so the
JVM expressions, the numpy kernels and the DuckDB oracles compute the
same bits. 64-dim unit-scale vectors: |term| ≤ ~2×10^12, sums ≤
~10^14 — far inside int64.

JVM side: :func:`dot_scaled` is one fused expression per pair, inside
whole-stage codegen; no Python, no explode, no shuffle.

Numpy side, shared by every vector kernel (Arrow UDFs, ``mapInArrow``
and ``applyInArrow`` functions):
- :func:`arrow_matrix` reads an Arrow ``list<…>`` column as a
  fixed-width matrix, with no pandas hop;
- :func:`fixed_dot` is :func:`dot_scaled`'s numpy twin, broadcasting,
  so it serves row-wise dots and (q × c) tiles alike;
- :func:`cosine_tile` is :func:`cosine_from_scaled`'s numpy twin over
  a (q × c) tile of fixed-point dots.

Cosine search helpers, shared by every exact and approximate top-k,
kNN-graph and near-duplicate query of the vector family:
- :func:`vec_side` projects one side of a pair join: ``vec_id`` under
  the side's id name, then the side's passthrough columns, then
  ``embedding`` as ``<p>_emb`` and its fixed-point norm as ``<p>_n2``;
- :func:`pair_cosine` is the fixed-point cosine of two such sides;
- :func:`cosine_top_k` keeps each query's ``k`` best pairs.

Tie-break policy: the top-k total order is ``(cosine DESC, cid ASC)``,
spelled as ``row_number() OVER (PARTITION BY qid ORDER BY cosine DESC,
cid)`` in every DuckDB oracle; :func:`cosine_top_k` is its only Spark
spelling.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import LongType

FIXED_POINT = 1e12


def dot_scaled(a: Column | str, b: Column | str) -> Column:
    """Fixed-point dot product: Σ floor(a_i·b_i·1e12) as bigint."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    terms = F.zip_with(
        a, b, lambda x, y: F.floor(x.cast("double") * y.cast("double") * F.lit(FIXED_POINT))
    )
    return F.aggregate(terms, F.lit(0).cast("bigint"), lambda acc, x: acc + x)


def norm2_scaled(a: Column | str) -> Column:
    """Fixed-point squared L2 norm."""
    a = F.col(a) if isinstance(a, str) else a
    return dot_scaled(a, a)


def cosine_from_scaled(dot_s: Column, na_s: Column, nb_s: Column) -> Column:
    """Cosine from fixed-point dot + squared norms (IEEE-deterministic)."""
    to_d = lambda c: c.cast("double") / F.lit(FIXED_POINT)  # noqa: E731
    return to_d(dot_s) / (F.sqrt(to_d(na_s)) * F.sqrt(to_d(nb_s)))


def vec_side(
    df: DataFrame, id_col: str, p: str, *passthrough: Column | str
) -> DataFrame:
    """One side of a pair join: ``vec_id AS <id_col>``, the passthrough
    columns, ``embedding AS <p>_emb`` and ``norm2_scaled AS <p>_n2``."""
    return df.select(
        F.col("vec_id").alias(id_col),
        *passthrough,
        F.col("embedding").alias(f"{p}_emb"),
        norm2_scaled("embedding").alias(f"{p}_n2"),
    )


def pair_cosine(a: str, b: str, dot=dot_scaled) -> Column:
    """Fixed-point cosine of the ``a`` and ``b`` sides built by
    :func:`vec_side`. ``dot``: :func:`dot_scaled`, or its bit-identical
    Arrow twin :func:`dot_scaled_arrow` for a join-refine hot path."""
    return cosine_from_scaled(
        dot(f"{a}_emb", f"{b}_emb"), F.col(f"{a}_n2"), F.col(f"{b}_n2")
    )


def cosine_top_k(pairs: DataFrame, k: int, cid: str = "cid") -> DataFrame:
    """Each ``qid``'s ``k`` best pairs by ``(cosine DESC, <cid> ASC)``,
    ranked 1..k in a ``rank`` column."""
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col(cid))
    return pairs.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def arrow_matrix(col: pa.Array | pa.ChunkedArray, dtype) -> np.ndarray:
    """An Arrow ``list<…>`` column as an (n × width) ``dtype`` matrix.

    Reads the values between the first and last offsets, so a sliced
    array gives its own rows. Zero rows give a (0 × 0) matrix; rows of
    unequal width raise ``ValueError``."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if len(col) == 0:
        return np.empty((0, 0), dtype)
    off = col.offsets.to_numpy(zero_copy_only=False)
    widths = np.diff(off)
    if (widths != widths[0]).any():
        raise ValueError("arrow_matrix: ragged list widths")
    vals = col.values.to_numpy(zero_copy_only=False)[off[0] : off[-1]]
    return vals.astype(dtype, copy=False).reshape(len(col), int(widths[0]))


def fixed_dot(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Σ floor((x·y)·1e12) over the last axis as int64 — :func:`dot_scaled`
    in numpy. Broadcasts: two (n × d) matrices give n row-wise dots,
    ``x[:, None, :]`` against ``y[None, :, :]`` a (q × c) tile."""
    return np.floor((x * y) * FIXED_POINT).astype(np.int64).sum(axis=-1)


def cosine_tile(d: np.ndarray, na: np.ndarray, nb: np.ndarray) -> np.ndarray:
    """(q × c) cosines :func:`cosine_from_scaled` computes, from a tile
    ``d`` of fixed-point dots and the fixed-point squared norms ``na``
    (q) and ``nb`` (c) of its rows and columns."""
    ra = np.sqrt(na / FIXED_POINT)
    rb = np.sqrt(nb / FIXED_POINT)
    return (d / FIXED_POINT) / (ra[:, None] * rb[None, :])


@arrow_udf(LongType())
def _dot_arrow(xs: pa.Array, ys: pa.Array) -> pa.Array:
    x, y = arrow_matrix(xs, np.float64), arrow_matrix(ys, np.float64)
    return pa.array(fixed_dot(x, y))


def dot_scaled_arrow(a: Column | str, b: Column | str) -> Column:
    """Arrow-vectorized twin of :func:`dot_scaled` — bit-identical
    result, evaluated as :func:`fixed_dot` over each Arrow batch
    instead of an interpreted higher-order function.

    Use in REFINE hot paths: Spark's array HOFs (zip_with/aggregate)
    never enter whole-stage codegen — measured ~50 µs per 64-dim pair
    interpreted, which dominated the LSH refine (108 k candidates ⇒
    ~6 s). The Arrow UDF amortizes to <0.1 µs/pair after Arrow
    transfer, and—as a Python predicate—is evaluated ONCE after the
    join instead of being pushed into the join condition and re-run
    per probe. Keep :func:`dot_scaled` for per-ROW projections
    (norms) where batches are small and JVM locality wins.
    """
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return _dot_arrow(a, b)


# ---- DuckDB SQL mirrors (positional unnest; decimal-free, same math) ----

SQL_FLAT_EMBEDDINGS = """
  SELECT vec_id,
         generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
"""


def sql_pair_dot_scaled(flat_a: str = "fa", flat_b: str = "fb") -> str:
    """Σ floor(x·y·1e12) as BIGINT over two positionally-joined flats."""
    return (
        f"CAST(SUM(CAST(floor({flat_a}.x * {flat_b}.x * 1e12) AS BIGINT)) AS BIGINT)"
    )


SQL_NORMS = """
  SELECT vec_id,
         CAST(SUM(CAST(floor(x * x * 1e12) AS BIGINT)) AS BIGINT) AS n2
  FROM flat GROUP BY vec_id
"""

SQL_COSINE = (
    "(({dot} / 1e12) / (sqrt({na} / 1e12) * sqrt({nb} / 1e12)))"
)
