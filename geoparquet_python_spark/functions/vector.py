"""Vector math over `array<float>` embedding columns — pure built-in
higher-order functions (zip_with / aggregate / transform), no UDFs.

Determinism: dot products and squared norms are accumulated in
**fixed-point int64** (each term `floor(x*y*1e12)`), because float
addition is order-dependent but integer addition is not — the same
trick as functions/exact.py, without decimal-type precision juggling.
Each term is computed in IEEE double (bit-identical on any engine);
`floor` rounds toward −∞ identically everywhere; the int64 sum is
order-independent. 64-dim unit-scale vectors: |term| ≤ ~2×10^12,
sums ≤ ~10^14 — far inside int64.

Cost: one fused JVM expression per pair, inside whole-stage codegen;
no Python, no explode, no shuffle for the arithmetic itself.

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
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

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


def dot_scaled_arrow(a: Column | str, b: Column | str) -> Column:
    """Arrow-vectorized twin of :func:`dot_scaled` — bit-identical
    result (IEEE double products, floor, int64 sum are all deterministic
    in numpy exactly as in the JVM), but evaluated as a numpy batch
    matmul instead of an interpreted higher-order function.

    Use in REFINE hot paths: Spark's array HOFs (zip_with/aggregate)
    never enter whole-stage codegen — measured ~50 µs per 64-dim pair
    interpreted, which dominated the LSH refine (108 k candidates ⇒
    ~6 s). The pandas UDF amortizes to <0.1 µs/pair after Arrow
    transfer, and—as a Python predicate—is evaluated ONCE after the
    join instead of being pushed into the join condition and re-run
    per probe. Keep :func:`dot_scaled` for per-ROW projections
    (norms) where batches are small and JVM locality wins.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    @pandas_udf(LongType())
    def _dot(xs: pd.Series, ys: pd.Series) -> pd.Series:
        if len(xs) == 0:
            return pd.Series([], dtype="int64")
        A = np.vstack(xs.to_numpy()).astype(np.float64)
        B = np.vstack(ys.to_numpy()).astype(np.float64)
        terms = np.floor(A * B * FIXED_POINT).astype(np.int64)
        return pd.Series(terms.sum(axis=1))

    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return _dot(a, b)


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
