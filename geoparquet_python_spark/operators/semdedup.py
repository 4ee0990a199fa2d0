"""SemDeDup — semantic (embedding-space) deduplication.

Abbas et al. 2023 ("SemDeDup: Data-efficient learning at web-scale
through semantic deduplication"): cluster the corpus embeddings with
k-means, then WITHIN each cluster drop every item whose cosine
similarity to another cluster member exceeds a threshold, keeping one
representative per semantic-duplicate group. This is the layer of the
dedup stack the lexical passes (exact md5, MinHash/Jaccard, SimHash —
operators/dedup.py) cannot see: paraphrases and re-renderings that
share no shingles but mean the same thing.

No reference equivalent (SURVEY.md §0 provenance — the reference is a
~100 LoC GeoParquet round-trip shim); [N] north-star scope beside the
ANN/kmeans family (operators/similarity.py, operators/kmeans.py).

Spark-first shape (reusing the deterministic fixed-point k-means from
operators/kmeans.py — same trained centroids, same unrolled-CTE SQL
mirror, so the whole composition stays bit-exact vs DuckDB):

- cell assignment is the map-only centroid-literal projection
  (kmeans._assign_expr): zero shuffle to cluster the corpus;
- the within-cell candidate step shuffles the corpus ONCE on the cell
  id, then expands in-cell (lo < hi) pairs map-side from a per-cell
  sorted id list — identical to the LSH bucket expansion shape in
  operators/similarity.py, so no BroadcastNestedLoopJoin anywhere;
- the cosine refine is the Arrow-batched fixed-point dot
  (functions/vector.py:dot_scaled_arrow) — numpy matmul per batch,
  bit-identical to the JVM and DuckDB forms;
- the verdict per vector is one groupBy min() over qualifying
  (lower-id -> higher-id) edges: a vector is dropped iff SOME
  lower-id cluster-mate is tau-similar (the standard keep-first
  SemDeDup rule — deterministic, no iteration).

Scale: the quadratic term is per-cell |c|^2, and SemDeDup's contract
is that K grows with the corpus so |c| stays bounded (the paper runs
50k clusters for LAION); the cell shuffle is the only corpus-wide
movement, the centroid matrix rides along as a literal, and the pair
stream never materializes beyond the tau filter + min() combine. A
cell too hot for one partition would get the same two-level split the
IVF path uses (probe the sub-quantizer inside the cell).

Determinism contract: cells from fixed-point Lloyd (bit-exact);
cosine from int64 fixed-point sums (order-independent); tau compare
and the min() verdict are exact; reported `cos_micro` is
floor(cosine * 1e6) of an IEEE-identical double — stable on both
engines.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from geoparquet_python_spark.functions.exact import materialize
from geoparquet_python_spark.functions.vector import (
    SQL_COSINE,
    SQL_FLAT_EMBEDDINGS,
    SQL_NORMS,
    arrow_matrix,
    cosine_from_scaled,
    cosine_tile,
    dot_scaled_arrow,
    fixed_dot,
    norm2_scaled,
    sql_pair_dot_scaled,
)
from geoparquet_python_spark.operators.kmeans import (
    _T,
    _assign_expr,
    _fixed_points,
    _sql_kmeans_ctes,
    _train,
)
from geoparquet_python_spark.registry import query

_TAU = 0.35  # semantic-duplicate cosine threshold
# K-scaling contract (the paper's): cells grow with the corpus so the
# per-cell pair term |c|^2 stays bounded — K = max(8, n // _CELL_TARGET)
# targets ~_CELL_TARGET members per cell. Round 6 measured the fixed-K
# footgun at 13x wall under 8x data (SCALE.md); the K-scaled run is
# 5.2x with an exactly-linear pair count, so scaled K is the REGISTERED
# default from round 7 (VERDICT r6 item 4) and fixed-K survives only as
# the weak-scaling table's documented contrast.
_CELL_TARGET = 250
# Hard ceiling on the scaled K (round-8, ADVICE r7): the trained
# centroids ride as a K × dim literal expression tree and each Lloyd
# round collects K × dim fixed-point sums — both are driver-side and
# Catalyst-analysis costs that grow with K, so "K scales with the
# corpus" cannot hold unboundedly under the trainer-literal contract.
# 4096 cells × 64 dims ≈ 262k int64 literals is the measured comfort
# ceiling for plan build; past it (corpora > ~1M vectors at the 250
# target) cell occupancy grows linearly again and the |c|^2 in-cell
# pair term returns. The registered next gear is the TWO-LEVEL cell
# key (q_semdedup_two_level below, VERDICT r8 item 6): composite
# (k-means cell × hyperplane fine key), where the fine splitter is
# training-free and corpus-size-independent, so total cell count
# K_CAP × 2^f keeps growing without growing the centroid literal.
_K_CAP = 4096
# SQL twin of _scaled_k — the oracle derives k from the same corpus
# count so both engines compute the identical cluster count.
_SQL_KK = (
    f"kk AS (SELECT LEAST(GREATEST(8, COUNT(*) // {_CELL_TARGET}),"
    f" {_K_CAP}) AS k FROM embeddings)"
)


def _scaled_k(spark: SparkSession, sf_dir: str) -> int:
    """K = min(max(8, n / _CELL_TARGET), _K_CAP): one metadata-only
    parquet count (io.parquet_row_count reads footers driver-side —
    zero Spark jobs, so deriving k never costs a corpus pass)."""
    from geoparquet_python_spark.io import parquet_row_count

    n = parquet_row_count(spark, sf_dir, "embeddings")
    return min(max(8, n // _CELL_TARGET), _K_CAP)


def _assigned_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized (vec_id, embedding, n2, cell) assignment frame —
    computed ONCE per query and shared by the pair expansion and the
    membership rollup (the centroid-argmin projection is the
    expensive interpreted-HOF pass; see kmeans.py's Generate note)."""
    cents = _train(spark, sf_dir, k=_scaled_k(spark, sf_dir))
    return materialize(
        _fixed_points(spark, sf_dir).select(
            "vec_id",
            "embedding",
            norm2_scaled("embedding").alias("n2"),
            _assign_expr(cents).alias("cell"),
        )
    )


# Kernel row-block for the per-cell pair pass: peak chunk memory is
# _PAIR_CHUNK x |c| x dim x 8 B (~16 MB at the 250-member cell target,
# ~67 MB at the occupancy cap) per Python worker — bounded regardless
# of how many pairs a cell contributes.
_PAIR_CHUNK = 128


def _cell_pairs(
    spark: SparkSession,
    sf_dir: str,
    base: DataFrame | None = None,
    min_cosine: float | None = None,
) -> DataFrame:
    """In-cell (vec_a < vec_b) pairs as (cell, vec_a, vec_b, cosine).

    With ``min_cosine`` set (every registered consumer — they all gate
    at tau), the stream comes from ONE per-cell numpy pass
    (_tau_pairs_kernel): each cell's |c| x dim matrix crosses Arrow
    once, all |c|^2 fixed-point dots evaluate as chunked vectorized
    ops, and only the pairs at or above the threshold are ever
    MATERIALIZED AS ROWS. The cosines are the fixed-point ones of
    functions/vector.py, and the tau compare is against the same float
    literal, so the emitted pair set and every cosine match the DuckDB
    oracles.

    Scale shape: one corpus shuffle on the cell id (the groupBy under
    applyInArrow), then per-cell kernel work; per-worker memory is
    O(|c|·dim) for the group plus the _PAIR_CHUNK block — never
    O(|c|^2). The K-grows-with-corpus contract bounds |c| at the cell
    target; a semantically-hot cell past the occupancy cap flips the
    WHOLE call onto the capped explode machinery below (sub-bucketed,
    spill-safe at any occupancy) with the same tau filter applied
    after — identical rows, degraded wall, never a memory cliff. The
    one-aggregate occupancy probe that decides the branch is
    _max_cell_occupancy.

    With ``min_cosine=None`` the full unfiltered pair stream is
    returned via the capped explode machinery (no registered consumer;
    kept as the exact-semantics spec the kernel is measured against in
    tests)."""
    if base is None:
        base = _assigned_base(spark, sf_dir)
    if min_cosine is not None:
        from geoparquet_python_spark.operators.similarity import _BUCKET_CAP

        if _max_cell_occupancy(base) <= _BUCKET_CAP:
            return _tau_pairs_kernel(base, float(min_cosine))
    full = _cell_pairs_full(base)
    if min_cosine is not None:
        full = full.where(F.col("cosine") >= float(min_cosine))
    return full


def _max_cell_occupancy(base: DataFrame) -> int:
    """One aggregate over the (materialized) assignment frame — the
    eager plan-build-time probe that picks kernel vs capped machinery
    (the _capped_bucket_pairs precheck contract), frozen from the data
    observed then; 0 for an empty frame."""
    mx = (
        base.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("__bn"))
        .agg(F.max("__bn").alias("mx"))
        .collect()[0]["mx"]
    )
    return int(mx or 0)


_PAIR_SCHEMA = pa.schema(
    [
        ("cell", pa.int64()),
        ("vec_a", pa.int64()),
        ("vec_b", pa.int64()),
        ("cosine", pa.float64()),
    ]
)


def _tau_pairs_kernel(
    base: DataFrame, tau: float, fine_bands: bool = False
) -> DataFrame:
    """The vectorized per-cell pair pass (see _cell_pairs):
    ``groupBy("cell").applyInArrow`` over (vec_id, embedding, n2,
    cell). Emits (cell, vec_a, vec_b, cosine) rows with cosine >= tau,
    vec_a < vec_b by vec_id sort — the array_sort(collect_list)
    convention.

    With ``fine_bands`` (the two-level gear), a pair must also agree
    on at least one of the _FINE_BANDS hyperplane fine-key bands; the
    32 sign bits are recomputed inside the kernel from the embeddings
    (one m x 32 integer matmul against the same md5-parity planes —
    xfix = floor(x·1e6) products are < 2^53, so the float64 signs are
    the _fine_bits_expr int64 signs, bit for bit), and the OR-combined
    band mask already emits each candidate pair ONCE, so the old
    per-band-duplicate distinct disappears for free."""
    return (
        base.select("vec_id", "embedding", "n2", "cell")
        .groupBy("cell")
        .applyInArrow(
            _tau_pairs_fn(tau, fine_bands), from_arrow_schema(_PAIR_SCHEMA)
        )
    )


def _tau_pairs_fn(tau: float, fine_bands: bool):
    """The per-cell function of _tau_pairs_kernel: one cell's Table in,
    its tau pairs out (none for fewer than two members)."""
    if fine_bands:
        from geoparquet_python_spark.operators.similarity import (
            _plane_components,
        )

        fine_planes = np.array(
            _plane_components()[:_N_FINE_PLANES], dtype=np.float64
        )  # 32 x 64
        band_w = (1 << np.arange(_FINE_BITS, dtype=np.int64))

    def _pairs(t: pa.Table) -> pa.Table:
        m = t.num_rows
        if m < 2:
            return _PAIR_SCHEMA.empty_table()
        ids = t.column("vec_id").to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        E = arrow_matrix(t.column("embedding"), np.float64)[order]
        n2 = t.column("n2").to_numpy()[order]
        if fine_bands:
            # m x _FINE_BANDS packed band values from the sign bits
            # (exact: |xfix| <= ~1e6·max|x|, 64-term sums << 2^53).
            bits = (np.floor(E * 1e6) @ fine_planes.T) >= 0  # m x 32
            bvals = np.stack(
                [
                    bits[:, _FINE_BITS * b:_FINE_BITS * (b + 1)].astype(
                        np.int64
                    )
                    @ band_w
                    for b in range(_FINE_BANDS)
                ],
                axis=1,
            )  # m x _FINE_BANDS
        out_a: list = []
        out_b: list = []
        out_c: list = []
        for i0 in range(0, m - 1, _PAIR_CHUNK):
            i1 = min(i0 + _PAIR_CHUNK, m - 1)
            c0 = i0 + 1  # columns j in (i0, m); mask enforces j > i
            cos = cosine_tile(
                fixed_dot(E[i0:i1, None, :], E[None, c0:, :]),
                n2[i0:i1],
                n2[c0:],
            )
            jcol = np.arange(c0, m)[None, :]
            irow = np.arange(i0, i1)[:, None]
            keep = (cos >= tau) & (jcol > irow)
            if fine_bands:
                keep &= (
                    bvals[i0:i1, None, :] == bvals[None, c0:, :]
                ).any(axis=2)
            ii, jj = np.nonzero(keep)
            out_a.append(ids[ii + i0])
            out_b.append(ids[jj + c0])
            out_c.append(cos[ii, jj])
        va = np.concatenate(out_a)
        return pa.table(
            [
                np.full(len(va), t.column("cell")[0].as_py(), dtype=np.int64),
                va,
                np.concatenate(out_b),
                np.concatenate(out_c),
            ],
            schema=_PAIR_SCHEMA,
        )

    return _pairs


def _cell_pairs_full(base: DataFrame) -> DataFrame:
    """The unfiltered pair stream: occupancy-capped collect_list
    expansion (similarity._capped_bucket_pairs — sub-bucketed past the
    cap, round-6 ADVICE) + per-pair Arrow dot refine. Safe at any cell
    occupancy; pays O(pairs) row materialization, so tau-gated
    consumers should go through _cell_pairs(min_cosine=...)."""
    from geoparquet_python_spark.operators.similarity import (
        _capped_bucket_pairs,
    )

    narrow = base.select("vec_id", "cell")
    payload = base.select(
        "vec_id", F.struct("vec_id", "embedding", "n2").alias("m")
    )
    return _capped_bucket_pairs(narrow, payload, ["cell"]).select(
        "cell",
        "p.vec_a",
        "p.vec_b",
        cosine_from_scaled(
            dot_scaled_arrow("p.a_emb", "p.b_emb"),
            F.col("p.a_n2"),
            F.col("p.b_n2"),
        ).alias("cosine"),
    )


_SQL_SEMDEDUP_EDGES = f"""
    flat AS ({SQL_FLAT_EMBEDDINGS}),
    norms AS ({SQL_NORMS}),
    pairs AS (
      SELECT a.cid AS cell, a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM a{_T} a JOIN a{_T} b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
    ),
    dots AS (
      SELECT p.cell, p.vec_a, p.vec_b, {sql_pair_dot_scaled("fa", "fb")} AS d
      FROM pairs p
      JOIN flat fa ON fa.vec_id = p.vec_a
      JOIN flat fb ON fb.vec_id = p.vec_b AND fb.i = fa.i
      GROUP BY p.cell, p.vec_a, p.vec_b
    ),
    edges AS (
      SELECT cell, vec_a, vec_b,
             {SQL_COSINE.format(dot="d", na="na.n2", nb="nb.n2")} AS cosine
      FROM dots
      JOIN norms na ON na.vec_id = vec_a
      JOIN norms nb ON nb.vec_id = vec_b
    ),
    hits AS (SELECT * FROM edges WHERE cosine >= {_TAU})"""


@query(
    "q_semdedup_dropped",
    oracle=f"""
    WITH {_SQL_KK},
    {_sql_kmeans_ctes(k_sql="(SELECT k FROM kk)")},
    {_SQL_SEMDEDUP_EDGES},
    verdict AS (
      SELECT cell, vec_b AS vec_id, MIN(vec_a) AS dup_of
      FROM hits GROUP BY cell, vec_b
    )
    SELECT v.cell AS cell, v.vec_id AS vec_id, v.dup_of AS dup_of,
           CAST(floor(h.cosine * 1e6) AS BIGINT) AS cos_micro
    FROM verdict v
    JOIN hits h ON h.cell = v.cell AND h.vec_b = v.vec_id
               AND h.vec_a = v.dup_of
    ORDER BY cell, vec_id
    """,
)
def q_semdedup_dropped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup drop list: every vector with a tau-similar LOWER-id
    mate in its k-means cell, with the lowest such mate as `dup_of`
    and the cosine to it (micro-units). Keep-first rule: the corpus
    minus this list is the semantically-deduped corpus."""
    # materialize: hits feeds BOTH the min-mate verdict and the
    # cosine join-back below; without the barrier the whole cell-pair
    # stream (shuffle + Arrow dot refine) executes twice (measured
    # ~1.8 s of the 4.7 s wall at sf0.1, round 8). The surviving edge
    # set is tau-filtered — pair-graph sized, not corpus² — so the
    # checkpoint is small by construction.
    hits = materialize(_cell_pairs(spark, sf_dir, min_cosine=_TAU))
    verdict = hits.groupBy("cell", F.col("vec_b").alias("vec_id")).agg(
        F.min("vec_a").alias("dup_of")
    )
    return (
        verdict.join(
            hits.select(
                "cell",
                F.col("vec_b").alias("vec_id"),
                F.col("vec_a").alias("dup_of"),
                F.floor(F.col("cosine") * 1e6).cast("bigint").alias("cos_micro"),
            ),
            ["cell", "vec_id", "dup_of"],
        )
        .select("cell", "vec_id", "dup_of", "cos_micro")
        .orderBy("cell", "vec_id")
    )


@query(
    "q_semdedup_cell_stats",
    oracle=f"""
    WITH {_SQL_KK},
    {_sql_kmeans_ctes(k_sql="(SELECT k FROM kk)")},
    {_SQL_SEMDEDUP_EDGES},
    dropped AS (SELECT DISTINCT vec_b AS vec_id, cell FROM hits),
    members AS (SELECT cid AS cell, COUNT(*) AS n_members FROM a{_T} GROUP BY cid)
    SELECT m.cell AS cell,
           CAST(m.n_members AS BIGINT) AS n_members,
           CAST(COALESCE(d.n_dropped, 0) AS BIGINT) AS n_dropped,
           CAST(m.n_members - COALESCE(d.n_dropped, 0) AS BIGINT) AS n_kept
    FROM members m
    LEFT JOIN (SELECT cell, COUNT(*) AS n_dropped FROM dropped GROUP BY cell) d
      USING (cell)
    ORDER BY cell
    """,
)
def q_semdedup_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell SemDeDup retention: members / dropped / kept. The
    rollup a pipeline owner watches — a cell with an outsized drop
    rate is either a true semantic-duplicate hotspot or a tau set too
    loose for that region of embedding space."""
    base = _assigned_base(spark, sf_dir)
    members = base.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    dropped = (
        _cell_pairs(spark, sf_dir, base=base, min_cosine=_TAU)
        .select("cell", "vec_b")
        .distinct()
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_dropped"))
    )
    return (
        members.join(dropped, "cell", "left")
        .select(
            "cell",
            "n_members",
            F.coalesce("n_dropped", F.lit(0).cast("bigint")).alias("n_dropped"),
            (
                F.col("n_members")
                - F.coalesce("n_dropped", F.lit(0).cast("bigint"))
            ).alias("n_kept"),
        )
        .orderBy("cell")
    )


# ---------------------------------------------------------------------------
# Round-9: two-level SemDeDup — the registered gear past the K cap
# ---------------------------------------------------------------------------

# Fine key = BANDED hyperplane signature: _FINE_BANDS independent bands
# of _FINE_BITS sign bits each (32 planes total, the first rows of
# similarity._plane_components()'s deterministic md5-parity family).
# Composite cells per band = K x 2^_FINE_BITS; a pair is a candidate if
# it agrees on the coarse cell AND on ANY band — the same
# recall-by-union structure as every banded LSH in this repo. Per-bit
# agreement is 1 - theta/pi, so single-band recall at the tau=0.35
# boundary is ~0.61^4 ~= 0.14 and the band union lifts it as
# 1-(1-0.14)^B: B=4 gave ~0.46 predicted / 0.494 measured pair recall
# at sf0.1; the B=8 gear registered in round 11 (VERDICT r10 item 4)
# predicts ~0.70 at the boundary and ~0.99 at cosine 0.9. Bands buy
# recall linearly in candidate volume; f bits buy occupancy halving.
# All of it is TRAINING-FREE: growing f or B at 100 TB costs zero
# trained state, zero plan-build growth beyond constants.
_FINE_BITS = 4  # bits per band
_FINE_BANDS = 8
_N_FINE_PLANES = _FINE_BITS * _FINE_BANDS


def _fine_planes_lit() -> str:
    """The 16x64 ±1 plane matrix as one parsed SQL array literal
    (constant-folded by Catalyst — the similarity.py lesson: never
    build thousands of F.lit nodes through py4j)."""
    from geoparquet_python_spark.operators.similarity import (
        _plane_components,
    )

    planes = _plane_components()[:_N_FINE_PLANES]
    return (
        "array("
        + ",".join(
            "array(" + ",".join(f"{c}L" for c in row) + ")" for row in planes
        )
        + ")"
    )


def _fine_bits_expr() -> str:
    """array<long> of the _N_FINE_PLANES sign bits over the SAME
    floor(x*1e6) fixed points (xfix) the k-means assignment uses —
    int64-exact, order-independent, identical in the SQL mirror."""
    return (
        f"transform({_fine_planes_lit()}, pl -> "
        "CASE WHEN aggregate(zip_with(xfix, pl, (x, c) -> x * c), 0L, "
        "(acc, x) -> acc + x) >= 0 THEN 1L ELSE 0L END)"
    )


# Explode of (band, bval) structs from a bound `fbits` column — the
# hyperplane band-packing shape (one parsed expr, no py4j tree).
_FINE_BAND_EXPR = (
    f"explode(transform(sequence(0, {_FINE_BANDS - 1}, 1), "
    "b -> struct(CAST(b AS BIGINT) AS band, "
    f"aggregate(sequence(0, {_FINE_BITS - 1}, 1), 0L, (acc, r) -> "
    f"acc + element_at(fbits, CAST(b * {_FINE_BITS} + r + 1 AS INT)) "
    "* shiftleft(1L, CAST(r AS INT))) AS bval)))"
)


def _sql_fine_ctes() -> str:
    """DuckDB mirror: fplanes (±1 md5 parity) → per-dim fixed points →
    per-plane sign bits → per-band packed values."""
    return f"""fplanes AS (
      SELECT p, i,
             CASE WHEN (CAST(('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT) & 1) = 1
                  THEN 1 ELSE -1 END AS c
      FROM range({_N_FINE_PLANES}) t(p) CROSS JOIN range(1, 65) u(i)
    ),
    fqint AS (
      SELECT vec_id, i, CAST(floor(x * 1000000) AS BIGINT) AS xi FROM flat
    ),
    fbits AS (
      SELECT q.vec_id, pl.p,
             CASE WHEN SUM(q.xi * pl.c) >= 0 THEN 1 ELSE 0 END AS bit
      FROM fqint q JOIN fplanes pl ON pl.i = q.i
      GROUP BY 1, 2
    ),
    fbands AS (
      SELECT vec_id, p // {_FINE_BITS} AS band,
             CAST(SUM(bit * CAST(power(2, p % {_FINE_BITS}) AS BIGINT))
                  AS BIGINT) AS bval
      FROM fbits GROUP BY 1, 2
    )"""


def _two_level_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized (vec_id, embedding, n2, cell) assignment frame for
    the two-level gear — since round 11 the SAME frame as
    _assigned_base. The fine-key sign bits (`fbits`) are no longer
    materialized here: the kernel fast path recomputes them inside its
    per-cell numpy pass (one m x 32 matmul — cheaper than one
    interpreted zip_with/aggregate HOF ROW, let alone a corpus of
    them), and only the guarded over-cap branch of _two_level_hits
    derives the column, lazily, from xfix."""
    return _assigned_base(spark, sf_dir)


def _two_level_hits(
    spark: SparkSession, sf_dir: str, base: DataFrame | None = None
) -> DataFrame:
    """Materialized tau-hit pair set (cell, vec_a, vec_b, cosine) of
    the banded two-level candidate structure, pair-DISTINCT (a pair
    agreeing on several bands refines once per band — the hyperplane
    convention — and dedupes here where the surviving set is tiny)."""
    if base is None:
        base = _two_level_base(spark, sf_dir)
    from geoparquet_python_spark.operators.similarity import (
        _BUCKET_CAP,
        _capped_bucket_pairs,
    )

    # Kernel fast path (round 11, same routing as _cell_pairs): when
    # no COARSE cell exceeds the occupancy cap, the banded candidate
    # join + per-pair Arrow refine collapses into the per-cell numpy
    # pass with the band-agreement mask — identical pair set and
    # cosines (the OR-combined mask emits each candidate once, so the
    # per-band-duplicate distinct is structural, not a plan node).
    if _max_cell_occupancy(base) <= _BUCKET_CAP:
        return materialize(_tau_pairs_kernel(base, _TAU, fine_bands=True))
    from geoparquet_python_spark.operators.kmeans import _XFIX

    banded = (
        base.withColumn("xfix", F.expr(_XFIX))
        .withColumn("fbits", F.expr(_fine_bits_expr()))
        .select("vec_id", "cell", F.expr(_FINE_BAND_EXPR).alias("bb"))
    )
    narrow = banded.select(
        "vec_id", "cell", F.col("bb.band").alias("band"),
        F.col("bb.bval").alias("bval"),
    )
    payload = base.select(
        "vec_id", F.struct("vec_id", "embedding", "n2").alias("m")
    )
    pairs = _capped_bucket_pairs(narrow, payload, ["cell", "band", "bval"])
    return materialize(
        pairs.select(
            "cell",
            "p.vec_a",
            "p.vec_b",
            cosine_from_scaled(
                dot_scaled_arrow("p.a_emb", "p.b_emb"),
                F.col("p.a_n2"),
                F.col("p.b_n2"),
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= _TAU)
        .distinct()
    )


_SQL_TWO_LEVEL_HITS = f"""cells AS MATERIALIZED (
      SELECT a.vec_id, a.cid AS cell, b.band, b.bval
      FROM a{_T} a JOIN fbands b USING (vec_id)
    ),
    cand AS (
      SELECT DISTINCT a.cell, a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM cells a JOIN cells b
        ON a.cell = b.cell AND a.band = b.band AND a.bval = b.bval
       AND a.vec_id < b.vec_id
    ),
    tdots AS (
      SELECT c.cell, c.vec_a, c.vec_b, {sql_pair_dot_scaled("fa", "fb")} AS d
      FROM cand c
      JOIN flat fa ON fa.vec_id = c.vec_a
      JOIN flat fb ON fb.vec_id = c.vec_b AND fb.i = fa.i
      GROUP BY c.cell, c.vec_a, c.vec_b
    ),
    thits AS MATERIALIZED (
      SELECT cell, vec_a, vec_b,
             {SQL_COSINE.format(dot="d", na="na.n2", nb="nb.n2")} AS cosine
      FROM tdots
      JOIN norms na ON na.vec_id = vec_a
      JOIN norms nb ON nb.vec_id = vec_b
      WHERE {SQL_COSINE.format(dot="d", na="na.n2", nb="nb.n2")} >= {_TAU}
    )"""


@query(
    "q_semdedup_two_level",
    oracle=f"""
    WITH {_SQL_KK},
    {_sql_kmeans_ctes(k_sql="(SELECT k FROM kk)")},
    flat AS ({SQL_FLAT_EMBEDDINGS}),
    norms AS MATERIALIZED ({SQL_NORMS}),
    {_sql_fine_ctes()},
    {_SQL_TWO_LEVEL_HITS},
    verdict AS (
      SELECT cell, vec_b AS vec_id, MIN(vec_a) AS dup_of
      FROM thits GROUP BY cell, vec_b
    )
    SELECT v.cell AS cell, v.vec_id AS vec_id, v.dup_of AS dup_of,
           CAST(floor(h.cosine * 1e6) AS BIGINT) AS cos_micro
    FROM verdict v
    JOIN thits h ON h.cell = v.cell AND h.vec_b = v.vec_id
                AND h.vec_a = v.dup_of
    ORDER BY cell, vec_id
    """,
)
def q_semdedup_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level SemDeDup drop list: candidates compare only within
    the COMPOSITE (k-means cell, hyperplane band, band value) — the
    registered scale gear for corpora past the K cap (_K_CAP
    docstring), where single-level K-scaling stalls and per-cell |c|²
    work would return.

    Why this shape survives 100 TB: the coarse level keeps the trained
    K ≤ _K_CAP (bounded centroid literal, bounded Lloyd collects); the
    fine level is TRAINING-FREE — _FINE_BANDS independent bands of
    _FINE_BITS deterministic hyperplane sign bits over the same
    fixed-point embedding, a map-only projection off md5-derived
    constants. Each band splits every coarse cell ~2^f ways (expected
    in-bucket pair work falls 2^f per band, 2^f/B overall), and f/B
    are config constants: growing them costs nothing at plan-build or
    train time. Pair machinery is the shared occupancy-capped
    expansion on the composite key; a pair agreeing on several bands
    refines once per band and dedupes after the tau gate (the
    hyperplane-LSH convention — the surviving set is near-dup-graph
    sized).

    Semantics trade (inherent to every banded LSH): a tau-pair missing
    ALL bands is missed. Per-bit agreement is 1−θ/π — ~0.61 at the
    tau=0.35 boundary, ~0.86 at cosine 0.9 — so B=4 × f=4 recall runs
    ~0.46 at the boundary and ~0.95 at cosine 0.9, → 1 for the
    near-exact duplicates SemDeDup exists to drop; bands buy recall
    (1−(1−r)^B), bits buy occupancy. The MEASURED recall at each scale
    is a registered audit (q_semdedup_two_level_recall), not a prose
    claim. Drop set is provably ⊆ the single-level drop set (same
    coarse cell required) — pytest-pinned containment."""
    hits = _two_level_hits(spark, sf_dir)
    verdict = hits.groupBy("cell", F.col("vec_b").alias("vec_id")).agg(
        F.min("vec_a").alias("dup_of")
    )
    return (
        verdict.join(
            hits.select(
                "cell",
                F.col("vec_b").alias("vec_id"),
                F.col("vec_a").alias("dup_of"),
                F.floor(F.col("cosine") * 1e6).cast("bigint").alias("cos_micro"),
            ),
            ["cell", "vec_id", "dup_of"],
        )
        .select("cell", "vec_id", "dup_of", "cos_micro")
        .orderBy("cell", "vec_id")
    )


@query(
    "q_semdedup_two_level_recall",
    oracle=f"""
    WITH {_SQL_KK},
    {_sql_kmeans_ctes(k_sql="(SELECT k FROM kk)")},
    flat AS ({SQL_FLAT_EMBEDDINGS}),
    norms AS MATERIALIZED ({SQL_NORMS}),
    {_sql_fine_ctes()},
    am AS MATERIALIZED (SELECT vec_id, cid AS cell FROM a{_T}),
    p1 AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM am a JOIN am b ON a.cell = b.cell AND a.vec_id < b.vec_id
    ),
    h1 AS MATERIALIZED (
      SELECT d.vec_a, d.vec_b
      FROM (
        SELECT p.vec_a, p.vec_b, {sql_pair_dot_scaled("fa", "fb")} AS d
        FROM p1 p
        JOIN flat fa ON fa.vec_id = p.vec_a
        JOIN flat fb ON fb.vec_id = p.vec_b AND fb.i = fa.i
        GROUP BY p.vec_a, p.vec_b
      ) d
      JOIN norms na ON na.vec_id = d.vec_a
      JOIN norms nb ON nb.vec_id = d.vec_b
      WHERE {SQL_COSINE.format(dot="d.d", na="na.n2", nb="nb.n2")} >= {_TAU}
    ),
    {_SQL_TWO_LEVEL_HITS.replace("cells AS MATERIALIZED", "tcells AS MATERIALIZED").replace("FROM cells a JOIN cells b", "FROM tcells a JOIN tcells b")},
    h2 AS (SELECT vec_a, vec_b FROM thits),
    np_one AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM h1),
    np_two AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM h2),
    np_both AS (SELECT CAST(COUNT(*) AS BIGINT) AS n
                FROM h1 JOIN h2 USING (vec_a, vec_b)),
    nd_one AS (SELECT CAST(COUNT(DISTINCT vec_b) AS BIGINT) AS n FROM h1),
    nd_two AS (SELECT CAST(COUNT(DISTINCT vec_b) AS BIGINT) AS n FROM h2),
    nd_both AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM
                (SELECT DISTINCT vec_b FROM h1) x
                JOIN (SELECT DISTINCT vec_b FROM h2) y USING (vec_b))
    SELECT np_one.n AS n_pairs_single, np_two.n AS n_pairs_two,
           np_both.n AS n_pairs_common,
           nd_one.n AS n_dropped_single, nd_two.n AS n_dropped_two,
           nd_both.n AS n_dropped_common,
           CAST(np_both.n * 1000000 // GREATEST(np_one.n, 1) AS BIGINT)
             AS pair_recall_ppm,
           CAST(nd_both.n * 1000000 // GREATEST(nd_one.n, 1) AS BIGINT)
             AS drop_recall_ppm
    FROM np_one, np_two, np_both, nd_one, nd_two, nd_both
    """,
)
def q_semdedup_two_level_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of the two-level gear against the single-level
    definition — the sketch-quality-gate convention every
    probabilistic layer in this repo ships (LSH recall audit,
    hyperplane recall audit, Matryoshka audit): the approximation's
    loss is a NUMBER in the registry, not a docstring claim. Reports
    tau-pair and dropped-vector counts under both keys, their
    intersections, and integer-ppm recalls. By the containment
    theorem (any shared band ⇒ same coarse cell) common == two on
    both measures — the oracle COUNTS the intersections rather than
    assuming them, so a fine-key implementation bug that invented
    pairs would show up as common < two, not pass silently.

    Scale: both pair streams are the occupancy-capped in-cell
    expansions (each linear under its own contract); the audit adds
    only pair-key joins on the tau-filtered HIT sets — near-dup-graph
    sized, tiny by construction. One trained-centroid literal and one
    assignment pass are shared by both levels."""
    base = _two_level_base(spark, sf_dir)
    h1 = materialize(
        _cell_pairs(spark, sf_dir, base=base, min_cosine=_TAU).select(
            "vec_a", "vec_b"
        )
    )
    h2 = _two_level_hits(spark, sf_dir, base=base).select("vec_a", "vec_b")
    one = (
        h1.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs_single"))
        .crossJoin(
            h2.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs_two"))
        )
        .crossJoin(
            h1.join(h2, ["vec_a", "vec_b"]).agg(
                F.count(F.lit(1)).cast("bigint").alias("n_pairs_common")
            )
        )
        .crossJoin(
            h1.select("vec_b")
            .distinct()
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_dropped_single"))
        )
        .crossJoin(
            h2.select("vec_b")
            .distinct()
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_dropped_two"))
        )
        .crossJoin(
            h1.select("vec_b")
            .distinct()
            .join(h2.select("vec_b").distinct(), "vec_b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_dropped_common"))
        )
    )
    return one.select(
        "n_pairs_single",
        "n_pairs_two",
        "n_pairs_common",
        "n_dropped_single",
        "n_dropped_two",
        "n_dropped_common",
        F.expr(
            "CAST(n_pairs_common * 1000000 DIV GREATEST(n_pairs_single, 1)"
            " AS BIGINT)"
        ).alias("pair_recall_ppm"),
        F.expr(
            "CAST(n_dropped_common * 1000000 DIV GREATEST(n_dropped_single, 1)"
            " AS BIGINT)"
        ).alias("drop_recall_ppm"),
    )


# ---------------------------------------------------------------------------
# Round-8: ClusterClip — cluster-capped balanced sampling
# ---------------------------------------------------------------------------

# Per-cell quota: 1.5x the mean occupancy (3n / 2K, integer) — hot
# semantic clusters are clipped to the cap while the long tail keeps
# everything, the redundancy-aware rebalancing production curation
# stacks run between dedup and mixing (cluster-level capping per
# DeepSeekMath/Qwen data notes; the idea is public in the SemDeDup /
# D4 lineage: over-dense embedding regions contribute diminishing
# returns per extra document).
_CLIP_NUM, _CLIP_DEN = 3, 2

from geoparquet_python_spark.functions.text import SQL_MD5_LONG as _SQL_M5

# Deterministic content-free shuffle rank, identical on both engines.
_SQL_CCL_RANK = _SQL_M5.format(expr="CAST(vec_id AS VARCHAR) || '_ccl'")


@query(
    "q_cluster_clip_sample",
    oracle=f"""
    WITH {_SQL_KK},
    {_sql_kmeans_ctes(k_sql="(SELECT k FROM kk)")},
    quota AS (
      SELECT GREATEST(1, ({_CLIP_NUM} * (SELECT COUNT(*) FROM embeddings))
                         // ({_CLIP_DEN} * (SELECT k FROM kk))) AS q
    ),
    ranked AS (
      SELECT cid AS cell, vec_id,
             row_number() OVER (
               PARTITION BY cid
               ORDER BY {_SQL_CCL_RANK}, vec_id
             ) AS rn
      FROM a{_T}
    )
    SELECT r.cell AS cell,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MIN(o.q) AS BIGINT) AS quota,
           CAST(SUM(CASE WHEN r.rn <= o.q THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN r.rn > o.q THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped
    FROM ranked r CROSS JOIN quota o
    GROUP BY r.cell
    ORDER BY r.cell
    """,
)
def q_cluster_clip_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClusterClip: cap every k-means cell at 1.5x the mean occupancy,
    electing survivors by a DETERMINISTIC content-free hash rank
    (md5_long(vec_id || '_ccl') — reproducible shuffling, the repo's
    sampling convention), so over-represented semantic regions stop
    dominating the training mixture while sparse cells keep every
    member. Reuses the SemDeDup assignment (same trained fixed-point
    centroids, same unrolled-CTE oracle) — this is the density
    REBALANCING layer that runs after the tau-duplicate layer.

    Scale shape: cell assignment is the cached map-only centroid
    projection; the rank is ONE window over the cell shuffle (the
    same single corpus movement SemDeDup pays), spillable sort. At
    100 TB the window sort is replaceable by the two-phase
    hash-threshold cutoff (sampling.py's pattern) since ranks beyond
    the quota are never needed — documented next gear, same plan
    shape. Quota derives from footer row count + the K formula, zero
    extra jobs, mirrored exactly in SQL."""
    from geoparquet_python_spark.functions.text import md5_long
    from geoparquet_python_spark.io import parquet_row_count

    base = _assigned_base(spark, sf_dir)
    n = parquet_row_count(spark, sf_dir, "embeddings")
    k = _scaled_k(spark, sf_dir)
    q = max(1, (_CLIP_NUM * n) // (_CLIP_DEN * k))
    w = Window.partitionBy("cell").orderBy(
        md5_long(F.concat(F.col("vec_id").cast("string"), F.lit("_ccl"))),
        "vec_id",
    )
    ranked = base.select(
        "cell", "vec_id", F.row_number().over(w).alias("rn")
    )
    return (
        ranked.groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.lit(q).cast("bigint").alias("quota"),
            F.sum((F.col("rn") <= q).cast("int")).cast("bigint").alias("n_kept"),
            F.sum((F.col("rn") > q).cast("int")).cast("bigint").alias("n_clipped"),
        )
        .orderBy("cell")
    )
