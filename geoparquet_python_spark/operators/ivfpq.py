"""IVFADC: coarse k-means cells + product-quantized RESIDUALS +
asymmetric-distance search + exact re-rank — the composed ANN layout
of Jégou et al.'s "Product Quantization for Nearest Neighbor Search"
(public), and the shape every billion-vector store (FAISS IVF-PQ)
deploys. (SURVEY.md §2.F3 [N]-scope; the reference has no vector
surface.)

Both quantizers come from the one shared fixed-point Lloyd trainer
(kmeans._lloyd, one centroid cache), nothing new invented:
- coarse quantizer: operators/kmeans.py's cells, the trainer at M = 1
  (K=8, T=3);
- fine quantizer: operators/pq.py's per-subspace codebooks, the
  trainer at M = 8 (K=16, T=2), trained here on the coarse RESIDUALS
  x − c(cell) rather than raw vectors (the residual trick: PQ spends
  its 32 bits on the within-cell remainder, where the variance lives);
- search: probe NPROBE cells per query, build the per-(query, cell)
  ADC lookup table against the QUERY residual, score candidates as M
  integer table lookups, shortlist by estimated distance, then exact
  fixed-point cosine re-rank of the shortlist only.

Scale design: training collects K*dim + M*K*SUBD int64 literals
(driver-loop contract, same as kmeans/pq); encoding is one map-only
corpus pass; the search broadcasts the LUT (NQ × NPROBE × M × K
rows) so the corpus never shuffles — candidates stream cell-locally,
the (qid, cvec) rollup is the only exchange and is candidate-sized,
and the exact re-rank touches SHORTLIST vectors per query instead of
the whole cell. At 100 TB the corpus side is codes (4 GB/billion
vectors) + one bigint cell id — the raw floats are read only by the
re-rank's shortlist fetch, exactly how a production IVFADC store
lays out hot/cold columns.

Determinism: residuals are int64 differences of already-exact
fixed-point vectors, so both codebooks and every distance below are
bit-identical in Spark, DuckDB, and the driver loop; ADC shortlist
ties break to the lowest candidate id, final rank to
(cosine DESC, cid).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from geoparquet_python_spark.functions.exact import (
    broadcast_narrow,
    materialize,
)
from geoparquet_python_spark.functions.vector import (
    SQL_COSINE,
    SQL_FLAT_EMBEDDINGS,
    SQL_NORMS,
    cosine_top_k,
    pair_cosine,
    sql_pair_dot_scaled,
    vec_side,
)
from geoparquet_python_spark.io import read_parquet, register_scratch
from geoparquet_python_spark.operators import kmeans as km
from geoparquet_python_spark.operators import pq
from geoparquet_python_spark.registry import query

_NQ = 10  # query vectors: vec_id < _NQ
# Probe/shortlist sizing: the synthetic embeddings are near-isotropic
# (the hardest ANN regime — true neighbors barely separate from noise,
# so PQ distortion costs recall fastest). 3/8 cells + a 20-deep
# shortlist lands recall@3 ~0.77 at sf0.01 (q_ivfpq_recall_audit);
# production corpora cluster far more and run far larger K with
# proportionally tiny nprobe/K ratios.
_NPROBE = 3  # coarse cells probed per query
_SHORTLIST = 20  # ADC shortlist re-ranked exactly
_TOPK = 3


def _cents_lit(cents: list[list[int]]) -> F.Column:
    return F.array(*[F.array(*[F.lit(int(v)) for v in c]) for c in cents])


def _residual_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cell, xfix): per-vector coarse cell + residual, named
    ``xfix`` so pq's codebook expressions apply unchanged."""
    cents = km._train(spark, sf_dir)
    x = km._fixed_points(spark, sf_dir).select(
        "vec_id", "xfix", km._assign_expr(cents).alias("cell")
    )
    res = F.expr("zip_with(xfix, __cents[cell], (a, b) -> a - b)")
    return x.withColumn("__cents", _cents_lit(cents)).select(
        "vec_id", "cell", res.alias("xfix")
    )


def _train_residual_pq(
    spark: SparkSession, sf_dir: str, res: DataFrame | None = None
) -> list[list[list[int]]]:
    """The residual codebook: pq's M = 8 use of the shared trainer
    (kmeans._lloyd) over the coarse residuals. ``res``: an
    already-materialized residual frame to train on — _encoded_corpus
    checkpoints the residuals once and shares them between the PQ
    training iterations and the encode projection."""
    return pq._train_pq_frame(
        lambda: (
            res if res is not None else _residual_frame(spark, sf_dir)
        ).select("vec_id", "xfix"),
        f"ivfpq-residual|{sf_dir}",
    )


_ENC_CACHE: dict[tuple[str, str], DataFrame] = {}


def _encoded_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cvec, c_cell, codes): the IVFADC INDEX — every corpus vector's
    coarse cell plus its 8×4-bit residual PQ code. Built once per
    (session, corpus) and localCheckpoint-cached, like the trainer
    literals: building the index is the ingest-time pass of an ANN
    store (one map-only corpus scan), and re-encoding the corpus per
    search would charge every query the build cost no deployment pays
    — q_ivfpq_cell_store_search makes the same split durable by
    persisting this frame as a cell-partitioned parquet table."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _ENC_CACHE:
        # One residual pass, checkpointed, feeds BOTH the PQ training
        # iterations and the encode projection. At 100 TB this is the
        # explicit staging table an ingest pipeline writes between its
        # quantizer-training and encode steps.
        res = materialize(_residual_frame(spark, sf_dir))
        pq_cents = _train_residual_pq(spark, sf_dir, res)
        _ENC_CACHE[key] = materialize(
            res.select(
                F.col("vec_id").alias("cvec"),
                F.col("cell").alias("c_cell"),
                pq._codes_udf(pq_cents).alias("codes"),
            )
        )
    return _ENC_CACHE[key]


def _code_rows(index: DataFrame, cell: str) -> DataFrame:
    """An index frame (cvec, <cell>, codes) exploded to
    (cvec, c_cell, m, cid) lookup rows."""
    return index.select(
        "cvec",
        F.col(cell).alias("c_cell"),
        F.explode(
            F.expr(
                f"transform(sequence(0, {pq._M - 1}), "
                f"m -> struct(m AS m, codes[m] AS cid))"
            )
        ).alias("c"),
    ).select("cvec", "c_cell", F.col("c.m").alias("m"), F.col("c.cid").alias("cid"))


_LUT_CACHE: dict[tuple[str, str], tuple[list, list[int]]] = {}


def _driver_lut(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[int]]:
    """Query-side probe + ADC lookup table, computed ON THE DRIVER:
    (lut frame of NQ×NPROBE×M×K rows, sorted probed-cell ids).

    The LUT depends only on the NQ query vectors and the two trained
    codebooks — all already driver-resident literals by the trainer
    contract — so computing it here is the production shape (FAISS
    builds the ADC table on the query node, not in the cluster) and
    replaces a plan whose nested codebook-literal expressions cost
    more to construct and analyze per run than the whole search
    executed (~1.5 s of py4j literal-tree building, measured round 7).
    All arithmetic is int64 (numpy, magnitudes < 2^46): bit-identical
    to the SQL mirror's list_transform sums; probe ties break to the
    lowest cell id via lexsort, matching the ORDER BY (dist, cid)."""
    import numpy as np

    cache_key = (spark.sparkContext.applicationId, sf_dir)
    if cache_key in _LUT_CACHE:
        rows, probed_sorted = _LUT_CACHE[cache_key]
        return (
            spark.createDataFrame(
                rows,
                "qid bigint, q_cell bigint, q_m bigint, q_cid bigint, pd bigint",
            ),
            probed_sorted,
        )

    cents = km._train(spark, sf_dir)
    pq_cents = _train_residual_pq(spark, sf_dir)
    qrows = (
        km._fixed_points(spark, sf_dir)
        .where(F.col("vec_id") < _NQ)
        .select("vec_id", "xfix")
        .collect()
    )
    cmat = np.asarray(cents, dtype=np.int64)  # K×dim
    cb = np.asarray(pq_cents, dtype=np.int64)  # M×K2×SUBD
    rows: list[tuple[int, int, int, int, int]] = []
    probed: set[int] = set()
    for r in qrows:
        x = np.asarray(r["xfix"], dtype=np.int64)
        d = ((x[None, :] - cmat) ** 2).sum(axis=1)  # K coarse distances
        order = np.lexsort((np.arange(km._K), d))  # (dist, cid) ascending
        for cell in (int(c) for c in order[:_NPROBE]):
            probed.add(cell)
            sub = (x - cmat[cell]).reshape(pq._M, pq._SUBD)
            pd_tab = ((sub[:, None, :] - cb) ** 2).sum(axis=2)  # M×K2
            rows.extend(
                (int(r["vec_id"]), cell, m, k, int(pd_tab[m, k]))
                for m in range(pq._M)
                for k in range(pq._K)
            )
    probed_sorted = sorted(probed)
    _LUT_CACHE[cache_key] = (rows, probed_sorted)
    lut = spark.createDataFrame(
        rows, "qid bigint, q_cell bigint, q_m bigint, q_cid bigint, pd bigint"
    )
    return lut, probed_sorted


def _sql_ivfpq_ctes() -> str:
    """k-means CTEs (xf, c{T}, a{T}) + residual frame rf + pq CTEs on
    rf under the ``p_`` prefix, ending in p_c{T} / p_a{T}."""
    return f"""{km._sql_kmeans_ctes()},
    rf AS (
      SELECT a.vec_id,
             list_transform(list_zip(a.xfix, c.cfix),
                            p -> p[1] - p[2]) AS xfix
      FROM a{km._T} a JOIN c{km._T} c ON c.cid = a.cid
    ),
    {pq._sql_pq_ctes(src_xf="rf", prefix="p_")}"""


_SQL_SEARCH = f"""{_sql_ivfpq_ctes()},
    probe AS (
      SELECT vec_id AS qid, cid AS cell FROM (
        SELECT x.vec_id, c.cid,
               row_number() OVER (PARTITION BY x.vec_id ORDER BY
                 list_sum(list_transform(list_zip(x.xfix, c.cfix),
                          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
        FROM xf x CROSS JOIN c{km._T} c WHERE x.vec_id < {_NQ}
      ) WHERE rn <= {_NPROBE}
    ),
    qres AS (
      SELECT p.qid, p.cell,
             list_transform(list_zip(x.xfix, c.cfix),
                            r -> r[1] - r[2]) AS rfix
      FROM probe p
      JOIN xf x ON x.vec_id = p.qid
      JOIN c{km._T} c ON c.cid = p.cell
    ),
    qsub AS (
      SELECT qid, cell, m,
             rfix[m * {pq._SUBD} + 1 : m * {pq._SUBD} + {pq._SUBD}] AS sv
      FROM qres, (SELECT unnest(range({pq._M})) AS m)
    ),
    lut AS (
      SELECT q.qid, q.cell, c.m, c.cid,
             list_sum(list_transform(list_zip(q.sv, c.cfix),
                      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS pd
      FROM qsub q JOIN p_c{pq._T} c ON c.m = q.m
    ),
    cellof AS (SELECT vec_id, cid AS cell FROM a{km._T}),
    est AS (
      SELECT l.qid, co.vec_id AS cvec, CAST(SUM(l.pd) AS BIGINT) AS dist_est
      FROM p_a{pq._T} co
      JOIN cellof ce ON ce.vec_id = co.vec_id
      JOIN lut l ON l.cell = ce.cell AND l.m = co.m AND l.cid = co.cid
      WHERE co.vec_id <> l.qid
      GROUP BY l.qid, co.vec_id
    ),
    short AS (
      SELECT qid, cvec FROM (
        SELECT qid, cvec,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY dist_est, cvec) AS rn
        FROM est
      ) WHERE rn <= {_SHORTLIST}
    ),
    flat AS ({SQL_FLAT_EMBEDDINGS}),
    norms AS ({SQL_NORMS}),
    dots AS (
      SELECT s.qid, s.cvec, {sql_pair_dot_scaled("fa", "fb")} AS d
      FROM short s
      JOIN flat fa ON fa.vec_id = s.qid
      JOIN flat fb ON fb.vec_id = s.cvec AND fb.i = fa.i
      GROUP BY s.qid, s.cvec
    ),
    cos AS (
      SELECT qid, cvec AS cid,
             {SQL_COSINE.format(dot="d", na="na.n2", nb="nb.n2")} AS cosine
      FROM dots
      JOIN norms na ON na.vec_id = qid
      JOIN norms nb ON nb.vec_id = cvec
    ),
    ranked AS (
      SELECT qid, cid, cosine,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cosine DESC, cid) AS rank
      FROM cos
    )"""


@query(
    "q_ann_topk_ivfpq",
    oracle=f"""
    WITH {_SQL_SEARCH}
    SELECT qid, cid, cosine, rank FROM ranked
    WHERE rank <= {_TOPK}
    ORDER BY qid, rank
    """,
)
def q_ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC top-k: probe → residual ADC shortlist → exact re-rank.
    The full billion-scale ANN pipeline as one declarative plan: the
    cached index frame (_encoded_corpus) is the corpus side, the
    driver-built LUT (_driver_lut) the query side."""
    code_rows = _code_rows(_encoded_corpus(spark, sf_dir), "c_cell")
    lut, _ = _driver_lut(spark, sf_dir)
    return _adc_rerank(spark, sf_dir, code_rows, lut)


def _adc_rerank(
    spark: SparkSession, sf_dir: str, code_rows: DataFrame, lut: DataFrame
) -> DataFrame:
    """The IVFADC search tail: ADC distance estimate, shortlist, exact
    re-rank. ``code_rows``: (cvec, c_cell, m, cid) index lookup rows;
    ``lut``: the driver-built (qid, q_cell, q_m, q_cid, pd) table.

    ADC: M lookups per candidate, summed; candidates stream
    cell-locally against the broadcast LUT — no corpus shuffle. The
    LUT is a local relation of exactly NQ×NPROBE×M×K atomic rows, so
    broadcast_narrow's structural guard applies. The shortlist is
    bounded by construction — the rn <= _SHORTLIST WindowGroupLimit
    caps rows per qid and the qid domain comes from the NQ-row LUT —
    so it broadcasts structurally too, driver-sized at any corpus
    size. Nothing here is materialized, so a partition-pruned store
    scan stays visible in the final plan."""
    est = (
        code_rows.join(
            broadcast_narrow(lut),
            (F.col("c_cell") == F.col("q_cell"))
            & (F.col("m") == F.col("q_m"))
            & (F.col("cid") == F.col("q_cid")),
        )
        .where(F.col("cvec") != F.col("qid"))
        .groupBy("qid", "cvec")
        .agg(F.sum("pd").alias("dist_est"))
    )
    ws = Window.partitionBy("qid").orderBy("dist_est", "cvec")
    short = (
        est.withColumn("rn", F.row_number().over(ws))
        .where(F.col("rn") <= _SHORTLIST)
        .select("qid", "cvec")
    )

    # Exact re-rank of the shortlist only.
    emb = km._fixed_points(spark, sf_dir)
    pairs = (
        broadcast_narrow(short)
        .join(vec_side(emb, "qid", "q"), "qid")
        .join(vec_side(emb, "cvec", "c"), "cvec")
    )
    return cosine_top_k(
        pairs.select(
            "qid", F.col("cvec").alias("cid"), pair_cosine("q", "c").alias("cosine")
        ),
        _TOPK,
    ).orderBy("qid", "rank")


@query(
    "q_ivfpq_recall_audit",
    oracle=f"""
    WITH {_SQL_SEARCH},
    bdots AS (
      SELECT fa.vec_id AS qid, fb.vec_id AS cid,
             {sql_pair_dot_scaled("fa", "fb")} AS d
      FROM flat fa
      JOIN flat fb ON fb.i = fa.i AND fb.vec_id <> fa.vec_id
      WHERE fa.vec_id < {_NQ}
      GROUP BY 1, 2
    ),
    bcos AS (
      SELECT qid, cid,
             {SQL_COSINE.format(dot="d", na="na.n2", nb="nb.n2")} AS cosine
      FROM bdots
      JOIN norms na ON na.vec_id = qid
      JOIN norms nb ON nb.vec_id = cid
    ),
    btop AS (
      SELECT qid, cid FROM (
        SELECT qid, cid,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, cid) AS rank
        FROM bcos
      ) WHERE rank <= {_TOPK}
    ),
    atop AS (SELECT qid, cid FROM ranked WHERE rank <= {_TOPK})
    SELECT CAST((SELECT COUNT(*) FROM atop a
                 JOIN btop b ON b.qid = a.qid AND b.cid = a.cid) AS BIGINT)
             AS n_hits,
           CAST({_NQ * _TOPK} AS BIGINT) AS n_expected,
           CAST((SELECT COUNT(*) FROM atop a
                 JOIN btop b ON b.qid = a.qid AND b.cid = a.cid)
                * 1000000 // {_NQ * _TOPK} AS BIGINT) AS recall_micro
    """,
)
def q_ivfpq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{_TOPK} of the IVFADC pipeline against the exact brute
    cosine top-{_TOPK} — the quantizer-quality gate, registered like
    the MinHash and hyperplane recall audits so every lossy index in
    the repo ships with its measured loss. Misses decompose into the
    two knobs a 100 TB deployment tunes: probes (true neighbor in an
    unprobed cell) and shortlist depth (ADC mis-ranked it out of the
    re-rank set). n_expected = NQ × TOPK is a constant ≠ 0, so the
    ratio needs no zero guard."""
    approx = q_ann_topk_ivfpq(spark, sf_dir).select("qid", "cid")
    from geoparquet_python_spark.operators.similarity import (
        q_cosine_topk_brute,
    )

    exact = (
        q_cosine_topk_brute(spark, sf_dir)
        .where(F.col("rank") <= _TOPK)
        .select("qid", "cid")
    )
    hits = approx.join(exact, ["qid", "cid"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits")
    )
    return hits.select(
        "n_hits",
        F.lit(_NQ * _TOPK).cast("bigint").alias("n_expected"),
        F.expr(f"CAST(n_hits * 1000000 DIV {_NQ * _TOPK} AS BIGINT)").alias(
            "recall_micro"
        ),
    )


@query(
    "q_ivfpq_cell_store_search",
    # Same semantics as q_ann_topk_ivfpq — the store round-trip must
    # not change a single row — so the oracle is the same search SQL.
    oracle=f"""
    WITH {_SQL_SEARCH}
    SELECT qid, cid, cosine, rank FROM ranked
    WHERE rank <= {_TOPK}
    ORDER BY qid, rank
    """,
)
def q_ivfpq_cell_store_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC over a PERSISTED index: encode the corpus, write the
    (cell, codes) table as parquet PARTITIONED BY cell, then search by
    reading back ONLY the probed cells — the partition-pruned scan IS
    the inverted file. This is the storage half the in-memory query
    elides: at a billion vectors the index is a parquet/Iceberg table
    laid out by cell, a query touches nprobe/K of its files, and the
    pruning shows up in the plan as PartitionFilters (asserted in
    tests/test_plans.py) rather than in custom index code. Results are
    row-identical to q_ann_topk_ivfpq (same oracle).

    Raw embeddings stay in the base table (hot/cold split); the exact
    re-rank fetches the shortlist from there, not from the store.
    """
    import os
    import tempfile

    # Build + persist the index: the cached encode frame written as a
    # cell-partitioned parquet table. The path carries the Spark
    # applicationId: a fixed per-sf path raced under two concurrent
    # runs (one's mode=overwrite delete vs the other's pruned read —
    # round-6 ADVICE), and per-session uniqueness removes the race
    # without touching the partition-pruning contract.
    enc = _encoded_corpus(spark, sf_dir).select(
        "cvec", F.col("c_cell").alias("cell"), "codes"
    )
    path = register_scratch(
        os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_ivfpq_{spark.sparkContext.applicationId}_"
            f"{os.path.basename(os.path.normpath(sf_dir))}",
        )
    )
    enc.write.mode("overwrite").partitionBy("cell").parquet(path)

    # Query side: the driver-built LUT, whose probed-cell ids double as
    # the partition-pruning predicate (a literal is the only way to
    # hand Spark one) — bounded to <= NQ x NPROBE ids by contract, the
    # same bounded-driver-literal class as the k-means/PQ trainers.
    lut, probed = _driver_lut(spark, sf_dir)
    store = read_parquet(spark, path).where(F.col("cell").isin(probed))
    return _adc_rerank(spark, sf_dir, _code_rows(store, "cell"), lut)
