"""Corpus retrieval operators: BM25 top-k search and RAG chunking.

The retrieval half of a training-data platform: BM25 is the standard
lexical ranking function (Robertson/Spärck Jones probabilistic
relevance framework, k1/b form as in Robertson & Zaragoza 2009), and
overlapping fixed-window chunking is the preprocessing step every
retrieval-augmented pipeline runs before embedding.

No reference equivalent (the reference is a GeoParquet I/O shim; see
SURVEY.md §0 provenance) — [N] north-star scope like sampling.py,
textanalysis.py.

Scale shape (100 TB lens):
- The query set is tiny and the per-query term list tinier — all
  query-side frames ride broadcast joins; the corpus is touched by ONE
  tokenize pass and never shuffled on anything wider than the
  query-restricted postings (term, doc) rows.
- Document frequency / corpus stats are computed AFTER restricting the
  postings to query vocabulary, so the heavy groupBy runs on
  |docs containing a query term| rows, not |corpus vocabulary|.
- Scoring uses the repo's fixed-point determinism treatment
  (registry.py): each per-term BM25 contribution is rounded to 1e-6
  and accumulated as int64, so the (query, doc) score is independent
  of partition order and bit-identical to the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from geoparquet_python_spark.functions.exact import (
    broadcast_narrow,
    build_concurrently,
    materialize,
)
from geoparquet_python_spark.functions.text import (
    shingle_rows,
    sql_shingles_cte,
    tokens,
)
from geoparquet_python_spark.io import load_table
from geoparquet_python_spark.registry import query

_K1 = 1.2
_B = 0.75
_TOPK = 3
_QUERY_PRED = "doc_id % 101 = 7"  # deterministic held-out query docs
_QTERMS = 4  # first-N tokens of a query doc form its query


# The BM25 CTE chain up to the full ranking — shared by q_bm25_topk
# and the RRF hybrid fusion below (which consumes `ranked` at a
# deeper list depth).
_SQL_BM25_CORE = f"""d AS (
      SELECT doc_id, str_split(text, ' ') AS sp FROM documents
    ),
    tok AS (
      SELECT doc_id, len(sp) AS dl, unnest(sp) AS term FROM d
    ),
    tf AS (
      SELECT doc_id, dl, term, COUNT(*) AS tf
      FROM tok GROUP BY doc_id, dl, term
    ),
    stats AS (
      SELECT COUNT(*) AS n_docs, CAST(SUM(len(sp)) AS BIGINT) AS sum_dl
      FROM d
    ),
    qt AS (
      SELECT DISTINCT doc_id AS query_id, unnest(sp[1:{_QTERMS}]) AS term
      FROM d WHERE {_QUERY_PRED}
    ),
    postings AS (
      SELECT t.doc_id, t.dl, t.term, t.tf
      FROM tf t WHERE t.term IN (SELECT term FROM qt)
    ),
    docfreq AS (
      SELECT term, COUNT(*) AS df FROM postings GROUP BY term
    ),
    contrib AS (
      SELECT q.query_id, p.doc_id,
             CAST(round(
               ln(1 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
               * (p.tf * ({_K1} + 1))
               / (p.tf + {_K1} * (1 - {_B} + {_B} * p.dl
                                  / (s.sum_dl * 1.0 / s.n_docs)))
               * 1000000) AS BIGINT) AS c_fp
      FROM postings p
      JOIN qt q ON q.term = p.term AND q.query_id <> p.doc_id
      CROSS JOIN stats s
      JOIN docfreq f ON f.term = p.term
    ),
    scored AS (
      SELECT query_id, doc_id, CAST(SUM(c_fp) AS BIGINT) AS score_fp
      FROM contrib GROUP BY query_id, doc_id
    ),
    ranked AS (
      SELECT query_id, doc_id, score_fp,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY score_fp DESC, doc_id
             ) AS rank
      FROM scored
    )"""


@query(
    "q_bm25_topk",
    oracle=f"""
    WITH {_SQL_BM25_CORE}
    SELECT query_id, rank, doc_id, score_fp,
           score_fp / 1000000.0 AS score
    FROM ranked WHERE rank <= {_TOPK}
    ORDER BY query_id, rank
    """,
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-{k} retrieval: held-out docs (doc_id % 101 = 7) issue
    their first 4 distinct tokens as queries against the whole corpus;
    report each query's 3 best docs (self excluded).

    Plan: one tokenize+explode pass builds (doc, term, tf, dl)
    postings; the tiny query-term table broadcasts into the postings
    to restrict them to query vocabulary BEFORE df/idf aggregation, so
    every aggregate downstream of the corpus scan runs on
    docs-matching-queries rows only. Corpus stats (N, Σdl) are a
    one-row aggregate broadcast via crossJoin — no collect. Per-term
    contributions round to 1e-6 fixed-point before the (query, doc)
    sum (order-independent, oracle bit-exact); ranking orders on the
    int64 score.
    """
    return (
        _bm25_ranked(spark, sf_dir)
        .where(F.col("rank") <= _TOPK)
        .select(
            "query_id",
            "rank",
            "doc_id",
            "score_fp",
            (F.col("score_fp") / F.lit(1e6)).alias("score"),
        )
        .orderBy("query_id", "rank")
    )


def _bm25_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BM25 ranking frame (query_id, doc_id, score_fp, rank) —
    the plan described in q_bm25_topk's docstring, unfiltered so the
    RRF fusion can consume a deeper list."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )
    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("toks")).cast("bigint").alias("sum_dl"),
    )
    qt = materialize(
        d.where(F.expr(_QUERY_PRED))
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice("toks", 1, _QTERMS)).alias("term"),
        )
        .distinct()
    )
    # Restrict tokens to query vocabulary BEFORE the tf aggregate: the
    # broadcast semi-filter runs map-side in the scan stage, so the
    # only corpus-wide shuffle carries matching tokens, not the whole
    # (doc, term) domain.
    tok_q = (
        d.select(
            "doc_id",
            F.size("toks").alias("dl"),
            F.explode("toks").alias("term"),
        )
        .join(broadcast_narrow(qt.select("term").distinct()), "term")
    )
    # One corpus pass feeds both docfreq and scoring — materialize so
    # the scan is not re-executed per branch.
    postings = materialize(
        tok_q.groupBy("doc_id", "dl", "term").agg(
            F.count(F.lit(1)).alias("tf")
        )
    )
    docfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # Optimization r13 (guide §2.3): the per-term BM25 contribution
    # c_fp depends only on (term, doc) — df, tf, dl, corpus stats —
    # never on query_id, so it is computed ONCE per posting row and
    # the query ids attach to the already-scored rows. The previous
    # shape attached qt first and evaluated the log/round expression
    # per (query, posting) row — 738 k evaluations instead of 116 k at
    # sf0.1 (a ~6.4× blowup from terms shared across queries). Sum of
    # identical per-term fixed-point values is unchanged, so scores
    # are bit-identical (oracle re-gated at all three SFs).
    posting_scores = (
        postings.join(broadcast_narrow(docfreq), "term")
        .crossJoin(broadcast_narrow(stats))
        .select(
            "term",
            "doc_id",
            F.round(
                F.log(
                    1
                    + (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (_K1 + 1))
                / (
                    F.col("tf")
                    + _K1
                    * (
                        1
                        - _B
                        + _B
                        * F.col("dl")
                        / (F.col("sum_dl") * F.lit(1.0) / F.col("n_docs"))
                    )
                )
                * 1e6
            )
            .cast("bigint")
            .alias("c_fp"),
        )
    )
    contrib = (
        posting_scores.join(
            broadcast_narrow(qt),
            (qt.term == posting_scores.term)
            & (F.col("query_id") != F.col("doc_id")),
        )
        .drop(qt.term)
        .select("query_id", "doc_id", "c_fp")
    )
    scored = contrib.groupBy("query_id", "doc_id").agg(
        F.sum("c_fp").cast("bigint").alias("score_fp")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_fp").desc(), F.col("doc_id")
    )
    return scored.withColumn("rank", F.row_number().over(w))


_CHUNK_W = 32  # tokens per chunk
_CHUNK_S = 24  # stride (8-token overlap)


@query(
    "q_doc_chunks_overlap",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, str_split(text, ' ') AS sp FROM documents
    ),
    starts AS (
      SELECT doc_id, sp, len(sp) AS n,
             unnest(range(0, len(sp), {_CHUNK_S})) AS s
      FROM d
    )
    SELECT doc_id,
           CAST(s / {_CHUNK_S} AS BIGINT) AS chunk_idx,
           CAST(s AS BIGINT) AS start_tok,
           CAST(LEAST({_CHUNK_W}, n - s) AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(
             sp[s + 1 : s + LEAST({_CHUNK_W}, n - s)], ' '
           )) AS chunk_md5
    FROM starts
    ORDER BY doc_id, chunk_idx
    """,
)
def q_doc_chunks_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-prep chunking: split every document into {W}-token windows
    on a {S}-token stride (overlapping), with a content md5 per chunk
    — the chunk table an embedding/index stage consumes, keyed so
    downstream chunk-level dedup is a plain groupBy(chunk_md5).

    Map-only: chunk starts come from sequence() + one explode, chunk
    text from slice() — no shuffle until the presentation sort, so the
    operator streams at scan speed at any corpus size. Deterministic
    chunk ids (doc_id, chunk_idx) + content hash make re-runs
    idempotent.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )
    starts = d.select(
        "doc_id",
        "toks",
        F.size("toks").alias("n"),
        F.explode(
            F.sequence(
                F.lit(0), F.greatest(F.size("toks") - 1, F.lit(0)), F.lit(_CHUNK_S)
            )
        ).alias("s"),
    )
    chunk_len = F.least(F.lit(_CHUNK_W), F.col("n") - F.col("s"))
    return starts.select(
        "doc_id",
        (F.col("s") / _CHUNK_S).cast("bigint").alias("chunk_idx"),
        F.col("s").cast("bigint").alias("start_tok"),
        chunk_len.cast("bigint").alias("n_chunk_tokens"),
        F.md5(
            F.concat_ws(" ", F.slice("toks", F.col("s") + 1, chunk_len))
        ).alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_idx")


@query(
    "q_rag_index_build",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, str_split(text, ' ') AS sp FROM documents
    ),
    starts AS (
      SELECT doc_id, sp, len(sp) AS n,
             unnest(range(0, len(sp), {_CHUNK_S})) AS s
      FROM d
    ),
    chunks AS (
      SELECT doc_id,
             CAST(s / {_CHUNK_S} AS BIGINT) AS chunk_idx,
             md5(array_to_string(
               sp[s + 1 : s + LEAST({_CHUNK_W}, n - s)], ' '
             )) AS chunk_md5
      FROM starts
    ),
    owner AS (
      SELECT chunk_md5,
             MIN(doc_id * 1000000 + chunk_idx) AS owner_key
      FROM chunks GROUP BY chunk_md5
    )
    SELECT c.doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN o.owner_key = c.doc_id * 1000000 + c.chunk_idx
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_owned,
           CAST(SUM(CASE WHEN o.owner_key <> c.doc_id * 1000000 + c.chunk_idx
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dupe
    FROM chunks c JOIN owner o ON o.chunk_md5 = c.chunk_md5
    GROUP BY c.doc_id
    ORDER BY c.doc_id
    """,
)
def q_rag_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 composition capstone: build the deduplicated chunk index
    a RAG pipeline feeds its embedder. Documents are chunked
    (q_doc_chunks_overlap's operator), identical chunks are deduped
    CORPUS-WIDE by content hash (canonical owner = smallest
    (doc_id, chunk_idx), packed into one int64 so the argmin is a plain
    MIN aggregate — no window), and each doc reports how many of its
    chunks it owns vs duplicates someone else's (the embed-bill you
    save). One shuffle on chunk_md5 (uniform 128-bit key), one on
    doc_id for the rollup — the exact-dedup scale shape applied to
    chunks.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )
    starts = d.select(
        "doc_id",
        "toks",
        F.size("toks").alias("n"),
        F.explode(
            F.sequence(
                F.lit(0), F.greatest(F.size("toks") - 1, F.lit(0)), F.lit(_CHUNK_S)
            )
        ).alias("s"),
    )
    chunk_len = F.least(F.lit(_CHUNK_W), F.col("n") - F.col("s"))
    chunks = materialize(
        starts.select(
            "doc_id",
            (F.col("s") / _CHUNK_S).cast("bigint").alias("chunk_idx"),
            F.md5(
                F.concat_ws(" ", F.slice("toks", F.col("s") + 1, chunk_len))
            ).alias("chunk_md5"),
        )
    )
    key = F.col("doc_id") * 1_000_000 + F.col("chunk_idx")
    owner = chunks.groupBy("chunk_md5").agg(F.min(key).alias("owner_key"))
    return (
        chunks.join(owner, "chunk_md5")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(
                F.when(F.col("owner_key") == key, 1).otherwise(0)
            ).cast("bigint").alias("n_owned"),
            F.sum(
                F.when(F.col("owner_key") != key, 1).otherwise(0)
            ).cast("bigint").alias("n_dupe"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Late-interaction (ColBERT-style) multi-vector max-sim retrieval
# --------------------------------------------------------------------------

from geoparquet_python_spark.functions.exact import broadcast_bounded  # noqa: E402
from geoparquet_python_spark.functions.vector import (  # noqa: E402
    SQL_COSINE,
    SQL_FLAT_EMBEDDINGS,
    SQL_NORMS,
    cosine_from_scaled,
    dot_scaled_arrow,
    norm2_scaled,
    sql_pair_dot_scaled,
)

_LI_NQ = 8  # query token vectors: vec_id < _LI_NQ
_LI_TOPK = 5
_LI_SCALE = 1_000_000_000  # 1e9 per-term cosine units


@query(
    "q_maxsim_late_interaction",
    oracle=f"""
    WITH flat AS ({SQL_FLAT_EMBEDDINGS}),
    norms AS ({SQL_NORMS}),
    q AS (SELECT vec_id AS qv FROM embeddings WHERE vec_id < {_LI_NQ}),
    c AS (
      SELECT vec_id AS cv, label FROM embeddings
      WHERE vec_id >= {_LI_NQ}
    ),
    dots AS (
      SELECT q.qv, c.cv, c.label, {sql_pair_dot_scaled("fa", "fb")} AS d
      FROM q CROSS JOIN c
      JOIN flat fa ON fa.vec_id = q.qv
      JOIN flat fb ON fb.vec_id = c.cv AND fb.i = fa.i
      GROUP BY q.qv, c.cv, c.label
    ),
    cosf AS (
      SELECT qv, label,
             CAST(floor({SQL_COSINE.format(dot="d", na="na.n2", nb="nb.n2")}
                        * {_LI_SCALE}) AS BIGINT) AS cf
      FROM dots
      JOIN norms na ON na.vec_id = qv
      JOIN norms nb ON nb.vec_id = cv
    ),
    mx AS (SELECT qv, label, MAX(cf) AS m FROM cosf GROUP BY qv, label),
    sc AS (
      SELECT label, CAST(SUM(m) AS BIGINT) AS score_fp
      FROM mx GROUP BY label
    )
    SELECT label, score_fp, score_fp / {float(_LI_SCALE)} AS score,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT *, row_number() OVER (ORDER BY score_fp DESC, label) AS rank
      FROM sc
    )
    WHERE rank <= {_LI_TOPK}
    ORDER BY rank
    """,
)
def q_maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction retrieval: the query is a BAG of
    vectors (vec_id < 8 — per-token query embeddings), each corpus
    document a bag of member vectors (its `label` group), and
    score(doc) = Σ_q max_member cos(q, member) — MaxSim. Late
    interaction beats single-vector retrieval when different query
    tokens match different parts of a document.

    Shape: the query bag broadcasts (bounded, |Q| rows) into the
    corpus vector stream — ONE pass, no corpus shuffle for the
    interaction; the per-(query-vector, doc) max and the per-doc sum
    are two map-side-combinable aggregates on (qv, label) / (label);
    top-k is a TakeOrdered over |labels| rows. Per-pair cosines use
    the Arrow-batched fixed-point dot, floored to int64 1e-9 units so
    max/sum are order-independent and oracle-exact. At 100 TB the
    interaction stays |corpus vectors| × |Q| with an IVF pre-thin
    (operators/kmeans.py) bounding the candidate members per query
    vector.
    """
    e = load_table(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id", "label", "embedding", norm2_scaled("embedding").alias("n2")
    )
    q = base.where(F.col("vec_id") < _LI_NQ).select(
        F.col("vec_id").alias("qv"),
        F.col("embedding").alias("q_emb"),
        F.col("n2").alias("q_n2"),
    )
    c = base.where(F.col("vec_id") >= _LI_NQ)
    cf = F.floor(
        cosine_from_scaled(
            dot_scaled_arrow("q_emb", "embedding"),
            F.col("q_n2"),
            F.col("n2"),
        )
        * _LI_SCALE
    ).cast("bigint")
    scored = (
        c.join(broadcast_bounded(q, max_rows=_LI_NQ))
        .select("qv", "label", cf.alias("cf"))
        .groupBy("qv", "label")
        .agg(F.max("cf").alias("m"))
        .groupBy("label")
        .agg(F.sum("m").alias("score_fp"))
    )
    w = Window.orderBy(F.col("score_fp").desc(), F.col("label"))
    top = scored.orderBy(F.col("score_fp").desc(), "label").limit(_LI_TOPK)
    return (
        top.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .select(
            "label",
            "score_fp",
            (F.col("score_fp") / F.lit(float(_LI_SCALE))).alias("score"),
            "rank",
        )
        .orderBy("rank")
    )


# --------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of two rankers
# --------------------------------------------------------------------------

# RRF (Cormack/Clarke/Buettcher 2009): fused(d) = sum over rankers of
# 1/(k + rank_r(d)), k = 60 — the standard way production search fuses
# a lexical ranker with a second signal without score calibration,
# because it consumes only RANKS. Contributions are fixed-point
# (round(1e6/(60+rank)) as int64) so the fusion sum is
# order-independent and bit-exact cross-engine.
_RRF_K = 60
_RRF_DEPTH = 10  # per-ranker list depth consumed by the fusion
_RRF_TOPK = 5


def _jaccard_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranker B: 3-shingle Jaccard similarity of each query doc
    (doc_id % 101 = 7, the same held-out set as BM25) against every
    corpus doc sharing >= 1 shingle — the fuzzy-overlap signal that
    catches near-verbatim matches BM25's bag-of-terms dilutes.

    Decontamination shape: the query-side shingle table is
    query-set-sized by contract and broadcasts; the corpus's exploded
    shingles join it map-side, so the only corpus-wide aggregate runs
    on shingle-matching (query, doc) rows."""
    sh = materialize(shingle_rows(load_table(spark, sf_dir, "documents")))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nsh"))
    qsh = sh.where(F.expr(_QUERY_PRED)).select(
        F.col("doc_id").alias("query_id"), "s"
    )
    inter = (
        sh.join(broadcast_narrow(qsh), "s")
        .where(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jacc = (
        inter.join(
            sizes.select(
                F.col("doc_id").alias("query_id"), F.col("nsh").alias("q_nsh")
            ),
            "query_id",
        )
        .join(sizes, "doc_id")
        .select(
            "query_id",
            "doc_id",
            F.round(
                F.lit(1e6)
                * F.col("inter")
                / (F.col("q_nsh") + F.col("nsh") - F.col("inter"))
            )
            .cast("bigint")
            .alias("jacc_fp"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("jacc_fp").desc(), F.col("doc_id")
    )
    return jacc.withColumn("rank", F.row_number().over(w))


_SQL_JACC_RANKED = f"""
    qsh AS (
      SELECT doc_id AS query_id, s FROM sh WHERE {_QUERY_PRED}
    ),
    ssz AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
    jinter AS (
      SELECT q.query_id, c.doc_id, COUNT(*) AS inter
      FROM qsh q JOIN sh c ON c.s = q.s AND c.doc_id <> q.query_id
      GROUP BY 1, 2
    ),
    jacc AS (
      SELECT i.query_id, i.doc_id,
             CAST(round(1000000.0 * i.inter
                        / (sq.nsh + sd.nsh - i.inter)) AS BIGINT) AS jacc_fp
      FROM jinter i
      JOIN ssz sq ON sq.doc_id = i.query_id
      JOIN ssz sd ON sd.doc_id = i.doc_id
    ),
    jranked AS (
      SELECT query_id, doc_id, jacc_fp,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY jacc_fp DESC, doc_id
             ) AS rank
      FROM jacc
    )"""


@query(
    "q_hybrid_rrf_topk",
    oracle=f"""
    WITH {_SQL_BM25_CORE},
    {sql_shingles_cte(k=3)},
    {_SQL_JACC_RANKED},
    entries AS (
      SELECT query_id, doc_id, rank FROM ranked WHERE rank <= {_RRF_DEPTH}
      UNION ALL
      SELECT query_id, doc_id, rank FROM jranked WHERE rank <= {_RRF_DEPTH}
    ),
    fused AS (
      SELECT query_id, doc_id,
             CAST(SUM(CAST(round(1000000.0 / ({_RRF_K} + rank)) AS BIGINT))
                  AS BIGINT) AS rrf_fp,
             CAST(COUNT(*) AS BIGINT) AS n_lists
      FROM entries GROUP BY 1, 2
    )
    SELECT query_id, rank, doc_id, rrf_fp, n_lists FROM (
      SELECT query_id, doc_id, rrf_fp, n_lists,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY rrf_fp DESC, doc_id
             ) AS rank
      FROM fused
    ) WHERE rank <= {_RRF_TOPK}
    ORDER BY query_id, rank
    """,
)
def q_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: fuse the BM25 ranking with the shingle-Jaccard
    ranking by reciprocal-rank fusion and report each query's top-5,
    with the per-doc fused score and how many of the two lists it
    appeared in. The standard production pattern for combining a
    lexical ranker with a second signal (here fuzzy n-gram overlap;
    the same operator fuses an ANN list unchanged — RRF only consumes
    ranks, so rankers are pluggable).

    Plan: both rankers are the already-certified scale shapes (BM25's
    query-vocab-restricted postings; decontamination-style broadcast
    query shingles), each truncated to its top-{_RRF_DEPTH} per query
    BEFORE the fusion, so the fused frame is (queries x 2 x depth)
    rows — query-set-sized, never corpus-sized. The fusion itself is
    one groupBy over that tiny frame plus a per-query top-k window.
    """
    # Optimization r13 (guide §2.6): the two rankers are INDEPENDENT
    # legs, but each leg's construction blocks on its materialize()
    # (localCheckpoint) jobs — three serialized corpus passes (BM25's
    # query-term + postings checkpoints, Jaccard's shingle checkpoint)
    # before the fused action even starts. Building the legs from two
    # driver threads overlaps those jobs (FIFO back-fill); plans and
    # checkpoint contents are unchanged, so the result is identical
    # (probe: exceptAll both ways = 0; oracle re-gated at 3 SFs).
    a, b = build_concurrently(
        lambda: _bm25_ranked(spark, sf_dir)
        .where(F.col("rank") <= _RRF_DEPTH)
        .select("query_id", "doc_id", "rank"),
        lambda: _jaccard_ranked(spark, sf_dir)
        .where(F.col("rank") <= _RRF_DEPTH)
        .select("query_id", "doc_id", "rank"),
    )
    contrib = F.round(F.lit(1e6) / (F.lit(_RRF_K) + F.col("rank"))).cast(
        "bigint"
    )
    fused = (
        a.unionByName(b)
        .select("query_id", "doc_id", contrib.alias("c_fp"))
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("c_fp").cast("bigint").alias("rrf_fp"),
            F.count(F.lit(1)).cast("bigint").alias("n_lists"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_fp").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _RRF_TOPK)
        .select("query_id", "rank", "doc_id", "rrf_fp", "n_lists")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Round-8: positional phrase match — adjacency vs bag-of-words AND
# ---------------------------------------------------------------------------

_N_PHRASES = 5  # corpus-derived phrase set: top-N bigrams by frequency


@query(
    "q_phrase_match_stats",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, str_split(text, ' ') AS ws FROM documents
    ),
    pos AS (
      SELECT doc_id, generate_subscripts(ws, 1) AS i, unnest(ws) AS w
      FROM tok
    ),
    bi AS (
      SELECT a.doc_id, a.w || ' ' || b.w AS phrase
      FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.i = a.i + 1
    ),
    top AS (
      SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences
      FROM bi GROUP BY phrase
      ORDER BY COUNT(*) DESC, phrase
      LIMIT {_N_PHRASES}
    ),
    t5 AS (
      SELECT phrase, n_occurrences,
             str_split(phrase, ' ')[1] AS w1,
             str_split(phrase, ' ')[2] AS w2
      FROM top
    ),
    pd AS (
      SELECT b.phrase, CAST(COUNT(DISTINCT b.doc_id) AS BIGINT)
               AS n_docs_phrase
      FROM bi b JOIN top t ON t.phrase = b.phrase
      GROUP BY b.phrase
    ),
    tw AS (SELECT DISTINCT doc_id, w FROM pos),
    ad AS (
      SELECT t.phrase, CAST(COUNT(DISTINCT a.doc_id) AS BIGINT)
               AS n_docs_and
      FROM t5 t
      JOIN tw a ON a.w = t.w1
      JOIN tw b ON b.w = t.w2 AND b.doc_id = a.doc_id
      GROUP BY t.phrase
    )
    SELECT t.phrase, t.n_occurrences, p.n_docs_phrase, a.n_docs_and,
           CAST(p.n_docs_phrase * 1000000 // a.n_docs_and AS BIGINT)
             AS adjacency_ppm
    FROM t5 t JOIN pd p ON p.phrase = t.phrase
              JOIN ad a ON a.phrase = t.phrase
    ORDER BY t.phrase
    """,
)
def q_phrase_match_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase matching — the inverted-index-with-positions
    capability (Lucene/Elasticsearch phrase queries): for the corpus's
    top-{_N_PHRASES} bigram phrases, count documents matching the
    PHRASE (tokens adjacent, in order) vs documents matching the
    bag-of-words AND (both tokens anywhere), and report the adjacency
    ratio — exactly the precision a positional index buys over a
    term-only index, measured on the corpus itself (the phrase set is
    corpus-derived with a deterministic (freq DESC, phrase) tie-break,
    so no hand-picked constants go stale as testdata evolves).

    Plan shape: bigram multiplicity comes from one in-row
    transform-with-index (functions.text.bigram_structs — no
    position self-join on the Spark side; the oracle's positional
    join IS the semantic spec) followed by one explode; the phrase
    frequency aggregate is shingle-class (vocab²-bounded key space,
    map-side combined); the top-{_N_PHRASES} set is a {_N_PHRASES}-row
    TakeOrdered collapsed to a broadcast; both membership counts are
    semi-join-shaped probes of that 5-row set against linear frames
    (distinct bigram-docs, distinct token-docs). Nothing pairwise,
    nothing corpus² — the only quadratic object is the vocab² bigram
    KEY SPACE, which the corpus itself bounds linearly (a corpus has
    at most one bigram per token position)."""
    from geoparquet_python_spark.functions.exact import spread
    from geoparquet_python_spark.functions.text import bigram_structs

    d = load_table(spark, sf_dir, "documents")
    tok = materialize(
        spread(d.select("doc_id", tokens("text").alias("t")))
    )
    bi = tok.select(
        "doc_id", F.explode(bigram_structs("t")).alias("p")
    ).select(
        "doc_id", F.concat_ws(" ", F.col("p.w1"), F.col("p.w2")).alias("phrase")
    )
    bi = materialize(bi)
    top = (
        bi.groupBy("phrase")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "phrase")
        .limit(_N_PHRASES)
    )
    # Optimization r12: materialize the 5-row phrase frame so its
    # vocab²-bounded aggregate runs ONCE (it feeds three consumers —
    # unmaterialized, each re-ran the groupBy+TakeOrdered over the
    # checkpointed bigram frame), and probe the token explode with the
    # broadcast ≤2·N_PHRASES-token set BEFORE the distinct: only
    # w1/w2 tokens of the top phrases can contribute to the AND counts,
    # so filter-then-distinct ≡ distinct-then-filter while the
    # distinct's exchange carries matching tokens instead of the whole
    # corpus (doc, token) domain (guide §2.3). Measured bench-neutral
    # at sf0.1 (1.59–1.84 s band for all variants, interleaved A/B —
    # the local wall is the two corpus passes, not this exchange);
    # exceptAll both ways = 0 rows, MATCH[hash] at all three SFs.
    t5 = broadcast_narrow(
        materialize(
            top.select(
                "phrase",
                "n_occurrences",
                F.split("phrase", " ")[0].alias("w1"),
                F.split("phrase", " ")[1].alias("w2"),
            )
        )
    )
    pd_ = (
        bi.join(t5.select("phrase"), "phrase")
        .groupBy("phrase")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs_phrase"))
    )
    wset = broadcast_narrow(
        t5.select(F.explode(F.array("w1", "w2")).alias("w")).distinct()
    )
    tw = (
        tok.select("doc_id", F.explode("t").alias("w"))
        .join(wset, "w")
        .distinct()
    )
    ad = (
        t5.select("phrase", "w1", "w2")
        .join(tw.select(F.col("w").alias("w1"), F.col("doc_id").alias("da")), "w1")
        .join(
            tw.select(F.col("w").alias("w2"), F.col("doc_id").alias("da")),
            ["w2", "da"],
        )
        .groupBy("phrase")
        .agg(F.countDistinct("da").cast("bigint").alias("n_docs_and"))
    )
    return (
        t5.select("phrase", "n_occurrences")
        .join(pd_, "phrase")
        .join(ad, "phrase")
        .select(
            "phrase",
            "n_occurrences",
            "n_docs_phrase",
            "n_docs_and",
            F.expr(
                "CAST(n_docs_phrase * 1000000 DIV n_docs_and AS BIGINT)"
            ).alias("adjacency_ppm"),
        )
        .orderBy("phrase")
    )


# ---------------------------------------------------------------------------
# Round-8: exact nDCG@10 — ranking-quality metric for the BM25 stack
# ---------------------------------------------------------------------------

_NDCG_K = 10
# Integer discount table: round(1e6 / log2(i + 1)) for ranks 1..10,
# computed ONCE in Python and inlined as the SAME literals in both
# engines — the only transcendental in nDCG reduced to ten shared
# constants, so DCG/IDCG/nDCG are pure int64 arithmetic.
_NDCG_GAIN = [
    1000000, 630930, 500000, 430677, 386853,
    356207, 333333, 315465, 301030, 289065,
]
_SQL_GAIN_CASE = "CASE " + " ".join(
    f"WHEN {{r}} = {i + 1} THEN {g}" for i, g in enumerate(_NDCG_GAIN)
) + " ELSE 0 END"
# Graded relevance from shared distinct 3-gram shingles between the
# query doc and the candidate: 0 shared -> 0, 1-2 -> 1, 3-5 -> 2,
# 6+ -> 3 (a deterministic corpus-derived label in place of human
# judgments — the METRIC machinery is the deliverable).
_SQL_REL = (
    "CASE WHEN shared >= 6 THEN 3 WHEN shared >= 3 THEN 2 "
    "WHEN shared >= 1 THEN 1 ELSE 0 END"
)


@query(
    "q_bm25_ndcg_audit",
    oracle=f"""
    WITH {_SQL_BM25_CORE},
    {sql_shingles_cte(k=3)},
    qsh AS (
      SELECT doc_id AS query_id, s FROM sh WHERE {_QUERY_PRED}
    ),
    overlap AS (
      SELECT q.query_id, c.doc_id, CAST(COUNT(*) AS BIGINT) AS shared
      FROM qsh q JOIN sh c ON c.s = q.s AND c.doc_id <> q.query_id
      GROUP BY q.query_id, c.doc_id
    ),
    rel AS (
      SELECT query_id, doc_id, {_SQL_REL} AS rel FROM overlap
    ),
    dcg AS (
      SELECT r.query_id,
             CAST(SUM(COALESCE(l.rel, 0)
                      * {_SQL_GAIN_CASE.format(r="r.rank")}) AS BIGINT)
               AS dcg_fp
      FROM ranked r
      LEFT JOIN rel l ON l.query_id = r.query_id AND l.doc_id = r.doc_id
      WHERE r.rank <= {_NDCG_K}
      GROUP BY r.query_id
    ),
    ideal AS (
      SELECT query_id, rel,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY rel DESC, doc_id
             ) AS irank
      FROM rel
    ),
    idcg AS (
      SELECT query_id,
             CAST(SUM(rel * {_SQL_GAIN_CASE.format(r="irank")}) AS BIGINT)
               AS idcg_fp
      FROM ideal WHERE irank <= {_NDCG_K}
      GROUP BY query_id
    )
    SELECT d.query_id,
           d.dcg_fp,
           COALESCE(i.idcg_fp, 0) AS idcg_fp,
           CASE WHEN COALESCE(i.idcg_fp, 0) > 0
                THEN CAST(d.dcg_fp * 1000000 // i.idcg_fp AS BIGINT)
           END AS ndcg_ppm
    FROM dcg d LEFT JOIN idcg i ON i.query_id = d.query_id
    ORDER BY d.query_id
    """,
)
def q_bm25_ndcg_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact nDCG@{k}: the ranking-quality audit for the BM25 stack —
    DCG of the retrieved list against graded relevance labels,
    normalized by the IDEAL DCG over the FULL corpus-wide label set
    (not just the retrieved list — so a ranker that misses relevant
    docs entirely is penalized, the property the retrieved-set-only
    nDCG variant silently loses). Labels are corpus-derived graded
    shingle-overlap (0/1/2/3) — deterministic stand-ins for human
    judgments; the exact-metric machinery is the deliverable and
    works for any integer label column.

    Exactness: the rank discount 1/log2(i+1) is the only
    transcendental, reduced to TEN shared integer constants
    (round(1e6/log2(i+1)) computed once, inlined identically in both
    engines), so DCG, IDCG, and ndcg_ppm are pure int64 sums and one
    integer division.

    Scale shape: the label join is shingle-keyed (query shingles ×
    corpus shingles — the decontamination semi-join shape, pair-graph
    sized output); DCG is a {k}-row-per-query join; IDCG is one
    window over the per-query label set. Queries are the held-out
    slice (|corpus|/101), so every query-keyed frame is
    corpus/101-bounded."""
    ex = materialize(shingle_rows(load_table(spark, sf_dir, "documents")))
    qsh = ex.where(F.expr(_QUERY_PRED)).select(
        F.col("doc_id").alias("query_id"), "s"
    )
    overlap = (
        qsh.join(ex, "s")
        .where(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
    )
    rel = materialize(
        overlap.select("query_id", "doc_id", F.expr(_SQL_REL).alias("rel"))
    )
    ranked = _bm25_ranked(spark, sf_dir).where(F.col("rank") <= _NDCG_K)
    gain_rank = _SQL_GAIN_CASE.format(r="rank")
    dcg = (
        ranked.join(rel, ["query_id", "doc_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(
                F.coalesce("rel", F.lit(0)) * F.expr(gain_rank)
            )
            .cast("bigint")
            .alias("dcg_fp")
        )
    )
    wi = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), "doc_id"
    )
    ideal = rel.select(
        "query_id", "rel", F.row_number().over(wi).alias("irank")
    ).where(F.col("irank") <= _NDCG_K)
    gain_irank = _SQL_GAIN_CASE.format(r="irank")
    idcg = ideal.groupBy("query_id").agg(
        F.sum(F.col("rel") * F.expr(gain_irank)).cast("bigint").alias("idcg_fp")
    )
    return (
        dcg.join(idcg, "query_id", "left")
        .select(
            "query_id",
            "dcg_fp",
            F.coalesce("idcg_fp", F.lit(0)).cast("bigint").alias("idcg_fp"),
            F.expr(
                "CASE WHEN COALESCE(idcg_fp, 0) > 0 THEN "
                "CAST(dcg_fp * 1000000 DIV idcg_fp AS BIGINT) END"
            ).alias("ndcg_ppm"),
        )
        .orderBy("query_id")
    )
