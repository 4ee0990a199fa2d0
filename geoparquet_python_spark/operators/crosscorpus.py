"""Cross-corpus (incremental) dedup: screen a NEW batch of documents
against an EXISTING corpus before ingestion — the every-crawl-cycle
operation of a training-data pipeline, distinct from within-corpus
dedup (operators/dedup.py) because the corpus side is already clean
and only batch-vs-corpus pairs matter.

Batch membership is carved deterministically (doc_id % 10 == 0) so
the query is self-contained; in production the batch is its own
table and the corpus side is the accumulated store.

Scale design:
- exact screen: equi-join on the 60-bit content hash — the batch
  side is small relative to the corpus (it's one crawl increment),
  so Spark broadcasts it and the corpus is probed map-side; with
  both sides hash-bucketed by content hash on disk this is a
  shuffle-free merge at any scale.
- near screen: the bipartite inverted-index join (batch shingles x
  corpus shingles on the shingle key) — candidate volume is
  |batch| x (corpus docs sharing a shingle), never corpus², and the
  per-pair Jaccard refine aggregates on uniform (batch_doc,
  corpus_doc) keys. Same stop-shingle cap story as
  q_ngram_jaccard_pairs at corpus scale.
- verdicts are a left-join of two flag sets onto the batch — the
  kept subset (`verdict = 'keep'`) is the ingestible increment.

No reference equivalent (the reference delegates analytics to
pandas; SURVEY.md §0) — BASELINE.json north-star scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geoparquet_python_spark.functions.text import (
    SQL_MD5_LONG,
    md5_long,
    shingle_rows,
    shingle_sets,
    sql_shingles_cte,
)
from geoparquet_python_spark.functions.exact import materialize
from geoparquet_python_spark.io import load_table
from geoparquet_python_spark.operators.dedup import _sql_minhash, minhash_bands
from geoparquet_python_spark.registry import query

_BATCH_MOD = 10  # doc_id % 10 == 0 -> "new batch", else "corpus"
_JACCARD_T = 0.5

_SQL_TH = SQL_MD5_LONG.format(expr="text")


@query(
    "q_crosscorpus_dedup",
    oracle=f"""
    WITH {sql_shingles_cte(k=3)},
    h AS (SELECT doc_id, {_SQL_TH} AS th FROM documents),
    exact_dup AS (
      SELECT DISTINCT b.doc_id
      FROM h b JOIN h c ON c.th = b.th AND c.doc_id % {_BATCH_MOD} <> 0
      WHERE b.doc_id % {_BATCH_MOD} = 0
    ),
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS bd, b.doc_id AS cd, COUNT(*) AS i
      FROM sh a JOIN sh b
        ON a.s = b.s
       AND a.doc_id % {_BATCH_MOD} = 0 AND b.doc_id % {_BATCH_MOD} <> 0
      GROUP BY 1, 2
    ),
    near_dup AS (
      SELECT DISTINCT bd AS doc_id
      FROM inter
      JOIN sz sa ON sa.doc_id = bd
      JOIN sz sb ON sb.doc_id = cd
      WHERE i * 1.0 / (sa.sz + sb.sz - i) >= {_JACCARD_T}
    )
    SELECT d.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'drop_exact'
                WHEN n.doc_id IS NOT NULL THEN 'drop_near'
                ELSE 'keep' END AS verdict
    FROM documents d
    LEFT JOIN exact_dup e ON e.doc_id = d.doc_id
    LEFT JOIN near_dup n ON n.doc_id = d.doc_id
    WHERE d.doc_id % {_BATCH_MOD} = 0
    ORDER BY d.doc_id
    """,
)
def q_crosscorpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion verdict per new-batch doc: drop_exact (content hash
    already in the corpus), drop_near (3-shingle Jaccard >= 0.5 with
    any corpus doc), else keep."""
    d = load_table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % _BATCH_MOD == 0
    hashed = d.select("doc_id", md5_long(F.col("text")).alias("th"))
    exact_dup = (
        hashed.where(is_batch)
        .join(
            hashed.where(~is_batch).select("th").distinct(),
            "th",
            "left_semi",
        )
        .select("doc_id")
    )
    sh = shingle_rows(d)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    batch_sh = sh.where(is_batch)
    corpus_sh = sh.where(~is_batch)
    inter = (
        batch_sh.alias("a")
        .join(corpus_sh.alias("b"), F.col("a.s") == F.col("b.s"))
        .groupBy(
            F.col("a.doc_id").alias("bd"), F.col("b.doc_id").alias("cd")
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = F.col("i") * F.lit(1.0) / (F.col("sza") + F.col("szb") - F.col("i"))
    near_dup = (
        inter.join(sizes.select(F.col("doc_id").alias("bd"), F.col("sz").alias("sza")), "bd")
        .join(sizes.select(F.col("doc_id").alias("cd"), F.col("sz").alias("szb")), "cd")
        .where(jac >= _JACCARD_T)
        .select(F.col("bd").alias("doc_id"))
        .distinct()
    )
    verdict = (
        F.when(F.col("is_exact"), "drop_exact")
        .when(F.col("is_near"), "drop_near")
        .otherwise("keep")
    )
    return (
        d.where(is_batch)
        .select("doc_id")
        .join(exact_dup.withColumn("is_exact", F.lit(True)), "doc_id", "left")
        .join(near_dup.withColumn("is_near", F.lit(True)), "doc_id", "left")
        .fillna(False, ["is_exact", "is_near"])
        .select("doc_id", verdict.alias("verdict"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Round-8: banded-LSH index probe — incremental dedup against a frozen index
# ---------------------------------------------------------------------------

_IDX_PRED = "doc_id % 2 = 0"  # frozen "already indexed" half


@query(
    "q_lsh_index_probe",
    oracle=f"""
    WITH {sql_shingles_cte(k=3)},
    {_sql_minhash()},
    candp AS (
      SELECT n.doc_id AS new_id, f.doc_id AS frozen_id
      FROM bands n
      JOIN bands f ON f.band = n.band AND f.sig = n.sig
      WHERE n.doc_id % 2 = 1 AND f.doc_id % 2 = 0
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.new_id, c.frozen_id, COUNT(*) AS i
      FROM candp c
      JOIN sh a ON a.doc_id = c.new_id
      JOIN sh b ON b.doc_id = c.frozen_id AND b.s = a.s
      GROUP BY 1, 2
    ),
    scoredp AS (
      SELECT x.new_id, x.frozen_id,
             x.i * 1.0 / (sa.sz + sb.sz - x.i) AS jaccard
      FROM inter x
      JOIN sizes sa ON sa.doc_id = x.new_id
      JOIN sizes sb ON sb.doc_id = x.frozen_id
      WHERE x.i * 1.0 / (sa.sz + sb.sz - x.i) >= {_JACCARD_T}
    ),
    best AS (
      SELECT new_id, frozen_id, jaccard,
             row_number() OVER (
               PARTITION BY new_id ORDER BY jaccard DESC, frozen_id
             ) AS rn
      FROM scoredp
    )
    SELECT d.doc_id,
           CASE WHEN b.frozen_id IS NOT NULL THEN 'dup' ELSE 'new' END
             AS verdict,
           b.frozen_id AS match_id,
           b.jaccard AS jaccard
    FROM documents d
    LEFT JOIN best b ON b.new_id = d.doc_id AND b.rn = 1
    WHERE d.doc_id % 2 = 1
    ORDER BY d.doc_id
    """,
)
def q_lsh_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup via a banded-LSH INDEX PROBE: the frozen half
    of the corpus (doc_id % 2 = 0) is the already-indexed store; each
    NEW document (odd half) probes ONLY the band buckets its own
    signature lands in — the bipartite candidate join (new x frozen,
    never new x new or frozen x frozen) that makes continuous-crawl
    dedup incremental: per ingest batch the work is
    |batch| x bucket-collision rate, never a re-scan of the corpus.
    The scalable sibling of q_crosscorpus_dedup's exact-hash +
    all-shingle screen — THIS is the variant that survives when the
    new batch is itself large. Verdict per new doc: 'dup' with its
    best frozen match (max exact Jaccard >= {_JACCARD_T}, ties to the
    lowest frozen id) or 'new'.

    Plan shape: one signature pass over both halves (in production
    the frozen bands are PERSISTED — the one-pass build here stands
    in for reading them); candidates from the (band, sig) equi-join
    restricted bipartite by parity predicates pushed below the join;
    the exact-Jaccard refine touches candidates only (array_intersect
    on the in-row distinct shingle sets); best-match is a window over
    the match-graph-sized frame. No broadcast hints — AQE sizes the
    joins.

    Determinism: signatures are the md5 double-hash (Kirsch-
    Mitzenmacher) the MinHash family shares; jaccard is IEEE double
    division of exact ints; tie order (jaccard DESC, frozen_id) is
    total."""
    d = load_table(spark, sf_dir, "documents")
    docs = materialize(shingle_sets(d))
    bands = minhash_bands(docs)
    newb = bands.where(F.expr("doc_id % 2 = 1")).select(
        F.col("doc_id").alias("new_id"), "band", "sig"
    )
    frob = bands.where(F.expr(_IDX_PRED)).select(
        F.col("doc_id").alias("frozen_id"), "band", "sig"
    )
    cand = (
        newb.join(frob, ["band", "sig"])
        .select("new_id", "frozen_id")
        .distinct()
    )
    a = docs.select(F.col("doc_id").alias("new_id"), F.col("sh").alias("sha"))
    b = docs.select(
        F.col("doc_id").alias("frozen_id"), F.col("sh").alias("shb")
    )
    scored = (
        cand.join(a, "new_id")
        .join(b, "frozen_id")
        .select(
            "new_id",
            "frozen_id",
            (
                F.size(F.array_intersect("sha", "shb"))
                * F.lit(1.0)
                / (
                    F.size("sha")
                    + F.size("shb")
                    - F.size(F.array_intersect("sha", "shb"))
                )
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= _JACCARD_T)
    )
    # Optimization r12 (guide §2.3): best-match-per-new-doc as one
    # max_by aggregate ordered on (jaccard, -frozen_id) — the same
    # total order the row_number window spelled (jaccard DESC,
    # frozen_id ASC; frozen_id unique per candidate so no ties). The
    # window's per-partition sort of the candidate frame disappears
    # and the new_id exchange carries map-side partials.
    best = scored.groupBy("new_id").agg(
        F.max_by(
            F.struct(F.col("frozen_id"), F.col("jaccard")),
            F.struct(F.col("jaccard"), (-F.col("frozen_id")).alias("nf")),
        ).alias("_b")
    ).select(
        "new_id",
        F.col("_b.frozen_id").alias("frozen_id"),
        F.col("_b.jaccard").alias("jaccard"),
    )
    return (
        d.where(F.expr("doc_id % 2 = 1"))
        .select("doc_id")
        .join(best, d["doc_id"] == best["new_id"], "left")
        .select(
            "doc_id",
            F.when(F.col("frozen_id").isNotNull(), "dup")
            .otherwise("new")
            .alias("verdict"),
            F.col("frozen_id").alias("match_id"),
            "jaccard",
        )
        .orderBy("doc_id")
    )
