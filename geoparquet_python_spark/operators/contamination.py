"""Benchmark decontamination: flag training documents that share
n-gram fingerprints with a held-out benchmark/eval set.

Standard practice for LLM training corpora (GPT-3 appendix C /
PaLM-style 8-gram overlap): any training doc sharing >= 1 distinct
k-gram with the eval set is "contaminated" and gets dropped or
down-weighted before training. Here the eval set is carved
deterministically from the same documents table (doc_id % 97 == 0)
so the query is self-contained and oracle-checkable; in production
the bench side is a separate small table.

Scale design (the part that matters at 100 TB):
- the BENCHMARK side is small by construction (eval sets are
  thousands of docs, not billions) — its distinct-shingle set is
  built once and BROADCAST, so probing is a map-side semi-join: the
  training corpus's exploded shingles never shuffle for the probe.
- the per-doc hit count aggregates on doc_id — uniform keys, full
  map-side combine; output is |contaminated docs|, not |shingles|.
- shingling is functions/text.shingle_rows: one in-row shingle
  projection (zip-with-shifted-self + array_distinct) followed by a
  single explode that stays map-local until the aggregation.
k=3 here because the synthetic corpus's near-dups perturb words every
few tokens (longer grams never collide at test scale); production
decontamination raises k to 8-13 — same plan, one parameter.

No reference equivalent (the reference delegates analytics to pandas;
SURVEY.md §0) — BASELINE.json north-star scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geoparquet_python_spark.functions.text import (
    explode_sets,
    shingle_rows,
    shingle_sets,
    sql_shingles_cte,
)
from geoparquet_python_spark.io import load_table
from geoparquet_python_spark.registry import query

# Eval-set membership: deterministic, engine-portable.
_BENCH_MOD = 97
_K = 3


@query(
    "q_decontaminate_overlap",
    oracle=f"""
    WITH {sql_shingles_cte(k=_K)},
    nsh AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
      FROM sh GROUP BY doc_id
    ),
    bench AS (
      SELECT DISTINCT s FROM sh WHERE doc_id % {_BENCH_MOD} = 0
    ),
    hits AS (
      SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM sh JOIN bench USING (s)
      WHERE sh.doc_id % {_BENCH_MOD} <> 0
      GROUP BY sh.doc_id
    )
    SELECT h.doc_id, h.n_hits, n.n_shingles,
           CAST(h.n_hits AS DOUBLE) / n.n_shingles AS hit_frac
    FROM hits h JOIN nsh n USING (doc_id)
    ORDER BY doc_id
    """,
)
def q_decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs sharing >=1 distinct 3-gram with the eval slice.

    Plan: per-doc distinct shingle array (one projection) -> explode
    -> broadcast-semi-join against the eval shingle set -> count by
    doc_id. hit_frac = n_hits / n_shingles is exact IEEE division of
    two int64s (identical in DuckDB), so no rounding is needed.
    """
    sets = shingle_sets(load_table(spark, sf_dir, "documents"), _K)
    exploded = explode_sets(
        sets.withColumn("n_shingles", F.size("sh")), "n_shingles"
    )
    is_bench = F.col("doc_id") % _BENCH_MOD == 0
    bench_set = exploded.where(is_bench).select("s").distinct()
    # No broadcast hint on the eval shingle set: it grows with the
    # corpus (~1/97 of all doc-shingles), so a forced broadcast would
    # override Spark's size threshold on an unbounded relation
    # (ADVICE r7). AQE still broadcasts it at runtime when small.
    hits = (
        exploded.where(~is_bench)
        .join(bench_set, "s")
        .groupBy("doc_id", "n_shingles")
        .agg(F.count("*").alias("n_hits"))
    )
    return hits.select(
        "doc_id",
        "n_hits",
        "n_shingles",
        (F.col("n_hits").cast("double") / F.col("n_shingles")).alias("hit_frac"),
    ).orderBy("doc_id")


@query(
    "q_ngram_novelty",
    oracle=f"""
    WITH {sql_shingles_cte(k=_K)},
    first_seen AS (
      SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s
    ),
    per_doc AS (
      SELECT sh.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_shingles,
             CAST(SUM(CASE WHEN f.first_doc = sh.doc_id
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
      FROM sh JOIN first_seen f USING (s)
      GROUP BY sh.doc_id
    )
    SELECT doc_id, n_shingles, n_novel,
           CAST(n_novel * 1000000 // n_shingles AS BIGINT) AS novelty_ppm
    FROM per_doc
    ORDER BY doc_id
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY under the corpus's doc_id ingestion
    order: the fraction of a doc's distinct 3-grams whose GLOBAL first
    occurrence is this doc. The curation signal behind "has the crawl
    gone stale" dashboards and per-source marginal-value scoring — a
    source whose new documents stop contributing novel n-grams is
    contributing only duplication, and training-data buyers price it
    accordingly (the diminishing-returns curve of web-scale crawls).

    Plan: one in-row shingling projection, one explode, a MIN(doc_id)
    aggregate keyed by shingle (the global first-occurrence index —
    uniform keys, full map-side combine), then a shingle-keyed join
    back and a doc-keyed conditional count. Two linear shuffles
    (shingle domain, then doc domain), nothing pairwise anywhere. At
    100 TB the first-seen index is the same vocabulary-sized frame the
    TF-IDF/DF operators already build; incremental crawls maintain it
    as a running MIN under union — the aggregate is mergeable."""
    exploded = shingle_rows(load_table(spark, sf_dir, "documents"), _K)
    first_seen = exploded.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    return (
        exploded.join(first_seen, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.expr("CAST(n_novel * 1000000 DIV n_shingles AS BIGINT)").alias(
                "novelty_ppm"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "q_source_novelty_curve",
    oracle=f"""
    WITH {sql_shingles_cte(k=_K)},
    src AS (SELECT doc_id, source FROM documents),
    first_seen AS (
      SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s
    ),
    per_doc AS (
      SELECT sh.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_sh,
             CAST(SUM(CASE WHEN f.first_doc = sh.doc_id
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
      FROM sh JOIN first_seen f USING (s)
      GROUP BY sh.doc_id
    ),
    halves AS (
      SELECT p.doc_id, s.source,
             CASE WHEN p.doc_id % 2 = 0 THEN 'even' ELSE 'odd' END AS half,
             p.n_sh, p.n_novel
      FROM per_doc p JOIN src s USING (doc_id)
    )
    SELECT source, half,
           CAST(SUM(n_sh) AS BIGINT) AS n_shingles,
           CAST(SUM(n_novel) AS BIGINT) AS n_novel,
           CAST(SUM(n_novel) * 1000000 // SUM(n_sh) AS BIGINT)
             AS novelty_ppm
    FROM halves
    GROUP BY source, half
    ORDER BY source, half
    """,
)
def q_source_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The novelty signal rolled up to (source, corpus-half): comparing
    a source's even-doc_id and odd-doc_id halves approximates its
    novelty DERIVATIVE — the marginal n-gram value of continuing to
    crawl it. Same two linear shuffles as q_ngram_novelty plus a
    |sources|x2-key rollup."""
    exploded = shingle_rows(load_table(spark, sf_dir, "documents"), _K, "source")
    first_seen = exploded.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        exploded.join(first_seen, "s")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return (
        per_doc.select(
            "source",
            F.when(F.col("doc_id") % 2 == 0, F.lit("even"))
            .otherwise(F.lit("odd"))
            .alias("half"),
            "n_sh",
            "n_novel",
        )
        .groupBy("source", "half")
        .agg(
            F.sum("n_sh").cast("bigint").alias("n_shingles"),
            F.sum("n_novel").cast("bigint").alias("n_novel"),
        )
        .select(
            "source",
            "half",
            "n_shingles",
            "n_novel",
            F.expr(
                "CAST(n_novel * 1000000 DIV n_shingles AS BIGINT)"
            ).alias("novelty_ppm"),
        )
        .orderBy("source", "half")
    )
