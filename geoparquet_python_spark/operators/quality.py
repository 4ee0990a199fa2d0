"""Corpus-hygiene operators for training-data curation: per-document
repetition signals (Gopher-style), corpus-wide boilerplate n-gram
detection (CCNet/RefinedWeb-style), and pattern redaction.

These complement textanalysis.py's per-doc quality score: repetition
measures catch degenerate generated/scraped text that LENGTH and
lexical-diversity stats miss, and the boilerplate pass catches content
duplicated ACROSS documents (headers, navigation, license blurbs) that
whole-document dedup cannot see.

Scale design:
- repetition signals: the distinct-trigram count is a pure per-row
  projection (array_distinct inside codegen, no shuffle); only the
  top-bigram mode needs an explode + two-level aggregation, keyed on
  (doc_id, bigram) — uniform keys, full map-side combine.
- boilerplate: the classic inverted-index shape — explode distinct
  5-grams, document-frequency aggregate, join back per shingle. The
  df table is vocabulary-sized, not corpus-sized; the join back is a
  shuffle equi-join AQE can skew-split if one n-gram is everywhere.
- redaction: a stateless projection (regexp_replace in codegen), then
  a small-key aggregate. At 100 TB this is the map-only pass fused
  with whatever else reads the text.

No reference equivalent (the reference delegates analytics to pandas;
SURVEY.md §0) — BASELINE.json north-star scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geoparquet_python_spark.functions.text import (
    quality_score,
    shingle_rows,
    shingles,
    sql_shingles_cte,
    tokens,
)
from geoparquet_python_spark.functions.exact import broadcast_narrow
from geoparquet_python_spark.io import load_table
from geoparquet_python_spark.operators.textanalysis import (
    SQL_UNIGRAM_LPD_CTES,
    unigram_logprob_doc_frame,
)
from geoparquet_python_spark.registry import query

# A 5-gram appearing in >= _BOILER_DF distinct documents is boilerplate.
_BOILER_DF = 2


@query(
    "q_repetition_signals",
    oracle=f"""
    WITH {sql_shingles_cte(k=3)},
    base AS (
      SELECT doc_id,
             len(str_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    tri AS (SELECT doc_id, COUNT(*) AS ndt FROM sh GROUP BY doc_id),
    bg AS (
      SELECT a.doc_id, a.w || ' ' || b.w AS bg
      FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.i = a.i + 1
    ),
    bgc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2),
    bgm AS (SELECT doc_id, MAX(c) AS mx FROM bgc GROUP BY doc_id)
    SELECT b.doc_id,
           b.n_tokens,
           COALESCE(m.mx, 0) * 2.0 / b.n_tokens AS top_bigram_frac,
           CASE WHEN b.n_tokens > 2
                THEN (b.n_tokens - 2 - t.ndt) * 1.0 / (b.n_tokens - 2)
                ELSE 0.0 END AS dup_trigram_frac
    FROM base b
    LEFT JOIN bgm m USING (doc_id)
    LEFT JOIN tri t USING (doc_id)
    ORDER BY doc_id
    """,
)
def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition measures per document: the fraction of
    tokens covered by the single most frequent bigram, and the fraction
    of trigram positions that repeat an earlier trigram. High values
    flag degenerate text (keyboard mashing, boilerplate loops, model
    babble) that length/TTR quality scores miss.

    All ratios are integer counts with one exact double division —
    bit-identical across engines.
    """
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id",
        "toks",
        F.size("toks").alias("n_tokens"),
        F.size(shingles("toks", k=3)).alias("ndt"),
    )
    bg = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(toks, 1, size(toks) - 1), "
                "(x, i) -> concat(x, ' ', element_at(toks, i + 2)))"
            )
        ).alias("bg"),
    )
    bgm = (
        bg.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("mx"))
    )
    n_tok = F.col("n_tokens")
    return (
        base.drop("toks")
        .join(bgm, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.coalesce("mx", F.lit(0)) * F.lit(2.0) / n_tok).alias(
                "top_bigram_frac"
            ),
            F.when(
                n_tok > 2,
                (n_tok - 2 - F.col("ndt")) * F.lit(1.0) / (n_tok - 2),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_trigram_frac"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_boilerplate_ngrams",
    oracle=f"""
    WITH {sql_shingles_cte(k=5)},
    df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s)
    SELECT s AS shingle, df AS n_docs
    FROM df WHERE df >= {_BOILER_DF}
    ORDER BY n_docs DESC, shingle
    """,
)
def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide boilerplate detector: 5-gram document frequency over
    DISTINCT per-doc shingles; any 5-gram in >= 2 documents is
    cross-document duplicated content. The df aggregate is keyed on the
    shingle (uniform md5-like distribution of text), so the shuffle has
    no inherent skew; output is vocabulary-sized."""
    sh = shingle_rows(load_table(spark, sf_dir, "documents"), 5)
    return (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= _BOILER_DF)
        .select(F.col("s").alias("shingle"), "n_docs")
        .orderBy(F.desc("n_docs"), "shingle")
    )


@query(
    "q_boilerplate_doc_frac",
    oracle=f"""
    WITH {sql_shingles_cte(k=5)},
    df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
    per AS (
      SELECT sh.doc_id,
             COUNT(*) AS n_5grams,
             CAST(SUM(CASE WHEN df.df >= {_BOILER_DF} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_boiler
      FROM sh JOIN df USING (s)
      GROUP BY sh.doc_id
    )
    SELECT doc_id, n_5grams, n_boiler,
           n_boiler * 1.0 / n_5grams AS boiler_frac
    FROM per
    ORDER BY boiler_frac DESC, doc_id
    LIMIT 100
    """,
)
def q_boilerplate_doc_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate contamination: the fraction of a doc's
    distinct 5-grams that are corpus-level boilerplate (df >= 2), top
    100 worst offenders — the filter list a curation pipeline feeds
    back into its drop rules. (boiler_frac, doc_id) is a total order,
    so the LIMIT is deterministic."""
    sh = shingle_rows(load_table(spark, sf_dir, "documents"), 5)
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    per = (
        sh.join(dfreq, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_5grams"),
            F.sum(
                F.when(F.col("df") >= _BOILER_DF, 1).otherwise(0)
            ).alias("n_boiler"),
        )
    )
    return (
        per.select(
            "doc_id",
            "n_5grams",
            "n_boiler",
            (F.col("n_boiler") * F.lit(1.0) / F.col("n_5grams")).alias(
                "boiler_frac"
            ),
        )
        .orderBy(F.desc("boiler_frac"), "doc_id")
        .limit(100)
    )


@query(
    "q_redact_props_digits",
    oracle="""
    WITH r AS (
      SELECT event_type,
             regexp_replace(props, '[0-9]+', '#', 'g') AS red
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT red) AS n_patterns,
           MIN(red) AS sample_pattern
    FROM r GROUP BY event_type ORDER BY event_type
    """,
)
def q_redact_props_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-shaped redaction pass: mask every digit run in the event
    payload (the same regexp_replace plumbing handles emails/phones/SSNs
    — the testdata has only numeric tokens to scrub), then profile the
    redacted payload shapes per event type. The redaction itself is a
    stateless codegen projection — at 100 TB it fuses into the scan."""
    e = load_table(spark, sf_dir, "events")
    red = F.regexp_replace("props", "[0-9]+", "#")
    return (
        e.select("event_type", red.alias("red"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("red").alias("n_patterns"),
            F.min("red").alias("sample_pattern"),
        )
        .orderBy("event_type")
    )


# Quality formula after textanalysis.q_doc_quality (length saturation
# + type-token ratio + mean word length; the mwl term unsaturated
# here), over the FULL corpus rather than its doc_id<100 sample.
_SQL_QUALITY = """
      SELECT doc_id, lang,
             (least(len(str_split(text, ' ')) / 64.0, 1.0) * 0.4
              + len(list_distinct(str_split(text, ' '))) * 1.0
                / len(str_split(text, ' ')) * 0.4)
             + (len(text) - (len(str_split(text, ' ')) - 1)) * 1.0
               / len(str_split(text, ' ')) / 8.0 * 0.2 AS quality
      FROM documents
"""


@query(
    "q_quality_quantile_gate",
    oracle=f"""
    WITH q AS ({_SQL_QUALITY}),
    c AS (
      SELECT lang, ROUND(quantile_cont(quality, 0.4), 6) AS cutoff
      FROM q GROUP BY lang
    )
    SELECT q.lang,
           COUNT(*) AS n_total,
           SUM(CASE WHEN q.quality >= c.cutoff THEN 1 ELSE 0 END)::BIGINT
             AS n_kept,
           c.cutoff
    FROM q JOIN c ON c.lang = q.lang
    GROUP BY q.lang, c.cutoff
    ORDER BY q.lang
    """,
)
def q_quality_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language adaptive quality gate: keep docs at or above their
    language's 40th quality percentile — the rebalancing alternative
    to one global cutoff (which would gut low-resource languages).

    Two passes over the quality projection: an exact per-lang
    percentile (5 groups; `percentile` not `percentile_approx` so the
    oracle is strong), broadcast back, then a counting aggregate. At
    100 TB the first pass becomes percentile_approx (sketch, one
    pass, mergeable) and the gate itself is unchanged — the cutoff
    table stays |langs| rows either way. Score arithmetic is ratios
    of ints and /64, /8 (powers of two) — IEEE-exact on both engines;
    only the interpolated cutoff is rounded (1e-6, final-ulp)."""
    d = load_table(spark, sf_dir, "documents")
    q = d.select("doc_id", "lang", quality_score("text").alias("quality"))
    cutoffs = q.groupBy("lang").agg(
        F.round(F.percentile("quality", F.lit(0.4)), 6).alias("cutoff")
    )
    return (
        q.join(broadcast_narrow(cutoffs), "lang")
        .groupBy("lang", "cutoff")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(
                F.when(F.col("quality") >= F.col("cutoff"), 1).otherwise(0)
            ).alias("n_kept"),
        )
        .select("lang", "n_total", "n_kept", "cutoff")
        .orderBy("lang")
    )


@query(
    "q_token_entropy",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS c FROM tok GROUP BY doc_id, term
    ),
    n AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM tf GROUP BY doc_id),
    fp AS (
      SELECT tf.doc_id, n.n,
             tf.c * CAST(round(ln(tf.c * 1.0 / n.n) * 1000000) AS BIGINT)
               AS term_fp
      FROM tf JOIN n ON n.doc_id = tf.doc_id
    )
    SELECT doc_id,
           n AS n_tokens,
           CAST(-SUM(term_fp) AS BIGINT) AS entropy_fp,
           CAST(-SUM(term_fp) AS BIGINT) * 1.0 / n / 1000000
             AS entropy_nats
    FROM fp
    GROUP BY doc_id, n
    ORDER BY doc_id
    """,
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram entropy (nats): H = -Σ (c/n)·ln(c/n) over
    the doc's own token distribution — the repetitiveness signal that
    catches low-diversity generated/boilerplate text even when
    type-token ratio looks fine (a doc repeating two tokens 50/50 has
    TTR≈0 signal but H=ln 2 directly).

    Shape: per-(doc, term) count, then a doc_id rollup — both
    uniform-key aggregates with map-side combine. ln is libm-backed:
    each term's contribution is rounded at 1e-6 and accumulated in
    int64 fixed point (c·round(ln(c/n)·1e6)), so partial-aggregation
    order cannot move the result; the nats value divides out at the
    end (exact IEEE ops on identical operands)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    n = tf.groupBy("doc_id").agg(F.sum("c").alias("n"))
    term_fp = F.col("c") * F.round(
        F.log(F.col("c").cast("double") / F.col("n")) * 1e6
    ).cast("bigint")
    return (
        tf.join(n, "doc_id")
        .select("doc_id", "n", term_fp.alias("term_fp"))
        .groupBy("doc_id", "n")
        .agg((-F.sum("term_fp")).alias("entropy_fp"))
        .select(
            "doc_id",
            F.col("n").alias("n_tokens"),
            "entropy_fp",
            (F.col("entropy_fp") * F.lit(1.0) / F.col("n") / 1e6).alias(
                "entropy_nats"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "q_value_outliers",
    oracle="""
    WITH s AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sv,
             CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS sv2
      FROM events
      GROUP BY event_type
    ),
    m AS (
      SELECT event_type, n, sv / n AS mean,
             SQRT((sv2 - (sv * sv) / n) / (n - 1)) AS std
      FROM s
    )
    SELECT e.event_type,
           m.n,
           CAST(SUM(CASE WHEN abs(e.value - m.mean) > 3 * m.std
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           m.mean, m.std
    FROM events e JOIN m ON m.event_type = e.event_type
    GROUP BY e.event_type, m.n, m.mean, m.std
    ORDER BY e.event_type
    """,
)
def q_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly detection per event type: |value − mean| > 3σ,
    with mean/σ from exact decimal moments (the order-independent
    dispersion trick of q_qty_dispersion) broadcast back onto the
    stream — two passes, the second map-only. The data-quality
    tripwire every ingestion pipeline runs before accepting a batch.
    """
    e = load_table(spark, sf_dir, "events")
    v = F.col("value")
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v.cast("decimal(38,6)")).cast("double").alias("sv"),
        F.sum((v * v).cast("decimal(38,6)")).cast("double").alias("sv2"),
    )
    n = F.col("n")
    mean = F.col("sv") / n
    std = F.sqrt((F.col("sv2") - (F.col("sv") * F.col("sv")) / n) / (n - F.lit(1)))
    m = s.select("event_type", "n", mean.alias("mean"), std.alias("std"))
    return (
        e.join(broadcast_narrow(m), "event_type")
        .groupBy("event_type", "n", "mean", "std")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("mean")) > 3 * F.col("std"), 1
                ).otherwise(0)
            ).alias("n_outliers")
        )
        .select("event_type", "n", "n_outliers", "mean", "std")
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# F4: ensemble quality gate (multi-signal z-score fusion)
# --------------------------------------------------------------------------

_ENS_K = 20


@query(
    "q_quality_ensemble_gate",
    oracle=f"""
    WITH {sql_shingles_cte(k=3)},
    tri AS (SELECT doc_id, COUNT(*) AS ndt FROM sh GROUP BY doc_id),
    {SQL_UNIGRAM_LPD_CTES},
    sig AS (
      SELECT d.doc_id,
             len(list_distinct(str_split(d.text, ' '))) * 1.0
               / len(str_split(d.text, ' ')) AS ttr,
             CASE WHEN len(str_split(d.text, ' ')) > 2
                  THEN (len(str_split(d.text, ' ')) - 2 - t.ndt) * 1.0
                       / (len(str_split(d.text, ' ')) - 2)
                  ELSE 0.0 END AS dup3,
             l.avg_lp
      FROM documents d
      LEFT JOIN tri t USING (doc_id)
      JOIN lpd l USING (doc_id)
    ),
    mom AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(ttr AS DECIMAL(38,6))) AS DOUBLE) AS s_ttr,
             CAST(SUM(CAST(ttr * ttr AS DECIMAL(38,6))) AS DOUBLE) AS s2_ttr,
             CAST(SUM(CAST(dup3 AS DECIMAL(38,6))) AS DOUBLE) AS s_dup3,
             CAST(SUM(CAST(dup3 * dup3 AS DECIMAL(38,6))) AS DOUBLE) AS s2_dup3,
             CAST(SUM(CAST(avg_lp AS DECIMAL(38,6))) AS DOUBLE) AS s_lp,
             CAST(SUM(CAST(avg_lp * avg_lp AS DECIMAL(38,6))) AS DOUBLE) AS s2_lp
      FROM sig
    ),
    z AS (
      SELECT s.doc_id, s.ttr, s.dup3, s.avg_lp,
             ((s.ttr - m.s_ttr / m.n)
              / SQRT((m.s2_ttr - (m.s_ttr * m.s_ttr) / m.n) / (m.n - 1))
              + (s.avg_lp - m.s_lp / m.n)
              / SQRT((m.s2_lp - (m.s_lp * m.s_lp) / m.n) / (m.n - 1))
              - (s.dup3 - m.s_dup3 / m.n)
              / SQRT((m.s2_dup3 - (m.s_dup3 * m.s_dup3) / m.n) / (m.n - 1))
             ) / 3.0 AS quality_z
      FROM sig s CROSS JOIN mom m
    )
    SELECT doc_id, ttr, dup3, avg_lp, quality_z
    FROM z
    ORDER BY quality_z, doc_id
    LIMIT {_ENS_K}
    """,
)
def q_quality_ensemble_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/Gopher-style multi-signal quality gate: z-score three
    per-doc signals against the corpus — type-token ratio (up =
    good), unigram-LM mean log-prob (up = good), duplicate-trigram
    fraction (up = bad) — and flag the {K} worst by the averaged
    composite. One signal catches one failure mode; the ensemble is
    what production filters actually ship (word salad scores fine on
    TTR, repetition loops score fine on LM — each is caught by the
    other two).

    Determinism: each signal is an exact integer ratio or a
    fixed-point ln sum; corpus moments go through DECIMAL(38,6)
    accumulation (partition-order independent, the registry
    contract), and the z arithmetic after that is a fixed sequence
    of IEEE scalar ops on bit-identical inputs. Shape: all three
    signal frames are doc_id-keyed aggregates sharing one
    partitioning; moments are a one-row broadcast; the gate is a
    TakeOrdered bottom-k.
    """
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id",
        F.size("toks").alias("n_tok"),
        F.size(F.array_distinct("toks")).alias("n_uniq"),
        F.size(shingles("toks", k=3)).alias("ndt"),
    )
    lpd = unigram_logprob_doc_frame(spark, sf_dir).select(
        "doc_id", "avg_lp"
    )
    n_tok = F.col("n_tok")
    sig = base.join(lpd, "doc_id").select(
        "doc_id",
        (F.col("n_uniq") * F.lit(1.0) / n_tok).alias("ttr"),
        F.when(
            n_tok > 2,
            (n_tok - 2 - F.col("ndt")) * F.lit(1.0) / (n_tok - 2),
        )
        .otherwise(F.lit(0.0))
        .alias("dup3"),
        "avg_lp",
    )
    dec = lambda c: c.cast("decimal(38,6)")  # noqa: E731
    mom = sig.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("ttr"))).cast("double").alias("s_ttr"),
        F.sum(dec(F.col("ttr") * F.col("ttr"))).cast("double").alias("s2_ttr"),
        F.sum(dec(F.col("dup3"))).cast("double").alias("s_dup3"),
        F.sum(dec(F.col("dup3") * F.col("dup3")))
        .cast("double")
        .alias("s2_dup3"),
        F.sum(dec(F.col("avg_lp"))).cast("double").alias("s_lp"),
        F.sum(dec(F.col("avg_lp") * F.col("avg_lp")))
        .cast("double")
        .alias("s2_lp"),
    )

    def z(x, s, s2):
        mean = F.col(s) / F.col("n")
        var = (F.col(s2) - (F.col(s) * F.col(s)) / F.col("n")) / (
            F.col("n") - 1
        )
        return (x - mean) / F.sqrt(var)

    composite = (
        z(F.col("ttr"), "s_ttr", "s2_ttr")
        + z(F.col("avg_lp"), "s_lp", "s2_lp")
        - z(F.col("dup3"), "s_dup3", "s2_dup3")
    ) / F.lit(3.0)
    return (
        sig.crossJoin(broadcast_narrow(mom))
        .select("doc_id", "ttr", "dup3", "avg_lp", composite.alias("quality_z"))
        .orderBy("quality_z", "doc_id")
        .limit(_ENS_K)
    )


@query(
    "q_value_outliers_mad",
    oracle="""
    WITH med AS (
      SELECT event_type,
             COUNT(*) AS n,
             ROUND(quantile_cont(value, 0.5), 6) AS med
      FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type,
             ROUND(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad
      FROM events e JOIN med m ON m.event_type = e.event_type
      GROUP BY e.event_type
    )
    SELECT e.event_type, m.n,
           CAST(SUM(CASE WHEN abs(e.value - m.med) > 4.4478 * a.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           m.med, a.mad
    FROM events e
    JOIN med m ON m.event_type = e.event_type
    JOIN mad a ON a.event_type = e.event_type
    GROUP BY e.event_type, m.n, m.med, a.mad
    ORDER BY e.event_type
    """,
)
def q_value_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST anomaly detection per event type: median absolute
    deviation, |value − median| > 3·1.4826·MAD — the companion to
    q_value_outliers' 3σ rule that heavy tails and the outliers
    themselves cannot poison (mean/σ move with every extreme value;
    median/MAD have 50% breakdown). Pipelines run BOTH: σ for
    Gaussian-ish value streams, MAD when a bad batch may contain the
    very outliers being measured.

    Three passes, each one shuffle on event_type: exact median, exact
    median of absolute deviations (Spark `percentile` ≡ DuckDB
    `quantile_cont`, rounded at 1e-6 so the interpolation's last ulp
    cannot flip a threshold comparison), then a broadcast of the
    type-level {median, MAD} frame back onto the stream for the
    map-only count. At 100 TB the exact medians swap for
    `percentile_approx` with a documented rank-error bound — the plan
    shape is identical."""
    e = load_table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("med"),
    )
    mad = (
        e.join(broadcast_narrow(med.select("event_type", "med")), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(
                F.expr("percentile(abs(value - med), 0.5)"), 6
            ).alias("mad")
        )
    )
    stats = med.join(mad, "event_type")
    return (
        e.join(broadcast_narrow(stats), "event_type")
        .groupBy("event_type", "n", "med", "mad")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med"))
                    > F.lit(4.4478) * F.col("mad"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers")
        )
        .select("event_type", "n", "n_outliers", "med", "mad")
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Round-8: exact two-sample Kolmogorov-Smirnov drift over length
# --------------------------------------------------------------------------


@query(
    "q_ks_length_drift",
    oracle="""
    WITH x AS (
      SELECT doc_id % 2 = 0 AS is_old,
             CAST(len(str_split(text, ' ')) AS BIGINT) AS x
      FROM documents
    ),
    tot AS (
      SELECT CAST(SUM(CASE WHEN is_old THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
             CAST(SUM(CASE WHEN NOT is_old THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new
      FROM x
    ),
    per_x AS (
      SELECT x,
             CAST(SUM(CASE WHEN is_old THEN 1 ELSE 0 END) AS BIGINT) AS c_old,
             CAST(SUM(CASE WHEN NOT is_old THEN 1 ELSE 0 END) AS BIGINT)
               AS c_new
      FROM x GROUP BY x
    ),
    cum AS (
      SELECT x,
             CAST(SUM(c_old) OVER (ORDER BY x) AS BIGINT) AS f_old,
             CAST(SUM(c_new) OVER (ORDER BY x) AS BIGINT) AS f_new
      FROM per_x
    ),
    dev AS (
      SELECT x, abs(f_old * t.n_new - f_new * t.n_old) AS num,
             t.n_old, t.n_new
      FROM cum CROSS JOIN tot t
    ),
    best AS (
      SELECT * FROM dev
      ORDER BY num DESC, x
      LIMIT 1
    )
    SELECT n_old, n_new,
           CAST(num * 1000000 // (n_old * n_new) AS BIGINT) AS ks_ppm,
           x AS ks_at_x,
           (num > (n_old * n_new) // 10) AS drifted
    FROM best
    """,
)
def q_ks_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift statistic between the
    even-doc_id ("old") and odd-doc_id ("new") corpus halves over the
    per-document token-count distribution — the distribution-free
    ingest drift alarm (PSI needs binning choices; KS is the
    max-ECDF-gap with none). INTEGER-exact throughout: the gap at x
    is |F_old(x)·n_new − F_new(x)·n_old| over the common denominator
    n_old·n_new, so the supremum, its location, and the 10%-threshold
    flag are all int64 comparisons — no float CDFs, no engine drift.
    Deterministic argmax: (gap DESC, x ASC).

    Scale shape: one corpus pass to the (x, half) count aggregate
    (map-side combined; the key domain is DISTINCT LENGTH VALUES,
    bounded by max doc length, not corpus size), then the cumulative
    window + argmax run on that values-sized frame — the
    post-aggregation global-window pattern the plan guards allow.

    Overflow bounds (ADVICE r8): the gap numerator num = |F_old·n_new −
    F_new·n_old| <= n_old·n_new, so the DECISION flag uses the
    multiplication-free form `num > (n_old·n_new) DIV 10` — exactly
    equivalent to num·10 > n_old·n_new for integers (num·10 is a
    multiple of 10, so it exceeds P iff it reaches the next multiple
    above 10·(P DIV 10)) and int64-safe to ~3·10^9 docs per half (the
    point where n_old·n_new itself caps out). The REPORTING field
    ks_ppm multiplies num by 10^6 and therefore holds int64-exact only
    to ~3·10^6 docs per half in the worst-drift case (num ≈ n_old·n_new
    ≈ 9.2·10^12 = 2^63/10^6); past that compute the ppm in 128-bit
    (DuckDB HUGEINT / Spark decimal(38,0)) or report num and the
    denominator as the exact rational — the drift alarm itself never
    overflows."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    x = d.select(
        (F.col("doc_id") % 2 == 0).alias("is_old"),
        F.size(F.split("text", " ")).cast("bigint").alias("x"),
    )
    per_x = x.groupBy("x").agg(
        F.sum(F.when(F.col("is_old"), 1).otherwise(0))
        .cast("bigint")
        .alias("c_old"),
        F.sum(F.when(~F.col("is_old"), 1).otherwise(0))
        .cast("bigint")
        .alias("c_new"),
    )
    tot = per_x.agg(
        F.sum("c_old").cast("bigint").alias("n_old"),
        F.sum("c_new").cast("bigint").alias("n_new"),
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_x.select(
        "x",
        F.sum("c_old").over(w).cast("bigint").alias("f_old"),
        F.sum("c_new").over(w).cast("bigint").alias("f_new"),
    )
    dev = cum.crossJoin(broadcast_narrow(tot)).select(
        "x",
        F.abs(
            F.col("f_old") * F.col("n_new") - F.col("f_new") * F.col("n_old")
        ).alias("num"),
        "n_old",
        "n_new",
    )
    best = dev.orderBy(F.col("num").desc(), "x").limit(1)
    return best.select(
        "n_old",
        "n_new",
        F.expr("CAST(num * 1000000 DIV (n_old * n_new) AS BIGINT)").alias(
            "ks_ppm"
        ),
        F.col("x").alias("ks_at_x"),
        F.expr("num > (n_old * n_new) DIV 10").alias("drifted"),
    )


# --------------------------------------------------------------------------
# Round-8: exact tie-aware Mann-Whitney AUC — score/label separation
# --------------------------------------------------------------------------

_AUC_EVAL_MOD = 97  # contamination.py's eval carve-out rule
_AUC_HITS = 2  # label: contaminated iff >= 2 distinct eval shingles


@query(
    "q_mannwhitney_auc_contam",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, str_split(text, ' ') AS ws FROM documents
      WHERE doc_id % {_AUC_EVAL_MOD} <> 0
    ),
    pos AS (
      SELECT doc_id, generate_subscripts(ws, 1) AS i, unnest(ws) AS w,
             len(ws) AS n
      FROM tok
    ),
    sh AS (
      SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS s
      FROM pos a
      JOIN pos b ON b.doc_id = a.doc_id AND b.i = a.i + 1
      JOIN pos c ON c.doc_id = a.doc_id AND c.i = a.i + 2
    ),
    bench AS (
      SELECT DISTINCT t0.w || ' ' || t1.w || ' ' || t2.w AS s
      FROM (SELECT doc_id, generate_subscripts(str_split(text, ' '), 1) AS i,
                   unnest(str_split(text, ' ')) AS w
            FROM documents WHERE doc_id % {_AUC_EVAL_MOD} = 0) t0
      JOIN (SELECT doc_id, generate_subscripts(str_split(text, ' '), 1) AS i,
                   unnest(str_split(text, ' ')) AS w
            FROM documents WHERE doc_id % {_AUC_EVAL_MOD} = 0) t1
        ON t1.doc_id = t0.doc_id AND t1.i = t0.i + 1
      JOIN (SELECT doc_id, generate_subscripts(str_split(text, ' '), 1) AS i,
                   unnest(str_split(text, ' ')) AS w
            FROM documents WHERE doc_id % {_AUC_EVAL_MOD} = 0) t2
        ON t2.doc_id = t0.doc_id AND t2.i = t0.i + 2
    ),
    hits AS (
      SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM sh JOIN bench USING (s) GROUP BY 1
    ),
    scored AS (
      SELECT t.doc_id, CAST(len(str_split(d.text, ' ')) AS BIGINT) AS x,
             COALESCE(h.n_hits, 0) >= {_AUC_HITS} AS is_pos
      FROM tok t
      JOIN documents d ON d.doc_id = t.doc_id
      LEFT JOIN hits h ON h.doc_id = t.doc_id
    ),
    per_x AS (
      SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS pcnt
      FROM scored GROUP BY x
    ),
    cum AS (
      SELECT x, cnt, pcnt,
             CAST(COALESCE(SUM(cnt) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cbefore
      FROM per_x
    ),
    tots AS (
      SELECT CAST(SUM(pcnt) AS BIGINT) AS n_pos,
             CAST(SUM(cnt) - SUM(pcnt) AS BIGINT) AS n_neg,
             CAST(SUM(CAST(pcnt AS HUGEINT) * (2 * cbefore + cnt + 1))
                  AS HUGEINT) AS r2_pos
      FROM cum
    )
    SELECT n_pos, n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0
                THEN CAST((r2_pos - CAST(n_pos AS HUGEINT) * (n_pos + 1))
                          * 1000000
                          // (2 * CAST(n_pos AS HUGEINT) * n_neg)
                     AS BIGINT) END AS auc_ppm,
           CASE WHEN n_pos > 0 AND n_neg > 0
                THEN (r2_pos - CAST(n_pos AS HUGEINT) * (n_pos + 1)) * 2
                     > 2 * CAST(n_pos AS HUGEINT) * n_neg
           END AS longer_when_contaminated
    FROM tots
    """,
)
def q_mannwhitney_auc_contam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware Mann-Whitney AUC: does document LENGTH separate
    contamination? (Long documents carry more shingles, so any-overlap
    decontamination rules fire on them disproportionately — this AUC
    is the standard way to QUANTIFY that confound before trusting a
    threshold; AUC is also the metric every learned quality classifier
    in a curation stack reports, so the exact machinery generalizes to
    any integer score column.)

    Exactness: with ties handled by MIDRANKS, AUC = (ΣR_pos −
    n_pos(n_pos+1)/2) / (n_pos·n_neg). Doubling removes the halves:
    per tied score group, 2·midrank = 2·c_before + cnt + 1, so
    2ΣR_pos is an int64 sum over the VALUES-sized frame and
    auc_ppm = (2ΣR_pos − 2·n_pos(n_pos+1)/2)·1e6 DIV (2·n_pos·n_neg)
    is an exact integer division — no float ranks, no engine drift.

    Scale shape: the contamination label is the decontamination
    pipeline's own semi-join (explode → eval-shingle join → per-doc
    hit count); the AUC itself then needs only one (score, label)
    aggregate whose key domain is DISTINCT SCORE VALUES — bounded by
    max doc length, not corpus size — and a cumulative window +
    one-row rollup on that values-sized frame (the q_ks_length_drift
    pattern; the two share a scan shape because both are ECDF
    functionals)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % _AUC_EVAL_MOD == 0
    ex = shingle_rows(d)
    bench = ex.where(is_eval).select("s").distinct()
    hits = (
        ex.where(~is_eval)
        .join(bench, "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    scored = (
        d.where(~is_eval)
        .select("doc_id", F.size(F.split("text", " ")).cast("bigint").alias("x"))
        .join(hits, "doc_id", "left")
        .select(
            "x",
            (F.coalesce("n_hits", F.lit(0)) >= _AUC_HITS).alias("is_pos"),
        )
    )
    per_x = scored.groupBy("x").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum(F.col("is_pos").cast("int")).cast("bigint").alias("pcnt"),
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    cum = per_x.select(
        "x",
        "cnt",
        "pcnt",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).cast("bigint").alias(
            "cbefore"
        ),
    )
    # decimal(38,0) midrank arithmetic (HUGEINT in the oracle): the ×1e6
    # ppm scaling wraps int64 silently once n_pos·n exceeds ~4.6e12 —
    # see q_logistic_score_auc for the same widening rationale.
    tots = cum.agg(
        F.sum("pcnt").cast("bigint").alias("n_pos"),
        (F.sum("cnt") - F.sum("pcnt")).cast("bigint").alias("n_neg"),
        F.sum(
            F.col("pcnt").cast("decimal(38,0)")
            * (2 * F.col("cbefore") + F.col("cnt") + 1)
        ).alias("r2_pos"),
    )
    return tots.select(
        "n_pos",
        "n_neg",
        F.expr(
            "CASE WHEN n_pos > 0 AND n_neg > 0 THEN "
            "CAST((r2_pos - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1))"
            " * 1000000 "
            "DIV (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg) AS BIGINT) END"
        ).alias("auc_ppm"),
        F.expr(
            "CASE WHEN n_pos > 0 AND n_neg > 0 THEN "
            "(r2_pos - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1)) * 2"
            " > 2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg END"
        ).alias("longer_when_contaminated"),
    )


# --------------------------------------------------------------------------
# Round-8: k-anonymity audit over quasi-identifier combinations
# --------------------------------------------------------------------------

_KANON_K = 5  # minimum safe group size
_KANON_LEN_BUCKET = 50  # token-count generalization width


@query(
    "q_k_anonymity_audit",
    oracle=f"""
    WITH q AS (
      SELECT lang, source,
             (len(str_split(text, ' ')) // {_KANON_LEN_BUCKET})
               * {_KANON_LEN_BUCKET} AS len_bucket
      FROM documents
    ),
    g AS (
      SELECT lang, source, len_bucket, CAST(COUNT(*) AS BIGINT) AS grp
      FROM q GROUP BY 1, 2, 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(grp) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN grp < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_risky_groups,
           CAST(SUM(CASE WHEN grp < {_KANON_K} THEN grp ELSE 0 END)
                AS BIGINT) AS n_risky_rows,
           CAST(MIN(grp) AS BIGINT) AS min_group,
           CAST(SUM(CASE WHEN grp < {_KANON_K} THEN grp ELSE 0 END) * 1000000
                // SUM(grp) AS BIGINT) AS risky_ppm
    FROM g
    """,
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002) over the documents table's
    quasi-identifier combination (lang, source, {_KANON_LEN_BUCKET}-
    token length bucket): a row is re-identification-risky when fewer
    than k = {_KANON_K} rows share its full quasi-identifier tuple.
    Reports group/row counts, the risky slice (groups, rows, ppm),
    and the minimum group size — the number a release gate compares
    against k. Companion to the redaction operator (which scrubs
    direct identifiers; THIS audits the indirect ones redaction
    cannot see).

    Scale shape: one corpus scan → one aggregate on the
    quasi-identifier key (map-side combined; the key domain is the
    PRODUCT OF GENERALIZED DOMAINS — langs × sources × length
    buckets — bounded by design, which is the entire point of
    generalization) → a one-row rollup. Nothing pairwise, nothing
    driver-sized."""
    d = load_table(spark, sf_dir, "documents")
    q = d.select(
        "lang",
        "source",
        (
            (F.size(F.split("text", " ")) / _KANON_LEN_BUCKET).cast("bigint")
            * _KANON_LEN_BUCKET
        ).alias("len_bucket"),
    )
    g = q.groupBy("lang", "source", "len_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("grp")
    )
    risky = F.when(F.col("grp") < _KANON_K, F.col("grp")).otherwise(F.lit(0))
    return g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("grp").cast("bigint").alias("n_rows"),
        F.sum((F.col("grp") < _KANON_K).cast("int"))
        .cast("bigint")
        .alias("n_risky_groups"),
        F.sum(risky).cast("bigint").alias("n_risky_rows"),
        F.min("grp").cast("bigint").alias("min_group"),
        F.expr(
            f"CAST(SUM(CASE WHEN grp < {_KANON_K} THEN grp ELSE 0 END) "
            "* 1000000 DIV SUM(grp) AS BIGINT)"
        ).alias("risky_ppm"),
    )
