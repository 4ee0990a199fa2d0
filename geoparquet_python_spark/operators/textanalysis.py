"""Text-analysis operators over the `documents` table (SURVEY.md §2.F
F4 + BASELINE.json north-star: token counting, TF-IDF, language-ID
heuristic, quality scoring, document fingerprinting).

All tokenization/hashing stays JVM-side (split/explode/md5); the only
shuffles are the analytic groupBys on doc_id / term — both
high-cardinality, skew-free keys at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from geoparquet_python_spark.functions.exact import broadcast_narrow, materialize
from geoparquet_python_spark.functions.text import (
    SQL_MD5_LONG,
    bigram_structs,
    md5_long,
    shingle_sets,
    sql_shingles_cte,
    tokens,
)
from geoparquet_python_spark.io import load_table
from geoparquet_python_spark.registry import query


# --------------------------------------------------------------------------
# F4: token counting / per-document stats
# --------------------------------------------------------------------------


@query(
    "q_token_stats",
    oracle="""
    SELECT doc_id,
           lang,
           length(text) AS n_chars_text,
           len(str_split(text, ' ')) AS n_tokens,
           len(list_distinct(str_split(text, ' '))) AS n_unique_tokens,
           len(list_distinct(str_split(text, ' '))) * 1.0
             / len(str_split(text, ' ')) AS type_token_ratio
    FROM documents
    WHERE doc_id < 100
    ORDER BY doc_id
    """,
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counts + type/token ratio, zero shuffles
    (pure projection — this is the shape of a 100 TB token-count
    pass: map-only over the corpus)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    return (
        d.where(F.col("doc_id") < 100)
        .select(
            "doc_id",
            "lang",
            F.length("text").alias("n_chars_text"),
            F.size(toks).alias("n_tokens"),
            F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
            (
                F.size(F.array_distinct(toks)).cast("double")
                / F.size(toks)
            ).alias("type_token_ratio"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# F4: TF-IDF top terms per document
# --------------------------------------------------------------------------


@query(
    "q_tfidf_top_terms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, term, tf,
             tf * round(ln(n_docs * 1.0 / df), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN nd
    )
    SELECT doc_id, term, tf, tfidf, rank
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term
             ) AS rank
      FROM scored WHERE doc_id < 20
    )
    WHERE rank <= 5
    ORDER BY doc_id, rank
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF with top-5 terms per doc.

    idf is rounded to 6 decimals on both sides (ln is libm-backed);
    tf·idf products and the (tfidf DESC, term) ranking are then
    deterministic. The doc-frequency table is broadcast back onto the
    term-frequency table: at corpus scale df has |vocab| rows — small.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    nd = d.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.round(F.log(F.col("n_docs").cast("double") / F.col("df")), 6)
    scored = (
        tf.join(broadcast_narrow(df), "term")
        .crossJoin(broadcast_narrow(nd))
        .select("doc_id", "term", "tf", (F.col("tf") * idf).alias("tfidf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.where(F.col("doc_id") < 20)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("doc_id", "term", "tf", "tfidf", "rank")
        .orderBy("doc_id", "rank")
    )


# --------------------------------------------------------------------------
# F4: stopword-profile language-ID heuristic
# --------------------------------------------------------------------------

# Marker profiles over the corpus vocabulary (a real deployment ships
# per-language stopword lists; the operator shape is identical).
_LANG_MARKERS = {
    "en": ["the", "a", "value", "row"],
    "de": ["order", "group", "hash"],
    "es": ["data", "table", "scan"],
    "fr": ["query", "join", "merge"],
    "zh": ["spark", "stream", "batch"],
}


def _sql_marker_score(lang: str) -> str:
    arr = ", ".join(f"'{w}'" for w in _LANG_MARKERS[lang])
    return (
        f"len(list_filter(str_split(text, ' '), "
        f"x -> list_contains([{arr}], x))) AS score_{lang}"
    )


@query(
    "q_language_id",
    oracle=f"""
    WITH scores AS (
      SELECT doc_id, lang,
             {", ".join(_sql_marker_score(lang) for lang in _LANG_MARKERS)}
      FROM documents
    )
    SELECT doc_id, lang,
           score_en, score_de, score_es, score_fr, score_zh,
           CASE
             WHEN score_en >= score_de AND score_en >= score_es
              AND score_en >= score_fr AND score_en >= score_zh THEN 'en'
             WHEN score_de >= score_es AND score_de >= score_fr
              AND score_de >= score_zh THEN 'de'
             WHEN score_es >= score_fr AND score_es >= score_zh THEN 'es'
             WHEN score_fr >= score_zh THEN 'fr'
             ELSE 'zh'
           END AS predicted_lang
    FROM scores
    WHERE doc_id < 200
    ORDER BY doc_id
    """,
)
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID: count marker-token hits per
    language, argmax with a fixed tie-break order (en>de>es>fr>zh).
    Map-only — no shuffle; the marker lists are compile-time constants
    (broadcast-free)."""
    d = load_table(spark, sf_dir, "documents")
    scores = {
        lang: F.expr(
            "size(filter(split(text, ' '), x -> x IN ({})))".format(
                ", ".join(f"'{m}'" for m in markers)
            )
        )
        for lang, markers in _LANG_MARKERS.items()
    }
    df = d.where(F.col("doc_id") < 200).select(
        "doc_id",
        "lang",
        *[scores[lang].alias(f"score_{lang}") for lang in _LANG_MARKERS],
    )
    s = {lang: F.col(f"score_{lang}") for lang in _LANG_MARKERS}
    predicted = (
        F.when(
            (s["en"] >= s["de"]) & (s["en"] >= s["es"])
            & (s["en"] >= s["fr"]) & (s["en"] >= s["zh"]),
            "en",
        )
        .when((s["de"] >= s["es"]) & (s["de"] >= s["fr"]) & (s["de"] >= s["zh"]), "de")
        .when((s["es"] >= s["fr"]) & (s["es"] >= s["zh"]), "es")
        .when(s["fr"] >= s["zh"], "fr")
        .otherwise("zh")
    )
    return df.withColumn("predicted_lang", predicted).orderBy("doc_id")


# --------------------------------------------------------------------------
# F4: quality scoring
# --------------------------------------------------------------------------


@query(
    "q_doc_quality",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             len(str_split(text, ' ')) AS n_tokens,
             len(list_distinct(str_split(text, ' '))) AS n_unique,
             length(text) AS n_chars
      FROM documents
    )
    SELECT doc_id, n_tokens,
           n_unique * 1.0 / n_tokens AS ttr,
           (n_chars - (n_tokens - 1)) * 1.0 / n_tokens AS mean_word_len,
           least(n_tokens / 64.0, 1.0) * 0.4
             + (n_unique * 1.0 / n_tokens) * 0.4
             + least(((n_chars - (n_tokens - 1)) * 1.0 / n_tokens) / 8.0, 1.0) * 0.2
             AS quality_score
    FROM s
    WHERE doc_id < 100
    ORDER BY doc_id
    """,
)
def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: length saturation + lexical diversity +
    mean word length, combined with fixed weights. All IEEE-exact
    double arithmetic (ratios of integers) — no rounding needed."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    base = d.where(F.col("doc_id") < 100).select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        F.length("text").alias("n_chars"),
    )
    n_tokens = F.col("n_tokens").cast("double")
    ttr = F.col("n_unique") * F.lit(1.0) / F.col("n_tokens")
    mwl = (F.col("n_chars") - (F.col("n_tokens") - 1)) * F.lit(1.0) / F.col("n_tokens")
    quality = (
        F.least(n_tokens / 64.0, F.lit(1.0)) * 0.4
        + ttr * 0.4
        + F.least(mwl / 8.0, F.lit(1.0)) * 0.2
    )
    return base.select(
        "doc_id",
        "n_tokens",
        ttr.alias("ttr"),
        mwl.alias("mean_word_len"),
        quality.alias("quality_score"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# F4: document fingerprinting (min-hash-of-shingles, winnowing-style)
# --------------------------------------------------------------------------


@query(
    "q_doc_fingerprint",
    oracle=f"""
    WITH {sql_shingles_cte(k=3)}
    SELECT doc_id,
           MIN({SQL_MD5_LONG.format(expr="s")}) AS fingerprint,
           COUNT(*) AS n_shingles
    FROM sh
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: min 60-bit hash over distinct 3-word
    shingles (the r=1 MinHash — a winnowing-style representative).

    Spark computes the shingle set per row in one projection
    (text.shingle_sets: no explode, no aggregate; only the narrow token
    projection is spread over the cores); the reference-style per-row
    Python loop is exactly what this avoids.
    """
    return (
        shingle_sets(load_table(spark, sf_dir, "documents"))
        .select(
            "doc_id",
            F.array_min(F.transform("sh", md5_long)).alias("fingerprint"),
            F.size("sh").alias("n_shingles"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# F4: BPE-ish tokenization estimate (regex pre-tokenizer + subword count)
# --------------------------------------------------------------------------


@query(
    "q_bpe_token_stats",
    oracle="""
    SELECT doc_id,
           len(str_split(text, ' ')) AS n_ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]+'))
             AS n_regex_tokens,
           CAST(list_sum(list_transform(str_split(text, ' '),
                         w -> (len(w) + 3) // 4)) AS BIGINT) AS n_bpe_est
    FROM documents
    WHERE doc_id < 200
    ORDER BY doc_id
    """,
)
def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting beyond whitespace: a GPT-2-style pre-tokenizer
    regex (letter runs / digit runs / punctuation runs) plus the
    ~4-chars-per-token BPE subword estimate ceil(len/4) — the quick
    cost model every training-data budget uses before running a real
    tokenizer.

    All three counts are per-row projections (regexp_count + one
    higher-order transform/aggregate) — map-only at any scale; a real
    BPE merge table would slot in as an Arrow-batched pandas UDF with
    the same shape. Integer division is truncating in both engines
    (operands non-negative here)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    return (
        d.where(F.col("doc_id") < 200)
        .select(
            "doc_id",
            F.size(toks).alias("n_ws_tokens"),
            F.regexp_count(
                "text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]+")
            ).alias("n_regex_tokens"),
            F.aggregate(
                F.transform(
                    toks,
                    lambda w: F.floor((F.length(w) + 3) / 4).cast("bigint"),
                ),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).alias("n_bpe_est"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# F4: unigram log-probability (perplexity-proxy quality filter)
# --------------------------------------------------------------------------

# Shared unigram-LM core (also consumed by quality.py's ensemble gate):
# per-token 1e-6-rounded ln(c/N) as int64, rolled up per document. One
# definition on each engine so a change to the fixed-point treatment
# (scale, rounding, smoothing) can never de-synchronize consumers.
SQL_UNIGRAM_LPD_CTES = """
    tok AS (
      SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents
    ),
    freq AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
    tot AS (SELECT COUNT(*) AS n FROM tok),
    lpt AS (
      SELECT t.doc_id,
             CAST(round(ln(f.c * 1.0 / tot.n) * 1000000) AS BIGINT) AS lp
      FROM tok t JOIN freq f ON f.term = t.term CROSS JOIN tot
    ),
    lpd AS (
      SELECT doc_id,
             COUNT(*) AS n_tokens,
             CAST(SUM(lp) AS BIGINT) AS logprob_fp,
             CAST(SUM(lp) AS BIGINT) * 1.0 / COUNT(*) / 1000000 AS avg_lp
      FROM lpt GROUP BY doc_id
    )"""


def unigram_logprob_doc_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, logprob_fp, avg_lp) under the corpus's own
    unigram LM — the Spark twin of SQL_UNIGRAM_LPD_CTES' lpd."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    tok = materialize(tok)
    freq = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    # Corpus token total rides the dataflow as a one-row cross join
    # (vocab-sized frame x 1) instead of a driver-side count() job -
    # at 100 TB a count-before-plan is a full extra scan (same fix as
    # the packing shard sizing, round-5 item #4).
    tot = tok.agg(F.sum(F.lit(1)).cast("bigint").alias("n_total"))
    lp_fp = F.round(
        F.log(F.col("c").cast("double") / F.col("n_total").cast("double"))
        * 1e6
    ).cast("bigint")
    scored = tok.join(
        broadcast_narrow(
            freq.crossJoin(broadcast_narrow(tot)).select(
                "term", lp_fp.alias("lp")
            )
        ),
        "term",
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("lp").alias("logprob_fp"),
        (
            F.sum("lp").cast("bigint") * F.lit(1.0) / F.count(F.lit(1)) / 1e6
        ).alias("avg_lp"),
    )


@query(
    "q_unigram_logprob",
    oracle=f"""
    WITH {SQL_UNIGRAM_LPD_CTES}
    SELECT doc_id, n_tokens, logprob_fp, avg_lp AS avg_logprob
    FROM lpd
    ORDER BY doc_id
    """,
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity proxy: per-doc mean unigram
    log-probability under the corpus's own unigram LM. Gibberish and
    boilerplate score far from the corpus mean; the downstream gate
    is a plain filter on avg_logprob.

    Two aggregates over the exploded tokens (corpus LM build + per-doc
    score) bridged by an equi-join on the term: the frequency table is
    vocabulary-sized - broadcast when it fits, shuffle equi-join (AQE
    skew-split for stopword terms) when it doesn't. ln() is libm-
    backed, so each per-TOKEN term is rounded to 1e-6 and accumulated
    as fixed-point int64 (order-independent; a double sum of 10^11
    tokens would be partition-order-dependent) - same determinism
    treatment as functions/vector.py. Core shared with the ensemble
    gate via unigram_logprob_doc_frame / SQL_UNIGRAM_LPD_CTES.
    """
    return (
        unigram_logprob_doc_frame(spark, sf_dir)
        .select(
            "doc_id",
            "n_tokens",
            "logprob_fp",
            F.col("avg_lp").alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# F4: winnowing fingerprints (Schleimer/Wilkerson/Aiken local sampling)
# --------------------------------------------------------------------------

_WIN = 4  # winnow window (in grams)


@query(
    "q_winnowing_fingerprints",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id,
             unnest(str_split(text, ' ')) AS w,
             generate_subscripts(str_split(text, ' '), 1) AS i
      FROM documents
    ),
    grams AS (
      SELECT t0.doc_id, t0.i,
             {SQL_MD5_LONG.format(expr="t0.w || ' ' || t1.w || ' ' || t2.w")} AS h
      FROM pos t0
      JOIN pos t1 ON t1.doc_id = t0.doc_id AND t1.i = t0.i + 1
      JOIN pos t2 ON t2.doc_id = t0.doc_id AND t2.i = t0.i + 2
    ),
    ng AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
    win AS (
      SELECT g.doc_id, g.i,
             MIN(g.h) OVER (PARTITION BY g.doc_id ORDER BY g.i
                            ROWS BETWEEN CURRENT ROW
                            AND {_WIN - 1} FOLLOWING) AS fp,
             n.n_grams
      FROM grams g JOIN ng n ON n.doc_id = g.doc_id
    ),
    fps AS (
      SELECT DISTINCT doc_id, fp
      FROM win WHERE i <= n_grams - {_WIN} + 1
    ),
    df AS (SELECT fp, COUNT(*) AS c FROM fps GROUP BY fp)
    SELECT f.doc_id,
           n.n_grams,
           CAST(COUNT(*) AS BIGINT) AS n_fps,
           CAST(SUM(CASE WHEN df.c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_fps
    FROM fps f JOIN df USING (fp) JOIN ng n ON n.doc_id = f.doc_id
    GROUP BY f.doc_id, n.n_grams
    ORDER BY f.doc_id
    """,
)
def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (the MOSS fingerprint scheme): hash every positional
    3-gram, slide a {_WIN}-gram window, keep each window's MINIMUM
    hash — guaranteed-coverage local sampling that, unlike global
    MinHash, localizes WHERE two documents overlap. Output per doc:
    gram count, selected-fingerprint count, and how many of its
    fingerprints appear in at least one other document (the
    plagiarism-candidate signal).

    Scale shape: gram hashing AND window-minning run in ONE in-row
    projection (nested transform/slice/array_min over the token
    array — no positional explode, no shuffle until the fingerprints
    are exploded for the document-frequency rollup, which shuffles
    uniform 60-bit keys exactly like passage dedup)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    md5_gram = (
        "CAST(conv(substring(md5(concat_ws(' ', toks[CAST(i AS INT)], "
        "toks[CAST(i AS INT) + 1], toks[CAST(i AS INT) + 2])), 1, 15), 16, 10) "
        "AS BIGINT)"
    )
    base = d.select("doc_id", toks.alias("toks")).select(
        "doc_id",
        F.expr(
            f"transform(sequence(0, size(toks) - 3), i -> {md5_gram})"
        ).alias("hs"),
    )
    fps = base.select(
        "doc_id",
        F.size("hs").alias("n_grams"),
        F.explode(
            F.expr(
                f"array_distinct(transform(sequence(0, size(hs) - {_WIN}), "
                f"j -> array_min(slice(hs, CAST(j AS INT) + 1, {_WIN}))))"
            )
        ).alias("fp"),
    )
    df = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("c"))
    return (
        fps.join(df, "fp")
        .groupBy("doc_id", "n_grams")
        .agg(
            F.count(F.lit(1)).alias("n_fps"),
            F.sum(F.when(F.col("c") >= 2, 1).otherwise(0)).alias(
                "n_shared_fps"
            ),
        )
        .select("doc_id", "n_grams", "n_fps", "n_shared_fps")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# F4g: PMI collocation mining (bigram association strength)
# --------------------------------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOPK = 100
_PMI_SCALE = 1_000_000


@query(
    "q_pmi_collocations",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id,
             unnest(str_split(text, ' ')) AS w,
             generate_subscripts(str_split(text, ' '), 1) AS i
      FROM documents
    ),
    big AS (
      SELECT a.w AS w1, b.w AS w2
      FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.i = a.i + 1
    ),
    bc AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM big GROUP BY w1, w2
    ),
    lc AS (SELECT w1, CAST(SUM(n_ab) AS BIGINT) AS n_a FROM bc GROUP BY w1),
    rc AS (SELECT w2, CAST(SUM(n_ab) AS BIGINT) AS n_b FROM bc GROUP BY w2),
    tot AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n FROM bc)
    SELECT w1, w2, n_ab, n_a, n_b,
           CAST((n_ab * n * {_PMI_SCALE}) // (n_a * n_b) AS BIGINT)
             AS pmi_ratio_micro
    FROM bc JOIN lc USING (w1) JOIN rc USING (w2) CROSS JOIN tot
    WHERE n_ab >= {_PMI_MIN_COUNT}
    ORDER BY pmi_ratio_micro DESC, w1, w2
    LIMIT {_PMI_TOPK}
    """,
)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information,
    reported as the INTEGER-exact probability ratio
    floor(1e6 · P(ab) / (P(a)·P(b))) — the monotone core of PMI
    (log of it) without a cross-engine transcendental: exp/log never
    enters, so Spark and the oracle rank and hash identically.

    Shape: bigram extraction is a map-only positional zip (no
    explode-join); counts shuffle once on the bigram key; the two
    marginals re-aggregate the (already tiny) bigram-count frame, and
    the scalar total rides in as a one-row cross join. Top-k is a
    TakeOrdered, no global sort materialized.

    Scale: the shuffled keyspace is the distinct-bigram domain
    (vocab², bounded far below corpus size); marginals/total are
    vocab-sized. int64 bound: n_ab·N·1e6 ≤ N²·1e6 — safe to N ≈ 3e6
    bigrams at this scale factor; a 100 TB corpus drops the scale to
    1e3 or splits the multiply (document contract, same monotonicity).
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    bigrams = (
        d.select(toks.alias("t"))
        .select(F.explode(bigram_structs("t")).alias("p"))
        .select("p.w1", "p.w2")
    )
    bc = materialize(
        bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_ab"))
    )
    lc = bc.groupBy("w1").agg(F.sum("n_ab").alias("n_a"))
    rc = bc.groupBy("w2").agg(F.sum("n_ab").alias("n_b"))
    tot = bc.agg(F.sum("n_ab").alias("n"))
    # True int64 division (Spark `div` == DuckDB `//` for positives):
    # never a double, so no 2^53 precision cliff on the product.
    ratio = F.expr(f"(n_ab * n * {_PMI_SCALE}) div (n_a * n_b)")
    return (
        bc.where(F.col("n_ab") >= _PMI_MIN_COUNT)
        .join(lc, "w1")
        .join(rc, "w2")
        .crossJoin(tot)
        .select(
            "w1",
            "w2",
            "n_ab",
            "n_a",
            "n_b",
            ratio.cast("bigint").alias("pmi_ratio_micro"),
        )
        .orderBy(F.col("pmi_ratio_micro").desc(), "w1", "w2")
        .limit(_PMI_TOPK)
    )


# --------------------------------------------------------------------------
# F4h: bigram-LM log-probability (context-aware perplexity proxy)
# --------------------------------------------------------------------------


@query(
    "q_bigram_logprob",
    oracle="""
    WITH pos AS (
      SELECT doc_id,
             unnest(str_split(text, ' ')) AS w,
             generate_subscripts(str_split(text, ' '), 1) AS i
      FROM documents
    ),
    big AS (
      SELECT a.doc_id, a.w AS w1, b.w AS w2
      FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.i = a.i + 1
    ),
    bc AS (SELECT w1, w2, COUNT(*) AS c_ab FROM big GROUP BY w1, w2),
    lc AS (SELECT w1, SUM(c_ab) AS c_a FROM bc GROUP BY w1),
    v AS (SELECT COUNT(DISTINCT w) AS v FROM pos),
    lp AS (
      SELECT bc.w1, bc.w2,
             CAST(round(ln((bc.c_ab + 1.0) / (lc.c_a + v.v)) * 1000000)
                  AS BIGINT) AS lp
      FROM bc JOIN lc USING (w1) CROSS JOIN v
    )
    SELECT b.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(lp.lp) AS BIGINT) AS logprob_fp,
           CAST(SUM(lp.lp) AS BIGINT) * 1.0 / COUNT(*) / 1000000
             AS avg_logprob
    FROM big b JOIN lp ON lp.w1 = b.w1 AND lp.w2 = b.w2
    GROUP BY b.doc_id
    ORDER BY b.doc_id
    """,
)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-aware perplexity proxy: per-doc mean log P(w2 | w1)
    under the corpus's own add-one-smoothed bigram LM — the next rung
    above `q_unigram_logprob` (a doc of common words in an uncommon
    ORDER scores low here but fine there; that's the word-salad
    signal CCNet-style filters want).

    Shape: doc-tagged bigrams are the same map-only positional zip as
    q_pmi_collocations; the LM (type-level counts + smoothed log
    probs) lives on the vocab²-bounded bigram-type frame and joins
    back to the doc stream via broadcast. Per-token ln is rounded to
    1e-6 and summed as int64 — the exact determinism treatment the
    unigram query documents.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    big = materialize(
        d.select("doc_id", toks.alias("t"))
        .select("doc_id", F.explode(bigram_structs("t")).alias("p"))
        .select("doc_id", "p.w1", "p.w2")
    )
    bc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    lc = bc.groupBy("w1").agg(F.sum("c_ab").alias("c_a"))
    vocab = (
        d.select(F.explode(toks).alias("w")).agg(
            F.countDistinct("w").alias("v")
        )
    )
    lp = (
        bc.join(lc, "w1")
        .crossJoin(broadcast_narrow(vocab))
        .select(
            "w1",
            "w2",
            F.round(
                F.log(
                    (F.col("c_ab") + F.lit(1.0))
                    / (F.col("c_a") + F.col("v"))
                )
                * 1e6
            )
            .cast("bigint")
            .alias("lp"),
        )
    )
    return (
        big.join(broadcast_narrow(lp), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lp").alias("logprob_fp"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "logprob_fp",
            (
                F.col("logprob_fp") * F.lit(1.0) / F.col("n_bigrams") / 1e6
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# F4+: pairwise source-divergence matrix (mixture-design tool)
# --------------------------------------------------------------------------


@query(
    "q_source_divergence_matrix",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(str_split(text, ' ')) AS term FROM documents
    ),
    voc AS (SELECT DISTINCT term FROM tok),
    vs AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM voc),
    srcs AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n
      FROM tok GROUP BY source
    ),
    cnt AS (
      SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY source, term
    ),
    grid AS (
      SELECT s.source, s.n, t.term, COALESCE(c.c, 0) AS c,
             CAST(round(ln((COALESCE(c.c, 0) + 1.0) / (s.n + vs.v))
                        * 1000000) AS BIGINT) AS lp
      FROM srcs s CROSS JOIN voc t CROSS JOIN vs
      LEFT JOIN cnt c ON c.source = s.source AND c.term = t.term
    ),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             a.n AS n_a, b.n AS n_b,
             CAST(SUM((a.c + 1) * (a.lp - b.lp)) AS BIGINT) AS kl_ab_num,
             CAST(SUM((b.c + 1) * (b.lp - a.lp)) AS BIGINT) AS kl_ba_num
      FROM grid a
      JOIN grid b ON b.term = a.term AND a.source < b.source
      GROUP BY a.source, b.source, a.n, b.n
    )
    SELECT p.src_a, p.src_b,
           p.kl_ab_num * 1.0 / (p.n_a + vs.v) / 1000000.0
             + p.kl_ba_num * 1.0 / (p.n_b + vs.v) / 1000000.0 AS j_div
    FROM pairs p CROSS JOIN vs
    ORDER BY src_a, src_b
    """,
)
def q_source_divergence_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise SOURCE-divergence matrix: symmetrized KL
    (J-divergence) between every two sources' add-one-smoothed
    unigram LMs — the mixture-design tool that says which corpus
    components are distributionally interchangeable (low J) and which
    add diversity (high J), before temperature weights are chosen.

    Exactness: KL's p·ln(p/q) terms are kept RATIONAL — the numerator
    Σ(c+1)·(lp_a − lp_b) accumulates in int64 (each ln fixed-pointed
    to 1e-6 separately, the PSI convention) and the two denominators
    (N+V) divide once at the end — two IEEE divisions per pair, no
    order-dependent float sums.

    Plan: one exploded-token pass → per-(source,term) counts; the
    smoothed grid densifies sources × vocab (|S|·|V| rows — the
    explicit cost of add-one smoothing); the pair join keys on term
    so divergence accumulation shuffles |S|²-bounded per term. At
    100 TB |V| caps via a frequency floor and |S| is the handful of
    mixture components — the matrix is |S|² rows."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(tokens("text")).alias("term"))
    tok = materialize(tok)
    voc = tok.select("term").distinct()
    vs = voc.agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    srcs = tok.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    cnt = tok.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    lp = F.round(
        F.log(
            (F.col("c") + F.lit(1.0)) / (F.col("n") + F.col("v")).cast("double")
        )
        * 1e6
    ).cast("bigint")
    grid = (
        srcs.crossJoin(broadcast_narrow(voc))
        .crossJoin(broadcast_narrow(vs))
        .join(cnt, ["source", "term"], "left")
        .withColumn("c", F.coalesce("c", F.lit(0)))
        .select("source", "n", "term", "c", lp.alias("lp"))
    )
    grid = materialize(grid)
    a = grid.select(
        F.col("source").alias("src_a"),
        F.col("n").alias("n_a"),
        "term",
        F.col("c").alias("c_a"),
        F.col("lp").alias("lp_a"),
    )
    b = grid.select(
        F.col("source").alias("src_b"),
        F.col("n").alias("n_b"),
        F.col("term").alias("term_b"),
        F.col("c").alias("c_b"),
        F.col("lp").alias("lp_b"),
    )
    pairs = (
        a.join(
            b,
            (F.col("term") == F.col("term_b"))
            & (F.col("src_a") < F.col("src_b")),
        )
        .groupBy("src_a", "src_b", "n_a", "n_b")
        .agg(
            F.sum((F.col("c_a") + 1) * (F.col("lp_a") - F.col("lp_b")))
            .cast("bigint")
            .alias("kl_ab_num"),
            F.sum((F.col("c_b") + 1) * (F.col("lp_b") - F.col("lp_a")))
            .cast("bigint")
            .alias("kl_ba_num"),
        )
    )
    j_div = (
        F.col("kl_ab_num") * F.lit(1.0) / (F.col("n_a") + F.col("v")) / 1e6
        + F.col("kl_ba_num") * F.lit(1.0) / (F.col("n_b") + F.col("v")) / 1e6
    )
    return (
        pairs.crossJoin(broadcast_narrow(vs))
        .select("src_a", "src_b", j_div.alias("j_div"))
        .orderBy("src_a", "src_b")
    )


# --------------------------------------------------------------------------
# F4: Zipf slope — corpus-statistics power-law fit per language
# --------------------------------------------------------------------------

_ZIPF_R = 64  # head ranks entering the log-log fit


@query(
    "q_token_zipf_slope",
    oracle=f"""
    WITH tf AS (
      SELECT lang, t.tok, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM documents, unnest(str_split(text, ' ')) AS t(tok)
      GROUP BY lang, t.tok
    ),
    rk AS (
      SELECT lang, cnt,
             row_number() OVER (
               PARTITION BY lang ORDER BY cnt DESC, tok
             ) AS rank
      FROM tf
    ),
    xy AS (
      SELECT lang,
             CAST(round(ln(rank) * 1000000) AS BIGINT) AS x,
             CAST(round(ln(cnt) * 1000000) AS BIGINT) AS y
      FROM rk WHERE rank <= {_ZIPF_R}
    ),
    s AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM xy GROUP BY lang
    )
    SELECT lang, n AS n_ranks,
           CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
           CAST(n * sxx - sx * sx AS BIGINT) AS slope_den
    FROM s
    WHERE n >= 2 AND n * sxx - sx * sx > 0
    ORDER BY lang
    """,
)
def q_token_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per language: the OLS slope of ln(frequency) on
    ln(rank) over the top-{R} vocabulary ranks — natural text sits
    near −1, and a corpus whose slope drifts (template spam flattens
    it, boilerplate floods steepen the head) fails the distributional
    sanity check that per-document quality scores can't see.

    Exactness: x/y are ln·1e6 fixed-point (the PSI/DSIR convention —
    rounding absorbs cross-libm ulps), and the slope is reported as
    the int64 RATIONAL (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²), the
    q_user_value_trend pattern: no division, no truncating-div sign
    hazard for the (always-negative) slope.

    Scale shape: term frequency is the TF-IDF aggregate (term-keyed,
    skew-free, partial map-side); ranking runs per-lang over the
    vocabulary-sized frequency table (post-agg window), and only
    {R} rows per language reach the 5-sufficient-statistics fold.
    The corpus is touched once."""
    tf = (
        load_table(spark, sf_dir, "documents")
        .select("lang", F.explode(tokens("text")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    rk = tf.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("lang").orderBy(
                F.col("cnt").desc(), F.col("tok")
            )
        ),
    ).where(F.col("rank") <= _ZIPF_R)
    xy = rk.select(
        "lang",
        F.round(F.log("rank") * 1_000_000).cast("bigint").alias("x"),
        F.round(F.log("cnt") * 1_000_000).cast("bigint").alias("y"),
    )
    s = xy.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        s.where((F.col("n") >= 2) & (den > 0))
        .select(
            "lang",
            F.col("n").alias("n_ranks"),
            num.cast("bigint").alias("slope_num"),
            den.cast("bigint").alias("slope_den"),
        )
        .orderBy("lang")
    )
