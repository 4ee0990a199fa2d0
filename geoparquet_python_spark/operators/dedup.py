"""Deduplication operators (SURVEY.md §2.F F1/F2 + BASELINE.json
north-star: exact, n-gram Jaccard, MinHash+LSH, SimHash).

Scale design:
- exact dedup: hash-groupBy — one shuffle on the content hash, perfect
  partitioning, no skew (hashes are uniform).
- shingle-set similarity (exact Jaccard, containment, prefix
  filtering, the MinHash-LSH refine): every query builds one overlap
  frame (doc_a, doc_b, i = |A∩B|, sza, szb) over `text.shingle_sets` and
  reads it through `_jaccard_filter` or `_containment_filter`. The
  frame has two routes: `_shingle_overlaps` counts an inverted-index
  self-join on the shingle (only docs sharing ≥1 shingle meet, never
  the n² cross join), and `_set_overlaps` intersects the full sets of
  candidate id pairs — from prefix filtering (`_rarity_prefix`) or
  from MinHash banding, whose candidates are docs agreeing on a full
  band (b/r tune the recall/candidate-count tradeoff).
- near-dup clusters: one connected-components routine,
  `star_contraction_components`, over the Jaccard pair graph.
- SimHash: one builder, `_simhash_signatures`, makes 60-, 120- and
  240-bit signatures (one doc_id shuffle, then the numpy bit-count
  kernel `_sig_bitcount_kernel`); one pair join,
  `_blocked_hamming_pairs`, finds Hamming near-pairs by a pigeonhole
  chunk equi-join over distinct signatures. `q_simhash_near_pairs`
  keeps an all-pairs join as the small-scale cross-check.

Hash determinism: everything uses md5-derived 60-bit integers
(functions/text.md5_long), reproducible in the DuckDB oracle — so even
the *probabilistic* pipelines are oracle-checked end to end: both
engines agree on exactly which candidate pairs the banding yields.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from geoparquet_python_spark.functions.exact import (
    broadcast_narrow,
    materialize,
    spread,
)
from geoparquet_python_spark.functions.text import (
    SQL_MD5_LONG,
    md5_hi,
    md5_long,
    quality_score,
    shingle_rows,
    shingle_sets,
    sql_shingles_cte,
    tokens,
)
from geoparquet_python_spark.io import load_table
from geoparquet_python_spark.registry import QUERIES, query

# MinHash parameters: 32 hash functions in 16 bands × 2 rows.
# P(candidate | jaccard=j) = 1 - (1 - j²)^16: ≈ 0.78 at j=0.3,
# ≈ 0.999 at j=0.6. Raising r sharpens the threshold (fewer false
# candidates at billion-doc scale); the oracle mirrors b/r exactly, so
# correctness holds for any setting.
_N_HASHES = 32
_BAND_R = 2
_N_BANDS = _N_HASHES // _BAND_R
_JACCARD_T = 0.3


# --------------------------------------------------------------------------
# F1: exact dedup by content hash
# --------------------------------------------------------------------------


@query(
    "q_exact_dedup",
    oracle="""
    SELECT md5(text) AS text_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    ORDER BY keep_doc_id
    """,
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by md5(text), keep the smallest doc_id.

    One shuffle on a uniform 128-bit key — the canonical 100 TB exact
    dedup (no sort, no window; the min-id pick is a plain aggregate).
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("keep_doc_id")
    )


# --------------------------------------------------------------------------
# F2a: exact n-gram Jaccard via inverted-index join
# --------------------------------------------------------------------------


@query(
    "q_ngram_jaccard_pairs",
    oracle=f"""
    WITH {sql_shingles_cte(k=3)},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           i * 1.0 / (sa.sz + sb.sz - i) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE i * 1.0 / (sa.sz + sb.sz - i) >= {_JACCARD_T}
    ORDER BY doc_a, doc_b
    """,
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-duplicate pairs: 3-word-shingle Jaccard ≥ 0.3.

    Inverted-index shape: explode shingles → self-equi-join on the
    shingle → count intersections per pair. Only docs sharing a
    shingle ever meet (at corpus scale add a stop-shingle cutoff on
    pathologically frequent shingles; the skew join is AQE-split).
    Jaccard = i/(|A|+|B|−i): integer counts, exact double division.

    This query's CONTRACT is the exact uncapped pair set (it is the
    semantic spec the capped consumers and the LSH recall audits are
    measured against), so it alone opts out of the default
    _STOP_SHINGLE_DF candidate cap.
    """
    return _exact_jaccard_pairs(spark, sf_dir, stop_shingle_df=None)


_CONTAIN_T_MICRO = 800_000  # containment >= 0.8


@query(
    "q_shingle_containment_pairs",
    oracle=f"""
    WITH {sql_shingles_cte(k=3)},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT i.doc_a, i.doc_b, sa.sz AS sza, sb.sz AS szb,
             (i.i * 1000000) // LEAST(sa.sz, sb.sz) AS c_micro
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
    )
    SELECT CASE WHEN sza <= szb THEN doc_a ELSE doc_b END AS contained_doc,
           CASE WHEN sza <= szb THEN doc_b ELSE doc_a END AS container_doc,
           CAST(c_micro AS BIGINT) AS containment_micro
    FROM scored
    WHERE c_micro >= {_CONTAIN_T_MICRO}
    ORDER BY contained_doc, container_doc
    """,
)
def q_shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-duplication: shingle CONTAINMENT
    C(small→big) = |A∩B| / min(|A|,|B|) ≥ 0.8 — the partial-dup
    detector symmetric Jaccard structurally misses. A short doc
    quoted whole inside a much longer one scores Jaccard
    ≈ |A|/|B| → 0 but containment ≈ 1; dedup pipelines run BOTH
    measures (Broder's resemblance vs containment distinction).

    Reads the same uncapped inverted-index overlap frame as
    q_ngram_jaccard_pairs; only the filter differs: the score divides
    by the SMALLER set (integer DIV on micro-units — exact on both
    engines), and the direction normalizes to (contained=smaller,
    ties→lower doc_id). The sketch screen for containment at 100 TB
    is asymmetric MinHash over the smaller set's signature."""
    return _containment_filter(_shingle_overlaps(spark, sf_dir, stop_shingle_df=None))


# Default stop-shingle document-frequency cap for _exact_jaccard_pairs
# consumers (VERDICT r10 item 3). Measured on the driver corpora: over
# every true Jaccard>=0.3 pair, the MINIMUM df among its shared shingles
# maxes out at 4 / 3 / 10 (sf0.001 / 0.01 / 0.1), and no shingle at any
# scale exceeds df=25 — so 64 filters NOTHING at test scale (bit-identical
# pair sets, oracle stays exact) while bounding the index join's hot
# buckets at O(64^2) pairs per shingle at any corpus size. At 100 TB a
# boilerplate shingle with df=10^6 would otherwise contribute 5*10^11
# candidate pairs through one key.
_STOP_SHINGLE_DF = 64


# Per-(appId, sf_dir, cap) memo of "does any shingle exceed the df
# cap?" — the _capped_bucket_pairs precheck pattern (round 8): one
# linear probe decides fast vs guarded plan, cached because every
# pair consumer in a session re-derives the same corpus-snapshot fact.
_HOT_SHINGLE_CACHE: dict = {}


def _has_hot_shingles(spark: SparkSession, sh, sf_dir: str, cap: int) -> bool:
    key = (spark.sparkContext.applicationId, sf_dir, cap)
    if key not in _HOT_SHINGLE_CACHE:
        _HOT_SHINGLE_CACHE[key] = bool(
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > cap)
            .limit(1)
            .count()
        )
    return _HOT_SHINGLE_CACHE[key]


def _shingle_overlaps(
    spark: SparkSession, sf_dir: str, stop_shingle_df: int | None
) -> DataFrame:
    """Overlap frame (doc_a < doc_b, i = |A∩B|, sza = |A|, szb = |B|)
    for every pair of docs sharing a shingle, by the inverted-index
    route: explode shingles, self-equi-join on the shingle, count the
    join rows per pair. Only docs sharing a shingle ever meet (never
    the n² cross join; the skew join is AQE-split).

    ``stop_shingle_df``: document-frequency cutoff for the index. A
    boilerplate shingle present in d documents contributes O(d²) pairs
    to the index join — the quadratic hot-bucket at corpus scale. With
    a cap, shingles with df > cap are dropped from CANDIDATE GENERATION
    only; ``i`` is then RECONSTRUCTED per pair as i_kept + the shared
    stop-shingle count, so any pair that still shares one sub-cap
    shingle gets its exact, uncapped overlap. Recall loss is confined
    to pairs whose entire overlap is stop shingles — by construction
    not near-duplicates of each other but of the boilerplate. None
    means the exact uncapped pair set.

    FAST PATH: one cached linear probe (per appId x sf_dir x cap —
    the _capped_bucket_pairs precheck contract: the branch choice is
    frozen from the data observed at plan-build time) asks whether ANY
    shingle exceeds the cap. When none does — true at every driver
    scale, where max df is 25 — the capped and uncapped plans are
    PROVABLY identical, so the guarded machinery (df-tagging join,
    checkpoint, stop-set correction) is skipped and the cap costs
    nothing. Real boilerplate flips the same call sites onto the
    guarded plan unchanged.
    """
    sh = shingle_rows(load_table(spark, sf_dir, "documents"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    if stop_shingle_df is not None and not _has_hot_shingles(
        spark, sh, sf_dir, stop_shingle_df
    ):
        stop_shingle_df = None  # proven equivalent — take the lean plan
    index = sh
    if stop_shingle_df is not None:
        # Candidate generation AND the intersection count run over the
        # stop-shingle-free index: the self-join emits at most
        # cap x |occurrences| rows, and each collision costs one
        # aggregate row, never a per-pair array pass. The correction
        # intersects the per-doc STOP-shingle arrays, which are short by
        # construction (a doc's own boilerplate), so per-pair work never
        # scales with document size (a first cut that re-intersected
        # FULL sets measured 28 s at sf0.1 vs 1.7 s uncapped). No
        # broadcast hints: the stop list is corpus-proportional in the
        # worst case, and AQE broadcasts by MEASURED size when it is
        # small.
        dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
        # ONE df-tagging join splits the occurrence stream into the kept
        # index and the (tiny) stop-occurrence stream — an anti- plus
        # semi-join formulation paid a third shuffle of the same stream.
        # materialize is load-bearing: the tagged stream feeds the
        # self-join's two branches AND stop_sets, and the iterative
        # consumers (star contraction, k-core peeling) re-execute the
        # pair frame's lineage per round — without the checkpoint the
        # shingle+df pipeline re-runs each time (measured +1.5-2 s on
        # q_leakage_safe_split / q_corpus_clean_pipeline at sf0.1).
        tagged = materialize(sh.join(dfreq, "s"))
        index = tagged.where(F.col("df") <= stop_shingle_df).select("doc_id", "s")
        stop_sets = (
            tagged.where(F.col("df") > stop_shingle_df)
            .groupBy("doc_id")
            .agg(F.collect_set("s").alias("stop_sh"))
        )
        empty = F.expr("CAST(array() AS ARRAY<STRING>)")
        sizes = sizes.join(stop_sets, "doc_id", "left").select(
            "doc_id", "sz", F.coalesce("stop_sh", empty).alias("stop")
        )
    a, b = index.alias("a"), index.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.withColumnsRenamed({"doc_id": "doc_a", "sz": "sza", "stop": "stop_a"})
    sb = sizes.withColumnsRenamed({"doc_id": "doc_b", "sz": "szb", "stop": "stop_b"})
    ov = inter.join(sa, "doc_a").join(sb, "doc_b")
    if stop_shingle_df is None:
        return ov
    i_exact = F.col("i") + F.size(F.array_intersect("stop_a", "stop_b"))
    return ov.select("doc_a", "doc_b", i_exact.alias("i"), "sza", "szb")


def _set_overlaps(cand: DataFrame, sets: DataFrame) -> DataFrame:
    """Overlap frame (doc_a, doc_b, i, sza, szb) for candidate id pairs,
    the refine route: attach both docs' full shingle sets from
    ``sets`` (doc_id, sh) by doc id and intersect them. The sets stay
    on the left of the first join, so a broadcast-hinted ``cand``
    joins map-side against the corpus."""
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        sa.join(cand, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("i"),
            F.size("sh_a").alias("sza"),
            F.size("sh_b").alias("szb"),
        )
    )


def _jaccard_filter(ov: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard ≥ _JACCARD_T) from an overlap frame:
    J = i/(|A|+|B|−i) on integer counts, one exact double division."""
    jac = F.col("i") * F.lit(1.0) / (F.col("sza") + F.col("szb") - F.col("i"))
    return (
        ov.select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= _JACCARD_T)
        .orderBy("doc_a", "doc_b")
    )


def _containment_filter(ov: DataFrame) -> DataFrame:
    """(contained_doc, container_doc, containment_micro ≥
    _CONTAIN_T_MICRO) from an overlap frame: |A∩B|·10⁶ DIV
    min(|A|, |B|); the smaller doc (ties → doc_a) is the contained
    one."""
    small_first = F.col("sza") <= F.col("szb")
    return (
        ov.withColumn("c_micro", F.expr("i * 1000000 DIV least(sza, szb)"))
        .where(F.col("c_micro") >= _CONTAIN_T_MICRO)
        .select(
            F.when(small_first, F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("contained_doc"),
            F.when(small_first, F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("container_doc"),
            F.col("c_micro").cast("bigint").alias("containment_micro"),
        )
        .orderBy("contained_doc", "container_doc")
    )


def _rarity_prefix(sets: DataFrame, tenths: int) -> DataFrame:
    """(doc_id, s, sz, in_prefix) per shingle occurrence, for prefix
    filtering at threshold t = tenths/10: each doc's shingles ordered
    by global rarity (df asc, shingle asc), and ``in_prefix`` marks
    the first sz − ⌈t·sz⌉ + 1 of them. ⌈t·sz⌉ is the integer
    floor((tenths·sz + 9)/10) — double 0.3·n rounds up spuriously
    (10·0.3 → 3.0000000000000004), which would shorten prefixes and
    silently break the lossless guarantee."""
    sh = sets.select("doc_id", F.explode("sh").alias("s"))
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    wdoc = Window.partitionBy("doc_id")
    ranked = (
        sh.join(dfreq, "s")
        .withColumn("sz", F.count(F.lit(1)).over(wdoc))
        .withColumn("rn", F.row_number().over(wdoc.orderBy(F.col("df"), F.col("s"))))
    )
    plen = F.col("sz") - F.floor((tenths * F.col("sz") + 9) / 10) + 1
    return ranked.select("doc_id", "s", "sz", (F.col("rn") <= plen).alias("in_prefix"))


def _exact_jaccard_pairs(
    spark: SparkSession, sf_dir: str, stop_shingle_df: int | None = _STOP_SHINGLE_DF
) -> DataFrame:
    """(doc_a, doc_b, jaccard) pairs with Jaccard ≥ 0.3 over the
    inverted-index overlap frame; the stop-shingle cap defaults to
    _STOP_SHINGLE_DF (see :func:`_shingle_overlaps`)."""
    return _jaccard_filter(_shingle_overlaps(spark, sf_dir, stop_shingle_df))


# --------------------------------------------------------------------------
# F2b: MinHash + LSH banding (oracle-mirrored banding)
# --------------------------------------------------------------------------


def _sql_minhash() -> str:
    """CTEs: mh(doc_id, j, v), bands(doc_id, band, sig), cand pairs.

    Double hashing (Kirsch–Mitzenmacher): one md5 per shingle yields
    h1 (60 bits) + h2 (56 bits); hash_j = h1 + j*h2 (max < 2^62, no
    int64 overflow at j ≤ 31). 32× fewer md5 evaluations than hashing
    (seed, shingle) pairs — the md5 was the entire signature cost.
    """
    return f"""
    hh AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h1,
             CAST(('0x' || substr(md5(s), 16, 14)) AS BIGINT) AS h2
      FROM sh
    ),
    mh AS (
      SELECT doc_id, j, MIN(h1 + j * h2) AS v
      FROM hh CROSS JOIN range({_N_HASHES}) t(j)
      GROUP BY doc_id, j
    ),
    bands AS (
      SELECT doc_id, j // {_BAND_R} AS band,
             string_agg(CAST(v AS VARCHAR), ',' ORDER BY j) AS sig
      FROM mh GROUP BY doc_id, j // {_BAND_R}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.sig = b.sig
                  AND a.doc_id < b.doc_id
    )"""


@query(
    "q_minhash_lsh_neardup",
    oracle=f"""
    WITH {sql_shingles_cte(k=3)},
    {_sql_minhash()},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS i
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           i * 1.0 / (sa.sz + sb.sz - i) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE i * 1.0 / (sa.sz + sb.sz - i) >= {_JACCARD_T}
    ORDER BY doc_a, doc_b
    """,
)
def q_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection, fully oracle-checked.

    Pipeline: shingle set → 32 minhashes (min over per-seed 60-bit
    hashes, computed with transform/array_min inside one projection —
    no explode for the signature) → 16 two-row bands → band-bucket
    equi-join for candidates → exact Jaccard refine ≥ 0.3.

    The only shuffles: the band-bucket join (on band key — uniform)
    and the refine join. At 100 TB the banding replaces the n² problem
    with |buckets| small joins; a boilerplate mega-bucket is capped via
    ``bucket_cap`` (see :func:`_minhash_lsh_pairs`); the registered
    query runs uncapped to mirror the oracle exactly.
    """
    return _minhash_lsh_pairs(spark, sf_dir, bucket_cap=None)


def _minhash_band_kernel():
    """mapInArrow kernel: 32 double-hashing minhash slots + band-sig
    strings per doc, from the JVM-hashed (doc_id, h1, h2) arrays.

    Replaces (optimization r13, guide §4.2) a single giant interpreted
    projection — 32 array_min(zip_with) higher-order slots feeding an
    array of 16 concat_ws structs + explode; HOFs disqualify the whole
    projection from codegen, and the banding step alone measured
    0.64 s of q_minhash_lsh_neardup's 2.0 s at sf0.1. The kernel
    computes the identical values: slot_j = min over shingles of
    h1 + j·h2 in int64 (same wrap semantics as the JVM long), band sig
    = "slot_{2b},slot_{2b+1}" decimal strings (concat_ws twin), and a
    doc with NO shingles emits sig "" for every band — exactly what
    concat_ws over two null array_mins produced. Output schema and
    values are unchanged, so all consumers (batch LSH, cross-corpus
    index, the STREAMING near-dup gate — mapInArrow is a stateless
    row transform, legal in structured streams) are untouched; pinned
    by tests/test_llm_ops.py::test_minhash_band_kernel_matches_hof_form."""

    def kernel(it):
        import numpy as np
        import pyarrow as pa

        for batch in it:
            if batch.num_rows == 0:
                continue
            doc = batch.column("doc_id").to_numpy(zero_copy_only=False)
            h1c = batch.column("h1")
            h2c = batch.column("h2")
            off = h1c.offsets.to_numpy(zero_copy_only=False)
            # slice the shared values buffer to THIS batch's window
            # (a sliced Arrow array's offsets are absolute into it)
            v1 = (
                h1c.values.to_numpy(zero_copy_only=False)
                .astype(np.int64)[off[0] : off[-1]]
            )
            v2 = (
                h2c.values.to_numpy(zero_copy_only=False)
                .astype(np.int64)[off[0] : off[-1]]
            )
            n = len(doc)
            lens = np.diff(off)
            nonempty = np.flatnonzero(lens > 0)
            sigs = np.empty((n, _N_HASHES), dtype=np.int64)
            if len(nonempty):
                starts = (off[:-1] - off[0])[nonempty]
                with np.errstate(over="ignore"):
                    for j in range(_N_HASHES):
                        arr = v1 + np.int64(j) * v2  # wraps like JVM long
                        sigs[nonempty, j] = np.minimum.reduceat(arr, starts)
            out_doc = np.repeat(doc, _N_BANDS)
            out_band = np.tile(
                np.arange(_N_BANDS, dtype=np.int32), n
            )
            empty = lens == 0
            sig_strs: list[str] = []
            for i in range(n):
                if empty[i]:
                    sig_strs.extend([""] * _N_BANDS)
                else:
                    row = sigs[i]
                    sig_strs.extend(
                        ",".join(
                            str(row[b * _BAND_R + r]) for r in range(_BAND_R)
                        )
                        for b in range(_N_BANDS)
                    )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_doc, type=pa.int64()),
                    pa.array(out_band, type=pa.int32()),
                    pa.array(sig_strs, type=pa.string()),
                ],
                names=["doc_id", "band", "sig"],
            )

    return kernel


def minhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, band, sig) MinHash band table from a (doc_id, sh) frame.

    One md5 per shingle (JVM-native — the hash IS the oracle-shared
    signature contract); the 32 double-hashing slots h1 + j*h2 and the
    16 band-sig strings come from a vectorized Arrow kernel (see
    _minhash_band_kernel for the exactness argument). Stateless
    row transform, so the same function serves batch pipelines AND
    structured streams (streaming/neardup.py screens a document stream
    with it)."""
    hs = F.transform("sh", lambda s: F.md5(s))
    hashed = docs.select("doc_id", "sh", hs.alias("hs"))
    h1 = F.transform("hs", lambda h: F.conv(F.substring(h, 1, 15), 16, 10).cast("long"))
    h2 = F.transform("hs", lambda h: F.conv(F.substring(h, 16, 14), 16, 10).cast("long"))
    hashed = hashed.select("doc_id", h1.alias("h1"), h2.alias("h2"))
    return hashed.mapInArrow(
        _minhash_band_kernel(), "doc_id bigint, band int, sig string"
    )


def _minhash_lsh_pairs(
    spark: SparkSession, sf_dir: str, bucket_cap: int | None = None
) -> DataFrame:
    """MinHash-LSH pair pipeline.

    ``bucket_cap``: drop band buckets holding more than this many docs
    before pair expansion. A bucket of d docs expands to d(d−1)/2
    candidate pairs — one boilerplate bucket of 10⁶ docs is 5·10¹¹
    pairs, the classic LSH blow-up. Near-dup pairs agree on ~many of
    the 16 bands, so dropping one oversized bucket rarely loses a true
    pair (each pair has 15 more chances); recall loss is bounded and
    the capped candidate volume is Σ min(d, cap)² — linear in corpus
    size for fixed cap. Default None = uncapped (oracle semantics).
    """
    # The shingle projection feeds the signature pipeline and both
    # refine sides; recomputing it is cheaper than checkpointing the
    # wide shingle arrays (measured both ways at sf0.1 — the narrow
    # candidate set is what's worth materializing, via broadcast below).
    docs = shingle_sets(load_table(spark, sf_dir, "documents"))
    banded = minhash_bands(docs)
    # Candidates by bucket-grouping, not a self-join: the self-join form
    # evaluates the whole signature lineage once per side; grouping runs
    # it once and expands (a < b) pairs inside each bucket with array
    # ops. Shuffle carries (band, sig) -> tiny id lists. (A boilerplate
    # mega-bucket would expand quadratically — at corpus scale cap
    # bucket size or pre-drop stop-shingles; driver data has no such
    # bucket and the oracle mirrors the uncapped semantics.)
    buckets = (
        banded.groupBy("band", "sig")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    if bucket_cap is not None:
        buckets = buckets.where(F.size("ids") <= bucket_cap)
    cand = (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (a, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), "
                    "b -> struct(a AS doc_a, b AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    # exact-Jaccard refine on the candidate set only. ONLY the bare
    # (doc_a, doc_b) id list is broadcast-hinted (two int64 columns —
    # driver-sized even at corpus scale, and broadcast_narrow enforces
    # that structurally); the shingle-set payloads attach by SHUFFLE
    # joins on doc id. The first join is map-side (broadcast ids vs
    # corpus); the second shuffles only |candidates| enriched rows vs
    # the corpus — and AQE downgrades it to a runtime broadcast when
    # the enriched side is actually small, which is the scale-safe way
    # to get the map-side plan back.
    return _jaccard_filter(_set_overlaps(broadcast_narrow(cand), docs))


# --------------------------------------------------------------------------
# F2c: SimHash signatures + Hamming near-pairs
# --------------------------------------------------------------------------

_SIMHASH_BITS = 60
_HAMMING_T = 12


def _sql_simhash_cte() -> str:
    bit_sums = ",\n             ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(_SIMHASH_BITS)
    )
    bits = " + ".join(
        f"CASE WHEN s{b} > 0 THEN {1 << b}::BIGINT ELSE 0 END"
        for b in range(_SIMHASH_BITS)
    )
    return f"""
    words AS (
      SELECT DISTINCT doc_id, unnest(str_split(text, ' ')) AS w FROM documents
    ),
    hashed AS (
      SELECT doc_id, {SQL_MD5_LONG.format(expr="w")} AS h FROM words
    ),
    bitsums AS (
      SELECT doc_id,
             {bit_sums}
      FROM hashed GROUP BY doc_id
    ),
    sig AS (
      SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM bitsums
    )"""


# A signature is one 60-bit word per output column, each the majority
# vote of one token hash: (column, hash, salt appended to the token
# before hashing). The 120- and 240-bit words sit next to their queries.
_SIMHASH_WORDS = (("simhash", md5_long, ""),)


def _simhash_signatures(
    spark: SparkSession,
    sf_dir: str,
    words: tuple[tuple[str, Callable[[Column], Column], str], ...],
) -> DataFrame:
    """Unsorted SimHash per document: (doc_id, one bigint per word).

    Bit b of a word is set iff more than half of the doc's distinct
    tokens set bit b of that word's hash, i.e. sign(Σ_tokens ±1); the
    oracles spell the ±1 sum, which gives the same bits. One explode
    hashes every token into narrow (doc_id, hash...) rows, one doc_id
    shuffle groups them, and :func:`_sig_bitcount_kernel` counts and
    packs each doc's bits in numpy. The N-sum SQL aggregate this
    replaces cannot whole-stage-codegen past ~100 fields; the kernel is
    pinned bit-identical to it in tests/test_llm_ops.py."""
    d = load_table(spark, sf_dir, "documents")
    toks = spread(
        d.select("doc_id", F.array_distinct(tokens("text")).alias("ws"))
    ).select("doc_id", F.explode("ws").alias("w"))
    w = F.col("w")
    cols = tuple(c for c, _, _ in words)
    hashed = toks.select(
        "doc_id",
        *[
            h(F.concat(w, F.lit(salt)) if salt else w).alias(f"{c}_h")
            for c, h, salt in words
        ],
    )
    return hashed.repartition("doc_id").mapInArrow(
        _sig_bitcount_kernel(tuple(f"{c}_h" for c in cols), cols),
        ", ".join(f"{c} bigint" for c in ("doc_id", *cols)),
    )


# Per-task partial-merge threshold for _sig_bitcount_kernel: partial
# (doc, counts) rows are compacted whenever they exceed this many rows,
# bounding task memory at O(#docs) even for degenerate one-word docs.
_SIG_PARTIAL_CAP = 1_500_000


def _sig_bitcount_kernel(hash_cols: tuple[str, ...], out_cols: tuple[str, ...]):
    """mapInArrow kernel factory behind :func:`_simhash_signatures`:
    per task, reduce each Arrow batch to per-doc bit-position counts,
    then merge the doc-sized partials and emit each doc's packed 60-bit
    words with the exact integer majority rule (bit b set iff
    2·count_b > n_words). The caller repartitions by doc_id, so every
    doc's rows land wholly in one task and the packing here is final,
    not partial.

    Per-batch reduction is argsort + np.add.reduceat over the bit
    matrix; the matrix itself comes from np.unpackbits on the raw
    int64 bytes (little-endian: byte-order asserted at import of the
    task, shift/mask fallback otherwise). Two's-complement bytes give
    the identical bits 0..59 that (h >> b) & 1 read. Partials are
    merged whenever they exceed _SIG_PARTIAL_CAP rows so task memory
    stays O(#docs) even for degenerate one-word docs."""

    def kernel(it):
        import sys

        import numpy as np
        import pyarrow as pa

        little = sys.byteorder == "little"
        shifts = np.arange(60, dtype=np.int64)
        cap = _SIG_PARTIAL_CAP
        pids: list = []
        pnw: list = []
        pcnt: list = []
        rows = 0

        def merged():
            ids = np.concatenate(pids)
            nw = np.concatenate(pnw).astype(np.int64)
            cnt = np.concatenate(pcnt)
            order = np.argsort(ids, kind="stable")
            ids, nw, cnt = ids[order], nw[order], cnt[order]
            starts = np.flatnonzero(np.r_[True, ids[1:] != ids[:-1]])
            return (
                ids[starts],
                np.add.reduceat(nw, starts),
                np.add.reduceat(cnt, starts, axis=0),
            )

        for batch in it:
            if batch.num_rows == 0:
                # An empty Arrow batch (possible under future MapInBatch
                # versions) would otherwise crash below: np.r_[True, ...]
                # on empty ds yields a spurious start index 0 and
                # ds[starts] raises IndexError.
                continue
            doc = batch.column("doc_id").to_numpy(zero_copy_only=False)
            order = np.argsort(doc, kind="stable")
            ds = doc[order]
            cols = []
            for c in hash_cols:
                h = (
                    batch.column(c)
                    .to_numpy(zero_copy_only=False)
                    .astype(np.int64)[order]
                )
                if little:
                    bits = np.unpackbits(
                        h.view(np.uint8).reshape(-1, 8),
                        axis=1,
                        bitorder="little",
                    )[:, :60]
                else:  # pragma: no cover - big-endian fallback
                    bits = ((h[:, None] >> shifts) & 1).astype(np.uint8)
                cols.append(bits)
            # int16 partial counts are safe while one batch holds
            # < 32k rows (Arrow default 10k); guard larger batches
            mat = np.hstack(cols).astype(
                np.int16 if len(ds) < 32_000 else np.int64
            )
            starts = np.flatnonzero(np.r_[True, ds[1:] != ds[:-1]])
            pids.append(ds[starts])
            pnw.append(np.diff(np.r_[starts, len(ds)]))
            # per-batch counts fit int16 only up to 32k rows; Arrow
            # batches are ~10k rows, but cast up before merging anyway
            pcnt.append(np.add.reduceat(mat, starts, axis=0).astype(np.int64))
            rows += len(pids[-1])
            if rows > cap:
                ids, nw, cnt = merged()
                pids, pnw, pcnt = [ids], [nw], [cnt]
                rows = len(ids)
        if not pids:
            return
        ids, nw, cnt = merged()
        out = {"doc_id": ids.astype(np.int64)}
        for k, name in enumerate(out_cols):
            blk = cnt[:, k * 60 : (k + 1) * 60]
            out[name] = (
                (((blk * 2) > nw[:, None]).astype(np.int64) << shifts)
            ).sum(axis=1)
        yield pa.RecordBatch.from_pydict(out)

    return kernel


def _blocked_hamming_pairs(
    sig: DataFrame,
    sig_cols: tuple[str, ...],
    chunks: list[tuple[str, int, int]],
    t: int,
) -> DataFrame:
    """Exact-then-near blocked Hamming pair join: every pair of docs
    whose signatures (the words in `sig_cols`) differ in at most `t`
    bits, as unordered (doc_a < doc_b, hamming) rows.

    (1) collapse identical signatures to min(doc_id) representatives;
    (2) pigeonhole chunk equi-join over DISTINCT signatures with a
    codegen Hamming gate; (3) expand back to doc pairs (cross-cluster
    pairs inherit the rep-pair Hamming; intra-cluster pairs are
    Hamming 0 by definition).

    `chunks` is a list of (signature column, bit offset, width). With
    len(chunks) > t, t flipped bits cannot touch every chunk, so each
    qualifying pair agrees exactly on at least one chunk: recall is
    exact and the brute-force oracles certify the output. Candidates
    number ~Σ n²/2^w over the chunks, so chunk width sets the cost.

    The collapse is what keeps duplicate-dense corpora (the normal
    dedup input) cheap: at sf0.1, 5000 docs carry only 3930 distinct
    120-bit signatures, and a per-doc chunk join paid O(c²) join rows
    per identical-signature cluster (23.7 M candidates, more than the
    12.5 M brute-force pairs)."""
    wsig = Window.partitionBy(*sig_cols)
    members = materialize(
        sig.withColumn("rep_id", F.min("doc_id").over(wsig))
    )
    reps = members.where(F.col("doc_id") == F.col("rep_id")).select(
        "rep_id", *sig_cols
    )
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(idx).alias("ci"),
                F.shiftright(F.col(colname), off)
                .bitwiseAND((1 << w) - 1)
                .alias("cv"),
            )
            for idx, (colname, off, w) in enumerate(chunks)
        ]
    )
    chunked = reps.select(
        "rep_id", *sig_cols, F.explode(chunk_structs).alias("c")
    ).select(
        "rep_id",
        *sig_cols,
        F.col("c.ci").alias("ci"),
        F.col("c.cv").alias("cv"),
    )
    a = chunked.alias("a")
    b = chunked.alias("b")
    hamming = None
    for cname in sig_cols:
        term = F.bit_count(
            F.col(f"a.{cname}").bitwiseXOR(F.col(f"b.{cname}"))
        )
        hamming = term if hamming is None else hamming + term
    rep_pairs = (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.rep_id") < F.col("b.rep_id")),
        )
        .select(
            F.col("a.rep_id").alias("rep_a"),
            F.col("b.rep_id").alias("rep_b"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= t)
        # One row per matching chunk survives the Hamming gate; min() is
        # over identical values — the agg collapses multiplicity with
        # map-side combine, over distinct-signature pairs only.
        .groupBy("rep_a", "rep_b")
        .agg(F.min("hamming").alias("hamming"))
    )
    # Expansion. Cross-cluster: each surviving rep pair fans out to its
    # two clusters' members (disjoint clusters => each unordered doc
    # pair appears exactly once; least/greatest restores doc_a < doc_b).
    ma = members.select(
        F.col("rep_id").alias("rep_a"), F.col("doc_id").alias("da")
    )
    mb = members.select(
        F.col("rep_id").alias("rep_b"), F.col("doc_id").alias("db")
    )
    cross = rep_pairs.join(ma, "rep_a").join(mb, "rep_b").select(
        F.least("da", "db").alias("doc_a"),
        F.greatest("da", "db").alias("doc_b"),
        "hamming",
    )
    # Intra-cluster: identical signatures are Hamming-0 near-dups by
    # definition — emit all within-cluster pairs directly.
    intra = ma.join(
        mb,
        (F.col("rep_a") == F.col("rep_b")) & (F.col("da") < F.col("db")),
    ).select(
        F.col("da").alias("doc_a"),
        F.col("db").alias("doc_b"),
        F.lit(0).cast("integer").alias("hamming"),
    )
    return cross.unionByName(intra)


@query(
    "q_simhash_signatures",
    oracle=f"""
    WITH {_sql_simhash_cte()}
    SELECT doc_id, simhash FROM sig ORDER BY doc_id
    """,
)
def q_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered signature query: sorted presentation of the 60-bit
    :func:`_simhash_signatures`."""
    return _simhash_signatures(spark, sf_dir, _SIMHASH_WORDS).orderBy("doc_id")


@query(
    "q_simhash_near_pairs",
    oracle=f"""
    WITH {_sql_simhash_cte()}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_T}
    ORDER BY doc_a, doc_b
    """,
)
def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs: Hamming(sig_a, sig_b) ≤ 12.

    SMALL-N CROSS-CHECK BASELINE ONLY (like ``q_cosine_topk_brute``):
    this form pairs via an all-pairs theta self-join, which Spark plans
    as a BroadcastNestedLoopJoin — O(n²) comparisons, never acceptable
    on a scale path and deliberately excluded from the headline bench
    and from any scale claim. The production form with identical
    output is ``q_simhash_blocked_pairs_loose`` (13-chunk pigeonhole
    equi-join, plan-guarded BNLJ-free in ``tests/test_plans.py``).
    This one exists so the blocked forms can be equivalence-checked
    against ground truth at oracle scale.
    """
    sig = materialize(_simhash_signatures(spark, sf_dir, _SIMHASH_WORDS))
    a = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
    b = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    # No terminal sort: the pair dump is unordered by contract (the
    # oracle compare is order-insensitive) — a global sort over the
    # O(matches) output would be the single largest shuffle at scale.
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= _HAMMING_T)
    )


# --------------------------------------------------------------------------
# F2d: near-dup CLUSTERS — connected components over the pair graph
# (the "keep one doc per duplicate cluster" training-data deliverable)
# --------------------------------------------------------------------------

_SQL_JACCARD_PAIRS = f"""
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE i * 1.0 / (sa.sz + sb.sz - i) >= {_JACCARD_T}
    )"""

# Transitive-closure oracle of the two connected-components query names:
# the cluster representative is the component's min doc_id, computed by
# recursive reachability.
_SQL_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE {sql_shingles_cte(k=3)},
    {_SQL_JACCARD_PAIRS},
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION ALL
      SELECT doc_b AS s, doc_a AS d FROM pairs
    ),
    nodes AS (SELECT DISTINCT s FROM edges),
    reach(s, d) AS (
      SELECT s, s FROM nodes
      UNION
      SELECT r.s, e.d FROM reach r JOIN edges e ON e.s = r.d
    )
    SELECT s AS doc_id, MIN(d) AS cluster_rep FROM reach
    GROUP BY s
    ORDER BY doc_id
    """


def _canon_edges(e: DataFrame) -> DataFrame:
    """Canonical undirected edge set: (lo, hi), self-loops dropped,
    duplicates collapsed. Both star steps emit with columns (a, b)."""
    return (
        e.where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star: every node u links its STRICTLY LARGER neighbors to
    m = min(N(u) ∪ {u}). One groupBy-min plus one join — no neighbor
    lists are ever materialized as arrays."""
    bidir = e.select(F.col("lo").alias("u"), F.col("hi").alias("v")).union(
        e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
    )
    mins = bidir.groupBy("u").agg(F.min("v").alias("mn"))
    return (
        bidir.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(
            F.col("v").alias("a"), F.least("mn", F.col("u")).alias("b")
        )
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star: orient edges larger→smaller; every node u links its
    smaller neighbors (and itself) to m = min of those neighbors."""
    o = e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
    mins = o.groupBy("u").agg(F.min("v").alias("mn"))
    child = o.join(mins, "u").select(
        F.col("v").alias("a"), F.col("mn").alias("b")
    )
    center = mins.select(F.col("u").alias("a"), F.col("mn").alias("b"))
    return child.union(center)


def star_contraction_components(
    edges: DataFrame, max_rounds: int = 50
) -> DataFrame:
    """Connected components by alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): converges in O(log n) rounds REGARDLESS of
    component diameter, so a long near-dup chain costs no more rounds
    than a shallow cluster.

    ``edges``: two integer-ish columns (any names), undirected pairs.
    Returns (node, label) where label = the component's min node id.

    Per round: two groupBy-min + two joins + one distinct (the
    inter-step dedup was removed in r13 — set-identical, see the loop
    comment), all shuffles keyed on node ids — no arrays, no driver
    state, AQE-splittable.
    Convergence = edge-set fixpoint, detected by (count, xor-of-
    xxhash64) snapshot equality: a star forest is stable under both
    steps, and the fixpoint of the alternation IS a star forest rooted
    at component minima (SoCC'14 Thm 1–2). Each round's edge set goes
    through :func:`materialize`, which truncates the O(rounds)-deep
    lineage and lets ``release_dead_checkpoints()`` free the blocks of
    every round whose frame is gone.
    """
    a_name, b_name = edges.columns[0], edges.columns[1]
    e = materialize(
        _canon_edges(edges.select(F.col(a_name).alias("a"), F.col(b_name).alias("b")))
    )
    prev: tuple[int, int] | None = None
    for _ in range(max_rounds):
        # Optimization r13 (guide §2.4): no dedup between the two star
        # steps — one distinct exchange per round removed. Set-identity
        # argument: both steps depend only on neighbor SETS (a
        # groupBy-min is duplicate-insensitive, and the join emits one
        # output per input row, so duplicates only duplicate rows),
        # and the round's final _canon_edges collapses them — e_new is
        # the SAME edge set as with the intermediate canon, so rounds,
        # snapshots and the fixpoint are untouched (pinned by
        # tests/test_llm_ops.py::test_star_contraction_round_set_identity).
        # _large_star emits b < a strictly (b = min(mn, u) ≤ u < v = a),
        # so its output reorients to (lo, hi) with a plain rename.
        ls = _large_star(e).select(
            F.col("b").alias("lo"), F.col("a").alias("hi")
        )
        e_new = materialize(_canon_edges(_small_star(ls)))
        snap = e_new.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(lo, hi))"), F.lit(0)
            ).alias("chk"),
        ).first()
        cur = (snap["n"], snap["chk"])
        e = e_new
        if prev == cur:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"star_contraction_components: no fixpoint in {max_rounds} "
            f"rounds — not expected for any graph (O(log n) bound); "
            f"investigate input degeneracy"
        )
    # Fixpoint is a star forest oriented (root=lo, child=hi): children
    # label to their root, roots label themselves.
    children = e.select(F.col("hi").alias("node"), F.col("lo").alias("label"))
    roots = e.select(F.col("lo").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    # A root never appears as a child at fixpoint, so the union is
    # duplicate-free by construction.
    return children.union(roots)


@query("q_neardup_clusters_bigstar", oracle=_SQL_CLUSTERS_ORACLE)
@query("q_neardup_clusters", oracle=_SQL_CLUSTERS_ORACLE)
def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the Jaccard≥0.3 pair graph: every doc
    involved in near-duplication mapped to its cluster representative
    (the component's min doc_id) — the canonical-doc choice that turns
    pair detection into an actual dedup pass. Computed by
    :func:`star_contraction_components`, whose O(log n) rounds hold on
    a pathological near-dup CHAIN (scraped mirror-of-mirror sites) as
    well as on shallow clusters. Oracle: recursive-CTE transitive
    closure."""
    pairs = _exact_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = star_contraction_components(pairs)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_rep")
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# F2e: SimHash near-pairs via pigeonhole blocking (exact-output scale path)
# --------------------------------------------------------------------------

# Four 15-bit chunks give 32k bucket values per chunk: at Hamming <= 3
# the candidates collapse to near-exact matches.
_HAMMING_T_BLOCKED = 3
_CHUNKS = [("simhash", off, 15) for off in range(0, 60, 15)]


@query(
    "q_simhash_blocked_pairs",
    oracle=f"""
    WITH {_sql_simhash_cte()}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_T_BLOCKED}
    ORDER BY doc_a, doc_b
    """,
)
def q_simhash_blocked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming ≤ 3 pairs WITHOUT the n² self-join: pigeonhole blocking.

    Each 60-bit signature splits into 4 chunks of 15 bits and
    :func:`_blocked_hamming_pairs` joins on them. 3 flipped bits cannot
    touch all 4 chunks, so the output is identical to the all-pairs
    scan and the oracle is the brute-force SQL.
    """
    sig = _simhash_signatures(spark, sf_dir, _SIMHASH_WORDS)
    return _blocked_hamming_pairs(sig, ("simhash",), _CHUNKS, _HAMMING_T_BLOCKED)


# --------------------------------------------------------------------------
# F2f: SimHash near-pairs at the LOOSE threshold (t=12) via 13-chunk
# pigeonhole — exact output, no all-pairs nested loop in the plan
# --------------------------------------------------------------------------

# 60 bits → 13 chunks (8×5-bit + 5×4-bit). ≤12 flipped bits cannot
# touch all 13 chunks, so every qualifying pair agrees exactly on ≥1
# chunk — candidates from 13 equi-joins, recall 1.0 by pigeonhole.
_LOOSE_CHUNKS = [("simhash", off, 5) for off in range(0, 40, 5)] + [
    ("simhash", off, 4) for off in range(40, 60, 4)
]


@query(
    "q_simhash_blocked_pairs_loose",
    oracle=f"""
    WITH {_sql_simhash_cte()}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_T}
    ORDER BY doc_a, doc_b
    """,
)
def q_simhash_blocked_pairs_loose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming ≤ 12 pairs with NO all-pairs join: 13-chunk pigeonhole.

    Identical output to q_simhash_near_pairs (the brute SQL is the
    oracle), but the plan is :func:`_blocked_hamming_pairs`' shuffled
    chunk equi-join instead of the BroadcastNestedLoopJoin the naive
    form needs.

    Honest scale math: at t/bits = 12/60 the chunks are only 4–5 bits
    wide, so random-signature candidate volume is Σ n²/2^w ≈ 0.28 n² —
    the pigeonhole fixes the plan SHAPE (shuffle instead of a driver
    broadcast of the corpus) but not the asymptotics. The loose
    threshold becomes sub-quadratic by WIDENING the signature:
    q_simhash_wide_blocked_pairs and q_simhash_wide240_blocked_pairs
    run the same join over 120 and 240 bits.
    """
    sig = _simhash_signatures(spark, sf_dir, _SIMHASH_WORDS)
    return _blocked_hamming_pairs(sig, ("simhash",), _LOOSE_CHUNKS, _HAMMING_T)


# --------------------------------------------------------------------------
# F2h: cluster canonicalization — keep the BEST copy per near-dup
# cluster, not the first (quality-aware dedup deliverable)
# --------------------------------------------------------------------------

# Same quality formula as quality.q_quality_quantile_gate (and its
# association order — IEEE determinism requires identical expression
# trees on both engines).
_SQL_CANON_QUALITY = """
      SELECT doc_id,
             (least(len(str_split(text, ' ')) / 64.0, 1.0) * 0.4
              + len(list_distinct(str_split(text, ' '))) * 1.0
                / len(str_split(text, ' ')) * 0.4)
             + (len(text) - (len(str_split(text, ' ')) - 1)) * 1.0
               / len(str_split(text, ' ')) / 8.0 * 0.2 AS quality
      FROM documents
"""


@query(
    "q_cluster_canonical",
    oracle=f"""
    WITH RECURSIVE {sql_shingles_cte(k=3)},
    {_SQL_JACCARD_PAIRS},
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION ALL
      SELECT doc_b AS s, doc_a AS d FROM pairs
    ),
    nodes AS (SELECT DISTINCT s FROM edges),
    reach(s, d) AS (
      SELECT s, s FROM nodes
      UNION
      SELECT r.s, e.d FROM reach r JOIN edges e ON e.s = r.d
    ),
    clus AS (
      SELECT s AS doc_id, MIN(d) AS cluster_rep FROM reach GROUP BY s
    ),
    q AS ({_SQL_CANON_QUALITY}),
    ranked AS (
      SELECT c.cluster_rep, c.doc_id, q.quality,
             COUNT(*) OVER (PARTITION BY c.cluster_rep) AS n_members,
             row_number() OVER (PARTITION BY c.cluster_rep
                                ORDER BY q.quality DESC, c.doc_id) AS rn
      FROM clus c JOIN q ON q.doc_id = c.doc_id
    )
    SELECT cluster_rep, doc_id AS canonical_doc, n_members, quality
    FROM ranked WHERE rn = 1
    ORDER BY cluster_rep
    """,
)
def q_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per near-dup cluster: the member with the HIGHEST
    quality score (tie → lowest doc_id) — quality-aware dedup, the
    step most pipelines get wrong by keeping whichever duplicate
    arrived first.

    Reuses the q_neardup_clusters labels and joins the per-doc
    quality projection; the argmax is one aggregate per cluster —
    cluster count is orders smaller than the corpus, keys uniform.
    The canonical-id set is what the actual dedup pass anti-joins
    against.
    """
    clusters = QUERIES["q_neardup_clusters"](spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    q = d.select("doc_id", quality_score("text").alias("quality"))
    joined = clusters.join(q, "doc_id")
    # Optimization r12 (guide §2.3): argmax-per-cluster as ONE max_by
    # aggregate ordered on (quality, -doc_id) — the same total order
    # the two windows spelled (quality DESC, doc_id ASC; doc_id is
    # unique so there are no ties). Replaces a count window + a
    # row_number window (two per-partition sorts of the membership
    # frame) with a single hash aggregate that partial-aggregates
    # map-side, so the cluster_rep exchange carries one partial row
    # per cluster per map task instead of every member twice.
    best = F.max_by(
        F.struct(F.col("doc_id"), F.col("quality")),
        F.struct(F.col("quality"), (-F.col("doc_id")).alias("nd")),
    )
    return (
        joined.groupBy("cluster_rep")
        .agg(F.count(F.lit(1)).alias("n_members"), best.alias("_b"))
        .select(
            "cluster_rep",
            F.col("_b.doc_id").alias("canonical_doc"),
            "n_members",
            F.col("_b.quality").alias("quality"),
        )
        .orderBy("cluster_rep")
    )


# --------------------------------------------------------------------------
# F2i: WIDE SimHash (120-bit) at t=12 — the "widen the signature"
# scale fix q_simhash_blocked_pairs_loose's docstring promises
# --------------------------------------------------------------------------

# 120 bits from one md5: lo = hex chars 1-15 (bits 0-59), hi = chars
# 16-30 (bits 60-119). 13 chunks, none crossing the half boundary:
# lo -> 4x9 + 3x8 bits, hi -> 6x10 bits. With t=12, >=1 chunk is
# untouched (pigeonhole) => exact recall; random-data candidate volume
# sum(n^2/2^w) ~ n^2/39 vs ~0.28 n^2 for the 60-bit loose query —
# the width upgrade is what makes the loose threshold sub-quadratic
# in practice, at the cost of 2x signature build.
_WIDE_WORDS = (("sim_lo", md5_long, ""), ("sim_hi", md5_hi, ""))
_WIDE_CHUNKS = (
    [("sim_lo", off, 9) for off in (0, 9, 18, 27)]
    + [("sim_lo", off, 8) for off in (36, 44, 52)]
    + [("sim_hi", off, 10) for off in (0, 10, 20, 30, 40, 50)]
)
_SQL_HI = "CAST(('0x' || substr(md5({expr}), 16, 15)) AS BIGINT)"


def _sql_simhash_wide_cte() -> str:
    sums = []
    for half, col in (("lo", "hlo"), ("hi", "hhi")):
        sums += [
            f"SUM(CASE WHEN ({col} >> {b}) & 1 = 1 THEN 1 ELSE -1 END)"
            f" AS {half}{b}"
            for b in range(60)
        ]
    packs = {
        half: " + ".join(
            f"CASE WHEN {half}{b} > 0 THEN {1 << b}::BIGINT ELSE 0 END"
            for b in range(60)
        )
        for half in ("lo", "hi")
    }
    return f"""
    words AS (
      SELECT DISTINCT doc_id, unnest(str_split(text, ' ')) AS w FROM documents
    ),
    hashedw AS (
      SELECT doc_id, {SQL_MD5_LONG.format(expr="w")} AS hlo,
             {_SQL_HI.format(expr="w")} AS hhi
      FROM words
    ),
    bitsumsw AS (
      SELECT doc_id, {", ".join(sums)}
      FROM hashedw GROUP BY doc_id
    ),
    sigw AS (
      SELECT doc_id, CAST({packs["lo"]} AS BIGINT) AS sim_lo,
             CAST({packs["hi"]} AS BIGINT) AS sim_hi
      FROM bitsumsw
    )"""








@query(
    "q_simhash_wide_blocked_pairs",
    oracle=f"""
    WITH {_sql_simhash_wide_cte()}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.sim_lo, b.sim_lo))
             + bit_count(xor(a.sim_hi, b.sim_hi)) AS hamming
    FROM sigw a JOIN sigw b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sim_lo, b.sim_lo))
            + bit_count(xor(a.sim_hi, b.sim_hi)) <= {_HAMMING_T}
    ORDER BY doc_a, doc_b
    """,
)
def q_simhash_wide_blocked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SATURATION DEMONSTRATOR — NOT THE PRODUCTION SCALE PATH.
    This query is kept REGISTERED precisely to exhibit the 8-10-bit
    block-saturation ceiling with a measured number attached (23.1 s /
    3.6x at the 8x weak-scaling leg — SCALE.md, COVERAGE.md): once
    distinct signatures >> 2^block_bits, candidates grow ~quadratically
    no matter how correct the pigeonhole is. Ship
    q_simhash_wide240_blocked_pairs (15-20-bit blocks, 1.9x at 8x) for
    real corpora; read this one as the documented failure mode it
    guards against.

    Hamming <= 12 near-pairs on the 120-bit SimHash via 13-chunk
    pigeonhole — the widened-signature fix that makes the loose
    threshold sub-quadratic on random data (candidates ~n^2/39 vs
    ~0.28 n^2 for 60-bit chunks; q_simhash_blocked_pairs_loose
    docstring): 13 shuffled equi-joins, no nested-loop join anywhere.
    The tighter 120-bit Hamming ball also yields a sharper (smaller)
    pair set than the 60-bit queries — it is a different, better
    similarity measure, which the brute-force oracle certifies
    independently.

    Exact-then-near composition via :func:`_blocked_hamming_pairs`:
    identical signatures collapse to one representative before the
    chunk join, so duplicate-dense corpora do not pay O(c²) candidates
    per cluster; tests/test_llm_ops.py asserts blocked == brute at two
    scales.

    Known parameter ceiling (SCALE.md): at t=12 over 120 bits the
    pigeonhole forces 8-10-bit blocks, so random-collision candidates
    grow ~quadratically once distinct signatures >> 2^10 (measured
    3.6x at 8x volume). q_simhash_wide240_blocked_pairs below is the
    scale variant that removes the ceiling."""
    sig = _simhash_signatures(spark, sf_dir, _WIDE_WORDS)
    return _blocked_hamming_pairs(
        sig, ("sim_lo", "sim_hi"), _WIDE_CHUNKS, _HAMMING_T
    )


# --------------------------------------------------------------------------
# F2i+: 240-bit SimHash at t=12 — the block-saturation scale fix
# --------------------------------------------------------------------------

# 240 bits = four 60-bit words from two md5 evaluations per token:
# word1 = md5(w) (lo: hex 1-15, hi: hex 16-30), word2 = md5(w || '~2')
# likewise — both engines compute the identical concat-then-hash, so
# the signature is bit-exact cross-engine like the 60/120-bit forms.
#
# 13 chunks at t=12 keeps the pigeonhole exact-recall theorem, but the
# blocks are now 15-20 bits wide instead of 8-10: random-collision
# candidates drop from sum(n^2/2^w) ~ n^2/39 (120-bit) to ~n^2/7800 —
# the ~200x headroom that removes the 120-bit form's quadratic
# candidate growth once distinct signatures exceed ~2^10 (SCALE.md's
# 3.6x-at-8x ceiling). Build cost is 2x hashing + 240 int sums in the
# one doc_id aggregation — still a single corpus shuffle.
_W240_SALT = "~2"
_W240_COLS = ("s1lo", "s1hi", "s2lo", "s2hi")
_W240_CHUNKS = (
    [("s1lo", off, 20) for off in (0, 20, 40)]
    + [("s1hi", off, 20) for off in (0, 20, 40)]
    + [("s2lo", off, 20) for off in (0, 20, 40)]
    + [("s2hi", off, 15) for off in (0, 15, 30, 45)]
)


def _sql_simhash_w240_cte() -> str:
    salted = f"w || '{_W240_SALT}'"
    hash_exprs = {
        "s1lo": SQL_MD5_LONG.format(expr="w"),
        "s1hi": _SQL_HI.format(expr="w"),
        "s2lo": SQL_MD5_LONG.format(expr=salted),
        "s2hi": _SQL_HI.format(expr=salted),
    }
    sums = [
        f"SUM(({col}_h >> {b}) & 1) AS {col}_{b}"
        for col in _W240_COLS
        for b in range(60)
    ]
    packs = {
        col: " + ".join(
            f"CASE WHEN {col}_{b} * 2 > nw THEN {1 << b}::BIGINT"
            f" ELSE 0 END"
            for b in range(60)
        )
        for col in _W240_COLS
    }
    return f"""
    words AS (
      SELECT DISTINCT doc_id, unnest(str_split(text, ' ')) AS w FROM documents
    ),
    hashedw AS (
      SELECT doc_id,
             {", ".join(f"{e} AS {c}_h" for c, e in hash_exprs.items())}
      FROM words
    ),
    bitsumsw AS (
      SELECT doc_id, COUNT(*) AS nw, {", ".join(sums)}
      FROM hashedw GROUP BY doc_id
    ),
    sigw AS (
      SELECT doc_id,
             {", ".join(f'CAST({packs[c]} AS BIGINT) AS {c}' for c in _W240_COLS)}
      FROM bitsumsw
    )"""


_W240_WORDS = (
    ("s1lo", md5_long, ""),
    ("s1hi", md5_hi, ""),
    ("s2lo", md5_long, _W240_SALT),
    ("s2hi", md5_hi, _W240_SALT),
)





# Each bit_count is cast up front: DuckDB's bit_count returns an
# 8-bit integer and the four-word sum can exceed 127 (overflow error
# observed at sf0.1); the 2-word 120-bit form stays <= 120 by luck.
_W240_HAMMING_SQL = " + ".join(
    f"CAST(bit_count(xor(a.{c}, b.{c})) AS INTEGER)" for c in _W240_COLS
)


@query(
    "q_simhash_wide240_blocked_pairs",
    oracle=f"""
    WITH {_sql_simhash_w240_cte()}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           {_W240_HAMMING_SQL} AS hamming
    FROM sigw a JOIN sigw b ON a.doc_id < b.doc_id
    WHERE {_W240_HAMMING_SQL} <= {_HAMMING_T}
    ORDER BY doc_a, doc_b
    """,
)
def q_simhash_wide240_blocked_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hamming <= 12 near-pairs on the 240-bit SimHash — the scale
    variant of q_simhash_wide_blocked_pairs that removes its one
    remaining quadratic ceiling (SCALE.md: 3.6x candidate growth at 8x
    volume for the 120-bit form).

    Same exact-then-near composition via _blocked_hamming_pairs
    (signature collapse -> 13-chunk pigeonhole equi-join over distinct
    signatures -> codegen Hamming gate -> membership expansion), but
    the chunks are 15-20 bits wide instead of 8-10: random-chance
    chunk collisions fall by ~2^8-2^10 per block, so candidate volume
    stays ~linear in distinct signatures far past the 120-bit form's
    ~2^10 saturation point. Recall 1.0 remains a theorem (t=12 over 13
    chunks leaves >=1 chunk untouched); the brute-force oracle and the
    two-scale set-equality pytest certify the composition unchanged.
    The Hamming<=12 ball over 240 bits is tighter relative to
    signature width than over 120 — a sharper similarity measure,
    certified independently by its own brute-force oracle."""
    sig = _simhash_signatures(spark, sf_dir, _W240_WORDS)
    return _blocked_hamming_pairs(sig, _W240_COLS, _W240_CHUNKS, _HAMMING_T)


# --------------------------------------------------------------------------
# F2j: LSH quality audit — banding recall against the exact pair set
# --------------------------------------------------------------------------


@query(
    "q_lsh_recall_audit",
    oracle=f"""
    WITH {sql_shingles_cte(k=3)},
    {_SQL_JACCARD_PAIRS},
    {_sql_minhash()},
    lshp AS (
      SELECT p.doc_a, p.doc_b FROM pairs p
      JOIN cand c ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b
    )
    SELECT CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_true_pairs,
           CAST((SELECT COUNT(*) FROM lshp) AS BIGINT) AS n_lsh_pairs,
           CAST((SELECT COUNT(*) FROM pairs) AS BIGINT)
             - CAST((SELECT COUNT(*) FROM lshp) AS BIGINT) AS n_missed,
           CASE WHEN (SELECT COUNT(*) FROM pairs) > 0
                THEN CAST((SELECT COUNT(*) FROM lshp) AS BIGINT) * 1.0
                     / (SELECT COUNT(*) FROM pairs)
           END AS recall
    """,
)
def q_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality audit: how many of the EXACT Jaccard >= 0.3
    pairs does the MinHash-LSH banding recover? (The LSH output is a
    subset of the exact set because the refine recomputes exact
    Jaccard on candidates — so precision is 1.0 by construction and
    recall is the entire quality story.) Ship this number with every
    banding-parameter change: recall drops are silent at the output
    level and only this audit sees them.

    Cost shape: both pair sets are 'pair-graph' sized (candidates <<
    corpus^2); the intersection is an equi-join on the pair key. The
    16x2 banding at threshold 0.3 should sit near recall 1.0
    (P[detect] = 1-(1-j^2)^16 = 0.79 at j=0.3 but >0.99 at j=0.5,
    and near-dup corpora concentrate well above the threshold).
    """
    exact = _exact_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    lsh = _minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    found = exact.join(lsh, ["doc_a", "doc_b"], "left_semi")
    nt = exact.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    nl = found.agg(F.count(F.lit(1)).alias("n_lsh_pairs"))
    return nt.crossJoin(nl).select(
        "n_true_pairs",
        "n_lsh_pairs",
        (F.col("n_true_pairs") - F.col("n_lsh_pairs")).alias("n_missed"),
        # NULL when the exact pair set is empty — same zero guard as
        # q_hyperplane_recall_audit (engine-divergent NaN otherwise).
        F.when(
            F.col("n_true_pairs") > 0,
            F.col("n_lsh_pairs") * F.lit(1.0) / F.col("n_true_pairs"),
        ).alias("recall"),
    )


# --------------------------------------------------------------------------
# F2a': exact Jaccard via PREFIX FILTERING (AllPairs/PPJoin family)
# --------------------------------------------------------------------------


@query(
    "q_jaccard_prefix_filter_pairs",
    oracle=f"""
    WITH {sql_shingles_cte(k=3)},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           i * 1.0 / (sa.sz + sb.sz - i) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE i * 1.0 / (sa.sz + sb.sz - i) >= {_JACCARD_T}
    ORDER BY doc_a, doc_b
    """,
)
def q_jaccard_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard ≥ 0.3 pairs via PREFIX FILTERING (the
    AllPairs/PPJoin family, Bayardo et al. WWW'07) — LOSSLESS, so the
    oracle is identical to q_ngram_jaccard_pairs' brute inverted-index
    SQL and tests assert set equality between the two operators.

    Principle: order every doc's shingle set by global rarity
    (df asc, shingle asc); if J(A,B) ≥ t, the first
    |A| − ⌈t·|A|⌉ + 1 elements of A must share a shingle with the
    first |B| − ⌈t·|B|⌉ + 1 of B. So the candidate join runs on each
    doc's RAREST ~70% only: boilerplate stop-shingles (the df² hot
    buckets that blow up the plain inverted index at corpus scale)
    sit in the suffixes and never generate candidates — pruned
    losslessly, where the stop_shingle_df cap trades recall. A length
    filter (t·|A| ≤ |B| ≤ |A|/t, integer arithmetic) prunes
    cross-size pairs before the refine; the exact array_intersect
    refine then scores survivors from FULL sets. Prefix lengths are
    exact integers (:func:`_rarity_prefix`).
    """
    sets = materialize(shingle_sets(load_table(spark, sf_dir, "documents")))
    prefix = _rarity_prefix(sets, 3).where("in_prefix").select("doc_id", "s", "sz")
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: t|A| <= |B| and t|B| <= |A| (else J < t)
            & (10 * F.col("b.sz") >= 3 * F.col("a.sz"))
            & (10 * F.col("a.sz") >= 3 * F.col("b.sz")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    return _jaccard_filter(_set_overlaps(cand, sets))


@query(
    "q_containment_prefix_filter_pairs",
    # Lossless pruning — the oracle is the exact inverted-index
    # containment SQL, verbatim (same output as
    # q_shingle_containment_pairs; set-equality pytest in
    # tests/test_llm_ops.py).
    oracle=f"""
    WITH {sql_shingles_cte(k=3)},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT i.doc_a, i.doc_b, sa.sz AS sza, sb.sz AS szb,
             (i.i * 1000000) // LEAST(sa.sz, sb.sz) AS c_micro
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
    )
    SELECT CASE WHEN sza <= szb THEN doc_a ELSE doc_b END AS contained_doc,
           CASE WHEN sza <= szb THEN doc_b ELSE doc_a END AS container_doc,
           CAST(c_micro AS BIGINT) AS containment_micro
    FROM scored
    WHERE c_micro >= {_CONTAIN_T_MICRO}
    ORDER BY contained_doc, container_doc
    """,
)
def q_containment_prefix_filter_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Containment ≥ 0.8 pairs via ASYMMETRIC prefix filtering — the
    scale lever SCALE.md names for the containment measure, shipped
    as a LOSSLESS plan (oracle identical to the exact inverted-index
    form).

    Asymmetry: C(A→B) = |A∩B|/|A| with A the smaller set, so only
    the PROBE side (every doc in its role as the contained/smaller
    member) needs a prefix — by pigeonhole, C ≥ t forces
    |A∩B| ≥ ⌈t·|A|⌉, so at least one of A's first
    |A| − ⌈t·|A|⌉ + 1 rarest shingles lands in B. The index side
    keeps FULL postings (unlike symmetric PPJoin there is no valid
    index-side prefix without knowing |A|), but candidate volume per
    shingle is prefix_df(s) × full_df(s): a boilerplate shingle has
    huge full_df and ~zero prefix_df (high global df ranks it into
    every suffix), so the df² hot buckets that dominate the exact
    join are pruned without losing a single qualifying pair. At
    t = 0.8 the probe side shrinks to the rarest ~20%+1 of each doc.

    Prefix lengths are exact integers (:func:`_rarity_prefix`); each
    candidate puts the contained doc (smaller, ties → lower doc_id)
    in doc_a, the direction the exact query's filter normalizes to.
    """
    sets = materialize(shingle_sets(load_table(spark, sf_dir, "documents")))
    ranked = _rarity_prefix(sets, 8)
    a, b = ranked.where("in_prefix").alias("a"), ranked.alias("b")
    smaller = (F.col("a.sz") < F.col("b.sz")) | (
        (F.col("a.sz") == F.col("b.sz"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    cand = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & smaller)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    return _containment_filter(_set_overlaps(cand, sets))


# --------------------------------------------------------------------------
# F2f: cross-source similarity via MERGED MinHash sketches
# --------------------------------------------------------------------------


@query(
    "q_source_minhash_similarity",
    oracle=f"""
    WITH {sql_shingles_cte(k=3)},
    src AS (SELECT doc_id, source FROM documents),
    hh AS (
      SELECT sc.source,
             CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h1,
             CAST(('0x' || substr(md5(s), 16, 14)) AS BIGINT) AS h2
      FROM sh JOIN src sc ON sc.doc_id = sh.doc_id
    ),
    mh AS (
      SELECT source, j, MIN(h1 + j * h2) AS v
      FROM hh CROSS JOIN range({_N_HASHES}) t(j)
      GROUP BY source, j
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) FILTER (a.v = b.v) AS BIGINT) AS n_hash_agree,
           CAST(COUNT(*) FILTER (a.v = b.v) * 1000000 // {_N_HASHES}
                AS BIGINT) AS est_jaccard_ppm
    FROM mh a
    JOIN mh b ON b.j = a.j AND a.source < b.source
    GROUP BY a.source, b.source
    ORDER BY source_a, source_b
    """,
)
def q_source_minhash_similarity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus-level similarity matrix from MERGED MinHash sketches:
    each source's 32-slot signature is the slot-wise MIN over every
    shingle in the source, and Ĵ(A, B) = (#slots agreeing)/32 — the
    classic one-hash-class estimator, here DETERMINISTIC (md5-derived
    hashes) so it is oracle-exact, not rows-only.

    The point is MERGEABILITY, the property that makes sketches a
    100 TB primitive: min is associative, so per-partition partial
    signatures combine map-side (partial aggregation) and per-source
    signatures combine into corpus-group signatures WITHOUT touching
    rows again — the same contract that lets a 100 TB corpus keep
    per-shard sketches and answer cross-shard similarity from
    |shards|×32 integers. Plan: one shingle projection (no explode —
    in-row slot mins per doc), one source-keyed aggregate to
    |sources|×32 rows, then a slot-keyed self-join over that tiny
    frame. The heavy corpus never shuffles: only per-doc 32-int
    signatures do."""
    # A doc under 3 tokens has an EMPTY shingle set — no sketch. Drop
    # it here so a source whose every doc is sub-trigram contributes
    # no signature at all (min over the empty set is undefined), the
    # same absence the oracle's shingle CTE produces; keeping such
    # rows would emit NULL-slot signatures and phantom source pairs.
    base = (
        shingle_sets(load_table(spark, sf_dir, "documents"), 3, "source")
        .select("source", "sh")
        .where(F.size("sh") > 0)
    )
    hs = F.transform("sh", lambda s: F.md5(s))
    hashed = base.select("source", hs.alias("hs"))
    h1 = F.transform(
        "hs", lambda h: F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
    )
    h2 = F.transform(
        "hs", lambda h: F.conv(F.substring(h, 16, 14), 16, 10).cast("long")
    )
    hashed = hashed.select("source", h1.alias("h1"), h2.alias("h2"))

    def _slot(j: int):
        return lambda a, b: a + F.lit(j).cast("long") * b

    sig_cols = [
        F.array_min(F.zip_with("h1", "h2", _slot(j))).alias(f"sig_{j}")
        for j in range(_N_HASHES)
    ]
    per_doc = hashed.select("source", *sig_cols)
    per_source = per_doc.groupBy("source").agg(
        *[F.min(f"sig_{j}").alias(f"sig_{j}") for j in range(_N_HASHES)]
    )
    melted = per_source.select(
        "source",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"), F.col(f"sig_{j}").alias("v")
                    )
                    for j in range(_N_HASHES)
                ]
            )
        ).alias("e"),
    ).select("source", F.col("e.j").alias("j"), F.col("e.v").alias("v"))
    a = melted.select(
        F.col("source").alias("source_a"), "j", F.col("v").alias("va")
    )
    b = melted.select(
        F.col("source").alias("source_b"),
        F.col("j").alias("jb"),
        F.col("v").alias("vb"),
    )
    agree = F.sum(
        F.when(F.col("va") == F.col("vb"), 1).otherwise(0)
    ).cast("bigint")
    return (
        a.join(
            b,
            (F.col("j") == F.col("jb"))
            & (F.col("source_a") < F.col("source_b")),
        )
        .groupBy("source_a", "source_b")
        .agg(
            agree.alias("n_hash_agree"),
        )
        .select(
            "source_a",
            "source_b",
            "n_hash_agree",
            F.expr(
                f"CAST(n_hash_agree * 1000000 div {_N_HASHES} AS BIGINT)"
            ).alias("est_jaccard_ppm"),
        )
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------------
# Round-8: normalization-aware exact dedup — trivial-variant collapse
# --------------------------------------------------------------------------


@query(
    "q_normalized_exact_dedup",
    oracle="""
    WITH n AS (
      SELECT doc_id,
             md5(text) AS raw_hash,
             md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_hash
      FROM documents
    ),
    raw_g AS (SELECT raw_hash, COUNT(*) AS c FROM n GROUP BY raw_hash),
    norm_g AS (
      SELECT norm_hash, CAST(COUNT(*) AS BIGINT) AS n_copies,
             CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
             CAST(COUNT(DISTINCT raw_hash) AS BIGINT) AS n_raw_variants
      FROM n GROUP BY norm_hash
    )
    SELECT CAST((SELECT COUNT(*) FROM raw_g) AS BIGINT) AS n_raw_distinct,
           CAST(COUNT(*) AS BIGINT) AS n_norm_distinct,
           CAST((SELECT COUNT(*) FROM raw_g) - COUNT(*) AS BIGINT)
             AS n_collapsed,
           CAST(SUM(CASE WHEN n_raw_variants > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_variant_groups
    FROM norm_g
    """,
)
def q_normalized_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware exact dedup: hash the text AFTER casefold +
    punctuation-strip + whitespace collapse, and count how many
    raw-distinct documents the normalized key merges — the cheap layer
    between byte-exact dedup (misses trivial reformatting) and
    MinHash (overkill for it); production stacks (CCNet/Dolma lineage)
    run exactly this normalize-then-hash pass first. Reported:
    raw-distinct vs normalized-distinct counts, documents collapsed,
    and groups containing >1 raw variant.

    Determinism: lower/regexp_replace/trim/md5 behave identically on
    both engines for this ASCII corpus (the regexes are anchored to
    [a-z0-9 ] classes, no locale dependence). Scale: two hash
    aggregates over one corpus scan — the q_exact_dedup shape with a
    map-side normalization prepended; nothing pairwise."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
                " +",
                " ",
            )
        )
    )
    n = d.select(
        "doc_id", F.md5("text").alias("raw_hash"), norm.alias("norm_hash")
    )
    raw_cnt = n.agg(
        F.countDistinct("raw_hash").cast("bigint").alias("n_raw_distinct")
    )
    norm_g = n.groupBy("norm_hash").agg(
        F.countDistinct("raw_hash").alias("n_raw_variants")
    )
    agg = norm_g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_norm_distinct"),
        F.sum((F.col("n_raw_variants") > 1).cast("int"))
        .cast("bigint")
        .alias("n_variant_groups"),
    )
    return raw_cnt.crossJoin(agg).select(
        "n_raw_distinct",
        "n_norm_distinct",
        (F.col("n_raw_distinct") - F.col("n_norm_distinct"))
        .cast("bigint")
        .alias("n_collapsed"),
        "n_variant_groups",
    )



# --------------------------------------------------------------------------
# Round-8: dedup-layer agreement audit — Jaccard vs SimHash pair sets
# --------------------------------------------------------------------------


@query(
    "q_dedup_layer_agreement",
    oracle=f"""
    WITH {sql_shingles_cte(k=3)},
    {_SQL_JACCARD_PAIRS},
    {_sql_simhash_w240_cte()},
    simp AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sigw a JOIN sigw b ON a.doc_id < b.doc_id
      WHERE {_W240_HAMMING_SQL} <= {_HAMMING_T}
    )
    SELECT CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_jaccard,
           CAST((SELECT COUNT(*) FROM simp) AS BIGINT) AS n_simhash,
           CAST((SELECT COUNT(*) FROM pairs p
                 JOIN simp s ON s.doc_a = p.doc_a AND s.doc_b = p.doc_b)
                AS BIGINT) AS n_both,
           CAST((SELECT COUNT(*) FROM pairs p
                 JOIN simp s ON s.doc_a = p.doc_a AND s.doc_b = p.doc_b)
                * 1000000
                // GREATEST((SELECT COUNT(*) FROM pairs)
                            + (SELECT COUNT(*) FROM simp)
                            - (SELECT COUNT(*) FROM pairs p
                               JOIN simp s ON s.doc_a = p.doc_a
                                          AND s.doc_b = p.doc_b), 1)
                AS BIGINT) AS pair_jaccard_ppm
    """,
)
def q_dedup_layer_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-LAYER agreement audit: how much do the two lexical
    near-dup definitions — shingle-Jaccard >= {_JACCARD_T} and 240-bit
    SimHash Hamming <= {_HAMMING_T} — agree on this corpus? Reported
    as both pair-set sizes, the intersection, and the Jaccard of the
    PAIR SETS themselves. Every multi-layer dedup stack should ship
    this number: if two layers agree near-totally one is redundant
    cost; if they agree near-zero the thresholds define different
    notions of "duplicate" and the stack's recall claims need both.

    Plan shape: both pair sets are the REGISTERED queries' own
    blocked plans (prefix-filtered Jaccard candidates, pigeonhole
    SimHash chunks — nothing all-pairs on the Spark side; the
    oracle's brute forms are the semantic spec); the agreement is one
    equi-join on the (doc_a, doc_b) key over two pair-graph-sized
    frames plus three one-row counts."""
    jac = materialize(
        _exact_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    )
    sim = materialize(
        _blocked_hamming_pairs(
            _simhash_signatures(spark, sf_dir, _W240_WORDS),
            _W240_COLS,
            _W240_CHUNKS,
            _HAMMING_T,
        ).select("doc_a", "doc_b")
    )
    nj = jac.agg(F.count(F.lit(1)).cast("bigint").alias("n_jaccard"))
    ns = sim.agg(F.count(F.lit(1)).cast("bigint").alias("n_simhash"))
    nb = (
        jac.join(sim, ["doc_a", "doc_b"])
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    return (
        nj.crossJoin(ns)
        .crossJoin(nb)
        .select(
            "n_jaccard",
            "n_simhash",
            "n_both",
            F.expr(
                "CAST(n_both * 1000000 DIV "
                "GREATEST(n_jaccard + n_simhash - n_both, 1) AS BIGINT)"
            ).alias("pair_jaccard_ppm"),
        )
    )
