"""Sequence packing for training-data preparation: assign documents to
fixed-capacity token bins (context windows), deterministically.

Packing is inherently sequential (each placement depends on the running
fill), so the scalable form shards the corpus first — a deterministic
md5 bucket of doc_id, the same content-addressed trick as
operators/sampling.py — and packs WITHIN each shard in doc_id order via
``applyInPandas``. Shards are independent, so parallelism = shard
count: at 100 TB you raise the shard count until each group fits an
Arrow batch comfortably (the per-group loop is O(group size) in plain
Python over one int column — microseconds per thousand docs — the cost
is the shuffle that forms the groups, one partitioner pass).

Next-fit (not first-fit-decreasing) is the policy: it preserves doc
order within a shard — which training pipelines want for curriculum /
source locality — and is the only greedy policy a recursive-SQL oracle
can mirror row-for-row without re-sorting.

No reference equivalent (SURVEY.md §0) — BASELINE.json north-star scope.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geoparquet_python_spark.functions.text import quality_score, tokens
from geoparquet_python_spark.io import load_table, parquet_row_count
# Shard-domain sizing (shard_count/_SQL_N_SHARDS and their constants)
# lives beside the hash helpers in sampling.py — one home for "how the
# corpus is deterministically sharded", shared by packing, batching
# and the global-index operator without an import cycle.
from geoparquet_python_spark.operators.sampling import (
    _DOCS_PER_SHARD,
    _MIN_SHARDS,
    _SQL_N_SHARDS,
    hash_bucket_wide,
    shard_count,
    sql_hash_bucket_wide,
)
from geoparquet_python_spark.registry import query

_CAPACITY = 512  # tokens per packed context window

_PACK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("shard", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("bin", T.LongType()),
        T.StructField("bin_fill_after", T.LongType()),
    ]
)


def _nextfit_bins(n_tokens) -> tuple[list[int], list[int]]:
    """The next-fit recurrence over an ordered token-count sequence:
    keep filling the open bin while the doc fits, else open a new one
    (an oversized doc gets a bin to itself, overflowing it — same rule
    the oracle applies). Returns (bin index, fill-after) per doc."""
    bins: list[int] = []
    fills: list[int] = []
    bin_i, fill, first = 0, 0, True
    for n in n_tokens:
        n = int(n)
        if first:
            bin_i, fill, first = 0, n, False
        elif fill + n <= _CAPACITY:
            fill += n
        else:
            bin_i, fill = bin_i + 1, n
        bins.append(bin_i)
        fills.append(fill)
    return bins, fills


def _pack_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Pandas form of the per-shard packer — kept for the unit /
    hypothesis tests, which pin the recurrence through the SAME
    _nextfit_bins the production Arrow form uses."""
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    bins, fills = _nextfit_bins(pdf["n_tokens"])
    pdf["bin"] = pd.Series(bins, dtype="int64")
    pdf["bin_fill_after"] = pd.Series(fills, dtype="int64")
    return pdf[["doc_id", "shard", "n_tokens", "bin", "bin_fill_after"]]


def _pack_group_arrow(tbl):
    """Per-shard next-fit over one Arrow batch (applyInArrow — no
    pandas block-manager round-trip: these groups are ~64 rows each,
    so per-group framework overhead, not the O(n) loop, is the cost;
    measured the pandas form at ~2x this one's wall at sf0.1)."""
    import numpy as np
    import pyarrow as pa

    doc_id = tbl.column("doc_id").to_numpy(zero_copy_only=False)
    order = np.argsort(doc_id, kind="stable")
    doc_id = doc_id[order]
    shard = tbl.column("shard").to_numpy(zero_copy_only=False)[order]
    n_tokens = tbl.column("n_tokens").to_numpy(zero_copy_only=False)[order]
    bins, fills = _nextfit_bins(n_tokens)
    return pa.table(
        {
            "doc_id": pa.array(doc_id, pa.int64()),
            "shard": pa.array(shard, pa.int64()),
            "n_tokens": pa.array(n_tokens, pa.int64()),
            "bin": pa.array(bins, pa.int64()),
            "bin_fill_after": pa.array(fills, pa.int64()),
        }
    )


@query(
    "q_token_pack_nextfit",
    oracle=f"""
    WITH RECURSIVE d0 AS (
      SELECT doc_id,
             CAST({sql_hash_bucket_wide("doc_id", _SQL_N_SHARDS)} AS BIGINT) AS shard,
             len(str_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    d AS (
      SELECT doc_id, shard, n_tokens,
             ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
      FROM d0
    ),
    pack(shard, rn, doc_id, n_tokens, bin, fill) AS (
      SELECT shard, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.shard, d.rn, d.doc_id, d.n_tokens,
             CASE WHEN p.fill + d.n_tokens <= {_CAPACITY}
                  THEN p.bin ELSE p.bin + 1 END,
             CASE WHEN p.fill + d.n_tokens <= {_CAPACITY}
                  THEN p.fill + d.n_tokens ELSE d.n_tokens END
      FROM pack p JOIN d ON d.shard = p.shard AND d.rn = p.rn + 1
    )
    SELECT doc_id, shard, n_tokens, bin, fill AS bin_fill_after
    FROM pack
    ORDER BY doc_id
    """,
)
def q_token_pack_nextfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack every document into 512-token context bins, next-fit in
    doc_id order within size-scaled md5 shards (shard_count(n_docs) —
    parallelism grows with the corpus). Deterministic under retries and
    repartitioning (shard is content-addressed, order is doc_id), so a
    re-run of a failed stage reproduces byte-identical packing — the
    property that makes checkpoint-resume of a tokenization job safe.

    Oracle: recursive CTE replaying the same next-fit recurrence per
    shard (depth = rows in the largest shard; oracle-scale only — the
    Spark side has no such depth limit).
    """
    d = load_table(spark, sf_dir, "documents")
    n_shards = shard_count(parquet_row_count(spark, sf_dir, "documents"))
    base = d.select(
        "doc_id",
        hash_bucket_wide(F.col("doc_id"), n_shards).cast("long").alias("shard"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    packed = base.groupBy("shard").applyInArrow(
        _pack_group_arrow, _PACK_SCHEMA
    )
    return packed.orderBy("doc_id")


_PACK_LANG_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("bin", T.LongType()),
        T.StructField("bin_fill_after", T.LongType()),
    ]
)


def _pack_lang_group(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    bins, fills = _nextfit_bins(pdf["n_tokens"])
    pdf["bin"] = pd.Series(bins, dtype="int64")
    pdf["bin_fill_after"] = pd.Series(fills, dtype="int64")
    return pdf[["doc_id", "lang", "n_tokens", "bin", "bin_fill_after"]]


@query(
    "q_token_pack_by_lang",
    oracle=f"""
    WITH RECURSIVE d AS (
      SELECT doc_id, lang,
             len(str_split(text, ' ')) AS n_tokens,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM documents
    ),
    pack(lang, rn, doc_id, n_tokens, bin, fill) AS (
      SELECT lang, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.lang, d.rn, d.doc_id, d.n_tokens,
             CASE WHEN p.fill + d.n_tokens <= {_CAPACITY}
                  THEN p.bin ELSE p.bin + 1 END,
             CASE WHEN p.fill + d.n_tokens <= {_CAPACITY}
                  THEN p.fill + d.n_tokens ELSE d.n_tokens END
      FROM pack p JOIN d ON d.lang = p.lang AND d.rn = p.rn + 1
    )
    SELECT doc_id, lang, n_tokens, bin, fill AS bin_fill_after
    FROM pack
    ORDER BY doc_id
    """,
)
def q_token_pack_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-local packing: same next-fit policy, sharded by LANGUAGE
    instead of the md5 bucket — every packed context window is
    monolingual (the curriculum/source-locality variant; mixing
    languages mid-window measurably hurts small models). Shard key
    choice is the only difference from q_token_pack_nextfit: the
    packing loop, determinism story, and recursive oracle transfer
    unchanged — at scale a low-cardinality shard key like lang needs a
    secondary split (lang, md5 bucket) to restore parallelism."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    return (
        d.groupBy("lang")
        .applyInPandas(lambda pdf: _pack_lang_group(pdf), _PACK_LANG_SCHEMA)
        .orderBy("doc_id")
    )


_MASK_PCT = 15  # percent of token positions masked (BERT-style MLM)


@query(
    "q_mlm_mask_plan",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id,
             generate_subscripts(str_split(text, ' '), 1) - 1 AS i
      FROM documents
    ),
    marked AS (
      SELECT doc_id, i,
             CASE WHEN (CAST(('0x' || substr(md5(
                    CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)
                  ), 1, 4)) AS INT) % 100) < {_MASK_PCT}
                  THEN 1 ELSE 0 END AS m
      FROM pos
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(m) AS BIGINT) AS n_masked,
           MIN(CASE WHEN m = 1 THEN i END) AS first_masked_pos,
           CAST(SUM(m) AS BIGINT) * 1.0 / COUNT(*) AS masked_frac
    FROM marked
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def q_mlm_mask_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic masking plan for an MLM objective: position i of
    doc d is masked iff md5(d:i) bucket < {_MASK_PCT}% — content-
    addressed like every sampling decision in this engine, so a
    retried partition or a re-run epoch masks the SAME positions
    (rand()-based masking silently changes the training set under
    retries). Reported per doc: mask count, first masked position,
    realized rate.

    Plan: one in-row transform over the token positions (the mask
    decisions never leave the row) + the per-doc rollup; at 100 TB
    this fuses into whatever pass materializes training examples.
    """
    d = load_table(spark, sf_dir, "documents")
    marks = F.expr(
        f"transform(sequence(0, size(split(text, ' ')) - 1), i -> "
        f"CASE WHEN (CAST(conv(substring(md5("
        f"concat(CAST(doc_id AS STRING), ':', CAST(i AS STRING))"
        f"), 1, 4), 16, 10) AS INT) % 100) < {_MASK_PCT} "
        f"THEN 1 ELSE 0 END)"
    )
    base = d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        marks.alias("marks"),
    )
    first_masked = F.expr("array_position(marks, 1) - 1")
    return base.select(
        "doc_id",
        "n_tokens",
        F.aggregate(
            "marks", F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("n_masked"),
        F.when(first_masked >= 0, first_masked).alias("first_masked_pos"),
        (
            F.aggregate("marks", F.lit(0).cast("bigint"), lambda a, x: a + x)
            * F.lit(1.0)
            / F.col("n_tokens")
        ).alias("masked_frac"),
    ).orderBy("doc_id")


# Quality formula (same expression tree as quality.q_quality_quantile_gate)
_SQL_PACK_QUALITY = """
             (least(len(str_split(text, ' ')) / 64.0, 1.0) * 0.4
              + len(list_distinct(str_split(text, ' '))) * 1.0
                / len(str_split(text, ' ')) * 0.4)
             + (len(text) - (len(str_split(text, ' ')) - 1)) * 1.0
               / len(str_split(text, ' ')) / 8.0 * 0.2
"""

_PACK_CURR_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("shard", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("quality", T.DoubleType()),
        T.StructField("bin", T.LongType()),
        T.StructField("bin_fill_after", T.LongType()),
    ]
)


def _pack_curriculum_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Next-fit in DESCENDING quality order (ties by doc_id): the
    curriculum variant — early bins hold the highest-quality docs."""
    pdf = pdf.sort_values(
        ["quality", "doc_id"], ascending=[False, True]
    ).reset_index(drop=True)
    bins, fills = [], []
    bin_i, fill, first = 0, 0, True
    for n in pdf["n_tokens"]:
        n = int(n)
        if first:
            bin_i, fill, first = 0, n, False
        elif fill + n <= _CAPACITY:
            fill += n
        else:
            bin_i, fill = bin_i + 1, n
        bins.append(bin_i)
        fills.append(fill)
    pdf["bin"] = pd.Series(bins, dtype="int64")
    pdf["bin_fill_after"] = pd.Series(fills, dtype="int64")
    return pdf[["doc_id", "shard", "n_tokens", "quality", "bin", "bin_fill_after"]]


@query(
    "q_token_pack_curriculum",
    oracle=f"""
    WITH RECURSIVE d0 AS (
      SELECT doc_id,
             CAST({sql_hash_bucket_wide("doc_id", _SQL_N_SHARDS)} AS BIGINT) AS shard,
             len(str_split(text, ' ')) AS n_tokens,
             {_SQL_PACK_QUALITY} AS quality
      FROM documents
    ),
    d AS (
      SELECT doc_id, shard, n_tokens, quality,
             ROW_NUMBER() OVER (
               PARTITION BY shard ORDER BY quality DESC, doc_id
             ) AS rn
      FROM d0
    ),
    pack(shard, rn, doc_id, n_tokens, quality, bin, fill) AS (
      SELECT shard, rn, doc_id, n_tokens, quality, CAST(0 AS BIGINT), n_tokens
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.shard, d.rn, d.doc_id, d.n_tokens, d.quality,
             CASE WHEN p.fill + d.n_tokens <= {_CAPACITY}
                  THEN p.bin ELSE p.bin + 1 END,
             CASE WHEN p.fill + d.n_tokens <= {_CAPACITY}
                  THEN p.fill + d.n_tokens ELSE d.n_tokens END
      FROM pack p JOIN d ON d.shard = p.shard AND d.rn = p.rn + 1
    )
    SELECT doc_id, shard, n_tokens, quality, bin, fill AS bin_fill_after
    FROM pack
    ORDER BY doc_id
    """,
)
def q_token_pack_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum packing: within each shard, docs pack in DESCENDING
    quality order, so bin index doubles as a curriculum position
    (consume bins in order -> train on the best data first). Same
    next-fit loop and recursive oracle as q_token_pack_nextfit with
    one changed sort key; quality ordering is exact IEEE arithmetic
    (ratios + power-of-two divisions), so the order — and therefore
    every bin assignment — is engine-identical."""
    d = load_table(spark, sf_dir, "documents")
    n_toks = F.size(tokens("text"))
    n_shards = shard_count(parquet_row_count(spark, sf_dir, "documents"))
    base = d.select(
        "doc_id",
        hash_bucket_wide(F.col("doc_id"), n_shards).cast("long").alias("shard"),
        n_toks.cast("long").alias("n_tokens"),
        quality_score("text").alias("quality"),
    )
    return (
        base.groupBy("shard")
        .applyInPandas(lambda pdf: _pack_curriculum_group(pdf), _PACK_CURR_SCHEMA)
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Length-bucketed inference batching: the padded-batch sibling of
# concat-packing. Serving/eval pipelines don't concatenate docs; they
# pad every sequence in a batch to the batch max, so cost = rows x
# max_len. Sorting by length within a shard puts similar lengths
# together, and the greedy assembler closes a batch when either the
# row cap or the padded-token budget would be exceeded.
# --------------------------------------------------------------------------

_BATCH_MAX_ROWS = 8
_BATCH_TOKEN_BUDGET = 1024  # rows x padded_len ceiling per batch

_BATCH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("shard", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("batch", T.LongType()),
        T.StructField("rows_after", T.LongType()),
        T.StructField("padded_after", T.LongType()),
    ]
)


def _batch_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Greedy padded-batch assembly in ASCENDING (n_tokens, doc_id)
    order: each new doc is the running max, so the open batch's padded
    cost is (rows+1) * n. Join while both caps hold; an over-budget
    single doc still gets a batch to itself (same oversize rule as
    next-fit packing)."""
    pdf = pdf.sort_values(["n_tokens", "doc_id"]).reset_index(drop=True)
    batches, rows_after, padded = _greedy_batches(pdf["n_tokens"])
    pdf["batch"] = pd.Series(batches, dtype="int64")
    pdf["rows_after"] = pd.Series(rows_after, dtype="int64")
    pdf["padded_after"] = pd.Series(padded, dtype="int64")
    return pdf[
        ["doc_id", "shard", "n_tokens", "batch", "rows_after", "padded_after"]
    ]


def _greedy_batches(n_tokens) -> tuple[list[int], list[int], list[int]]:
    """The greedy batch recurrence over a length-ordered token-count
    sequence. Returns (batch, rows-after, padded-after) per doc."""
    batches: list[int] = []
    rows_after: list[int] = []
    padded: list[int] = []
    b, r = 0, 0
    first = True
    for n in n_tokens:
        n = int(n)
        fits = (
            r + 1 <= _BATCH_MAX_ROWS
            and (r + 1) * n <= _BATCH_TOKEN_BUDGET
        )
        if first:
            b, r, first = 0, 1, False
        elif fits:
            r += 1
        else:
            b, r = b + 1, 1
        batches.append(b)
        rows_after.append(r)
        padded.append(r * n)
    return batches, rows_after, padded


def _batch_group_arrow(tbl):
    """Arrow form of _batch_group for the production applyInArrow path
    (same rationale as _pack_group_arrow: ~64-row groups, framework
    overhead dominates — numpy sort + the SAME _greedy_batches
    recurrence the unit/hypothesis tests pin, no pandas round-trip)."""
    import numpy as np
    import pyarrow as pa

    doc_id = tbl.column("doc_id").to_numpy(zero_copy_only=False)
    shard = tbl.column("shard").to_numpy(zero_copy_only=False)
    n_tokens = tbl.column("n_tokens").to_numpy(zero_copy_only=False)
    order = np.lexsort((doc_id, n_tokens))  # by (n_tokens, doc_id)
    doc_id, shard, n_tokens = doc_id[order], shard[order], n_tokens[order]
    batches, rows_after, padded = _greedy_batches(n_tokens)
    return pa.table(
        {
            "doc_id": pa.array(doc_id, pa.int64()),
            "shard": pa.array(shard, pa.int64()),
            "n_tokens": pa.array(n_tokens, pa.int64()),
            "batch": pa.array(batches, pa.int64()),
            "rows_after": pa.array(rows_after, pa.int64()),
            "padded_after": pa.array(padded, pa.int64()),
        }
    )


@query(
    "q_length_bucketed_batches",
    oracle=f"""
    WITH RECURSIVE d0 AS (
      SELECT doc_id,
             CAST({sql_hash_bucket_wide("doc_id", _SQL_N_SHARDS)} AS BIGINT) AS shard,
             len(str_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    d AS (
      SELECT doc_id, shard, n_tokens,
             ROW_NUMBER() OVER (
               PARTITION BY shard ORDER BY n_tokens, doc_id
             ) AS rn
      FROM d0
    ),
    bat(shard, rn, doc_id, n_tokens, batch, rows_in) AS (
      SELECT shard, rn, doc_id, n_tokens,
             CAST(0 AS BIGINT), CAST(1 AS BIGINT)
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.shard, d.rn, d.doc_id, d.n_tokens,
             CASE WHEN b.rows_in + 1 <= {_BATCH_MAX_ROWS}
                       AND (b.rows_in + 1) * d.n_tokens
                             <= {_BATCH_TOKEN_BUDGET}
                  THEN b.batch ELSE b.batch + 1 END,
             CASE WHEN b.rows_in + 1 <= {_BATCH_MAX_ROWS}
                       AND (b.rows_in + 1) * d.n_tokens
                             <= {_BATCH_TOKEN_BUDGET}
                  THEN b.rows_in + 1 ELSE CAST(1 AS BIGINT) END
      FROM bat b JOIN d ON d.shard = b.shard AND d.rn = b.rn + 1
    )
    SELECT doc_id, shard, n_tokens, batch,
           rows_in AS rows_after,
           CAST(rows_in * n_tokens AS BIGINT) AS padded_after
    FROM bat
    ORDER BY doc_id
    """,
)
def q_length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inference/eval batching plan: within each size-scaled md5 shard,
    docs sort by (n_tokens, doc_id) and batches close at
    {_BATCH_MAX_ROWS} rows or a {_BATCH_TOKEN_BUDGET} padded-token
    budget — length bucketing, the standard padding-waste reduction
    for padded-batch inference (vs packing, which concatenates).
    Content-addressed shard + total length order makes the whole plan
    retry/partition-invariant, like every placement decision in this
    module.

    Oracle: recursive CTE replaying the same greedy recurrence per
    shard.
    """
    d = load_table(spark, sf_dir, "documents")
    n_shards = shard_count(parquet_row_count(spark, sf_dir, "documents"))
    base = d.select(
        "doc_id",
        hash_bucket_wide(F.col("doc_id"), n_shards).cast("long").alias("shard"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    return (
        base.groupBy("shard")
        .applyInArrow(_batch_group_arrow, _BATCH_SCHEMA)
        .orderBy("doc_id")
    )
