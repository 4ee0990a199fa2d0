"""BPE merge induction as pure dataflow (SURVEY.md §2.F4 [N]-scope):
the iterative core of byte-pair-encoding tokenizer training — count
adjacent symbol pairs, merge the most frequent pair corpus-wide,
repeat — expressed as an unrolled chain of window/aggregate stages
with NO driver-side state and NO UDFs.

Word-level symbols here (documents.text is whitespace-tokenized);
the recurrence is the same one a byte-level trainer runs. Each round:

1. pair counts: one shuffle keyed by (w, next_w) — full map-side
   combine, vocab²-bounded output;
2. winning pair: a 1-ROW frame (count DESC, then lexicographic
   tie-break) broadcast back over the corpus — the BM25-stats
   pattern, no collect();
3. merge application: candidate positions are marked with lead();
   overlapping candidates (possible only when the pair is doubled,
   "a a" inside "a a a") resolve by BPE's left-to-right greedy rule,
   computed declaratively as run-parity — consecutive candidate runs
   keep even offsets only (island id = p − running candidate count,
   a gaps-and-islands key);
4. re-sequencing: drop consumed positions, row_number new positions.

Every stage keys on doc_id or the pair — uniform shuffles, nothing
corpus-quadratic, state bounded by one row per token. A production
trainer amortizes rounds by applying the top-M non-conflicting pairs
per pass (same plan, top-M frame instead of top-1) — thousands of
merges in tens of passes, each a linear corpus scan; this query keeps
M=1 and 3 rounds so the recurrence is oracle-checkable bit-for-bit.

Merged symbols join with a space ("a b"), which cannot collide with
any single token (tokens are space-free by construction), so round
N+1's pair space remains unambiguous.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from geoparquet_python_spark.functions.exact import materialize, spread
from geoparquet_python_spark.functions.text import tokens
from geoparquet_python_spark.io import load_table
from geoparquet_python_spark.registry import query

_ROUNDS = 3


def _token_seq(df: DataFrame, *keep: str) -> DataFrame:
    """seq(doc_id, *keep, p, w): each document's whitespace tokens with
    their 1-based positions, the BPE corpus before any merge. The narrow
    tokenized projection is spread over the cores before the explode."""
    return (
        spread(df.select("doc_id", *keep, tokens("text").alias("toks")))
        .select("doc_id", *keep, F.posexplode("toks").alias("i", "w"))
        .select("doc_id", *keep, (F.col("i") + 1).cast("bigint").alias("p"), "w")
    )


def _pair_frame(seq: DataFrame) -> DataFrame:
    wdoc = Window.partitionBy("doc_id").orderBy("p")
    return seq.withColumn("wn", F.lead("w").over(wdoc))


def _top_pair(seq: DataFrame) -> DataFrame:
    """The round's winning pair as a 1-row frame (m1, m2, n_pair):
    count DESC, then lexicographic tie-break."""
    counts = (
        _pair_frame(seq)
        .where(F.col("wn").isNotNull())
        .groupBy("w", "wn")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    return (
        counts.orderBy(F.desc("n_pair"), "w", "wn")
        .limit(1)
        .select(
            F.col("w").alias("m1"),
            F.col("wn").alias("m2"),
            F.col("n_pair").alias("n_pair"),
        )
    )


def _merge_round(seq: DataFrame, rnd: int) -> tuple[DataFrame, DataFrame]:
    """One BPE TRAINING round over seq(doc_id, p, w): learn the top
    pair from this corpus and apply it. Returns (new_seq, stats);
    stats is one row: (round, merged_l, merged_r, n_pair, n_merged).
    """
    return _apply_pair(seq, _top_pair(seq), rnd)


def _apply_pair(
    seq: DataFrame, top: DataFrame, rnd: int
) -> tuple[DataFrame, DataFrame]:
    """Apply a GIVEN 1-row merge frame to seq — the ENCODE half of
    BPE, shared by training (top learned from the same corpus) and
    held-out encoding (top learned elsewhere; q_bpe_encode_heldout)."""
    wdoc = Window.partitionBy("doc_id").orderBy("p")
    pr = _pair_frame(seq)
    # LEFT join, not crossJoin: if a round finds ZERO adjacent pairs
    # (every doc down to one symbol), `top` is empty and a cross join
    # would empty the whole corpus — silently running later rounds on
    # nothing (round-6 ADVICE). A left join keeps every row with NULL
    # m1/m2 → cand=false everywhere → the round is a no-op that emits
    # an explicit zero-merge stats row, which is BPE's actual semantics
    # for an exhausted corpus. The SQL mirror uses the same LEFT JOIN.
    c = pr.join(F.broadcast(top), F.lit(True), "left").withColumn(
        "cand",
        F.coalesce(
            (F.col("w") == F.col("m1")) & (F.col("wn") == F.col("m2")),
            F.lit(False),
        ),
    )
    run = F.col("p") - F.sum(F.col("cand").cast("int")).over(
        wdoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = c.withColumn("ik", run)
    woff = Window.partitionBy("doc_id", "cand", "ik").orderBy("p")
    e = d.withColumn("off", F.row_number().over(woff) - 1)
    f = e.withColumn(
        "merge_at", F.col("cand") & (F.col("off") % 2 == 0)
    ).withColumn(
        "dropped",
        F.coalesce(F.lag("merge_at").over(wdoc), F.lit(False)),
    )
    stats = (
        f.agg(
            F.sum(F.col("merge_at").cast("bigint")).alias("n_merged"),
            F.min("m1").alias("merged_l"),
            F.min("m2").alias("merged_r"),
            F.min("n_pair").alias("n_pair"),
        )
        .select(
            F.lit(rnd).cast("bigint").alias("round"),
            # Explicit zero-merge row on a no-pair round (NULL-free so
            # the stats schema never degrades): '' / 0 / 0.
            F.coalesce("merged_l", F.lit("")).alias("merged_l"),
            F.coalesce("merged_r", F.lit("")).alias("merged_r"),
            F.coalesce(F.col("n_pair").cast("bigint"), F.lit(0).cast("bigint")).alias(
                "n_pair"
            ),
            F.coalesce("n_merged", F.lit(0).cast("bigint")).alias("n_merged"),
        )
    )
    new_seq = (
        f.where(~F.col("dropped"))
        .select(
            "doc_id",
            F.row_number().over(wdoc).cast("bigint").alias("p"),
            F.when(
                F.col("merge_at"), F.concat_ws(" ", "w", "wn")
            ).otherwise(F.col("w")).alias("w"),
        )
    )
    return new_seq, stats


def _sql_round(t: int) -> str:
    """DuckDB mirror of one round: seq{t} -> stat{t}, seq{t+1}."""
    return f"""pr{t} AS (
      SELECT doc_id, p, w,
             lead(w) OVER (PARTITION BY doc_id ORDER BY p) AS wn
      FROM seq{t}
    ),
    top{t} AS (
      SELECT w AS m1, wn AS m2, COUNT(*) AS n_pair
      FROM pr{t} WHERE wn IS NOT NULL
      GROUP BY w, wn
      ORDER BY n_pair DESC, m1, m2 LIMIT 1
    ),
    c{t} AS (
      SELECT s.doc_id, s.p, s.w, s.wn, t.m1, t.m2, t.n_pair,
             COALESCE(s.w = t.m1 AND s.wn = t.m2, FALSE) AS cand
      FROM pr{t} s LEFT JOIN top{t} t ON TRUE
    ),
    d{t} AS (
      SELECT *,
             p - SUM(CASE WHEN cand THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY p
                         ROWS UNBOUNDED PRECEDING) AS ik
      FROM c{t}
    ),
    e{t} AS (
      SELECT *,
             row_number() OVER (PARTITION BY doc_id, cand, ik
                                ORDER BY p) - 1 AS off
      FROM d{t}
    ),
    f{t} AS (
      SELECT *,
             (cand AND off % 2 = 0) AS merge_at,
             COALESCE(lag(cand AND off % 2 = 0)
                        OVER (PARTITION BY doc_id ORDER BY p),
                      FALSE) AS dropped
      FROM e{t}
    ),
    stat{t} AS (
      SELECT CAST({t} AS BIGINT) AS round,
             COALESCE(MIN(m1), '') AS merged_l,
             COALESCE(MIN(m2), '') AS merged_r,
             CAST(COALESCE(MIN(n_pair), 0) AS BIGINT) AS n_pair,
             CAST(SUM(CASE WHEN merge_at THEN 1 ELSE 0 END) AS BIGINT)
               AS n_merged
      FROM f{t}
    ),
    seq{t + 1} AS (
      SELECT doc_id,
             CAST(row_number() OVER (PARTITION BY doc_id ORDER BY p)
                  AS BIGINT) AS p,
             CASE WHEN merge_at THEN w || ' ' || wn ELSE w END AS w
      FROM f{t} WHERE NOT dropped
    )"""


_SQL_BPE = (
    """
    seq0 AS (
      SELECT doc_id,
             CAST(generate_subscripts(str_split(text, ' '), 1) AS BIGINT)
               AS p,
             unnest(str_split(text, ' ')) AS w
      FROM documents
    ),
    """
    + ",\n    ".join(_sql_round(t) for t in range(_ROUNDS))
)


@query(
    "q_bpe_merge_rounds",
    oracle=f"""
    WITH {_SQL_BPE}
    {" UNION ALL ".join(f"SELECT * FROM stat{t}" for t in range(_ROUNDS))}
    ORDER BY round
    """,
)
def q_bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first {_ROUNDS} BPE merges learned from the corpus: per
    round, the winning pair, its pre-merge adjacency count, and how
    many occurrences actually merged (fewer than the count exactly
    when the pair is doubled and overlaps resolve left-to-right —
    the "a a a" → "(a a) a" rule)."""
    d = load_table(spark, sf_dir, "documents")
    seq = _token_seq(d)
    stats = []
    for t in range(_ROUNDS):
        seq, st = _merge_round(seq, t)
        # Materialize the re-sequenced corpus between rounds: round
        # t+1 reads seq twice (pair counts + merge application), and
        # without a barrier each read re-executes every prior round's
        # window chain — multiplicative in rounds. A production BPE
        # trainer checkpoints the re-paired corpus each pass for the
        # same reason.
        seq = materialize(seq)
        stats.append(st)
    out = stats[0]
    for st in stats[1:]:
        out = out.unionAll(st)
    return out.orderBy("round")


@query(
    "q_bpe_compression_stats",
    oracle=f"""
    WITH {_SQL_BPE},
    before AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n0 FROM seq0 GROUP BY doc_id
    ),
    after AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n{_ROUNDS}
      FROM seq{_ROUNDS} GROUP BY doc_id
    )
    SELECT d.lang,
           CAST(SUM(b.n0) AS BIGINT) AS tokens_before,
           CAST(SUM(a.n{_ROUNDS}) AS BIGINT) AS tokens_after,
           CAST((SUM(b.n0) - SUM(a.n{_ROUNDS})) * 1000000 // SUM(b.n0)
                AS BIGINT) AS saved_micro
    FROM documents d
    JOIN before b ON b.doc_id = d.doc_id
    JOIN after a ON a.doc_id = d.doc_id
    GROUP BY d.lang
    ORDER BY d.lang
    """,
)
def q_bpe_compression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the learned merges BUY: per-language corpus token counts
    before and after applying the {_ROUNDS} merges, with the saving in
    exact micro-units — the sequence-length-reduction metric that
    justifies a tokenizer (shorter sequences = fewer training FLOPs
    at identical content). Reuses the full merge chain; the only
    additions are two doc-keyed counts and a lang rollup."""
    d = load_table(spark, sf_dir, "documents")
    seq = _token_seq(d)
    before = seq.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n0")
    )
    for t in range(_ROUNDS):
        seq, _ = _merge_round(seq, t)
        seq = materialize(seq)
    after = seq.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("nN")
    )
    return (
        d.select("doc_id", "lang")
        .join(before, "doc_id")
        .join(after, "doc_id")
        .groupBy("lang")
        .agg(
            F.sum("n0").cast("bigint").alias("tokens_before"),
            F.sum("nN").cast("bigint").alias("tokens_after"),
        )
        .select(
            "lang",
            "tokens_before",
            "tokens_after",
            F.expr(
                "CAST((tokens_before - tokens_after) * 1000000"
                " DIV tokens_before AS BIGINT)"
            ).alias("saved_micro"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Train/encode split: learn merges on the TRAIN split, apply to HELD-OUT
# ---------------------------------------------------------------------------

_HELD_MOD = 5  # doc_id % _HELD_MOD == 0 -> held-out split


def _sql_pr(pfx: str, t: int) -> str:
    return f"""{pfx}pr{t} AS (
      SELECT doc_id, p, w,
             lead(w) OVER (PARTITION BY doc_id ORDER BY p) AS wn
      FROM {pfx}seq{t}
    )"""


def _sql_apply_from_pr(pfx: str, t: int, top: str) -> str:
    """CTEs {pfx}c{t}…{pfx}seq{t+1}: apply merge frame ``top`` to
    {pfx}pr{t} — the parity-resolved encode chain of _sql_round,
    parametrized so one learned pair can drive several corpora."""
    return f"""{pfx}c{t} AS (
      SELECT s.doc_id, s.p, s.w, s.wn,
             COALESCE(s.w = t.m1 AND s.wn = t.m2, FALSE) AS cand
      FROM {pfx}pr{t} s LEFT JOIN {top} t ON TRUE
    ),
    {pfx}d{t} AS (
      SELECT *,
             p - SUM(CASE WHEN cand THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY p
                         ROWS UNBOUNDED PRECEDING) AS ik
      FROM {pfx}c{t}
    ),
    {pfx}e{t} AS (
      SELECT *,
             row_number() OVER (PARTITION BY doc_id, cand, ik
                                ORDER BY p) - 1 AS off
      FROM {pfx}d{t}
    ),
    {pfx}f{t} AS (
      SELECT *,
             (cand AND off % 2 = 0) AS merge_at,
             COALESCE(lag(cand AND off % 2 = 0)
                        OVER (PARTITION BY doc_id ORDER BY p),
                      FALSE) AS dropped
      FROM {pfx}e{t}
    ),
    {pfx}seq{t + 1} AS (
      SELECT doc_id,
             CAST(row_number() OVER (PARTITION BY doc_id ORDER BY p)
                  AS BIGINT) AS p,
             CASE WHEN merge_at THEN w || ' ' || wn ELSE w END AS w
      FROM {pfx}f{t} WHERE NOT dropped
    )"""


def _sql_heldout_rounds() -> str:
    parts = [
        f"""tseq0 AS (
      SELECT doc_id,
             CAST(generate_subscripts(str_split(text, ' '), 1) AS BIGINT)
               AS p,
             unnest(str_split(text, ' ')) AS w
      FROM documents WHERE doc_id % {_HELD_MOD} <> 0
    )""",
        f"""hseq0 AS (
      SELECT doc_id,
             CAST(generate_subscripts(str_split(text, ' '), 1) AS BIGINT)
               AS p,
             unnest(str_split(text, ' ')) AS w
      FROM documents WHERE doc_id % {_HELD_MOD} = 0
    )""",
    ]
    for t in range(_ROUNDS):
        parts.append(_sql_pr("t", t))
        parts.append(f"""ttop{t} AS (
      SELECT w AS m1, wn AS m2, COUNT(*) AS n_pair
      FROM tpr{t} WHERE wn IS NOT NULL
      GROUP BY w, wn
      ORDER BY n_pair DESC, m1, m2 LIMIT 1
    )""")
        parts.append(_sql_apply_from_pr("t", t, f"ttop{t}"))
        parts.append(_sql_pr("h", t))
        parts.append(_sql_apply_from_pr("h", t, f"ttop{t}"))
    return ",\n    ".join(parts)


@query(
    "q_bpe_encode_heldout",
    oracle=f"""
    WITH {_sql_heldout_rounds()},
    before AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_before
      FROM hseq0 GROUP BY doc_id
    ),
    after AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_after
      FROM hseq{_ROUNDS} GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_before, a.n_after,
           b.n_before - a.n_after AS n_merges_applied
    FROM before b JOIN after a USING (doc_id)
    ORDER BY b.doc_id
    """,
)
def q_bpe_encode_heldout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENCODE side of the tokenizer — the production hot path the
    training queries don't exercise: learn {_ROUNDS} merges on the
    TRAIN split (doc_id % {_HELD_MOD} != 0), then apply those merges
    IN LEARNED ORDER to the held-out split (doc_id % {_HELD_MOD} == 0)
    that contributed nothing to the counts. Per held-out doc: token
    count before/after and merges applied. Generalization shows up as
    n_merges_applied > 0 on text the trainer never saw.

    Plan: the train chain is the q_bpe_merge_rounds recurrence; each
    round's 1-row winning pair is materialized once and BROADCAST into
    two encode passes (train corpus to keep training honest, held-out
    corpus to encode). Encoding at 100 TB is this exact shape — a
    linear scan per (batched) merge round with the merge table riding
    as a broadcast literal; no shuffle ever touches the encoded
    corpus except the per-doc window."""
    d = load_table(spark, sf_dir, "documents")
    train = _token_seq(d.where(F.col("doc_id") % _HELD_MOD != 0))
    held = _token_seq(d.where(F.col("doc_id") % _HELD_MOD == 0))
    before = held.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_before")
    )
    for t in range(_ROUNDS):
        # materialize: the 1-row top frame feeds BOTH encode passes,
        # and each round's corpus feeds the next (same barrier logic
        # as q_bpe_merge_rounds).
        top = materialize(_top_pair(train))
        train, _ = _apply_pair(train, top, t)
        train = materialize(train)
        held, _ = _apply_pair(held, top, t)
        held = materialize(held)
    after = held.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_after")
    )
    return (
        before.join(after, "doc_id")
        .select(
            "doc_id",
            "n_before",
            "n_after",
            (F.col("n_before") - F.col("n_after")).alias("n_merges_applied"),
        )
        .orderBy("doc_id")
    )


def _sql_batch_round() -> str:
    """One BATCHED round: top-2 symbol-disjoint pairs from one count,
    both applied in one pass."""
    return f"""pr0 AS (
      SELECT doc_id, p, w,
             lead(w) OVER (PARTITION BY doc_id ORDER BY p) AS wn
      FROM seq0
    ),
    cnt AS (
      SELECT w AS m1, wn AS m2, COUNT(*) AS n
      FROM pr0 WHERE wn IS NOT NULL GROUP BY w, wn
    ),
    p1 AS (SELECT m1, m2, n FROM cnt ORDER BY n DESC, m1, m2 LIMIT 1),
    p2 AS (
      SELECT c.m1, c.m2, c.n
      FROM cnt c, p1
      WHERE c.m1 <> p1.m1 AND c.m1 <> p1.m2
        AND c.m2 <> p1.m1 AND c.m2 <> p1.m2
      ORDER BY c.n DESC, c.m1, c.m2 LIMIT 1
    ),
    sel AS (
      SELECT 1 AS pick_order, m1, m2, n FROM p1
      UNION ALL
      SELECT 2 AS pick_order, m1, m2, n FROM p2
    ),
    c0 AS (
      SELECT s.doc_id, s.p, s.w, s.wn,
             v.pick_order, v.m1, v.m2, v.n,
             v.m1 IS NOT NULL AS cand
      FROM pr0 s LEFT JOIN sel v ON v.m1 = s.w AND v.m2 = s.wn
    ),
    d0 AS (
      SELECT *,
             p - SUM(CASE WHEN cand THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY p
                         ROWS UNBOUNDED PRECEDING) AS ik
      FROM c0
    ),
    e0 AS (
      SELECT *,
             row_number() OVER (PARTITION BY doc_id, cand, ik
                                ORDER BY p) - 1 AS off
      FROM d0
    ),
    f0 AS (
      SELECT *, (cand AND off % 2 = 0) AS merge_at
      FROM e0
    )"""


@query(
    "q_bpe_batch_merge_round",
    oracle=f"""
    WITH seq0 AS (
      SELECT doc_id,
             CAST(generate_subscripts(str_split(text, ' '), 1) AS BIGINT)
               AS p,
             unnest(str_split(text, ' ')) AS w
      FROM documents
    ),
    {_sql_batch_round()}
    SELECT CAST(pick_order AS BIGINT) AS pick_order,
           m1 AS merged_l, m2 AS merged_r,
           CAST(MIN(n) AS BIGINT) AS n_pair,
           CAST(SUM(CASE WHEN merge_at THEN 1 ELSE 0 END) AS BIGINT)
             AS n_merged
    FROM f0 WHERE pick_order IS NOT NULL
    GROUP BY pick_order, m1, m2
    ORDER BY pick_order
    """,
)
def q_bpe_batch_merge_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BATCHED form of a BPE round — the amortization production
    trainers run (q_bpe_merge_rounds' docstring): ONE pair count, the
    top-2 pairwise SYMBOL-DISJOINT pairs selected greedily, both
    applied in the same corpus pass. Symbol-disjointness is exactly
    the condition that makes batching exact: an occurrence of one
    selected pair can never overlap or be consumed by a merge of the
    other (overlap would force a shared symbol), so batch-applied
    counts and merges equal what sequential application of the same
    picks would produce. At 50k merges this is top-M with M in the
    hundreds — same plan, a deeper selection unroll or a
    conflict-graph greedy pass over the M-row count head."""
    d = load_table(spark, sf_dir, "documents")
    seq = _token_seq(d)
    wdoc = Window.partitionBy("doc_id").orderBy("p")
    pr = seq.withColumn("wn", F.lead("w").over(wdoc))
    cnt = (
        pr.where(F.col("wn").isNotNull())
        .groupBy(F.col("w").alias("m1"), F.col("wn").alias("m2"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    p1 = cnt.orderBy(F.desc("n"), "m1", "m2").limit(1)
    p1r = p1.select(
        F.col("m1").alias("b1"), F.col("m2").alias("b2")
    )
    p2 = (
        cnt.crossJoin(F.broadcast(p1r))
        .where(
            (F.col("m1") != F.col("b1"))
            & (F.col("m1") != F.col("b2"))
            & (F.col("m2") != F.col("b1"))
            & (F.col("m2") != F.col("b2"))
        )
        .orderBy(F.desc("n"), "m1", "m2")
        .limit(1)
        .select("m1", "m2", "n")
    )
    sel = p1.select(F.lit(1).alias("pick_order"), "m1", "m2", "n").unionByName(
        p2.select(F.lit(2).alias("pick_order"), "m1", "m2", "n")
    )
    c = pr.join(
        F.broadcast(sel),
        (F.col("w") == F.col("m1")) & (F.col("wn") == F.col("m2")),
        "left",
    ).withColumn("cand", F.col("m1").isNotNull())
    run = F.col("p") - F.sum(F.col("cand").cast("int")).over(
        wdoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    woff = Window.partitionBy("doc_id", "cand", "ik").orderBy("p")
    f = (
        c.withColumn("ik", run)
        .withColumn("off", F.row_number().over(woff) - 1)
        .withColumn("merge_at", F.col("cand") & (F.col("off") % 2 == 0))
    )
    return (
        f.where(F.col("pick_order").isNotNull())
        .groupBy("pick_order", "m1", "m2")
        .agg(
            F.min("n").cast("bigint").alias("n_pair"),
            F.sum(F.col("merge_at").cast("bigint")).alias("n_merged"),
        )
        .select(
            F.col("pick_order").cast("bigint").alias("pick_order"),
            F.col("m1").alias("merged_l"),
            F.col("m2").alias("merged_r"),
            "n_pair",
            "n_merged",
        )
        .orderBy("pick_order")
    )


# --------------------------------------------------------------------------
# Tokenizer-vocab coverage / OOV rate (the tokenizer-eval metric)
# --------------------------------------------------------------------------

_VOCAB_V = 100  # induced-vocab size (top-V adjacent pairs)


@query(
    "q_vocab_oov_rate",
    oracle=f"""
    WITH seq AS (
      SELECT doc_id, lang,
             CAST(generate_subscripts(str_split(text, ' '), 1) AS BIGINT)
               AS p,
             unnest(str_split(text, ' ')) AS w
      FROM documents
    ),
    bg AS (
      SELECT doc_id, lang, w AS w1,
             lead(w) OVER (PARTITION BY doc_id ORDER BY p) AS w2
      FROM seq
    ),
    bgn AS (SELECT * FROM bg WHERE w2 IS NOT NULL),
    freq AS (
      SELECT w1, w2, COUNT(*) AS c FROM bgn GROUP BY w1, w2
    ),
    voc AS (
      SELECT w1, w2 FROM freq ORDER BY c DESC, w1, w2 LIMIT {_VOCAB_V}
    )
    SELECT b.lang,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN v.w1 IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_covered,
           CAST(SUM(CASE WHEN v.w1 IS NULL THEN 1000000 ELSE 0 END)
                AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS oov_rate_ppm
    FROM bgn b
    LEFT JOIN voc v ON v.w1 = b.w1 AND v.w2 = b.w2
    GROUP BY b.lang
    ORDER BY b.lang
    """,
)
def q_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocab COVERAGE: induce a vocab of the top-{_VOCAB_V}
    adjacent pairs (the symbols BPE's first merges would mint; ties →
    lexicographic) and measure, per language, what fraction of the
    corpus's adjacent pairs it covers — the OOV/fertility gate run
    before committing to a tokenizer. A language whose pair mass falls
    outside the induced vocab fragments into more subwords and pays a
    sequence-length tax (q_bpe_compression_stats measures the same
    budget from the other side).

    Plan: one positional-bigram projection (lead over doc windows),
    one vocab²-bounded pair count, TakeOrderedAndProject for the
    top-V head (never a global sort), the V-row vocab broadcast LEFT
    join back onto the bigram stream, one per-lang conditional
    aggregate. Exact ppm via integer div (== DuckDB //). At 100 TB:
    corpus-sized stages are the bigram count and the coverage scan —
    both single-shuffle with full map-side combine."""
    d = load_table(spark, sf_dir, "documents")
    seq = _token_seq(d, "lang")
    wdoc = Window.partitionBy("doc_id").orderBy("p")
    bgn = (
        seq.select(
            "doc_id",
            "lang",
            F.col("w").alias("w1"),
            F.lead("w").over(wdoc).alias("w2"),
        )
        .where(F.col("w2").isNotNull())
    )
    bgn = materialize(bgn)
    voc = (
        bgn.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "w1", "w2")
        .limit(_VOCAB_V)
        .select(F.col("w1").alias("v1"), F.col("w2").alias("v2"))
    )
    cov = bgn.join(
        F.broadcast(voc),
        (F.col("w1") == F.col("v1")) & (F.col("w2") == F.col("v2")),
        "left",
    )
    in_voc = F.col("v1").isNotNull()
    return (
        cov.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum(F.when(in_voc, 1).otherwise(0))
            .cast("bigint")
            .alias("n_covered"),
            F.expr(
                "CAST(sum(CASE WHEN v1 IS NULL THEN 1000000 ELSE 0 END)"
                " AS BIGINT) div count(*)"
            ).alias("oov_rate_ppm"),
        )
        .orderBy("lang")
    )
