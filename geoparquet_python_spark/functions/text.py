"""Text-processing primitives for the LLM-pipeline operators
(SURVEY.md §2.F): tokenization, shingling, content hashing — all
built-in JVM expressions (split/transform/md5/conv), no Python UDFs.

Hash convention: `md5_long(s)` = first 15 hex chars of md5(s) parsed
as int64 (60 bits). Chosen over xxhash64 because the DuckDB oracle can
compute the identical value (`('0x' || substr(md5(s),1,15))::BIGINT`),
making MinHash/SimHash pipelines oracle-checkable end to end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geoparquet_python_spark.functions.exact import spread


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (documents.text is single-spaced)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def md5_long(col: Column) -> Column:
    """60-bit integer content hash, reproducible in ANSI SQL."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_hi(col: Column) -> Column:
    """The next 60 bits of md5 (hex chars 16-30), as int64: the second
    word of a widened SimHash."""
    return F.conv(F.substring(F.md5(col), 16, 15), 16, 10).cast("long")


SQL_MD5_LONG = "CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def shingles(tokens_col: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles of a token-array column, built in one
    projection (no explode, no shuffle) by zipping the array with its
    own shifted slices, so every element is touched once per shift.
    Order is first occurrence (array_distinct); a doc shorter than k
    tokens yields an empty array (the slice length is clamped at 0).
    Takes a column NAME: the zip references the column k times.
    Documents go through :func:`shingle_sets` / :func:`shingle_rows`.
    """
    name = tokens_col if isinstance(tokens_col, str) else None
    if name is None:
        raise ValueError("pass a column name for shingles()")
    length = f"greatest(size({name}) - {k - 1}, 0)"
    expr = f"slice({name}, 1, {length})"
    for j in range(1, k):
        expr = (
            f"zip_with({expr}, slice({name}, {j + 1}, {length}), "
            "(a, b) -> concat(a, ' ', b))"
        )
    return F.expr(f"array_distinct({expr})")


def shingle_sets(docs: DataFrame, k: int = 3, *keep: str) -> DataFrame:
    """(doc_id, *keep, sh): each document's distinct k-shingle array.

    `docs` is any frame with doc_id, text and the `keep` columns, batch
    or stream. The narrow tokenized projection is spread over the
    session's cores (:func:`spread`) before the shingle build."""
    toks = spread(docs.select("doc_id", *keep, tokens("text").alias("toks")))
    return toks.select("doc_id", *keep, shingles("toks", k).alias("sh"))


def shingle_rows(docs: DataFrame, k: int = 3, *keep: str) -> DataFrame:
    """(doc_id, *keep, s): one row per distinct k-shingle of each
    document of `docs` (as for :func:`shingle_sets`)."""
    return explode_sets(shingle_sets(docs, k, *keep), *keep)


def explode_sets(sets: DataFrame, *keep: str) -> DataFrame:
    """(doc_id, *keep, s): the rows of a :func:`shingle_sets` frame.

    explode_outer plus a null filter, not explode: an inner explode of
    the sh column lets the optimizer infer size(sh) > 0 and push that
    second shingle build below the projection (and below spread()'s
    exchange), so every document would be shingled twice."""
    return sets.select("doc_id", *keep, F.explode_outer("sh").alias("s")).where(
        F.col("s").isNotNull()
    )


def quality_score(text: Column | str) -> Column:
    """Heuristic document quality score: token count / 64 (capped at
    1) and type-token ratio weigh 0.4 each, mean word length / 8 weighs
    0.2. Ratios of ints and power-of-two divisions, so the score is
    IEEE-identical to the oracles', which add the terms in this same
    order (float addition order is part of the value)."""
    t = F.col(text) if isinstance(text, str) else text
    toks = tokens(t)
    n = F.size(toks)
    ttr = F.size(F.array_distinct(toks)) * F.lit(1.0) / n
    mwl = (F.length(t) - (n - 1)) * F.lit(1.0) / n
    return (
        F.least(n / F.lit(64.0), F.lit(1.0)) * 0.4 + ttr * 0.4
    ) + mwl / 8.0 * 0.2


def sql_shingles_cte(k: int = 3, source: str = "documents") -> str:
    """DuckDB mirror: positional self-join shingling (1-based subscripts).

    Yields CTEs `pos` and `sh(doc_id, s)` with distinct k-shingles.
    """
    joins = "\n".join(
        f"  JOIN pos t{j} ON t{j}.doc_id = t0.doc_id AND t{j}.i = t0.i + {j}"
        for j in range(1, k)
    )
    concat = " || ' ' || ".join(f"t{j}.w" for j in range(k))
    return f"""
    pos AS (
      SELECT doc_id,
             unnest(str_split(text, ' ')) AS w,
             generate_subscripts(str_split(text, ' '), 1) AS i
      FROM {source}
    ),
    sh AS (
      SELECT DISTINCT t0.doc_id, {concat} AS s
      FROM pos t0
{joins}
    )"""


def bigram_structs(tokens_col: str) -> "Column":
    """Adjacent-token bigrams as an array of (w1, w2) structs, built
    in-row (transform-with-index, no explode-join). Shared by the PMI
    and bigram-LM operators so "what is a bigram" has one definition.
    """
    t = tokens_col
    return F.expr(
        f"filter(transform({t}, (x, i) -> "
        f"CASE WHEN i < size({t}) - 1 THEN "
        f"struct(x AS w1, {t}[i + 1] AS w2) END), p -> p IS NOT NULL)"
    )
