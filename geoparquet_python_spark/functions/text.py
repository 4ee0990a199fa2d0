"""Text-processing primitives for the LLM-pipeline operators
(SURVEY.md §2.F): tokenization, shingling, content hashing — all
built-in JVM expressions (split/transform/md5/conv), no Python UDFs.

Hash convention: `md5_long(s)` = first 15 hex chars of md5(s) parsed
as int64 (60 bits). Chosen over xxhash64 because the DuckDB oracle can
compute the identical value (`('0x' || substr(md5(s),1,15))::BIGINT`),
making MinHash/SimHash pipelines oracle-checkable end to end.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


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
    """Distinct k-word shingles via zip-with-shifted-self (no explode,
    no shuffle: the shingle set is built inside one projection).

    Round 8 rewrite: the original transform-with-index form read
    ``toks[i + j]`` inside the lambda — per-element array INDEXING in
    an interpreted HOF, the expression-layout trap the repo's memory
    notes flag as ~10x (each element_at re-walks the array). Zipping
    the array with its own shifted slices touches every element once
    per shift instead: measured 4.9 s -> 0.8 s at sf0.1 for the
    corpus shingle build every dedup/contamination pipeline pays.
    Output is the identical shingle set (same first-occurrence order
    from array_distinct); the guard keeps slice lengths >= 0 so docs
    shorter than k tokens yield an empty array like the old CASE
    filter did.
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
