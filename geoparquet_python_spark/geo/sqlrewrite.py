"""Spatial predicate pushdown for SQL-STRING users (SURVEY.md §4.3's
last deferred row, closed at the API layer).

The DataFrame API already rewrites window predicates into sargable
covering-column comparisons (geo.functions.spatial_window_filter). SQL
strings couldn't benefit — a true Catalyst rule would need a JVM
extension — so ``geo_sql`` does the same rewrite on the SQL text
before handing it to ``spark.sql``:

    ST_EnvelopeIntersects(geom, x0, y0, x1, y1)
      ⇢ (bbox.xmin <= x1 AND bbox.xmax >= x0 AND
         bbox.ymin <= y1 AND bbox.ymax >= y0 AND
         ST_EnvelopeIntersects(geom, x0, y0, x1, y1))

Soundness: the rewrite is ATOM-local — it conjoins a predicate that
the atom already implies (the covering box contains the geometry's
envelope, so envelope-intersection implies covering-box overlap), and
``A ⇒ B`` gives ``A ≡ A ∧ B``. An implied-conjunct rewrite of an atom
is an equivalence in ANY boolean context (under AND, OR, NOT alike),
so no placement analysis is needed. The payoff: the injected
comparisons are plain struct-field conjuncts, which Catalyst pushes
into Parquet row-group pruning (PushedFilters) — whole row groups are
skipped before one WKB byte is read, exactly what the JVM Catalyst
rule would achieve. The UDF atom stays behind as the per-row refine
for coarser-than-envelope coverings.

Limits (documented, not hidden): the pattern is matched textually, so
the window bounds must be NUMERIC LITERALS (the Catalyst rule would
also handle foldable expressions), and the frame the query reads must
expose the covering column under ``bbox_col``. Atoms that don't match
are left untouched — the query still runs, just without pruning.

The UDF atom is kept even over a dataset whose ``bbox`` carries the
writer's envelope mark (geo/io.py), where ``spatial_window_filter``
drops its refine: the SQL text does not say which relation the atom's
column comes from, and the atom is FALSE for POINT EMPTY where the
``bbox`` comparisons are NULL, which differ under NOT.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

_NUM = r"[-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?"
_PAT = re.compile(
    r"ST_EnvelopeIntersects\(\s*([A-Za-z_][\w.]*)\s*,\s*"
    rf"({_NUM})\s*,\s*({_NUM})\s*,\s*({_NUM})\s*,\s*({_NUM})\s*\)"
)


def rewrite_spatial_sql(sql: str, bbox_col: str = "bbox") -> str:
    """Inject sargable covering-column conjuncts next to every
    ST_EnvelopeIntersects atom with literal bounds. Pure text → text;
    see module docstring for the soundness argument."""

    def _one(m: re.Match) -> str:
        geom, x0, y0, x1, y1 = m.groups()
        return (
            f"({bbox_col}.xmin <= {x1} AND {bbox_col}.xmax >= {x0}"
            f" AND {bbox_col}.ymin <= {y1} AND {bbox_col}.ymax >= {y0}"
            f" AND {m.group(0)})"
        )

    return _PAT.sub(_one, sql)


def geo_sql(
    spark: SparkSession, sql: str, bbox_col: str = "bbox", **frames: DataFrame
) -> DataFrame:
    """``spark.sql`` for spatial queries: registers the ST_* UDFs (once
    per session) and runs the pushdown-rewritten statement. ``frames``
    bind ``{name}`` placeholders in the text to DataFrames, as in
    ``spark.sql(text, **frames)``, so no temp view outlives the call."""
    from geoparquet_python_spark.geo.functions import register_sql

    register_sql(spark)
    return spark.sql(rewrite_spatial_sql(sql, bbox_col=bbox_col), **frames)
