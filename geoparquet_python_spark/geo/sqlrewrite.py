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

Lowering. Over a ``bbox`` that is exactly the geometry's envelope (the
writer's envelope mark, geo/io.py) the atom itself needs no Python:
``geo_sql`` replaces it with

    (B AND IF(geom IS NULL, NULL, coalesce(B, false)))
    B = bbox.xmin <= x1' AND bbox.xmax >= x0' AND
        bbox.ymin <= y1' AND bbox.ymax >= y0'

where each primed bound is a double literal: the number the literal
denotes (a decimal for ``0.1`` and ``-90.5``, an integer for ``5``, a
double for ``1e-1`` unless the session reads exponent literals as
decimals), rounded toward the outside of the window
(``functions.outward``, what ``functions._bound`` gives the UDF). A
double compared with the primed bound then gives the UDF's exact
comparison with the literal, so a decimal bound that no double equals
keeps the UDF's rows. NULL versus FALSE, which differ under NOT and in
a projected ``atom AS hit``: the UDF is NULL for a NULL geometry, which
the ``IF`` gives, and FALSE for every other row whose envelope misses
the window. POINT EMPTY, and a point with a NaN coordinate on that
axis, have the empty envelope (+inf minimum, -inf maximum), so ``B`` is
FALSE for them, as the UDF is. A null bound would make ``B`` NULL; the
writer's envelope has none on a non-null geometry, and the ``coalesce``
makes such a row FALSE all the same, as the UDF's NaN comparison does.
The outer ``B`` is implied by the ``IF`` (as in the UDF form) and is
what Parquet pruning sees: Catalyst pushes no filter out of a
conditional.

The lowered statement is analyzed first, and kept only when the
analyzed plan has one leaf and no subquery expression, every lowered
atom's ``geom IS NULL`` tests that leaf's attribute that carries
``geo_primary``, and every ``bbox`` attribute the plan references is
the leaf's attribute whose ``envelope_of`` names that geometry column —
the rule of ``functions._covering_is_envelope``, read from the plan's
attributes by expression id rather than from the output schema — and
the leaf reads one local path whose dataset manifest (geo/io.py) carries
that same mark. The last check ties the mark to the files: field
metadata can travel without them (Spark's own Parquet writer stores it
in its footers, and ``spark.read.schema`` puts a given schema's on any
path). An alias makes a new id, so a column redefined or replaced after
the read (even by itself) keeps the UDF, as do a union or a join (two
leaves). Only a statement that opens with SELECT is lowered: a command
runs when ``spark.sql`` analyzes it, before any check could look at its
plan. A WITH query keeps the UDF as well, as its analyzed plan holds
each common table expression as one more leaf. A lowered form that
fails to analyze, or a bound whose double is not finite, also falls
back to the UDF form.

Limits (documented, not hidden): the pattern is matched textually, so
the window bounds must be NUMERIC LITERALS (the Catalyst rule would
also handle foldable expressions), and the frame the query reads must
expose the covering column under ``bbox_col``. Atoms that don't match
are left untouched — the query still runs, just without pruning.
"""

from __future__ import annotations

import json
import math
import re
from decimal import Decimal

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from geoparquet_python_spark.geo.functions import ENVELOPE_OF, outward, register_sql
from geoparquet_python_spark.geo.io import relation_mark

_NUM = r"[-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?"
_PAT = re.compile(
    r"ST_EnvelopeIntersects\(\s*([A-Za-z_][\w.]*)\s*,\s*"
    rf"({_NUM})\s*,\s*({_NUM})\s*,\s*({_NUM})\s*,\s*({_NUM})\s*\)"
)
_MAX_DECIMAL_PRECISION = 38  # Spark's; a longer decimal literal fails to parse
_EXPONENT_AS_DECIMAL = "spark.sql.legacy.exponentLiteralAsDecimal.enabled"


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


def _primed(text: str, up: bool, exponent_is_double: bool) -> float | None:
    """The window bound the UDF atom compares against for the numeric
    literal ``text``, as a double (module docstring); None when no
    finite double stands for it."""
    if exponent_is_double and re.search(r"[eE]", text):
        v = float(text)
    else:
        v = Decimal(text)
        _, digits, exp = v.as_tuple()
        if max(len(digits), -exp) > _MAX_DECIMAL_PRECISION:
            return None
    f = outward(v, up)
    return f if math.isfinite(f) else None


def _lower_spatial_sql(sql: str, bbox_col: str, exponent_is_double: bool) -> str | None:
    """``sql`` with every ST_EnvelopeIntersects atom that has literal
    bounds replaced by its lowered form (module docstring), or None when
    there is no atom or one of them cannot be lowered. Pure text → text;
    it is exact only over a ``bbox`` the plan check in ``geo_sql``
    accepts."""
    atoms = list(_PAT.finditer(sql))
    if not atoms:
        return None
    out, at = [], 0
    for m in atoms:
        geom, *nums = m.groups()
        bounds = [_primed(t, up, exponent_is_double)
                  for t, up in zip(nums, (True, True, False, False))]
        if None in bounds:
            return None
        x0, y0, x1, y1 = (f"{b!r}D" for b in bounds)
        box = (f"{bbox_col}.xmin <= {x1} AND {bbox_col}.xmax >= {x0}"
               f" AND {bbox_col}.ymin <= {y1} AND {bbox_col}.ymax >= {y0}")
        out += [sql[at:m.start()],
                f"({box} AND IF({geom} IS NULL, NULL, coalesce({box}, false)))"]
        at = m.end()
    return "".join(out) + sql[at:]


def _is_select(sql: str) -> bool:
    """Does ``sql`` open with SELECT? Such a statement is a query, which
    ``spark.sql`` analyzes without running it."""
    return re.match(r"[\s(]*SELECT\b", sql, re.IGNORECASE) is not None


_ALL_FIELDS = 2**31 - 1  # treeString's maxFields: print every attribute


def _ref_ids(text: str, name: str) -> set[int]:
    """Expression ids of the attributes named ``name`` in a plan string,
    where an attribute prints as ``name#id``."""
    pat = rf"(?<![\w`.#]){re.escape(name)}#(\d+)"
    return {int(i) for i in re.findall(pat, text, re.IGNORECASE)}


def _lowering_is_exact(df: DataFrame, bbox_col: str) -> bool:
    """The plan check of the module docstring over ``df``, the analyzed
    lowered statement. Expression ids come from the plan's string, with
    no field list cut short; the leaf's field metadata from its schema.
    A plan with one leaf and no subquery is a chain, so its last line is
    the leaf."""
    plan = df._jdf.queryExecution().analyzed()
    leaves = plan.collectLeaves()
    if leaves.size() != 1 or not plan.subqueriesAll().isEmpty():
        return False
    text = plan.treeString(False, False, _ALL_FIELDS, False, False).rstrip()
    leaf_line = text.rsplit("\n", 1)[-1]
    fields = json.loads(leaves.head().schema().json())["fields"]
    geom = [f["name"] for f in fields if f["metadata"].get("geo_primary") is True]
    box = [f["name"] for f in fields if f["name"].lower() == bbox_col.lower()]
    if len(geom) != 1 or len(box) != 1:
        return False
    (box_meta,) = [f["metadata"] for f in fields if f["name"] == box[0]]
    if box_meta.get(ENVELOPE_OF) != geom[0] or relation_mark(leaves.head()) != geom[0]:
        return False
    tested = set()
    for child in re.findall(r"if \(isnull\((.*?)\)\) ", text):
        m = re.fullmatch(r"[^.()]+#(\d+)", child)
        tested.add(int(m.group(1)) if m else None)
    leaf_box = _ref_ids(leaf_line, box[0])
    return (len(tested) == 1 and tested == _ref_ids(leaf_line, geom[0])
            and len(leaf_box) == 1 and _ref_ids(text, box[0]) == leaf_box)


def geo_sql(
    spark: SparkSession, sql: str, bbox_col: str = "bbox", **frames: DataFrame
) -> DataFrame:
    """``spark.sql`` for spatial queries: registers the ST_* UDFs (once
    per session) and runs the pushdown-rewritten statement, with each
    atom lowered to JVM comparisons where the module docstring's check
    proves that exact, else with the UDF atom. ``frames`` bind ``{name}``
    placeholders in the text to DataFrames, as in
    ``spark.sql(text, **frames)``, so no temp view outlives the call."""
    register_sql(spark)
    lowered = None
    if "." not in bbox_col and _is_select(sql) and _PAT.search(sql):
        lowered = _lower_spatial_sql(
            sql, bbox_col, spark.conf.get(_EXPONENT_AS_DECIMAL).lower() != "true")
    if lowered is not None:
        try:
            df = spark.sql(lowered, **frames)
        except AnalysisException:
            pass  # the UDF form below raises what is wrong with the statement
        else:
            if _lowering_is_exact(df, bbox_col):
                return df
    return spark.sql(rewrite_spatial_sql(sql, bbox_col=bbox_col), **frames)
