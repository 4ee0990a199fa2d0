"""Local mirror of the driver's oracle-diff harness (SURVEY.md §5.2).

Runs a registered Spark query and its DuckDB oracle side by side and
compares row count, column names, and values order-insensitively —
exact for non-floats, bit-exact-by-default for floats (the engine's
aggregates are designed to be order-independent; see functions/exact.py).
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

import numpy as np
import pandas as pd

from geoparquet_python_spark.io import TABLES


def duckdb_connect(sf_dir: str):
    """DuckDB connection with the driver's table views pre-registered.

    DuckDB spills to `.tmp/` under the current directory by default,
    which puts gigabytes of spill into the checkout on a large oracle;
    each connection spills to a fresh directory under the system temp
    dir instead, removed at exit. The memory limit stays DuckDB's
    default."""
    import duckdb

    spill = tempfile.mkdtemp(prefix="duckdb-oracle-spill-")
    atexit.register(shutil.rmtree, spill, True)
    con = duckdb.connect(config={"temp_directory": spill})
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalize timestamps to µs, sort rows."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]")
        elif s.dtype == object and s.notna().any():
            first = s.dropna().iloc[0]
            if isinstance(first, (bytes, bytearray)):
                s = s.map(lambda b: None if b is None else bytes(b))
            elif type(first).__name__ == "date":
                # Spark DateType → datetime.date objects; DuckDB DATE →
                # datetime64. Normalize both to datetime64[us].
                s = pd.to_datetime(s).astype("datetime64[us]")
        out[c] = s
    df = pd.DataFrame(out)
    if len(df):
        df = df.sort_values(list(df.columns), kind="mergesort", na_position="last")
        df = df.reset_index(drop=True)
    return df


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str = "?",
                   float_rtol: float = 0.0) -> None:
    """Raise AssertionError with a readable diff on any mismatch."""
    a, b = canonicalize(spark_pdf), canonicalize(oracle_pdf)
    assert list(a.columns) == list(b.columns), (
        f"[{name}] column mismatch: spark={list(a.columns)} oracle={list(b.columns)}"
    )
    assert len(a) == len(b), f"[{name}] row count: spark={len(a)} oracle={len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        # The driver's value hash is dtype-sensitive: int64 402 vs float64
        # 402.0 hash-differ even though == passes. DuckDB returns HUGEINT
        # for integer SUM, which pandas materializes as float64 — oracles
        # must CAST(... AS BIGINT) so both sides agree. Flag the split
        # here instead of silently coercing (round-1 CORRECTNESS red).
        a_f, b_f = pd.api.types.is_float_dtype(av), pd.api.types.is_float_dtype(bv)
        a_i, b_i = pd.api.types.is_integer_dtype(av), pd.api.types.is_integer_dtype(bv)
        if (a_f and b_i) or (a_i and b_f):
            raise AssertionError(
                f"[{name}] col {c!r} int/float dtype split: spark={av.dtype} "
                f"oracle={bv.dtype} — driver value-hash would mismatch; "
                f"CAST the oracle aggregate to BIGINT (or align the Spark side)"
            )
        if a_f or b_f:
            avf = av.astype("float64").to_numpy()
            bvf = bv.astype("float64").to_numpy()
            both_nan = np.isnan(avf) & np.isnan(bvf)
            if float_rtol == 0.0:
                ok = (avf == bvf) | both_nan
            else:
                ok = np.isclose(avf, bvf, rtol=float_rtol, atol=0) | both_nan
            if not ok.all():
                i = int(np.argmin(ok))
                raise AssertionError(
                    f"[{name}] float col {c!r}: {int((~ok).sum())}/{len(ok)} differ; "
                    f"first at row {i}: spark={avf[i]!r} oracle={bvf[i]!r} "
                    f"(maxabs={np.nanmax(np.abs(avf - bvf))!r})"
                )
        else:
            an = av.where(pd.notna(av), None).tolist()
            bn = bv.where(pd.notna(bv), None).tolist()
            if an != bn:
                bad = [(i, x, y) for i, (x, y) in enumerate(zip(an, bn)) if x != y][:5]
                raise AssertionError(f"[{name}] col {c!r} differs, first diffs: {bad}")


def run_compare(spark, duck_con, name: str, fn, oracle: str | None, sf_dir: str,
                float_rtol: float = 0.0) -> int:
    """Execute one registered query against its oracle. Returns row count."""
    sdf = fn(spark, sf_dir).toPandas()
    if oracle is None:
        assert len(sdf) >= 0
        return len(sdf)
    opdf = duck_con.execute(oracle).df()
    compare_frames(sdf, opdf, name=name, float_rtol=float_rtol)
    return len(sdf)


# ---------------------------------------------------------------------------
# Engine-side order-insensitive value hash (VERDICT r8 item 1).
#
# The row-level compare above materializes BOTH result sets driver-side
# (toPandas + duckdb .df()), which for multi-million-row results (e.g.
# q_simhash_blocked_pairs_loose, 5.5M pairs at sf0.1) is the single
# reason evidence runs ever needed a bigger driver heap. The same
# order-insensitive equality can be decided from THREE SCALARS computed
# inside each engine:
#
#   piece(col) = md5(CAST(col AS STRING))        -- null -> 'null' (the
#                                                   letters n/u/l are not
#                                                   hex digits, so the
#                                                   sentinel can never be
#                                                   confused with a hash
#                                                   piece: concat stays
#                                                   injective)
#   row_str    = concat(pieces in sorted-column-name order)
#   h          = md5_long(row_str)               -- 60-bit int
#   summary    = (COUNT(*), SUM(h) as exact int, BIT_XOR(h))
#
# SUM is order-insensitive and multiset-faithful; BIT_XOR adds an
# independent check (XOR alone would let even-multiplicity duplicates
# cancel). A type family participates only when both engines can emit a
# PROVABLY identical canonical string for every value:
#
#   int/bool/string/date — the CAST-to-string forms are identical.
#   double (round 11)    — the canonical string is the IEEE-754 bit
#       pattern as a signed int64 (Java Double.doubleToLongBits). Spark
#       computes it via reflect('java.lang.Double','doubleToLongBits',·);
#       DuckDB reconstructs the identical integer arithmetically (sign /
#       exponent / mantissa — see the _DUCK_DBITS macros; every step is
#       an IEEE-exact power-of-two scale, validated over 28k doubles
#       incl. all 2^e boundaries, denormals, ±max). −0.0 normalizes to
#       +0.0 via `+ 0.0` on BOTH sides (matching the row-level compare,
#       where -0.0 == 0.0 passes); NaN canonicalizes to the Java
#       canonical-NaN bit pattern on both sides (matching both_nan).
#       Decimal-formatted strings were rejected: Java 17's %.16e pads
#       Double.toString's digits with zeros instead of rounding the
#       exact binary expansion, so no shared decimal form exists.
#   timestamp (round 11) — canonical string is epoch MICROS as int64:
#       Spark unix_micros (instant; micros are the internal value, tz-
#       independent) / timestampdiff-from-epoch for TIMESTAMP_NTZ
#       (wall-clock); DuckDB epoch_us (naive wall-clock treated as
#       UTC). Instant-vs-naive equality holds exactly when the Spark
#       session timezone is UTC — the same precondition the row-level
#       path (toPandas localizes to session tz) already relies on, so
#       the hash path adds no new assumption.
#   DECIMAL(p<=15, s) oracle columns (DuckDB only) map into the double
#       family via an exact CAST AS DOUBLE (<=15 significant digits
#       round-trip); wider decimals fall back.
#
# Anything else — arrays, binary, wide decimals — falls back to the
# row-level path, which stays the debugging tool for mismatches.
# ---------------------------------------------------------------------------

_SPARK_FAMILY = {
    "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
    "boolean": "bool", "string": "str", "date": "date",
    "double": "dbl", "float": "dbl",
    "timestamp": "ts", "timestamp_ntz": "ts",
}
_DUCK_FAMILY = {
    "TINYINT": "int", "SMALLINT": "int", "INTEGER": "int", "BIGINT": "int",
    "BOOLEAN": "bool", "VARCHAR": "str", "DATE": "date",
    "DOUBLE": "dbl", "REAL": "dbl", "FLOAT": "dbl",
    "TIMESTAMP": "ts",
}

# Java Double.doubleToLongBits(NaN) — the canonical quiet-NaN pattern.
_NAN_BITS = 9221120237041090560

# DuckDB mirror of Double.doubleToLongBits, reconstructed arithmetically.
# __graft_e brackets the binary exponent (libm log2 is <=1 ulp, so floor
# can be off by one — the two comparisons against exact powers of two
# correct it); the mantissa recovery (a / 2^e - 1) * 2^52 is exact because
# scaling by a power of two and subtracting 1 from m in [1,2) are
# IEEE-exact. Denormals (|d| < 2^-1022) scale up by 2^537 twice (each
# exact) so the 52-bit fraction lands as an exact integer. power(2.0, e)
# is exact for every e in [-1074, 1024] (validated exhaustively in
# tests/test_comparator.py).
_DUCK_DBITS_MACROS = """
CREATE OR REPLACE TEMP MACRO __graft_e(a) AS (
  CASE WHEN a < power(2.0, CAST(floor(log2(a)) AS BIGINT))
       THEN CAST(floor(log2(a)) AS BIGINT) - 1
       WHEN a >= power(2.0, CAST(floor(log2(a)) AS BIGINT) + 1)
       THEN CAST(floor(log2(a)) AS BIGINT) + 1
       ELSE CAST(floor(log2(a)) AS BIGINT) END
);
CREATE OR REPLACE TEMP MACRO __graft_dbits(c) AS (
  CASE
    WHEN isnan(c) THEN 9221120237041090560
    WHEN c = 'infinity'::DOUBLE THEN 9218868437227405312
    WHEN c = '-infinity'::DOUBLE THEN -4503599627370496
    WHEN c = 0 THEN 0
    ELSE
      (CASE WHEN c < 0 THEN -9223372036854775808 ELSE 0 END)
      + (CASE WHEN abs(c) < 2.2250738585072014e-308
              THEN CAST(abs(c) * power(2.0, 537) * power(2.0, 537) AS BIGINT)
              ELSE (__graft_e(abs(c)) + 1023) * 4503599627370496
                   + CAST((abs(c) / power(2.0, __graft_e(abs(c))) - 1.0)
                          * 4503599627370496.0 AS BIGINT) END)
  END
);
"""

_NTZ_EPOCH = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def _spark_canonical(name: str, simple: str):
    """(family, canonical-string Column) for one result column, or
    (None, None) when the type is outside the hash-safe set."""
    from pyspark.sql import functions as F

    fam = _SPARK_FAMILY.get(simple)
    if fam is None:
        return None, None
    q = name.replace("`", "``")
    if fam == "dbl":
        # + 0.0 sends -0.0 to +0.0; doubleToLongBits canonicalizes NaN.
        return fam, F.expr(
            f"CASE WHEN `{q}` IS NULL THEN NULL ELSE "
            f"reflect('java.lang.Double','doubleToLongBits', "
            f"CAST(`{q}` AS DOUBLE) + CAST(0.0 AS DOUBLE)) END"
        )
    if fam == "ts":
        if simple == "timestamp_ntz":
            return fam, F.expr(
                f"CAST(timestampdiff(MICROSECOND, {_NTZ_EPOCH}, `{q}`) AS STRING)"
            )
        return fam, F.expr(f"CAST(unix_micros(`{q}`) AS STRING)")
    return fam, F.col(name).cast("string")


def _duck_canonical(name: str, dtype: str):
    """(family, canonical-string SQL) for one oracle column, or
    (None, None). ``dtype`` is the upper-cased DESCRIBE type."""
    fam = _DUCK_FAMILY.get(dtype)
    if fam is None and dtype.startswith("DECIMAL(") and dtype.endswith(")"):
        try:
            prec = int(dtype[len("DECIMAL("):].split(",")[0])
        except ValueError:
            prec = 99
        if prec <= 15:  # <=15 significant digits round-trip a double
            fam = "dbl"
    if fam is None:
        return None, None
    n = name.replace('"', '""')
    if fam == "dbl":
        return fam, (
            f'CASE WHEN "{n}" IS NULL THEN NULL ELSE '
            f'CAST(__graft_dbits(CAST("{n}" AS DOUBLE) + 0.0) AS VARCHAR) END'
        )
    if fam == "ts":
        return fam, f'CAST(epoch_us("{n}") AS VARCHAR)'
    return fam, f'CAST("{n}" AS VARCHAR)'


def spark_hash_summary(sdf):
    """(count, hash_sum, hash_xor, {col: family}) computed engine-side.

    Returns None when any column's type is outside the cross-engine
    canonical-string-safe set — the caller falls back to the row-level
    compare.
    """
    from pyspark.sql import functions as F

    fams, pieces = {}, []
    for fld in sorted(sdf.schema.fields, key=lambda f: f.name):
        fam, canon = _spark_canonical(fld.name, fld.dataType.simpleString())
        if fam is None:
            return None
        fams[fld.name] = fam
        pieces.append(F.coalesce(F.md5(canon), F.lit("null")))
    h = F.conv(F.substring(F.md5(F.concat(*pieces)), 1, 15), 16, 10).cast("long")
    row = (
        sdf.select(h.alias("h"))
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(F.col("h").cast("decimal(38,0)")).alias("hs"),
            F.expr("bit_xor(h)").alias("hx"),
        )
        .collect()[0]
    )
    return int(row["c"]), int(row["hs"] or 0), int(row["hx"] or 0), fams


def duck_hash_summary(con, oracle: str):
    """DuckDB mirror of spark_hash_summary over an oracle SQL string.

    Registers the oracle as a temp view (nothing executes until the
    scalar aggregate runs), DESCRIBEs it for the type check, and
    computes the identical (count, sum, xor) triple. Returns None when
    any output column's type is outside the hash-safe set.
    """
    con.execute("CREATE OR REPLACE TEMP VIEW __graft_oracle AS " + oracle)
    desc = con.execute("DESCRIBE __graft_oracle").fetchall()
    fams, pieces, need_dbits = {}, [], False
    for row in sorted(desc, key=lambda r: r[0]):
        name, dtype = row[0], row[1].upper()
        fam, canon = _duck_canonical(name, dtype)
        if fam is None:
            return None
        fams[name] = fam
        need_dbits = need_dbits or fam == "dbl"
        pieces.append(f"COALESCE(md5({canon}), 'null')")
    if need_dbits:
        con.execute(_DUCK_DBITS_MACROS)
    concat = " || ".join(pieces)
    c, hs, hx = con.execute(
        "SELECT COUNT(*), "
        "CAST(COALESCE(SUM(h), 0) AS VARCHAR), "
        "COALESCE(BIT_XOR(h), 0) "
        "FROM (SELECT CAST(('0x' || substr(md5(" + concat + "), 1, 15)) AS BIGINT) AS h "
        "FROM __graft_oracle)"
    ).fetchone()
    return int(c), int(hs), int(hx), fams


def run_compare_engine_side(spark, duck_con, name: str, fn, oracle: str | None,
                            sf_dir: str, row_level_limit: int = 200_000,
                            float_rtol: float = 0.0):
    """Scale-safe oracle compare: scalars by default, rows for debugging.

    Returns (row_count, mode) with mode in {'hash', 'pandas', 'rows-only'}.
    On a hash mismatch with a small result the row-level compare re-runs
    to produce a readable diff; large results raise with the scalar
    summary (materializing them driver-side is exactly what this path
    exists to avoid).

    ``float_rtol`` (ADVICE r10): a nonzero tolerance is incompatible
    with bit-pattern hashing — the caller is declaring the floats NOT
    bit-exact — so the compare drops to the row-level path with the
    tolerance threaded through instead of silently hashing exactly.
    """
    sdf = fn(spark, sf_dir)
    if oracle is None:
        return sdf.count(), "rows-only"
    s = spark_hash_summary(sdf) if float_rtol == 0.0 else None
    d = duck_hash_summary(duck_con, oracle) if s is not None else None
    if s is None or d is None:
        pdf = sdf.toPandas()
        opdf = duck_con.execute(oracle).df()
        compare_frames(pdf, opdf, name=name, float_rtol=float_rtol)
        return len(pdf), "pandas"
    sc, ss, sx, sfam = s
    dc, ds, dx, dfam = d
    if sfam != dfam:
        raise AssertionError(
            f"[{name}] schema/type-family mismatch: spark={sfam} oracle={dfam}"
        )
    if sc != dc:
        raise AssertionError(f"[{name}] row count: spark={sc} oracle={dc}")
    if (ss, sx) != (ds, dx):
        if sc <= row_level_limit:
            compare_frames(sdf.toPandas(), duck_con.execute(oracle).df(), name=name)
            raise AssertionError(
                f"[{name}] engine-side hash mismatch (sum {ss} vs {ds}, "
                f"xor {sx} vs {dx}) but row-level compare PASSED — "
                f"canonicalization bug in the hash path, not the query"
            )
        raise AssertionError(
            f"[{name}] value-hash mismatch over {sc} rows: "
            f"sum {ss} vs {ds}, xor {sx} vs {dx}"
        )
    return sc, "hash"
