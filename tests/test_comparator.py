"""Engine-side value-hash comparator (testing.py, VERDICT r8 item 1).

The scale-safe compare path decides oracle equality from three scalars
computed inside each engine instead of materializing rows driver-side.
These tests pin the cross-engine canonicalization: every hash-safe type
family must produce the IDENTICAL (count, sum, xor) triple in Spark and
DuckDB, value tweaks must flip it, and unsupported types must fall back
(return None) rather than guess.
"""

from __future__ import annotations

import datetime

import pytest

from geoparquet_python_spark.testing import (
    duck_hash_summary,
    run_compare_engine_side,
    spark_hash_summary,
)


def _duck():
    import duckdb

    return duckdb.connect()


def test_hash_summary_cross_engine_agreement(spark):
    """ints (negative/zero/null), booleans, dates, unicode + separator-ish
    strings all canonicalize identically in both engines."""
    sdf = spark.createDataFrame(
        [
            (-5, True, datetime.date(2026, 2, 28), "plain"),
            (0, False, datetime.date(1999, 12, 31), "unié中"),
            (None, None, None, None),
            (9223372036854775807, True, datetime.date(2026, 2, 28), "a\x1fb|c"),
            (42, False, None, ""),
        ],
        "k bigint, flag boolean, d date, s string",
    )
    s = spark_hash_summary(sdf)
    assert s is not None
    con = _duck()
    d = duck_hash_summary(
        con,
        """
        SELECT * FROM (VALUES
          (CAST(-5 AS BIGINT), TRUE,  DATE '2026-02-28', 'plain'),
          (0,                  FALSE, DATE '1999-12-31', 'unié中'),
          (NULL,               NULL,  NULL,              NULL),
          (9223372036854775807, TRUE, DATE '2026-02-28', 'a' || chr(31) || 'b|c'),
          (42,                 FALSE, NULL,              '')
        ) AS t(k, flag, d, s)
        """,
    )
    assert d is not None
    assert s == d  # count, sum, xor, AND column->family map all equal


def test_hash_summary_detects_value_change(spark):
    sdf = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, s string")
    s = spark_hash_summary(sdf)
    con = _duck()
    same = duck_hash_summary(
        con, "SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'a'), (2, 'b')) t(k, s)"
    )
    diff = duck_hash_summary(
        con, "SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'a'), (2, 'B')) t(k, s)"
    )
    assert s[:3] == same[:3]
    assert s[:3] != diff[:3]


def test_hash_summary_null_vs_literal_null_string(spark):
    """NULL and the string 'null' must hash differently (sentinel is
    outside the hex alphabet, not outside the value domain)."""
    a = spark_hash_summary(
        spark.createDataFrame([("null",)], "s string")
    )
    b = spark_hash_summary(
        spark.createDataFrame([(None,)], "s string")
    )
    assert a[:3] != b[:3]


def test_hash_summary_duplicate_multiplicity(spark):
    """{A,A,B,B} vs {A,B,B,B}: same count, XOR alone could collide on
    even multiplicities — SUM keeps the multiset faithful."""
    a = spark_hash_summary(
        spark.createDataFrame([(1,), (1,), (2,), (2,)], "k bigint")
    )
    b = spark_hash_summary(
        spark.createDataFrame([(1,), (2,), (2,), (2,)], "k bigint")
    )
    assert a[0] == b[0]
    assert a[:3] != b[:3]


def test_hash_summary_doubles_cross_engine(spark):
    """Round-11 double canonicalization: IEEE bit patterns. Covers the
    sign/exponent/mantissa reconstruction (normals near 2^e boundaries,
    denormals, +-max), the -0.0 -> +0.0 policy (row-level == also passes
    it), NaN canonicalization, and NULL."""
    vals = [
        0.0, -0.0, 1.0, -1.0, 0.1, 1 / 3, 1e-300, 1e300, 5e-324,
        2.2250738585072014e-308, 1.7976931348623157e308,
        -1.7976931348623157e308, 0.45, 402.0, float("nan"), None,
    ]
    sdf = spark.createDataFrame([(v,) for v in vals], "x double")
    s = spark_hash_summary(sdf)
    assert s is not None and s[3] == {"x": "dbl"}
    con = _duck()
    rows = ", ".join(
        "(NULL)" if v is None
        else "('nan'::DOUBLE)" if v != v
        else f"(CAST({v!r} AS DOUBLE))"
        for v in vals
    )
    d = duck_hash_summary(con, f"SELECT x FROM (VALUES {rows}) t(x)")
    assert d is not None
    assert s == d
    # -0.0 and 0.0 hash IDENTICALLY (policy matches row-level ==) ...
    a = spark_hash_summary(spark.createDataFrame([(0.0,)], "x double"))
    b = spark_hash_summary(spark.createDataFrame([(-0.0,)], "x double"))
    assert a[:3] == b[:3]
    # ... but one-ulp neighbours do not.
    c = spark_hash_summary(spark.createDataFrame([(0.1,)], "x double"))
    e = spark_hash_summary(
        spark.createDataFrame([(0.1 + 2**-56,)], "x double")
    )
    assert c[:3] != e[:3]


def test_duck_pow2_exact_full_range():
    """The DuckDB bits reconstruction leans on power(2.0, e) being exact
    for every binary exponent a double can carry — check all of them."""
    import math

    con = _duck()
    rows = con.execute(
        "SELECT e, power(2.0, e) FROM range(-1074, 1025) t(e)"
    ).fetchall()
    for e, p in rows:
        try:
            want = math.ldexp(1.0, e)
        except OverflowError:
            want = float("inf")
        assert p == want, (e, p)


def test_duck_dbits_matches_struct_pack():
    """__graft_dbits == Java doubleToLongBits over a dense battery:
    every power of two and its one-ulp neighbours, denormals, extremes,
    and 2000 random bit patterns."""
    import math
    import random
    import struct

    from geoparquet_python_spark.testing import _DUCK_DBITS_MACROS

    con = _duck()
    con.execute(_DUCK_DBITS_MACROS)
    vals = [0.0, -0.0, 5e-324, -5e-324, 1e-310, 2.2250738585072014e-308,
            1.7976931348623157e308, -1.7976931348623157e308]
    for e in range(-1074, 1024, 13):
        v = math.ldexp(1.0, e)
        vals += [v, math.nextafter(v, 0.0), math.nextafter(v, math.inf), -v]
    rng = random.Random(11)
    vals += [
        struct.unpack("d", struct.pack("Q", rng.getrandbits(64)))[0]
        for _ in range(2000)
    ]
    vals = [v for v in vals if v == v and abs(v) != float("inf")]
    con.execute("CREATE TABLE __tb(i INT, d DOUBLE)")
    con.executemany("INSERT INTO __tb VALUES (?, ?)", list(enumerate(vals)))
    got = dict(
        con.execute("SELECT i, __graft_dbits(d + 0.0) FROM __tb").fetchall()
    )
    for i, v in enumerate(vals):
        want = struct.unpack("<q", struct.pack("<d", v + 0.0))[0]
        assert got[i] == want, (v, got[i], want)
    # specials
    nan_b, pinf, ninf = con.execute(
        "SELECT __graft_dbits('nan'::DOUBLE), "
        "__graft_dbits('infinity'::DOUBLE), __graft_dbits('-infinity'::DOUBLE)"
    ).fetchone()
    assert nan_b == 9221120237041090560
    assert pinf == struct.unpack("<q", struct.pack("<d", float("inf")))[0]
    assert ninf == struct.unpack("<q", struct.pack("<d", float("-inf")))[0]


def test_hash_summary_timestamps_cross_engine(spark):
    """Epoch-micros canonicalization: negative epochs (pre-1970), sub-ms
    precision, NULL, and both Spark timestamp flavours (instant under a
    UTC session == DuckDB naive-as-UTC; NTZ is pure wall-clock)."""
    ts = [
        datetime.datetime(1960, 5, 4, 3, 2, 1, 123456),
        datetime.datetime(1970, 1, 1, 0, 0, 0, 1),
        datetime.datetime(2026, 2, 28, 23, 59, 59, 999999),
        None,
    ]
    lits = [
        "TIMESTAMP '1960-05-04 03:02:01.123456'",
        "TIMESTAMP '1970-01-01 00:00:00.000001'",
        "TIMESTAMP '2026-02-28 23:59:59.999999'",
        "CAST(NULL AS TIMESTAMP)",
    ]
    con = _duck()
    d = duck_hash_summary(
        con,
        "SELECT t FROM (VALUES "
        + ", ".join(f"({x})" for x in lits)
        + ") v(t)",
    )
    for spark_type in ("timestamp", "timestamp_ntz"):
        sdf = spark.createDataFrame([(t,) for t in ts], f"t {spark_type}")
        s = spark_hash_summary(sdf)
        assert s is not None and s[3] == {"t": "ts"}, spark_type
        assert s[:3] == d[:3], spark_type


def test_duck_decimal_maps_to_double_family():
    """Narrow oracle DECIMALs (p<=15) hash as exact doubles — the same
    coercion the row-level pandas path applies; wide ones fall back."""
    con = _duck()
    d = duck_hash_summary(con, "SELECT CAST(402.5 AS DECIMAL(13,1)) AS x")
    assert d is not None and d[3] == {"x": "dbl"}
    import duckdb  # noqa: F401

    s = duck_hash_summary(con, "SELECT CAST(402.5 AS DOUBLE) AS x")
    assert d[:3] == s[:3]
    assert duck_hash_summary(
        con, "SELECT CAST(1 AS DECIMAL(38,0)) AS x"
    ) is None


def test_hash_summary_falls_back_on_arrays(spark):
    sdf = spark.createDataFrame([([1.5],)], "x array<double>")
    assert spark_hash_summary(sdf) is None
    con = _duck()
    assert duck_hash_summary(con, "SELECT [1.5] AS x") is None


def test_engine_side_float_rtol_forces_row_level(spark):
    """A nonzero float_rtol declares the floats NOT bit-exact — the
    engine-side compare must drop to the row-level path with the
    tolerance threaded through (ADVICE r10)."""
    con = _duck()
    fn = lambda s, _sf: s.createDataFrame(  # noqa: E731
        [(1, 1.0000000001)], "k bigint, x double"
    )
    oracle = "SELECT CAST(1 AS BIGINT) AS k, CAST(1.0 AS DOUBLE) AS x"
    # exact hash mode would (correctly) flag these as different bits
    with pytest.raises(AssertionError):
        run_compare_engine_side(spark, con, "t", fn, oracle, "_unused_")
    n, mode = run_compare_engine_side(
        spark, con, "t", fn, oracle, "_unused_", float_rtol=1e-6
    )
    assert (n, mode) == (1, "pandas")


def test_run_compare_engine_side_end_to_end(spark):
    con = _duck()
    fn = lambda s, _sf: s.createDataFrame(  # noqa: E731
        [(1, "a"), (2, None)], "k bigint, s string"
    )
    n, mode = run_compare_engine_side(
        spark, con, "t", fn,
        "SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'a'), (2, NULL)) t(k, s)",
        "_unused_",
    )
    assert (n, mode) == (2, "hash")
    with pytest.raises(AssertionError, match="row count"):
        run_compare_engine_side(
            spark, con, "t", fn,
            "SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'a')) t(k, s)",
            "_unused_",
        )
    with pytest.raises(AssertionError):
        run_compare_engine_side(
            spark, con, "t", fn,
            "SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'a'), (3, NULL)) t(k, s)",
            "_unused_",
        )


def test_oracle_spill_stays_outside_checkout(sf_dir_small):
    """duckdb_connect spills under the system temp dir, one fresh
    directory per connection, never into the checkout or the current
    directory (DuckDB's default is `.tmp/` under the cwd); the memory
    limit stays DuckDB's own default."""
    import os
    import tempfile

    import duckdb

    from geoparquet_python_spark.testing import duckdb_connect

    repo = os.path.realpath(os.path.join(os.path.dirname(__file__), ".."))
    cons = [duckdb_connect(sf_dir_small) for _ in range(2)]
    try:
        dirs = [
            os.path.realpath(
                c.execute("SELECT current_setting('temp_directory')").fetchone()[0]
            )
            for c in cons
        ]
        limits = {
            c.execute("SELECT current_setting('memory_limit')").fetchone()[0]
            for c in cons
        }
    finally:
        for c in cons:
            c.close()
    default = duckdb.connect()
    try:
        default_limit = default.execute(
            "SELECT current_setting('memory_limit')"
        ).fetchone()[0]
    finally:
        default.close()
    tmp = os.path.realpath(tempfile.gettempdir())
    assert dirs[0] != dirs[1]
    for d in dirs:
        assert d.startswith(tmp + os.sep), d
        assert not d.startswith(repo + os.sep), d
        assert not d.startswith(os.path.realpath(os.getcwd()) + os.sep), d
    assert limits == {default_limit}
