"""The numpy side of the vector family (functions/vector.py): the Arrow
list → matrix reader and the fixed-point dot and cosine every vector
kernel shares, pinned against the JVM expressions they twin."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from geoparquet_python_spark.functions.vector import (
    arrow_matrix,
    cosine_from_scaled,
    cosine_tile,
    dot_scaled,
    dot_scaled_arrow,
    fixed_dot,
    norm2_scaled,
)

_M = (np.arange(24, dtype=np.float32).reshape(6, 4) - 11.5) / 4
_LIST = pa.array(_M.tolist(), pa.list_(pa.float32()))


def test_arrow_matrix_reads_a_sliced_list_array():
    got = arrow_matrix(_LIST.slice(2, 3), np.float64)
    assert got.dtype == np.float64 and got.shape == (3, 4)
    np.testing.assert_array_equal(got, _M[2:5])


def test_arrow_matrix_reads_a_multi_chunk_chunked_array():
    chunked = pa.chunked_array(
        [_LIST.slice(0, 1), _LIST.slice(1, 0), _LIST.slice(3, 3)]
    )
    np.testing.assert_array_equal(
        arrow_matrix(chunked, np.float64), _M[[0, 3, 4, 5]]
    )
    xfix = pa.array([[1, -2], [3, 4]], pa.list_(pa.int64()))
    got = arrow_matrix(pa.chunked_array([xfix, xfix.slice(1)]), np.int64)
    assert got.dtype == np.int64
    assert got.tolist() == [[1, -2], [3, 4], [3, 4]]


@pytest.mark.parametrize(
    "col",
    [
        pa.array([], pa.list_(pa.float32())),
        _LIST.slice(6, 0),
        pa.chunked_array([], pa.list_(pa.float32())),
        pa.chunked_array([_LIST.slice(2, 0)]),
    ],
    ids=["array", "slice", "no-chunks", "empty-chunk"],
)
def test_arrow_matrix_of_zero_rows_is_empty(col):
    got = arrow_matrix(col, np.float64)
    assert got.shape == (0, 0) and got.dtype == np.float64


def test_arrow_matrix_raises_on_ragged_widths():
    with pytest.raises(ValueError, match="ragged"):
        arrow_matrix(pa.array([[1.0, 2.0], [3.0]]), np.float64)
    ragged = pa.array([[1.0]], pa.list_(pa.float32()))
    with pytest.raises(ValueError, match="ragged"):
        arrow_matrix(pa.chunked_array([_LIST.slice(0, 1), ragged]), np.float64)


def _bits(a: np.ndarray) -> list[int]:
    """float64 values as their bit patterns: NaN equals NaN and -0.0
    differs from 0.0."""
    return np.ascontiguousarray(a, dtype=np.float64).view(np.uint64).tolist()


def test_fixed_dot_and_cosine_tile_match_the_jvm_forms(spark):
    """Random float32 embeddings with negative values and -0.0: the numpy
    fixed-point dot equals the JVM ``dot_scaled`` and ``norm2_scaled``
    row by row (and so does the Arrow UDF ``dot_scaled_arrow``), and a
    (q × c) cosine tile equals ``cosine_from_scaled`` bit for bit."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(17)
    n, dim = 64, 64
    x = rng.normal(size=(n, dim)).astype(np.float32)
    y = rng.normal(size=(n, dim)).astype(np.float32)
    x[0, :7] = -0.0
    y[0, 3:9] = -0.0
    x[1] = -np.abs(x[1])
    y[2] = -0.0
    y[2, 0] = 1.0
    df = spark.createDataFrame(
        [(i, x[i].tolist(), y[i].tolist()) for i in range(n)],
        "i bigint, a array<float>, b array<float>",
    )
    rows = sorted(
        df.select(
            "i",
            dot_scaled("a", "b").alias("d"),
            dot_scaled_arrow("a", "b").alias("d_arrow"),
            norm2_scaled("a").alias("na"),
            norm2_scaled("b").alias("nb"),
        ).collect()
    )
    x64, y64 = x.astype(np.float64), y.astype(np.float64)
    d, na, nb = fixed_dot(x64, y64), fixed_dot(x64, x64), fixed_dot(y64, y64)
    assert d.dtype == np.int64
    assert [r.d for r in rows] == d.tolist()
    assert [r.d_arrow for r in rows] == d.tolist()
    assert [r.na for r in rows] == na.tolist()
    assert [r.nb for r in rows] == nb.tolist()

    q, c = 6, 9
    qa = df.where(F.col("i") < q).select(
        F.col("i").alias("qi"), F.col("a").alias("qa"), norm2_scaled("a").alias("qn")
    )
    cb = df.where(F.col("i") < c).select(
        F.col("i").alias("ci"), F.col("b").alias("cb"), norm2_scaled("b").alias("cn")
    )
    jvm = sorted(
        qa.crossJoin(cb)
        .select(
            "qi",
            "ci",
            cosine_from_scaled(
                dot_scaled("qa", "cb"), F.col("qn"), F.col("cn")
            ).alias("cos"),
        )
        .collect()
    )
    tile = cosine_tile(
        fixed_dot(x64[:q, None, :], y64[None, :c, :]), na[:q], nb[:c]
    )
    assert tile.shape == (q, c)
    assert [(r.qi, r.ci) for r in jvm] == [(i, j) for i in range(q) for j in range(c)]
    assert _bits(np.array([r.cos for r in jvm])) == _bits(tile.ravel())
