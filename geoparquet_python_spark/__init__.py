"""geoparquet_python_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capability surface of
``darcy-r/geoparquet-python`` (GeoParquet round-trip I/O + the dataframe
algebra that library exists to serve — see SURVEY.md), extended with
LLM-data-pipeline operators (dedup, similarity search, multimodal
columns, text analysis) designed for 100 TB scale.

Public API:

- :func:`geoparquet_python_spark.session.get_spark`
- :func:`geoparquet_python_spark.io.load_table` / ``load_tables``
- :func:`geoparquet_python_spark.geo.io.read_geoparquet` /
  ``write_geoparquet`` (also exported here, with a ``to_geoparquet``
  alias matching the reference's method name —
  geoparquet/__init__.py:22–45≈ writer, :47–70≈ reader)
- :mod:`geoparquet_python_spark.functions` — vector / text / geo scalar
  function library (pure ``pyspark.sql.functions`` compositions where
  possible; Arrow UDFs otherwise)
- :mod:`geoparquet_python_spark.operators` — query registry (each entry
  is exported through ``__spark_entry__.queries()``)
"""

from geoparquet_python_spark.registry import QUERIES, ORACLES, query


def read_geoparquet(spark, path):
    """Reference-parity reader (module function, like the original):
    GeoParquet -> DataFrame with WKB geometry + recovered metadata."""
    from geoparquet_python_spark.geo.io import read_geoparquet as _r

    return _r(spark, path)


def to_geoparquet(df, path, **kwargs):
    """Reference-parity writer name (the original injects
    ``to_geoparquet`` onto GeoDataFrame; here it takes the DataFrame
    explicitly). Delegates to :func:`geo.io.write_geoparquet`."""
    from geoparquet_python_spark.geo.io import write_geoparquet as _w

    return _w(df, path, **kwargs)


__all__ = ["QUERIES", "ORACLES", "query", "read_geoparquet", "to_geoparquet"]
