"""Python UDTF surface (SURVEY.md §2.G): a table function expanding each
document into (pos, token) rows through a LATERAL join — the UDTF
alternative to explode() for row-generating logic that needs imperative
Python. Kept to a filtered slice: UDTFs are the slow path (row-at-a-time
Python); explode/posexplode is the scale path for this exact shape, and
q_token_stats covers it. This query exists to certify the UDTF
machinery itself against the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import udtf
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from geoparquet_python_spark.io import load_table
from geoparquet_python_spark.registry import query

_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("pos", IntegerType()),
        StructField("token", StringType()),
    ]
)


@udtf(returnType=_SCHEMA)
class TokenExplode:
    """Yield (doc_id, position, token) per whitespace token."""

    def eval(self, doc_id: int, text: str):
        if text is None:
            return
        for i, tok in enumerate(text.split(" ")):
            yield doc_id, i, tok


@query(
    "q_udtf_tokens",
    oracle="""
    SELECT doc_id,
           generate_subscripts(str_split(text, ' '), 1) - 1 AS pos,
           unnest(str_split(text, ' ')) AS token
    FROM documents
    WHERE doc_id < 50
    ORDER BY doc_id, pos
    """,
)
def q_udtf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL Python-UDTF token expansion over a 50-doc slice."""
    spark.udtf.register("token_explode", TokenExplode)
    return spark.sql(
        """
        SELECT t.doc_id, t.pos, t.token
        FROM {docs} d, LATERAL token_explode(d.doc_id, d.text) t
        ORDER BY t.doc_id, t.pos
        """,
        docs=load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50),
    )
