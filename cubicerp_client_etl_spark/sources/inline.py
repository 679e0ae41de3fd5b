"""Inline base64 payload source (SURVEY A6).

Online jobs carry their file content in the job record itself
(``base64.b64decode(job['input_file'])`` feeding the CSV/TXT parsers,
cubicerpetl/cubicerpetl.py:205-214). Here the decoded payload becomes a
one-file ``(file, text)`` frame, the shape ``sources.lines.read_texts``
gives a file, so the downstream codec path (``parse_texts``) is the
same as the file-based one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cubicerp_client_etl_spark.sources.lines import decoded_sql


def read_inline_payload(
    spark: SparkSession, payload_b64: str, encoding: str = "UTF-8"
) -> DataFrame:
    """base64 text payload → one ``(file='<inline>', text)`` row, decoded
    as ``read_texts`` decodes a file's bytes (``decoded_sql``: an invalid
    UTF-8 byte reads as U+FFFD in both)."""
    # range + lit keeps the one-row frame in the JVM: no Python-pickled
    # scan for the payload; the payload stays one literal, so multi-MB
    # text never goes through the SQL parser
    df = spark.range(0, 1, 1, 1).select(F.lit(payload_b64).alias("b64"))
    return df.selectExpr(
        "'<inline>' AS file", f"{decoded_sql('unbase64(b64)', encoding)} AS text"
    )
