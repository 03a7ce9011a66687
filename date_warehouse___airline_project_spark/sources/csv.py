"""CSV ingest (SURVEY §2.1 S1/S2) — all-string scan with header-derived,
sanitized column names.

The reference reads every CSV with ``dtype=str`` (cleaning.py:538) and
derives staging DDL from sanitized headers (server.js:47-113). Spark
mirror: ``header=True`` WITHOUT ``inferSchema`` (all columns arrive as
StringType — typing happens in the cleaning layer, §1.2), then a
column-rename pass applying the same sanitize rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.strings import header_sanitize


def read_csv_all_string(spark: SparkSession, path: str, sanitize: bool = True) -> DataFrame:
    df = (
        spark.read.option("header", True)
        .option("encoding", "UTF-8")
        .option("mode", "PERMISSIVE")
        .csv(path)
    )
    if sanitize:
        renames = {c: header_sanitize(c) or c for c in df.columns}
        df = df.withColumnsRenamed(renames)
    return df
