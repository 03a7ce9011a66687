"""Dedup operators (SURVEY §2.4 A3/A4/A5, §2.5 W2).

The reference *quarantines* duplicates rather than dropping them, so every
dedup here keeps both sides (through the keep-first predicate) instead of
Spark's lossy ``dropDuplicates``. keep='first' is deterministic via the ingest
order column (see operators/order.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from .order import INGEST_COL, with_ingest_order

def first_per_key(keys: Sequence[str]) -> Column:
    """True on the first row of each ``keys`` group in ingest order (the
    ``_ingest_order`` column must be present): the keep-first predicate.

    One shuffle on the dedup key; at scale this is the canonical
    hash-partition + per-group row_number plan.
    """
    return F.row_number().over(W.partitionBy(*keys).orderBy(INGEST_COL)) == 1


def dedup_keep_first(
    df: DataFrame, keys: Sequence[str] | None = None
) -> tuple[DataFrame, DataFrame]:
    """Return (kept, dupes) with keep='first' in ingest order
    (keys=None → exact-row dedup over all columns)."""
    if INGEST_COL not in df.columns:
        df = with_ingest_order(df)
    key_cols = list(keys) if keys else [c for c in df.columns if c != INGEST_COL]
    marked = df.withColumn("_first", first_per_key(key_cols))
    kept = marked.filter(F.col("_first")).drop("_first")
    dupes = marked.filter(~F.col("_first")).drop("_first")
    return kept, dupes


def duplicate_groups(df: DataFrame, keys: Sequence[str], id_col: str) -> DataFrame:
    """Enumerate duplicate groups: key cols + occurrence count + the list of
    ids involved (reference functions.py:359-376 returns index pairs; the
    grouped form is the scalable equivalent — pair enumeration is quadratic
    in group size and materialized only per group here)."""
    return (
        df.groupBy(*keys)
        .agg(F.count("*").alias("n_dupes"), F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.col("n_dupes") > 1)
    )
