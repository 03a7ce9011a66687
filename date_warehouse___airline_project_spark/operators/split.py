"""validity_split — the core cleaner shape (SURVEY §2.2 P1).

The reference builds a boolean mask and materializes df[mask] / df[~mask]
(cleaning.py:386-388 et al.). Spark-first: ONE validity expression, two
lazy filters off the same plan. Lazy means nothing is shared between
ACTIONS: a count or write of each branch re-runs the whole upstream plan
(for the transactions cleaner: 2 CSV scans and 4 exchanges over the two
branches, none reused, in the pre-AQE plans). Only inside one plan — the
branches unioned back together — does Spark reuse the shared exchange
(1 scan, 1 ``ReusedExchange``). A caller that runs several actions over
both branches should materialize them once, as ``pipelines/clean_file.py``
does with one tagged, checkpointed union.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def validity_split(
    df: DataFrame, valid: Column, reason: Column | None = None
) -> tuple[DataFrame, DataFrame]:
    """Return (clean, quarantine).

    ``reason`` optionally annotates quarantine rows with why they failed
    (the reference loses this; we keep it — it is free).

    Null semantics: a null predicate means *invalid* (pandas boolean masks
    treat NaN comparisons as False), so quarantine is ``NOT coalesce(valid,
    false)`` — clean ∪ quarantine == input, disjoint, always.
    """
    v = F.coalesce(valid, F.lit(False))
    tagged = df.withColumn("_valid", v)
    clean = tagged.filter(F.col("_valid")).drop("_valid")
    quarantine = tagged.filter(~F.col("_valid")).drop("_valid")
    if reason is not None:
        quarantine = quarantine.withColumn("quarantine_reason", reason)
    return clean, quarantine
