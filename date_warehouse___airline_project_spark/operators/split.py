"""with_quarantine_reason — the core cleaner shape (SURVEY §2.2 P1).

The reference builds a boolean mask and materializes df[mask] / df[~mask]
(cleaning.py:386-388 et al.). Here a cleaner states each check ONCE, as an
ordered list of ``(reason, predicate)`` rules, and gets back one relation
tagged with ``quarantine_reason``: the name of the first rule whose
predicate is not true, null when every rule holds. Clean rows are the ones
with a null reason, so clean ∪ quarantine == input, disjoint, always.

One relation, not two lazy filters: every action over a lazy branch
re-runs the whole upstream plan, so a caller that runs several actions
(counts, the staging write, the quarantine export) materializes the tagged
relation once and filters it, as ``pipelines/clean_file.py`` does.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

REASON_COL = "quarantine_reason"


def with_quarantine_reason(
    df: DataFrame, rules: Sequence[tuple[str, Column]]
) -> DataFrame:
    """Append ``quarantine_reason``: the first failing rule's name, or null.

    Null semantics: a null predicate is a failure (pandas boolean masks
    treat NaN comparisons as False), so a row whose check cannot be
    evaluated is quarantined under that check's name, never with an empty
    reason.
    """
    reason = F.lit(None).cast("string")
    for name, ok in reversed(rules):
        reason = F.when(F.coalesce(ok, F.lit(False)), reason).otherwise(F.lit(name))
    return df.withColumn(REASON_COL, reason)
