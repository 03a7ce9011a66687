"""Continuous time-bucketed aggregate maintenance — the "hypertable
rollup" / continuous-aggregate pattern.

The reference never aggregates its event stream (SURVEY §2.12 notes the
gap: per-record transforms only); this is the standard production shape
the engine adds: a persistent rollup table ``(bucket, event_type) →
(n_events, sum_value)`` maintained incrementally, so dashboards read a
tiny aggregate instead of rescanning the event log.

Correct-by-construction incrementality: COUNT and SUM are associative, so
``rollup(A ∪ B) = combine(rollup(A), rollup(B))`` keyed on (bucket,
event_type). Each micro-batch aggregates ONLY its own rows (map-side
combine, shuffle bounded by the batch's bucket×type cardinality) and folds
into the state table via the shared ``state_table.fold_into_state``
discipline — atomic swap-in, crash recovery, and at-least-once redelivery
made idempotent with the in-swap batch-id sidecar. ``sum_value`` is
carried as DECIMAL(18,6): decimal addition is exact and associative, so
the incremental fold is bit-identical to a from-scratch batch aggregate
regardless of how rows were split across micro-batches (a double sum
would drift with fold order).

At 100 TB: the state key space is bucket × event_type — the rollup IS the
compression, so state stays small relative to the stream. With a
transactional table format the fold becomes ``MERGE INTO`` touching only
the batch's dirty buckets (late data only reopens old buckets it actually
lands in); the parquet emulation rewrites the state dir and is the same
single-writer fallback documented in ``sources/merge_target.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .state_table import run_fold_stream

EVENT_SCHEMA = "ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"

_DEC = "decimal(18,6)"


def rollup_cells(rows: DataFrame, bucket: str = "hour") -> DataFrame:
    """Per-(time bucket, event_type) partial aggregate of one relation.

    ``bucket`` is a ``date_trunc`` unit. The same function produces the
    batch-recompute oracle when applied to the full event set.
    """
    return (
        rows.where(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .groupBy(
            F.date_trunc(bucket, F.col("ts")).alias("bucket"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.coalesce(F.col("value"), F.lit(0)).cast(_DEC)).cast(_DEC).alias("sum_value"),
        )
    )


def combine_rollups(state: DataFrame, batch: DataFrame) -> DataFrame:
    """Associative combine: keyed sum of partial counts and decimal sums."""
    return (
        state.unionByName(batch)
        .groupBy("bucket", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").cast(_DEC).alias("sum_value"),
        )
    )


def run_rollup_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
):
    """Maintain the continuous aggregate over a JSON-lines event drop dir.

    Each line is ``{"ts": ..., "user_id": ..., "event_type": ...,
    "value": ...}`` (the events-table shape). Returns the StreamingQuery;
    swap the file source for the Kafka consumer unchanged — the per-batch
    plan only needs the parsed event columns.
    """
    return run_fold_stream(
        spark, input_dir, state_dir, checkpoint_dir, "rollup_stream",
        lambda batch_df: rollup_cells(
            batch_df.select(F.from_json("value", EVENT_SCHEMA).alias("e")).select("e.*")
        ),
        combine_rollups,
    )
