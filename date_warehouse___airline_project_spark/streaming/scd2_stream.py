"""Streaming SCD2 dimension maintenance — the CDC-fed warehouse path.

Reference dataflow: the watcher forwards outbox INSERTs into the pipeline
that lands staging → dim → fact (supabaseWatcher.js:36-63 feeding the
table_configs.json:2-12 scdType-2 layers; execution lived in the
out-of-repo ``start_passenger_etl_pipeline`` stored procedure). Here the
same maintenance runs as a Structured Streaming ``foreachBatch`` loop:
each micro-batch of update rows is SCD2-merged into a persistent
dimension state table with the exact semantics of the batch operator
(``operators/scd2.py`` — close-old / open-new / insert-new / no-op).

Idempotence discipline (shared with every state table in this package,
see ``state_table.py``): foreachBatch is AT-LEAST-ONCE, and an SCD2 merge
is NOT idempotent when re-applied with a different batch timestamp — so
the last-applied batch id is recorded inside the dim dir in the same
atomic swap, and a redelivered batch id is skipped outright. The batch's
effective timestamp is derived deterministically FROM THE BATCH ROWS
(max of the event-time column), never from the wall clock, so even a
replay that somehow bypassed the guard would re-derive the same
``_valid_from``/``_valid_to`` edges.

At 100 TB the dim stays small relative to facts (it is versioned truth,
one row per key-version), so the full-dim rewrite per micro-batch is the
standard treatment; with a transactional table format present the swap
becomes ``MERGE INTO`` + txnVersion idempotence, plan unchanged.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.merge_target import ParquetMergeTarget
from .state_table import start_foreach_batch


def apply_scd2_batch(
    spark: SparkSession,
    dim_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    natural_key: Sequence[str],
    tracked: Sequence[str],
    ts_col: str,
) -> None:
    """Merge one micro-batch of update rows into the persistent SCD2 dim.

    ``batch_df`` carries ``natural_key + tracked + ts_col``; the batch's
    effective timestamp is ``max(ts_col)`` over the batch (deterministic
    under replay). Re-applying an already-applied ``batch_id`` is a no-op;
    an empty batch still records its id (so a redelivered empty batch
    cannot interleave with later state).
    """
    dim = ParquetMergeTarget(spark, dim_dir)
    if batch_id <= dim.last_batch_id():
        return
    up = batch_df.select(*natural_key, *tracked, F.col(ts_col).alias("_ts"))
    head = up.agg(F.max("_ts").alias("m")).first()
    if head["m"] is None:  # empty batch — state unchanged, id recorded
        if dim.exists():
            dim.write(dim.read(), batch_id)
        return  # else nothing to version yet and nothing to guard
    # Keep fractional seconds: two micro-batches whose max event times
    # fall within the same second must still produce distinct
    # _valid_from/_valid_to edges, or the SCD2 intervals collapse to
    # zero width. isoformat preserves microseconds when present.
    batch_ts = (
        head["m"] if isinstance(head["m"], str) else head["m"].isoformat(sep=" ")
    )
    dim.apply_scd2(up.drop("_ts"), natural_key, tracked, batch_ts, batch_id)


def run_scd2_stream(
    updates: DataFrame,
    dim_dir: str,
    checkpoint_dir: str,
    natural_key: Sequence[str],
    tracked: Sequence[str],
    ts_col: str,
):
    """Maintain an SCD2 dim off a stream of update rows.

    ``updates`` is any streaming DataFrame carrying ``natural_key +
    tracked + ts_col`` — a file stream over a staging drop dir, the
    outbox change feed's ``new.*`` projection, or a Kafka topic; the
    merge plan is source-agnostic. Returns the StreamingQuery.
    """
    ParquetMergeTarget(updates.sparkSession, dim_dir).recover()

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_scd2_batch(
            batch_df.sparkSession,
            dim_dir,
            batch_df,
            batch_id,
            natural_key,
            tracked,
            ts_col,
        )

    return start_foreach_batch(updates, process_batch, checkpoint_dir, "scd2_stream")
