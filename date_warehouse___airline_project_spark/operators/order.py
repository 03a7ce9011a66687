"""Ingest-order injection and order-dependent id repair (SURVEY §2.5 W1/W2,
§4 "known-hard list" #1).

The reference depends on file order twice: keep-first dedup and the
transaction-id forward-fill repair (cleaning.py:554-570). A naive
``Window.orderBy(order)`` with no partition key is a single-task global
sort — unacceptable at scale. ``ffill_repair_ids`` instead does the
classic two-pass scan fix-up:

  pass 1 (parallel): partition-local last-valid-id via a window
          partitioned by spark_partition_id(); unless the input is
          already one partition, the plan hash-partitions the rows on
          that id (a shuffle of the data, each input partition kept
          whole in one task)
  pass 2 (tiny): one row per partition (last valid id) aggregated,
          prefix-carried on the driver (bounded by #partitions, like a
          dim fetch), broadcast-joined back. Skipped when the input is
          planned as one partition, whose carry-in is always null.

No global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

INGEST_COL = "_ingest_order"
_PID = "_ingest_pid"


def with_ingest_order(df: DataFrame) -> DataFrame:
    """Attach a stable ingest-order column.

    ``monotonically_increasing_id`` encodes (partition id << 33 | row seq):
    monotonic within a partition and ordered across partitions in split
    order, which for a single-file scan is file order — the same
    determinism contract the reference's pandas index provides.
    """
    return df.withColumn(INGEST_COL, F.monotonically_increasing_id())


def ffill_repair_ids(df: DataFrame, id_col: str, valid_regex: str = "^[0-9]+$") -> DataFrame:
    """Repair invalid ids with (last valid numeric id so far) + 1.

    Reference semantics (cleaning.py:554-570): coerce non-matching ids to
    null, forward-fill the last numeric id in ingest order, invalid rows
    get prev+1. Rows before any valid id stay null (quarantined later).

    Building the result runs a Spark job (pass 2's bounds) only when the
    input is not known to be one partition.
    """
    if INGEST_COL not in df.columns:
        df = with_ingest_order(df)
    one_partition = _planned_as_one_partition(df)
    df = df.withColumn(_PID, F.spark_partition_id())
    numeric = F.when(F.col(id_col).rlike(valid_regex), F.col(id_col).cast("long"))
    df = df.withColumn("_id_num", numeric)

    # pass 1: partition-local forward fill (no cross-partition dependency)
    local_w = (
        W.partitionBy(_PID).orderBy(INGEST_COL).rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    df = df.withColumn("_local_ffill", F.last("_id_num", ignorenulls=True).over(local_w))

    if one_partition:
        repaired = F.col("_local_ffill")
    else:
        df = _join_carry_in(df)
        repaired = F.coalesce(F.col("_local_ffill"), F.col("_carry_in"))
    return (
        df.withColumn(
            id_col,
            F.when(F.col("_id_num").isNotNull(), F.col(id_col)).otherwise(
                (repaired + 1).cast("string")
            ),
        )
        .drop(_PID, "_id_num", "_local_ffill", "_carry_in")
    )


def _planned_as_one_partition(df: DataFrame) -> bool:
    """Whether ``df``'s physical plan has exactly one partition, read off
    the planned RDD without running a job. An adaptive plan (one with a
    shuffle) learns its final partition count only by running its
    shuffles, so it counts as not one partition."""
    qe = df._jdf.queryExecution()
    if qe.executedPlan().getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return False
    return qe.toRdd().getNumPartitions() == 1


def _join_carry_in(df: DataFrame) -> DataFrame:
    """Pass 2: attach ``_carry_in``, the last valid id of all earlier
    partitions, to every row of ``df``."""
    # pass 2: last valid id per partition → prefix carry-in per partition.
    # ONE aggregate over every partition (valid-less partitions included —
    # their _last_valid comes back null), so no extra distinct() scan just
    # to enumerate pids. One row per partition: a bounded driver-side fold,
    # not a data collect.
    bounds = (
        df.groupBy(_PID)
        .agg(
            F.max_by(
                "_id_num",
                F.when(F.col("_id_num").isNotNull(), F.col(INGEST_COL)),
            ).alias("_last_valid")
        )
        .collect()
    )
    last_by_pid = {r[_PID]: r["_last_valid"] for r in bounds}
    carry_rows: list[tuple[int, int | None]] = []
    running = None
    for pid in sorted(last_by_pid):
        carry_rows.append((pid, running))
        if last_by_pid[pid] is not None:
            running = last_by_pid[pid]
    # Ship the {pid: carry} map as DATA (tiny broadcast-joined DataFrame),
    # not as an expression: a when()-chain here is O(#partitions) in
    # expression-tree size and chokes Catalyst analysis at ~1e5 input
    # splits; the broadcast join stays constant-size in the plan.
    carry_df = df.sparkSession.createDataFrame(
        carry_rows, schema=f"{_PID} int, _carry_in long"
    )
    return df.join(F.broadcast(carry_df), on=_PID, how="left")
