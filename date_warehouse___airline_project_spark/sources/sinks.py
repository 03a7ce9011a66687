"""Sinks (SURVEY §2.1 S3/S4/S5/S12).

``write_quarantine_csv`` mirrors the reference's quarantine export
(cleaning.py:771-779): nulls as empty strings, a zero-row frame exported
as a single newline.

``safe_upsert`` reproduces the upsert→insert fallback ladder
(cleaning.py:165-199) against parquet paths (no Delta jars in this image;
with Delta this is a single ``MERGE INTO``). The upsert itself is
``sources.merge_target.ParquetMergeTarget.upsert`` — key-based anti-join
merge, last write wins per key, swapped in by
``sources/swap.py::rename_swap`` — so there is one merge
implementation; this module adds only the reference's insert fallback.
New code that does not need the fallback calls ``ParquetMergeTarget``
directly.

``append_log`` writes its few rows with pyarrow on the driver: a log
append is not worth a Spark job. ``write_parquet_file`` is its one
tmp-then-rename writer, shared with the eligibility stream's batch parts.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .merge_target import ParquetMergeTarget
from .swap import SwapInError


def write_quarantine_csv(df: DataFrame, path: str) -> None:
    """Single-CSV quarantine export, BYTE-identical to the reference's
    pandas export (cleaning.py:771-779):

      * non-empty → ``fillna('').to_csv(index=False, encoding='utf-8-sig')``
        — UTF-8 BOM, header, nulls as empty fields, embedded quotes
        doubled (csv.QUOTE_MINIMAL), '\\n' line ends, trailing newline;
      * empty → ``pd.DataFrame().to_csv(index=False)`` — a single '\\n',
        no header, no BOM (the reference drops the columns too).

    coalesce(1) is intentional: quarantine sets are small by contract
    (they're the anomaly tail); the clean side never funnels through one
    partition.
    """
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    out = df.na.fill("").coalesce(1)
    (
        out.write.mode("overwrite")
        .option("header", True)
        # pandas doubles embedded quotes (doublequote=True); Spark's
        # default escape is backslash — pin escape='"' for byte parity
        .option("escape", '"')
        # Spark writes empty strings as a quoted "" by default; pandas
        # writes an empty field
        .option("emptyValue", "")
        # Spark's writer trims cell whitespace by default; pandas doesn't
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .csv(path + ".tmp")
    )
    part = next(
        f for f in os.listdir(path + ".tmp") if f.startswith("part-") and f.endswith(".csv")
    )
    with open(os.path.join(path + ".tmp", part), "rb") as src, open(path, "wb") as dst:
        # the part file itself tells whether the frame had a row: Spark
        # writes the header line even for zero rows, so empty means no
        # byte after the first line (and no second Spark job to ask)
        header = src.readline()
        first = src.read(1)
        if not first:
            # reference's empty branch: a column-less to_csv -> exactly b"\n"
            dst.write(b"\n")
        else:
            # utf-8-sig: prepend the BOM while promoting the part file
            dst.write(b"\xef\xbb\xbf" + header + first)
            shutil.copyfileobj(src, dst)
    shutil.rmtree(path + ".tmp")


# bigint and string: the Spark types ``spark.createDataFrame`` infers
_LOG_TYPES = {int: pa.int64(), str: pa.string()}


def append_log(path: str, rows: list[dict]) -> None:
    """Append-only log-table write (etl_file_logs / etl_process_logs /
    pipeline_run_log shape, cleaning.py:88-121): one parquet file per call.

    The file carries the schema ``spark.createDataFrame(rows)`` infers —
    columns in sorted key order, int → bigint, str → string — so it reads
    back together with parts Spark wrote. A column with no value, with
    values of two types, or of another type raises ``TypeError``. The
    file is written by ``write_parquet_file``, so a reader never sees a
    partial file."""
    if not rows:
        return
    columns = {}
    for name in sorted({k for r in rows for k in r}):
        values = [r.get(name) for r in rows]
        kinds = {type(v) for v in values if v is not None}
        if len(kinds) != 1 or next(iter(kinds)) not in _LOG_TYPES:
            found = sorted(k.__name__ for k in kinds) or ["only None"]
            raise TypeError(f"log column {name!r} cannot be typed from {found}")
        columns[name] = pa.array(values, type=_LOG_TYPES[kinds.pop()])
    write_parquet_file(
        pa.table(columns), path, f"part-{uuid.uuid4().hex}-c000.snappy.parquet"
    )


def write_parquet_file(table: pa.Table, path: str, name: str) -> None:
    """Write ``table`` to the parquet file ``<path>/<name>``, creating the
    directory. The file is written under the hidden name ``.<name>``
    (Spark's and pyarrow's readers skip ``.``-prefixed files) and renamed
    into place, so a reader never sees a partial file, and writing the
    same name again replaces the file whole."""
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f".{name}")
    try:
        pq.write_table(table, tmp, compression="snappy")
        os.rename(tmp, os.path.join(path, name))
    finally:
        if os.path.exists(tmp):  # a failed write leaves no partial file
            os.remove(tmp)


def safe_upsert(df: DataFrame, path: str, key: list[str]) -> str:
    """Upsert df into the parquet table at ``path`` on ``key``.

    Returns the outcome tag ('upserted' | 'inserted') mirroring the
    reference's fallback ladder. New data wins on key collision. When the
    merge fails it falls back to appending the batch — but only if the
    failure left the live table as it was (``ParquetMergeTarget`` puts
    its backup back before re-raising). ``SwapInError`` means the table
    could not be restored, and an append would leave a table holding
    only this batch, so it propagates.
    """
    try:
        return ParquetMergeTarget(df.sparkSession, path).upsert(df, key)
    except SwapInError:
        raise
    except Exception:
        # fallback: plain append (reference's insert-on-upsert-failure)
        df.dropDuplicates(list(key)).write.mode("append").parquet(path)
        return "inserted"


def export_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
) -> None:
    """Write a training-export sharded corpus: rows land in
    ``<path>/shard=<s>/`` ordered by their deterministic in-shard position
    (the hash-shuffle contract of
    plans/training_data.py::doc_shard_export_assignment).

    Co-location before the partitioned write, same discipline as the IVF
    index write (operators/similarity.py::save_ivf_index): repartition on
    the shard key so each shard is written by one task as one run of
    files, then sortWithinPartitions fixes the in-file row order —
    without the exchange every input task would write a sliver into
    every shard dir (tasks × shards small files). At 100 TB the same
    plan holds with shuffle-partitions ≥ n_shards; shards write in
    parallel and readers stream one dir per worker.
    """
    from ..functions.hashing import hash56

    h = df.withColumn("_h56", hash56(F.col(id_col)))
    sharded = h.withColumn("shard", (F.col("_h56") % n_shards).cast("bigint"))
    (
        # sort leads with the partition column: the dynamic-partition writer
        # requires rows ordered by its partition cols and would re-sort (NOT
        # stably) if the child ordering didn't already satisfy that prefix
        sharded.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "_h56", id_col)
        .drop("_h56")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """OPTIMIZE-style small-file compaction: rewrite a parquet directory
    into ``ceil(total_bytes / target_file_bytes)`` files (>=1) and swap
    the result in atomically. Returns the new file count.

    Small files are the silent killer of scan throughput at 100 TB: every
    file costs a task, a footer read, and an open — a table ingested by
    many streaming micro-batches degrades until compacted. Production
    systems run this per table-partition under a transactional commit
    (Delta/Iceberg OPTIMIZE); this is the parquet emulation: the rewrite
    lands in a ``.tmp-*`` sibling and ``sources/swap.py::rename_swap``
    swaps it in, so readers see either the old layout or the new one,
    never a partial directory, and a failed swap leaves the old layout
    live. The rewrite goes through ``ParquetMergeTarget.write`` and keeps
    the table's recorded batch id, so a compacted stream state table
    still skips a redelivered batch. Row content is preserved exactly;
    intra-file order is not a contract (layout-only operation).

    The size estimate reads filesystem metadata only — no data pass
    beyond the single rewrite itself, which is one coalesce (no shuffle).
    """
    import math

    table = ParquetMergeTarget(spark, path)
    table.recover()
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n_files = max(1, math.ceil(total / target_file_bytes))
    batch_id = table.last_batch_id()
    # coalesce, not repartition: merging splits needs no shuffle
    table.write(
        spark.read.parquet(path).coalesce(n_files),
        batch_id if batch_id >= 0 else None,
    )
    return n_files


def backfill_partitions(df: DataFrame, path: str, partition_col: str) -> None:
    """Backfill: overwrite ONLY the table partitions present in ``df``,
    leaving every other partition untouched (dynamic partition overwrite).

    The operational pattern behind every logic fix over a date-partitioned
    100 TB table: recompute the affected date range and swap just those
    directories — static overwrite mode would drop the whole table, and
    append mode would duplicate the range. Idempotent per partition: re-
    running the same backfill converges to the same state.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )
