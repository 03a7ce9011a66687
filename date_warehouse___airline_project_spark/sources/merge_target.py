"""The one parquet table replaced whole (SURVEY §2.1 S5, §2.3 J4).

The reference's SCD2/upsert contract (table_configs.json:2-12 declares
scdType 2 with per-layer on_conflict keys; the merge itself ran in an
out-of-repo stored procedure) needs a transactional MERGE target. The
contract callers depend on:

  * ``upsert(df, key)``: last-write-wins per key, atomic for readers.
  * ``apply_scd2(updates, natural_key, tracked, batch_ts)``: apply one
    SCD2 batch (operators/scd2.py semantics) atomically.
  * ``read()`` / ``exists()``: current table state.
  * ``write(df, batch_id)`` / ``last_batch_id()``: replace the table
    whole, recording the batch id of an at-least-once stream in the
    same swap (the streams' state tables, the streamed SCD2 dim and
    ``sinks.compact_parquet`` write through it).

``ParquetMergeTarget`` is the one implementation, dependency-free: MERGE
emulated with joins + union (the same logical plan MERGE INTO produces —
one keyed shuffle per side), then a rewrite-the-world atomic directory
swap. Correct and idempotent, but O(table) I/O per batch and single-writer
only. A table format with a transaction log (Delta, Iceberg) would turn
``upsert`` into one incremental ``MERGE INTO``; this image has none, so no
such target is kept here.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from ..operators.scd2 import scd2_init, scd2_merge
from .swap import SwapInError, recover_rename_swap, rename_swap  # noqa: F401

_BATCH_ID_FILE = "_last_batch_id"  # underscore-prefixed: parquet readers skip it


class ParquetMergeTarget:
    """MERGE emulation over a parquet directory (see module docstring).

    Swap-in discipline (``write``): new state is fully written to a
    ``<path>.tmp-*`` sibling, with the caller's batch id in its
    ``_last_batch_id`` file, then ``sources/swap.py::rename_swap`` renames
    the live dir aside to ``<path>.old-*`` and the tmp in (a first write
    renames the tmp straight in, so no partial table is ever live). A
    swap that FAILS (raises) puts the backup back before re-raising, so
    the live table is exactly what it was; only when that restore also
    fails does ``SwapInError`` escape, naming the backup. A crash between
    the two renames leaves a backup and no live table: every mutation
    first runs ``recover`` (restoring the newest backup and sweeping
    stale siblings), and ``exists``/``read``/``last_batch_id`` run its
    reader form, which restores but never sweeps. TRUE reader-atomicity
    needs a transaction log, which a parquet directory does not have.
    Single-writer by contract.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def recover(self, sweep_orphans: bool = True) -> None:
        """Repair a swap interrupted between its two renames: restore the
        newest ``.old-*`` backup when no live dir exists (the pre-swap
        state is always consistent; an at-least-once batch redelivers on
        top of it) and, with ``sweep_orphans``, delete every leftover
        ``.old-*``/``.tmp-*`` sibling. ``sweep_orphans=False`` is the
        reader form: a ``.tmp-*`` may be a writer's in-flight build."""
        parent, base = os.path.split(self.path.rstrip("/"))
        recover_rename_swap(
            parent or ".", f"{base}.old-", f"{base}.tmp-", lambda _: base,
            sweep_orphans=sweep_orphans,
        )

    def exists(self) -> bool:
        self.recover(sweep_orphans=False)
        return os.path.exists(self.path)

    def read(self) -> DataFrame:
        self.recover(sweep_orphans=False)
        return self.spark.read.parquet(self.path)

    def last_batch_id(self) -> int:
        """The batch id recorded by the last ``write``, -1 if none."""
        self.recover(sweep_orphans=False)
        try:
            with open(os.path.join(self.path, _BATCH_ID_FILE), encoding="ascii") as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return -1

    def write(self, df: DataFrame, batch_id: int | None = None) -> None:
        """Replace the table with ``df`` (which may lazily read the live
        table: it is fully written before any rename), recording
        ``batch_id`` in the same swap when one is given. A failed write or
        swap leaves no ``.tmp-*`` behind."""
        token = uuid.uuid4().hex[:8]
        tmp = f"{self.path}.tmp-{token}"
        try:
            df.write.mode("overwrite").parquet(tmp)
            if batch_id is not None:
                with open(os.path.join(tmp, _BATCH_ID_FILE), "w", encoding="ascii") as f:
                    f.write(str(batch_id))
            rename_swap(tmp, self.path, f"{self.path}.old-{token}")
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def upsert(self, df: DataFrame, key: Sequence[str]) -> str:
        key = list(key)
        # enforce the per-key-uniqueness contract WITHIN the batch too
        # (Delta's MERGE errors on duplicate matches; here the kept row per
        # key is arbitrary — dedupe upstream if batch content matters)
        df = df.dropDuplicates(key)
        self.recover()
        if not os.path.exists(self.path):
            self.write(df)
            return "inserted"
        existing = self.spark.read.parquet(self.path)
        merged = existing.join(df.select(key), key, "left_anti").unionByName(
            df, allowMissingColumns=True
        )
        self.write(merged)
        return "upserted"

    def apply_scd2(
        self,
        updates: DataFrame,
        natural_key: Sequence[str],
        tracked: Sequence[str],
        batch_ts: str,
        batch_id: int | None = None,
    ) -> None:
        self.recover()
        if not os.path.exists(self.path):
            new_dim = scd2_init(updates, batch_ts)
        else:
            current = self.spark.read.parquet(self.path)
            new_dim = scd2_merge(current, updates, natural_key, tracked, batch_ts)
        self.write(new_dim, batch_id)
