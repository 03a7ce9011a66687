"""Transactional merge-target seam (SURVEY §2.1 S5, §2.3 J4).

The reference's SCD2/upsert contract (table_configs.json:2-12 declares
scdType 2 with per-layer on_conflict keys; the merge itself ran in an
out-of-repo stored procedure) needs a transactional MERGE target. The
contract callers depend on:

  * ``upsert(df, key)``: last-write-wins per key, atomic for readers.
  * ``apply_scd2(updates, natural_key, tracked, batch_ts)``: apply one
    SCD2 batch (operators/scd2.py semantics) atomically.
  * ``read()`` / ``exists()``: current table state.

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


class ParquetMergeTarget:
    """MERGE emulation over a parquet directory (see module docstring).

    Swap-in discipline: ``sources/swap.py::rename_swap``. New state is
    fully written to a ``<path>.tmp-*`` sibling, then the live dir is
    renamed aside to ``<path>.old-*`` and the tmp renamed in. A swap that
    FAILS (raises) puts the backup back before re-raising, so the live
    table is exactly what it was; only when that restore also fails does
    ``SwapInError`` escape, naming the backup. A crash between the two
    renames leaves a backup and no live table: every mutation first runs
    ``recover_rename_swap`` (restoring the newest backup and sweeping
    stale siblings), and ``exists``/``read`` run its reader form, which
    restores but never sweeps. TRUE reader-atomicity needs a transaction
    log, which a parquet directory does not have. Single-writer by
    contract.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _recover(self, sweep_orphans: bool = True) -> None:
        parent, base = os.path.split(self.path.rstrip("/"))
        recover_rename_swap(
            parent or ".", f"{base}.old-", f"{base}.tmp-", lambda _: base,
            sweep_orphans=sweep_orphans,
        )

    def exists(self) -> bool:
        self._recover(sweep_orphans=False)
        return os.path.exists(self.path)

    def read(self) -> DataFrame:
        self._recover(sweep_orphans=False)
        return self.spark.read.parquet(self.path)

    def _swap_in(self, df: DataFrame) -> None:
        run = uuid.uuid4().hex[:8]
        tmp = f"{self.path}.tmp-{run}"
        try:
            df.write.mode("overwrite").parquet(tmp)
            rename_swap(tmp, self.path, f"{self.path}.old-{run}")
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def upsert(self, df: DataFrame, key: Sequence[str]) -> str:
        key = list(key)
        # enforce the per-key-uniqueness contract WITHIN the batch too
        # (Delta's MERGE errors on duplicate matches; here the kept row per
        # key is arbitrary — dedupe upstream if batch content matters)
        df = df.dropDuplicates(key)
        self._recover()
        if not os.path.exists(self.path):
            df.write.mode("overwrite").parquet(self.path)
            return "inserted"
        existing = self.spark.read.parquet(self.path)
        merged = existing.join(df.select(key), key, "left_anti").unionByName(
            df, allowMissingColumns=True
        )
        self._swap_in(merged)
        return "upserted"

    def apply_scd2(
        self,
        updates: DataFrame,
        natural_key: Sequence[str],
        tracked: Sequence[str],
        batch_ts: str,
    ) -> DataFrame:
        self._recover()
        if not os.path.exists(self.path):
            new_dim = scd2_init(updates, batch_ts)
        else:
            current = self.spark.read.parquet(self.path)
            new_dim = scd2_merge(current, updates, natural_key, tracked, batch_ts)
        self._swap_in(new_dim)
        return self.spark.read.parquet(self.path)
