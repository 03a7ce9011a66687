"""Transactional merge-target seam (SURVEY §2.1 S5, §2.3 J4).

The reference's SCD2/upsert contract (table_configs.json:2-12 declares
scdType 2 with per-layer on_conflict keys; the merge itself ran in an
out-of-repo stored procedure) needs a transactional MERGE target. This
module is the seam between that contract and whatever table format the
deployment has:

  ``MergeTarget`` — the contract:
    * ``upsert(df, key)``: last-write-wins per key, atomic for readers.
    * ``apply_scd2(updates, natural_key, tracked, batch_ts)``: apply one
      SCD2 batch (operators/scd2.py semantics) atomically.
    * ``read()`` / ``exists()``: current table state.

  ``DeltaMergeTarget`` — the production implementation: a single
    ``MERGE INTO`` / transactional overwrite on a Delta table. Incremental
    (touches only changed files), concurrent-writer-safe, time-travelable.
    Requires the ``delta-spark`` package + jars, which this container does
    NOT have — constructing it without them raises ImportError with the
    dependency named.

  ``ParquetMergeTarget`` — the dependency-free FALLBACK this repo runs on:
    MERGE emulated with joins + union (the same logical plan MERGE INTO
    produces — one keyed shuffle per side), then a rewrite-the-world
    atomic directory swap. Correct and idempotent, but O(table) I/O per
    batch and single-writer only. At 100 TB you want the Delta target for
    dims that churn; the parquet fallback remains fine for small dims and
    for test environments.

``make_merge_target`` picks Delta when importable, else parquet — callers
depend only on the contract.
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
    log — that is exactly what the Delta target provides. Single-writer
    by contract.
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


class DeltaMergeTarget:
    """Transactional Delta implementation of the MergeTarget contract.

    upsert → one ``MERGE INTO`` (whenMatchedUpdateAll /
    whenNotMatchedInsertAll); apply_scd2 → scd2_merge plan written as a
    transactional overwrite (or, incrementally, a MERGE closing changed
    versions + appending new ones). Needs delta-spark; import is deferred
    so environments without it can still import this module.
    """

    def __init__(self, spark: SparkSession, path: str):
        try:
            from delta.tables import DeltaTable  # noqa: F401
        except ImportError as e:  # pragma: no cover - container has no delta
            raise ImportError(
                "DeltaMergeTarget requires the delta-spark package and "
                "io.delta jars on the Spark classpath; use "
                "ParquetMergeTarget (make_merge_target falls back to it)"
            ) from e
        self.spark = spark
        self.path = path

    def exists(self) -> bool:  # pragma: no cover - needs delta
        from delta.tables import DeltaTable

        return DeltaTable.isDeltaTable(self.spark, self.path)

    def read(self) -> DataFrame:  # pragma: no cover - needs delta
        return self.spark.read.format("delta").load(self.path)

    def upsert(self, df: DataFrame, key: Sequence[str]) -> str:  # pragma: no cover
        from delta.tables import DeltaTable

        # same in-batch per-key-uniqueness contract as ParquetMergeTarget
        # (Delta MERGE errors when one target row matches multiple sources)
        df = df.dropDuplicates(list(key))
        if not self.exists():
            df.write.format("delta").mode("overwrite").save(self.path)
            return "inserted"
        cond = " AND ".join(f"t.{k} <=> s.{k}" for k in key)
        (
            DeltaTable.forPath(self.spark, self.path)
            .alias("t")
            .merge(df.alias("s"), cond)
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
        return "upserted"

    def apply_scd2(
        self,
        updates: DataFrame,
        natural_key: Sequence[str],
        tracked: Sequence[str],
        batch_ts: str,
    ) -> DataFrame:  # pragma: no cover - needs delta
        if not self.exists():
            new_dim = scd2_init(updates, batch_ts)
        else:
            new_dim = scd2_merge(self.read(), updates, natural_key, tracked, batch_ts)
        new_dim.write.format("delta").mode("overwrite").save(self.path)
        return self.read()


def make_merge_target(spark: SparkSession, path: str):
    """Delta when available, parquet emulation otherwise."""
    try:
        return DeltaMergeTarget(spark, path)
    except ImportError:
        return ParquetMergeTarget(spark, path)
