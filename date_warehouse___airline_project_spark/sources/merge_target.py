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


class SwapInError(RuntimeError):
    """A swap-in failed after the live table was renamed aside, and the
    backup could not be put back: the table path is missing."""


class ParquetMergeTarget:
    """MERGE emulation over a parquet directory (see module docstring).

    Swap-in discipline: new state is fully written to a temp dir first,
    then the live dir is renamed aside and the temp renamed in — a crash
    can leave a brief reader-visible gap between the two renames, but
    never partial data, and the renamed-aside ``.old-*`` backup survives
    any crash for manual recovery. A swap that FAILS (raises) puts the
    backup back before re-raising, so the live table is exactly what it
    was; only when that restore also fails does ``SwapInError`` escape,
    naming the backup. TRUE reader-atomicity needs a transaction log —
    that is exactly what the Delta target provides. Single-writer by
    contract.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def exists(self) -> bool:
        return os.path.exists(self.path)

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def _swap_in(self, df: DataFrame) -> None:
        run = uuid.uuid4().hex[:8]
        tmp = f"{self.path}.tmp-{run}"
        try:
            df.write.mode("overwrite").parquet(tmp)
            if not os.path.exists(self.path):
                os.rename(tmp, self.path)
                return
            old = f"{self.path}.old-{run}"
            os.rename(self.path, old)  # atomic same-fs; data preserved
            try:
                os.rename(tmp, self.path)
            except BaseException:
                try:
                    os.rename(old, self.path)
                except OSError as restore:
                    raise SwapInError(
                        f"{self.path} is missing; its previous state is in {old}"
                    ) from restore
                raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        # only after the new state is live; a leftover backup is harmless
        shutil.rmtree(old, ignore_errors=True)

    def upsert(self, df: DataFrame, key: Sequence[str]) -> str:
        key = list(key)
        # enforce the per-key-uniqueness contract WITHIN the batch too
        # (Delta's MERGE errors on duplicate matches; here the kept row per
        # key is arbitrary — dedupe upstream if batch content matters)
        df = df.dropDuplicates(key)
        if not self.exists():
            df.write.mode("overwrite").parquet(self.path)
            return "inserted"
        existing = self.read()
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
        if not self.exists():
            new_dim = scd2_init(updates, batch_ts)
        else:
            new_dim = scd2_merge(self.read(), updates, natural_key, tracked, batch_ts)
        self._swap_in(new_dim)
        return self.read()


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
