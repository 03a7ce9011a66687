"""Incremental Count-Min sketch maintenance over a stream.

CMS cells are pure counts, so the sketch is MERGEABLE: cells(A ∪ B) =
cells(A) + cells(B) summed per (depth, cell). That makes the streaming
form trivial-by-construction — each micro-batch builds its own cell
counts (one explode + map-side-combined aggregate, exactly the batch
query's plan) and folds them into a persistent state table with a
sum-merge. No per-key state store is needed: the state is the d×w cell
table itself, bounded regardless of stream cardinality — the reason
sketches are the scale path for streaming frequency tracking.

State writes go through the same temp-dir + rename swap discipline as
``sources.merge_target``. foreachBatch is AT-LEAST-ONCE: a crash after
the state swap but before the streaming checkpoint commits re-delivers
the batch, and a sum-merge is not idempotent — so the last-applied
``batch_id`` is written INSIDE the state dir in the same atomic swap,
and ``process_batch`` skips any batch_id already folded. A crash landing
between the two swap renames (no live state dir) is recovered at stream
start by restoring the newest ``.old-*`` backup; the interrupted batch
then redelivers and re-applies on top. Stale ``.tmp-*``/``.old-*``
siblings from prior crashes are swept at stream start so restarts don't
accumulate orphaned state copies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import seeded_bucket

# Swap/recovery/idempotence discipline shared with the continuous-
# aggregate rollup — one definition in state_table.py.
from .state_table import run_fold_stream


def cms_cells(rows: DataFrame, key_col: str, depth: int = 3, width: int = 256) -> DataFrame:
    """(d, cell, cnt) Count-Min cell counts for one relation — the same
    construction as plans/sketches.py::cms_frequency_sketch."""
    seeds = F.array(*[F.lit(d) for d in range(depth)])
    return (
        rows.select(F.col(key_col), F.explode(seeds).alias("d"))
        .groupBy("d", seeded_bucket(F.col(key_col), F.col("d"), width).alias("cell"))
        .agg(F.count("*").alias("cnt"))
    )


def merge_cells(state: DataFrame, batch: DataFrame) -> DataFrame:
    """Fold a batch's cells into the state: per-(d, cell) count sum."""
    return (
        state.unionByName(batch)
        .groupBy("d", "cell")
        .agg(F.sum("cnt").alias("cnt"))
    )


def _keys(batch_df: DataFrame, key_col: str = "user_id") -> DataFrame:
    """One long key per line; unparseable lines dropped."""
    return batch_df.select(F.col("value").cast("long").alias(key_col)).where(
        F.col(key_col).isNotNull()
    )


def _grouped_keys(batch_df: DataFrame) -> DataFrame:
    """(grp, user_id) from ``group,key`` lines; incomplete lines dropped."""
    parts = F.split(F.col("value"), ",")
    return batch_df.select(
        parts.getItem(0).alias("grp"),
        parts.getItem(1).cast("long").alias("user_id"),
    ).where(F.col("grp").isNotNull() & F.col("user_id").isNotNull())


def run_cms_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
):
    """Maintain a persistent CMS over a line-delimited key drop dir.

    Returns the StreamingQuery. Swap the file source for the Kafka
    consumer (``eligibility_stream.kafka_messages_source``) unchanged —
    the per-batch plan only needs a ``value``-shaped column.
    """
    return run_fold_stream(
        spark, input_dir, state_dir, checkpoint_dir, "cms_stream",
        lambda batch_df: cms_cells(_keys(batch_df), "user_id"),
        merge_cells,
    )


def merge_registers(state: DataFrame, batch: DataFrame) -> DataFrame:
    """Fold a batch's HLL registers into the state: per-idx rank MAX."""
    return (
        state.unionByName(batch)
        .groupBy("idx")
        .agg(F.max("r").alias("r"))
    )


def run_hll_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
):
    """Maintain a persistent HyperLogLog register table over a
    line-delimited key drop dir.

    Register MAX is idempotent AND associative, so unlike the CMS
    sum-merge the fold would tolerate redelivery even without the
    batch-id guard — the shared ``fold_into_state`` discipline still
    applies it, which also covers the swap/recovery semantics. The state
    is <= m rows regardless of stream cardinality; the distinct-count
    estimate is computed from the register table on read (see
    ``plans/sketches.py::hll_distinct_sketch`` for the estimator).
    """
    from ..plans.sketches import hll_registers

    return run_fold_stream(
        spark, input_dir, state_dir, checkpoint_dir, "hll_stream",
        lambda batch_df: hll_registers(_keys(batch_df, key_col), key_col),
        merge_registers,
    )


def bloom_bits(rows: DataFrame, key_col: str, m: int = 4096, k: int = 3) -> DataFrame:
    """(bit) distinct Bloom bit rows for one relation — the same
    construction as plans/sketches.py::bloom_membership_sketch."""
    seeds = F.array(*[F.lit(j) for j in range(k)])
    return (
        rows.select(F.col(key_col), F.explode(seeds).alias("j"))
        .select(seeded_bucket(F.col(key_col), F.col("j"), m).alias("bit"))
        .distinct()
    )


def merge_bits(state: DataFrame, batch: DataFrame) -> DataFrame:
    """Union-distinct fold: Bloom state is the SET of set bits (bit-OR)."""
    return state.unionByName(batch).distinct()


def run_bloom_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
):
    """Maintain a persistent Bloom bit set over a line-delimited key drop
    dir. Bit-OR (union-distinct here) is idempotent AND associative like
    the HLL register MAX, so redelivery would be harmless even without
    the shared batch-id guard; the fold still goes through
    ``fold_into_state`` for the swap/recovery semantics. State is <= m
    rows at any stream cardinality; probes join the broadcast bit set
    exactly as in the batch query.
    """
    return run_fold_stream(
        spark, input_dir, state_dir, checkpoint_dir, "bloom_stream",
        lambda batch_df: bloom_bits(_keys(batch_df), "user_id"),
        merge_bits,
    )


def merge_grouped_registers(state: DataFrame, batch: DataFrame) -> DataFrame:
    """Fold grouped HLL registers: per-(group, idx) rank MAX."""
    return (
        state.unionByName(batch)
        .groupBy("grp", "idx")
        .agg(F.max("r").alias("r"))
    )


def run_grouped_hll_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
):
    """Maintain per-group HyperLogLog registers over a drop dir of
    ``group,key`` CSV lines — the continuously-maintained form of
    plans/sketches.py::hll_grouped_daily_uniques (daily unique users).

    State is <= groups x m rows; the per-(group, idx) register MAX is
    idempotent and associative, so late/out-of-order arrivals for ANY
    group — including days long since 'closed' — fold correctly with no
    reprocessing window, which is the operational advantage of sketch
    state over exact per-day distinct sets.
    """
    from ..plans.sketches import hll_registers

    return run_fold_stream(
        spark, input_dir, state_dir, checkpoint_dir, "grouped_hll_stream",
        lambda batch_df: hll_registers(_grouped_keys(batch_df), "user_id", ["grp"]),
        merge_grouped_registers,
    )


def cms_estimate_report(
    spark: SparkSession,
    state_dir: str,
    keys: DataFrame,
    key_col: str,
    depth: int = 3,
    width: int = 256,
) -> DataFrame:
    """(key, cms_estimate) frequency estimates for the given keys off the
    stream-maintained cell table: each key probes its d cells (same
    ``seeded_bucket`` family as the fold's ``cms_cells``) and takes the
    MIN — the batch query's probe shape against persistent state. The
    state is ≤ d×w rows, so it broadcasts at any stream volume."""
    cells = spark.read.parquet(state_dir)
    seeds = F.array(*[F.lit(d) for d in range(depth)])
    probe = keys.select(key_col, F.explode(seeds).alias("d")).select(
        key_col,
        "d",
        seeded_bucket(F.col(key_col), F.col("d"), width).alias("cell"),
    )
    return (
        probe.join(F.broadcast(cells), ["d", "cell"])
        .groupBy(key_col)
        .agg(F.min("cnt").cast("bigint").alias("cms_estimate"))
    )


def hll_estimate_report(spark: SparkSession, state_dir: str) -> DataFrame:
    """(n_registers_set, hll_estimate) distinct-count estimate off the
    stream-maintained register table — the batch query's small-range-
    corrected estimator verbatim (``plans/sketches.py::
    hll_estimate_summary``). State is ≤ m rows at any stream volume."""
    from ..plans.sketches import hll_estimate_summary

    regs = spark.read.parquet(state_dir)
    return hll_estimate_summary(regs).select(
        "n_registers_set",
        F.round(F.col("_corrected"), 4).alias("hll_estimate"),
    )


def bloom_membership_report(
    spark: SparkSession,
    state_dir: str,
    keys: DataFrame,
    key_col: str,
    m: int = 4096,
    k: int = 3,
) -> DataFrame:
    """(key, maybe_member) membership probes against the stream-
    maintained Bloom bit set: a key is a possible member iff all k of
    its bits are set (the batch query's probe shape). The bit relation
    is ≤ m rows — broadcast at any stream volume; definite negatives
    are exact, positives carry the usual false-positive rate."""
    bits = spark.read.parquet(state_dir).withColumn("_found", F.lit(1))
    seeds = F.array(*[F.lit(j) for j in range(k)])
    probe = keys.select(key_col, F.explode(seeds).alias("j")).select(
        key_col, seeded_bucket(F.col(key_col), F.col("j"), m).alias("bit")
    )
    return (
        probe.join(F.broadcast(bits), "bit", "left")
        .groupBy(key_col)
        .agg(
            (F.sum(F.coalesce(F.col("_found"), F.lit(0))) == k).alias("maybe_member")
        )
    )
