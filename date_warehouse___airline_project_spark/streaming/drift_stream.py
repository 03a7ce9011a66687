"""Streaming drift monitor: maintain the CURRENT-window PSI bin counts
incrementally over a value stream, report PSI against a frozen
reference histogram on demand.

This is the deployment shape of ``plans/profiling.py::profile_drift_psi``
— a retrain gate doesn't rescan the fact table per check; it keeps the
current-cohort histogram as mergeable state (fixed bin edges → per-bin
counts combine by SUM, the same algebra as the CMS cell table) and
compares against the reference snapshot whenever asked. State is
``_PSI_NBINS`` rows regardless of stream volume.

The fold reuses the shared state-table discipline (atomic swap,
batch-id idempotence guard, crash recovery — ``state_table.py``); the
report reuses the batch query's PSI math verbatim
(``plans/profiling.py::psi_report_from_counts``), so the
stream-equals-batch test pins ONE implementation of both halves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.profiling import _PSI_BINW, _PSI_NBINS, psi_report_from_counts
from .state_table import run_fold_stream


def psi_bin_counts(
    rows: DataFrame,
    value_col: str,
    binw: float = _PSI_BINW,
    nbins: int = _PSI_NBINS,
) -> DataFrame:
    """(bin, cnt) fixed-width histogram of one relation — defaults to
    the batch PSI query's binning (width ``_PSI_BINW``, top bin
    clamped) so stream state and batch cohorts are comparable; pass a
    finer grid to maintain a quantile-sketch histogram instead."""
    b = F.least(
        F.floor(F.col(value_col) / binw).cast("bigint"),
        F.lit(nbins - 1).cast("bigint"),
    )
    return rows.select(b.alias("bin")).groupBy("bin").agg(
        F.count("*").cast("bigint").alias("cnt")
    )


def merge_bins(state: DataFrame, batch: DataFrame) -> DataFrame:
    """Fold a batch's histogram into the state: per-bin count SUM."""
    return state.unionByName(batch).groupBy("bin").agg(
        F.sum("cnt").cast("bigint").alias("cnt")
    )


def run_drift_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    binw: float = _PSI_BINW,
    nbins: int = _PSI_NBINS,
):
    """Maintain the current-window PSI histogram over a line-delimited
    value drop dir (one numeric value per line — e.g. the order total
    feed). Returns the StreamingQuery; swap the file source for the
    Kafka consumer unchanged (the per-batch plan only needs a
    ``value`` column)."""
    return run_fold_stream(
        spark, input_dir, state_dir, checkpoint_dir, "drift_stream",
        lambda batch_df: psi_bin_counts(
            batch_df.select(F.col("value").cast("double").alias("v")).where(
                F.col("v").isNotNull()
            ),
            "v", binw, nbins,
        ),
        merge_bins,
    )


def psi_report(
    spark: SparkSession, state_dir: str, reference_bins: DataFrame
) -> DataFrame:
    """PSI terms + summary between a frozen reference histogram
    (bin, cnt) and the stream-maintained current histogram. Identical
    math to the batch registry query — same helper, same rounding."""
    cur = spark.read.parquet(state_dir).select(
        "bin", F.col("cnt").alias("cur_cnt")
    )
    ref = reference_bins.select("bin", F.col("cnt").alias("ref_cnt"))
    counts = ref.join(cur, "bin", "full_outer").select(
        "bin",
        F.coalesce("ref_cnt", F.lit(0)).cast("bigint").alias("ref_cnt"),
        F.coalesce("cur_cnt", F.lit(0)).cast("bigint").alias("cur_cnt"),
    )
    return psi_report_from_counts(spark, counts)


def quantile_report(
    spark: SparkSession, state_dir: str, probes: list[float], binw: float
) -> DataFrame:
    """(p, est_q) quantile estimates straight off the stream-maintained
    histogram state — the histogram IS a quantile sketch; the read path
    is the batch query's interpolation helper verbatim
    (``plans/sketches.py::histogram_quantiles``)."""
    from ..plans.sketches import histogram_quantiles

    counts = spark.read.parquet(state_dir).select("bin", F.col("cnt").alias("n"))
    return histogram_quantiles(spark, counts, probes, binw)
