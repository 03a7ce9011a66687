"""Streaming curation pipeline — the continuous form of the batch
curation core (quality gate -> exact dedup -> per-source accounting).

Reference parity: the reference's cleaning service is a one-shot batch
endpoint (``backend/etl_scripts/cleaning.py``); a production corpus
curation deployment is continuous — documents arrive forever, and the
kept corpus plus its per-source token accounting must stay correct under
at-least-once redelivery. This module is that deployment shape, built
from operators the batch side already certifies:

  1. **Gate**: ``operators/quality.py::gopher_gate`` — literally the same
     Column tree the batch flagship (``plans/training_data.py::
     doc_curation_pipeline_v2``) filters with, which is what makes the
     stream-equals-batch test meaningful.
  2. **Dedup**: the three-layer incremental discipline of
     ``streaming/dedup_stream.py`` — within-batch first-wins, anti-join
     against the persistent seen-fingerprint state, fold accepted
     fingerprints into state.
  3. **Accounting**: per-source (n_docs, n_tokens) folded into a second
     state table by keyed sum — the continuously-maintained form of the
     batch accounting aggregate (registry query
     ``doc_curation_accounting``, which shares ``batch_curate`` below).

Crash-safety with TWO state tables: each fold carries its own
last-applied-batch-id guard (``state_table.fold_into_state``), and the
accounting fold derives from the batch's *materialized* accepted output
(``out_dir/batch=<id>``) rather than recomputing the anti-join — so a
crash between the fingerprint fold and the accounting fold redelivers a
batch whose fingerprints are already in state, the fingerprint side
skips, and the accounting side still folds the correct accepted rows it
reads back from the output dir. Every prefix of the effect sequence
(write output -> fold fingerprints -> fold accounting) is recoverable.

Stream-equals-batch contract: the cumulative kept corpus equals the
batch result when batches arrive in ascending ``doc_id`` order (then
first-arrival-wins == global min-doc_id-wins, the batch keep rule). The
per-source totals additionally match for ANY arrival order whenever
duplicate documents agree on (source, token count) — the usual case for
exact content duplicates, and the ordered case is what the test pins.

Scale: the corpus-scale relations are the two STATE tables (one row per
distinct fingerprint; one row per source). A batch only ever joins
against state keyed on fingerprint — accepted documents are never
re-scanned. The parquet state emulation rewrites per batch (same trade
as ``sources/merge_target.py``); with a transactional format the folds
become MERGEs and the guard moves to txn app-id/version idempotence.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.quality import gopher_gate
from ..sources.merge_target import ParquetMergeTarget
from .dedup_stream import content_fingerprint, merge_fingerprints
from .state_table import fold_into_state, read_json_lines, start_foreach_batch

ACCT_SCHEMA = "source STRING, n_docs BIGINT, n_tokens BIGINT"
_DOC_SCHEMA = "doc_id LONG, source STRING, text STRING"


def batch_curate(
    docs: DataFrame, fp_state: DataFrame | None, gated: DataFrame | None = None
) -> DataFrame:
    """Gate + first-wins dedup for one relation of (doc_id, source, text).

    Shared by the stream (per micro-batch, with the persistent state) and
    the batch registry query ``doc_curation_accounting`` (whole corpus,
    ``fp_state=None``) — one construction, certified once.

    ``gated`` lets a batch caller inject an already-memoized
    ``gopher_gate(docs.select(doc_id, source, text))`` relation so the
    five-regexp gate battery runs once per session across the whole
    curation family (plans/training_data.py::_gate_memo) instead of once
    per query. The stream never passes it — memoizing on a micro-batch
    relation would risk aliasing two batches whose logical plans
    canonicalize identically.

    Returns accepted rows (doc_id, source, text, n_tok, fp).
    """
    if gated is None:
        gated = gopher_gate(docs.select("doc_id", "source", "text"))
    fps = gated.withColumn("fp", content_fingerprint("text"))
    first_wins = (
        fps.groupBy("fp")
        .agg(F.min_by(F.struct("doc_id", "source", "text", "n_tok"), "doc_id").alias("_w"))
        .select(
            F.col("_w.doc_id").alias("doc_id"),
            F.col("_w.source").alias("source"),
            F.col("_w.text").alias("text"),
            F.col("_w.n_tok").alias("n_tok"),
            "fp",
        )
    )
    if fp_state is None:
        return first_wins
    return first_wins.join(fp_state, "fp", "left_anti")


def accounting_of(accepted: DataFrame) -> DataFrame:
    """Per-source doc/token totals of an accepted-documents relation."""
    return accepted.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    )


def merge_accounting(state: DataFrame, batch: DataFrame) -> DataFrame:
    """Associative keyed-sum fold for the accounting state table."""
    return (
        state.unionByName(batch)
        .groupBy("source")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


def run_curation_stream(
    spark: SparkSession,
    input_dir: str,
    fp_state_dir: str,
    acct_state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Continuously curate a JSON-lines drop dir
    (``{"doc_id": ..., "source": ..., "text": ...}`` per line).

    Returns the StreamingQuery. The file source swaps for the Kafka
    consumer unchanged — the batch plan needs only doc_id/source/text.
    """
    fp_state = ParquetMergeTarget(spark, fp_state_dir)
    acct_state = ParquetMergeTarget(spark, acct_state_dir)
    fp_state.recover()
    acct_state.recover()
    raw = read_json_lines(spark, input_dir, _DOC_SCHEMA)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_out = os.path.join(out_dir, f"batch={batch_id}")
        # Effect 1+2: accepted output + fingerprint fold, guarded together
        # on the fingerprint state's batch id (recomputing the anti-join
        # after its own fingerprints folded would wrongly yield empty).
        if batch_id > fp_state.last_batch_id():
            accepted = batch_curate(
                batch_df, fp_state.read() if fp_state.exists() else None
            )
            # idempotent output: a redelivered batch overwrites its own dir
            accepted.write.mode("overwrite").parquet(batch_out)
            fold_into_state(
                spark,
                fp_state_dir,
                batch_id,
                spark.read.parquet(batch_out).select("fp").distinct(),
                merge_fingerprints,
            )
        # Effect 3: accounting fold, independently guarded, sourced from
        # the materialized output so it never depends on recomputation.
        if batch_id > acct_state.last_batch_id():
            if os.path.exists(batch_out):
                acct = accounting_of(spark.read.parquet(batch_out))
            else:  # gate rejected the whole batch and nothing was written
                acct = spark.createDataFrame([], ACCT_SCHEMA)
            fold_into_state(
                spark, acct_state_dir, batch_id, acct, merge_accounting
            )

    return start_foreach_batch(raw, process_batch, checkpoint_dir, "curation_stream")


# ---------------------------------------------------------------------------
# v2: gate -> exact dedup -> NEAR-dup greedy rejection -> accounting
# ---------------------------------------------------------------------------


def batch_curate_v2(
    docs: DataFrame,
    fp_state: DataFrame | None,
    lsh_state: DataFrame | None,
    winners: DataFrame | None = None,
    sig: DataFrame | None = None,
) -> DataFrame:
    """The v2 curation core over one relation of (doc_id, source, text):
    Gopher gate -> exact-fingerprint first-wins (vs ``fp_state``) ->
    greedy near-dup rejection under signature jaccard (vs ``lsh_state``).

    Returns accepted rows (doc_id, source, text, n_tok, fp, _mh0.._mh15).
    Batch twin (both states None) is the registry query
    ``doc_curation_accounting_v2``; the stream folds the same construction
    per micro-batch — ONE certified pipeline, two deployments.

    Note the state split: exact-dedup fingerprints fold for every
    exact-WINNER (a later doc with the same content is a duplicate of the
    winner regardless of whether near-dup rejection later dropped that
    winner), while LSH signatures fold only for finally-ACCEPTED docs
    (greedy semantics — rejected docs never block anyone).

    ``winners`` lets a batch caller inject an already-memoized
    ``batch_curate(docs, fp_state)`` relation (shared with
    ``doc_curation_accounting``), and ``sig`` a precomputed signature
    relation over those winners (semi-joined from the session-memoized
    corpus signatures); the stream never passes either — see
    ``batch_curate``'s gated param for why.
    """
    from .neardup_stream import neardup_filter

    if winners is None:
        winners = batch_curate(docs, fp_state)
    return neardup_filter(winners, lsh_state, sig=sig)


def run_curation_v2_stream(
    spark: SparkSession,
    input_dir: str,
    fp_state_dir: str,
    lsh_state_dir: str,
    acct_state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Continuous v2 curation over a JSON-lines drop dir
    (``{"doc_id": ..., "source": ..., "text": ...}`` per line).

    THREE independently-guarded state folds per batch, every one derived
    from a MATERIALIZED relation so any crash point recovers on
    redelivery without recomputing acceptance against a mutated state:

      1. exact-winner fingerprints  -> ``fp_state_dir``   (from the
         winners sidecar ``out_dir/fps/batch=<id>``)
      2. accepted docs' LSH rows    -> ``lsh_state_dir``  (from the
         accepted output ``out_dir/accepted/batch=<id>``)
      3. per-source accounting      -> ``acct_state_dir`` (same source)

    The acceptance compute (and both idempotent output writes) is guarded
    by fold 1's batch id: once the fingerprints folded, recomputing the
    anti-join would wrongly reject the whole batch, so a redelivered
    batch goes straight to the remaining folds.
    """
    from .neardup_stream import merge_lsh_state, state_rows_of

    fp_state, lsh_state, acct_state = (
        ParquetMergeTarget(spark, d)
        for d in (fp_state_dir, lsh_state_dir, acct_state_dir)
    )
    for s in (fp_state, lsh_state, acct_state):
        s.recover()
    raw = read_json_lines(spark, input_dir, _DOC_SCHEMA)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from .neardup_stream import neardup_filter

        accepted_out = os.path.join(out_dir, "accepted", f"batch={batch_id}")
        fps_out = os.path.join(out_dir, "fps", f"batch={batch_id}")
        if batch_id > fp_state.last_batch_id():
            winners = batch_curate(
                batch_df, fp_state.read() if fp_state.exists() else None
            )
            winners.write.mode("overwrite").parquet(fps_out)
            accepted = neardup_filter(
                spark.read.parquet(fps_out),
                lsh_state.read() if lsh_state.exists() else None,
            )
            accepted.write.mode("overwrite").parquet(accepted_out)
            fold_into_state(
                spark,
                fp_state_dir,
                batch_id,
                spark.read.parquet(fps_out).select("fp").distinct(),
                merge_fingerprints,
            )
        if batch_id > lsh_state.last_batch_id():
            fold_into_state(
                spark,
                lsh_state_dir,
                batch_id,
                state_rows_of(spark.read.parquet(accepted_out)),
                merge_lsh_state,
            )
        if batch_id > acct_state.last_batch_id():
            acct = accounting_of(spark.read.parquet(accepted_out))
            fold_into_state(
                spark, acct_state_dir, batch_id, acct, merge_accounting
            )

    return start_foreach_batch(raw, process_batch, checkpoint_dir, "curation_v2_stream")
