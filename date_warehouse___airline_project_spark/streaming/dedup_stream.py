"""Streaming incremental corpus dedup — the continuous form of
``plans/sketches.py::incremental_dedup_bloom``.

Each micro-batch of arriving documents is deduped in three layers:

  1. WITHIN the batch: keep the lowest doc_id per content fingerprint
     (a keyed aggregate — the same first-wins rule as the batch operator).
  2. AGAINST the accumulated corpus: anti-join the batch's fingerprints
     with the persistent fingerprint state table.
  3. State fold: the accepted fingerprints union-distinct into the state
     through the shared ``state_table.fold_into_state`` discipline —
     atomic swap-in, crash recovery, and the last-applied batch-id guard
     that makes at-least-once foreachBatch redelivery a no-op.

Accepted documents are written to ``out_dir/batch=<id>`` with overwrite,
so a redelivered batch rewrites its own partition instead of
double-appending — the output side is idempotent by construction, the
state side by the batch-id guard.

Scale shape: the state table is one row per distinct fingerprint — the
16-byte-key relation a production dedup keeps as a table. This module's
parquet emulation rewrites the state per batch (same trade as
``sources/merge_target.py``); with a transactional format present the
fold becomes an insert-only MERGE keyed on fingerprint, and at 100 TB
the state partitions by a fingerprint prefix so a batch touches only its
dirty partitions. The batch-side plan is identical either way: the
corpus-scale relation is the STATE, and the batch only ever joins
against it keyed on fingerprint — never a scan of accepted documents.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.merge_target import ParquetMergeTarget
from .state_table import (
    fold_into_state,
    guard_append_only,
    read_json_lines,
    read_watermark,
    start_foreach_batch,
    write_watermark,
)


def content_fingerprint(text_col: str = "text"):
    """Normalized-prefix md5 fingerprint — identical to the batch operator
    (plans/text.py::doc_fingerprint_dupes, plans/sketches.py::
    incremental_dedup_bloom), so stream and batch agree on what 'same
    content' means."""
    return F.md5(
        F.substring(
            F.regexp_replace(F.lower(F.trim(text_col)), r"\s+", " "), 1, 64
        )
    )


def merge_fingerprints(state: DataFrame, batch: DataFrame) -> DataFrame:
    """Union-distinct fold: the state is the SET of seen fingerprints."""
    return state.unionByName(batch).distinct()


def _catch_up_watermark(processed: DataFrame, wm_file: str) -> None:
    """Close the crash window between the state fold and the watermark
    write: a batch redelivered after that crash is skipped by the
    batch-id guard BEFORE the watermark logic runs, so the watermark
    would stay below the folded batch's max doc_id forever — and a later
    genuinely out-of-order batch whose ids fall in that gap would pass
    ``guard_append_only`` and fold silently (the exact wrong-canonical
    case the guard exists to reject).

    ``processed`` must be the batch rows whose content the state has
    actually PROCESSED (fingerprint witness — the call sites build it),
    NOT the whole redelivered batch: the batch-id guard proves some
    batch with this id was folded, not that this redelivery's CONTENT
    was. A fresh-checkpoint restart coalesces new drop-dir files into
    the replayed batch 0; advancing over those never-folded ids would
    block their legitimate re-feed forever with a misdiagnosis (the
    guard's error directs to a backfill revision for docs that were
    simply never ingested). Monotone: never moved backward."""
    hi = processed.agg(F.max("doc_id").alias("hi")).collect()[0]["hi"]
    if hi is not None and int(hi) > read_watermark(wm_file):
        write_watermark(wm_file, int(hi))


def _output_keepers(
    spark: SparkSession, out_dir: str, fp_col: str
) -> DataFrame | None:
    """(fp, keeper_doc_id) recovered from the per-batch output dirs: the
    min doc_id ever ACCEPTED for each fingerprint — exactly the keeper a
    keep-min batch recompute would crown, because under the append-only
    invariant the first-accepted doc has the lowest id. Every state
    fingerprint has a keeper here (accepted rows are written before the
    fold; a crash between the two leaves output ⊇ state, never ⊂).
    Returns None when no output rows exist yet (fileless dirs from
    all-duplicate batches are skipped — they hold no rows and would
    wedge schema inference). Only columns (doc_id, fp) are read —
    column pruning keeps this far cheaper than the text payload, and it
    runs only on the rare out-of-order / redelivery paths."""
    import os

    if not os.path.isdir(out_dir):
        return None
    dirs = [
        os.path.join(out_dir, n)
        for n in os.listdir(out_dir)
        if n.startswith("batch=")
        and any(
            not f.startswith(("_", "."))
            for f in os.listdir(os.path.join(out_dir, n))
        )
    ]
    if not dirs:
        return None
    return (
        spark.read.option("basePath", out_dir)
        .parquet(*dirs)
        .groupBy(fp_col)
        .agg(F.min("doc_id").alias("_keeper_id"))
    )


def _state_processed_docs(
    spark: SparkSession, state_dir: str, out_dir: str, batch_df: DataFrame
) -> DataFrame:
    """Batch rows the whole-doc state has processed, witnessed by
    (doc_id, fp) ATTRIBUTION, not content alone: the doc's fingerprint
    is in state AND its doc_id is >= the keeper doc_id recovered from
    the per-batch output dirs (``_output_keepers``). Content-only would
    silently skip a genuine sub-watermark backfill whose docs
    byte-duplicate folded content — a keep-min batch recompute would
    crown the LOWER doc_id as keeper, so streamed output and recompute
    would diverge on attribution. With the keeper check, such a backfill
    (doc_id < keeper) stays unprocessed and the out-of-order guard
    raises, directing to a backfill revision; a true replay (the keeper
    itself, doc_id == keeper, or a doc the fold deduped away,
    doc_id > keeper) passes. A doc whose fp is in state but absent from
    every output dir is treated as unprocessed (conservative — loud,
    never silently wrong)."""
    import os

    if not os.path.exists(state_dir):
        return batch_df.limit(0)
    state = spark.read.parquet(state_dir)
    keepers = _output_keepers(spark, out_dir, "fp")
    if keepers is None:
        return batch_df.limit(0)
    return (
        batch_df.withColumn("_fp", content_fingerprint("text"))
        .join(state.select(F.col("fp").alias("_fp")), "_fp", "semi")
        .join(keepers.select(F.col("fp").alias("_fp"), "_keeper_id"), "_fp")
        .filter(F.col("doc_id") >= F.col("_keeper_id"))
        .select(*batch_df.columns)
    )


def dedup_batch(docs: DataFrame, state: DataFrame | None) -> DataFrame:
    """Layers 1+2 for one batch: first-wins within the batch, then
    anti-join against the seen-fingerprint state. Returns accepted rows
    (doc_id, text, fp)."""
    fps = docs.withColumn("fp", content_fingerprint("text"))
    first_wins = (
        fps.groupBy("fp")
        .agg(F.min_by(F.struct("doc_id", "text"), "doc_id").alias("_w"))
        .select(F.col("_w.doc_id").alias("doc_id"), F.col("_w.text").alias("text"), "fp")
    )
    if state is None:
        return first_wins
    return first_wins.join(state, "fp", "left_anti")


def _run_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None,
    dedup: Callable[[DataFrame, DataFrame | None], DataFrame],
    processed_docs: Callable[[SparkSession, str, str, DataFrame], DataFrame],
    fp_col: str,
    query_name: str,
):
    """The incremental dedup runner both granularities share: each
    micro-batch's accepted rows ``dedup(batch_df, state)`` are written to
    ``out_dir/batch=<id>`` and their distinct ``fp_col`` values folded
    into the seen-fingerprint state. ``processed_docs(spark, state_dir,
    out_dir, batch_df)`` is the witness of the batch docs (a ``doc_id``
    column) whose content the state has already processed."""
    import os

    state = ParquetMergeTarget(spark, state_dir)
    state.recover()
    raw = read_json_lines(
        spark, input_dir, "doc_id LONG, text STRING", max_files_per_trigger
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Guard the WHOLE batch, not just the fold: a crash after the fold
        # but before the checkpoint commit redelivers the batch with its
        # own fingerprints already in state — recomputing 'accepted' then
        # would be empty and clobber the batch's output dir. Skipping the
        # redelivery keeps both effects (output dir + state) at their
        # already-correct values.
        if batch_df.isEmpty():
            # an empty batch must neither create a fileless state dir
            # (permanent schema-inference wedge) nor a fileless output
            # dir; the checkpoint owns source progress
            return
        wm_file = f"{state_dir}.max_doc_id"
        if batch_id <= state.last_batch_id():
            # already folded (possibly crashed before the watermark
            # write): catch the watermark up — over PROCESSED ids only —
            # so the append-only guard cannot later admit ids inside
            # this batch's folded range
            _catch_up_watermark(
                processed_docs(spark, state_dir, out_dir, batch_df), wm_file
            )
            return
        # enforce the append-only doc_id invariant: first-arrival-wins
        # state only matches the batch operator's keep-min semantics when
        # batches arrive in doc_id order — reject a backfill loudly
        # instead of silently crowning the wrong canonical. REPLAY
        # TOLERANCE (the release stream's rule): a checkpoint reset can
        # re-split old files into MORE batches than the original run, so
        # a batch id above last_applied may still be pure replay — if
        # every doc's content is already processed, skip cleanly instead
        # of wedging the stream forever; only novel content raises.
        try:
            batch_hi = guard_append_only(batch_df, read_watermark(wm_file))
        except ValueError:
            processed = processed_docs(spark, state_dir, out_dir, batch_df)
            if batch_df.join(
                processed.select("doc_id"), "doc_id", "left_anti"
            ).isEmpty():
                return  # pure replay under a re-split batch id
            raise
        # persist: the accepted plan (state anti-join + within-batch
        # dedup) is executed twice — once for the output dir, once for
        # the fold
        accepted = dedup(batch_df, state.read() if state.exists() else None).persist()
        try:
            # idempotent output: a redelivered batch overwrites its own dir
            accepted.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"batch={batch_id}")
            )
            fold_into_state(
                spark,
                state_dir,
                batch_id,
                accepted.select(fp_col).distinct(),
                merge_fingerprints,
            )
        finally:
            accepted.unpersist()
        # after the fold: a crash here redelivers the batch, whose id
        # guard skips it — the watermark then advances on the next batch
        write_watermark(wm_file, batch_hi)

    return start_foreach_batch(raw, process_batch, checkpoint_dir, query_name)


def run_incremental_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Continuously accept only never-seen documents from a JSON-lines
    drop dir (``{"doc_id": ..., "text": ...}`` per line).

    Returns the StreamingQuery. The file source swaps for the Kafka
    consumer unchanged — the batch plan needs only doc_id/text columns.
    ``max_files_per_trigger`` caps files per micro-batch (ingestion
    pacing; also how the replay-tolerance tests force a checkpoint reset
    to RE-SPLIT old files into more batches than the original run).
    """
    return _run_dedup_stream(
        spark, input_dir, state_dir, out_dir, checkpoint_dir,
        max_files_per_trigger, dedup_batch, _state_processed_docs, "fp",
        "incremental_dedup_stream",
    )


# ---------------------------------------------------------------------------
# Paragraph-granularity incremental dedup — the streaming form of
# plans/dedup.py::doc_paragraph_dedup (RefinedWeb granularity). Same three
# layers as the whole-doc stream above, but the unit of state is the
# PARAGRAPH fingerprint md5(ptxt): within-batch keep-first on
# (doc_id, para_idx), anti-join against the persistent seen-paragraph
# state, fold accepted fingerprints. A doc whose paragraphs all repeat
# earlier content contributes nothing; a doc repeating only some
# paragraphs survives partially — exactly the batch operator's semantics
# when batches arrive in doc_id order (pinned by the
# stream-equals-batch test).
# ---------------------------------------------------------------------------

_PARA_BLOCK_TOKENS = 16


def paragraph_fingerprints(
    docs: DataFrame, block_tokens: int = _PARA_BLOCK_TOKENS
) -> DataFrame:
    """(doc_id, para_idx, ptxt, pfp) off the shared batch segmentation
    (operators/text_dedup.py::paragraph_stream) so stream and batch agree
    on paragraph boundaries and normalization."""
    from ..operators.text_dedup import paragraph_stream

    p = paragraph_stream(docs, "doc_id", "text", block_tokens=block_tokens)
    return p.select(
        F.col("_id").alias("doc_id"),
        F.col("_para_idx").alias("para_idx"),
        F.col("_ptxt").alias("ptxt"),
        F.md5("_ptxt").alias("pfp"),
    )


def _state_processed_paragraph_docs(
    spark: SparkSession, state_dir: str, out_dir: str, batch_df: DataFrame
) -> DataFrame:
    """Batch docs the paragraph state has processed: EVERY paragraph
    fingerprint present in state with keeper attribution intact
    (doc_id >= the keeper doc_id recovered from the output dirs — see
    ``_state_processed_docs`` for why content-only witnessing diverges
    from a keep-min recompute on sub-watermark backfills). ANY-match
    would wrongly count a new doc sharing one paragraph with folded
    content. Docs that produce ZERO paragraph fingerprints (empty /
    whitespace-only text) are processed by definition — they contribute
    nothing to any fold — and must count as such: excluding them would
    fail the replay witness on a pure re-split replay batch carrying an
    empty doc and permanently wedge the stream on the out-of-order
    error, the exact wedge replay tolerance exists to remove."""
    import os

    paras = paragraph_fingerprints(batch_df)
    zero_para = (
        batch_df.select("doc_id")
        .distinct()
        .join(paras.select("doc_id").distinct(), "doc_id", "left_anti")
    )
    if not os.path.exists(state_dir):
        return zero_para
    keepers = _output_keepers(spark, out_dir, "pfp")
    if keepers is None:
        return zero_para
    state = spark.read.parquet(state_dir).select("pfp", F.lit(1).alias("_seen"))
    marked = paras.join(state, "pfp", "left").join(keepers, "pfp", "left")
    ok = F.col("_seen").isNotNull() & (F.col("doc_id") >= F.col("_keeper_id"))
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").alias("_n"),
            F.sum(ok.cast("long")).alias("_k"),
        )
        .filter(F.col("_n") == F.col("_k"))
        .select("doc_id")
        .unionByName(zero_para)
    )


def dedup_paragraph_batch(docs: DataFrame, state: DataFrame | None) -> DataFrame:
    """Layers 1+2 for one batch at paragraph granularity: keep the first
    (doc_id, para_idx) occurrence per fingerprint within the batch, then
    anti-join the persistent seen-paragraph state. Returns accepted
    paragraph rows (doc_id, para_idx, ptxt, pfp)."""
    from pyspark.sql import Window

    paras = paragraph_fingerprints(docs)
    w = Window.partitionBy("pfp").orderBy("doc_id", "para_idx")
    first = (
        paras.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if state is None:
        return first
    return first.join(state.select(F.col("pfp")), "pfp", "left_anti")


def run_incremental_paragraph_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Continuously accept only never-seen PARAGRAPHS from a JSON-lines
    drop dir (``{"doc_id": ..., "text": ...}`` per line). Output
    ``out_dir/batch=<id>`` holds the accepted paragraph rows; the state
    table holds one row per seen paragraph fingerprint. Same idempotence
    discipline as run_incremental_dedup_stream: whole-batch redelivery
    guard + per-batch overwrite output."""
    return _run_dedup_stream(
        spark, input_dir, state_dir, out_dir, checkpoint_dir,
        max_files_per_trigger, dedup_paragraph_batch,
        _state_processed_paragraph_docs, "pfp",
        "incremental_paragraph_dedup_stream",
    )
