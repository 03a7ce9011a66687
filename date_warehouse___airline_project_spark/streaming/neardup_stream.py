"""Streaming NEAR-duplicate rejection — the continuous form of
``plans/dedup.py::doc_neardup_greedy_keep``.

The exact-dedup stream (``dedup_stream.py``) rejects only byte-identical
content; a continuous curation deployment also needs near-dup rejection
(an arriving article that lightly paraphrases an accepted one). The
streaming-viable criterion is SIGNATURE jaccard — the count of matching
MinHash components — because verifying an arriving doc then needs only
the k-long signatures of accepted docs, never their shingle sets (which
would make the state corpus-sized).

Accept rule (greedy by arrival): an arriving doc is accepted iff it is
not a near-dup (>= ``min_agree`` of k matching components) of any
previously ACCEPTED doc, with ascending-doc_id greedy resolution inside
a batch. When batches arrive in doc_id order this equals the batch twin
``doc_neardup_greedy_keep`` exactly — the stream-equals-batch test pins
it. (Greedy, not connected-component canonicalization: a late doc that
bridges two accepted clusters must not retract an earlier accept, which
an append-only stream cannot do.)

State: ONE table holding the LSH bucket index of accepted docs —
``(doc_id, _band_idx, _band_hash, _mh0.._mh{k-1})``, ``bands`` rows per
accepted doc. Candidates are an equi-join of the arriving batch's band
rows against it; the signatures ride along for the verify, so a batch
touches state only through that keyed join. At 100 TB the state
partitions by a ``_band_hash`` prefix (bucket pruning) and the parquet
rewrite-per-batch becomes an insert-only MERGE, same trade as every
state table here (``state_table.py``).

Crash-safety: single state, so the ``dedup_stream`` discipline applies
unchanged — idempotent per-batch output dir written BEFORE the
batch-id-guarded state fold; the fold derives band rows from the
MATERIALIZED output, so redelivery never recomputes acceptance against
a state that already contains the batch.

Every construction is shared with the batch side
(``operators/text_dedup.py``: minhash_signatures, band_rows,
sig_verify_pairs, greedy_keep) — one certification, two deployments.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text_dedup import (
    band_rows,
    greedy_keep,
    minhash_signatures,
    sig_verify_pairs,
)
from ..sources.merge_target import ParquetMergeTarget
from .state_table import fold_into_state, read_json_lines, start_foreach_batch

_N, _K, _BANDS, _MIN_AGREE = 3, 16, 4, 8


def _mh_cols(k: int = _K) -> list[str]:
    return [f"_mh{i}" for i in range(k)]


def neardup_batch(docs: DataFrame, lsh_state: DataFrame | None) -> DataFrame:
    """One batch of (doc_id, text) through the near-dup accept rule.

    Returns accepted rows (doc_id, text, _mh0.._mh15 — null for docs too
    short to shingle, which can never be near-dup evidence and are always
    accepted).
    """
    return neardup_filter(docs, lsh_state).select("doc_id", "text", *_mh_cols())


def neardup_filter(
    docs: DataFrame, lsh_state: DataFrame | None, sig: DataFrame | None = None
) -> DataFrame:
    """Near-dup accept rule over any relation carrying (doc_id, text):
    greedy-by-doc_id within the batch after rejecting docs similar to the
    accepted state. Keeps every input column and appends the signature
    columns (null for shingle-less docs). Shared by the standalone
    near-dup stream and the composed curation-v2 lane.

    ``sig`` lets a batch caller inject a precomputed signature relation
    (``_id``, ``_mh0``..) covering exactly ``docs``'s ids — a MinHash
    signature is content-only per doc, so the curation lane semi-joins
    the session-memoized FULL-CORPUS signatures down to its winners
    instead of re-tokenizing them (plans/training_data.py). The stream
    never passes it (a micro-batch has no corpus relation to reuse).

    ``docs`` and the signature relation are MATERIALIZED once here: the
    plan below references each across many branches (band self-join,
    survivor semi-joins, both sides of the signature verify, the final
    accept join), and Spark recomputes every reference of a lazy subtree.
    When ``docs`` is itself expensive (the curation lane feeds the gated+
    deduped winners relation in), that recompute multiplies the full
    upstream scan ~6x. The stream already materializes the same relation
    as its per-batch parquet sidecar; this is the in-memory batch twin of
    that exact move."""
    from ..operators.text_dedup import _materialize

    docs = _materialize(docs)
    if sig is None:
        sig = minhash_signatures(docs, "doc_id", "text", _N, _K, memo=False)
    sig = _materialize(sig)
    brows = band_rows(sig, _K, _BANDS)

    # 1. vs-state rejection: arriving doc similar to an accepted doc
    if lsh_state is not None:
        cand = (
            brows.select(F.col("_id").alias("doc_b"), "_band_idx", "_band_hash")
            .join(
                lsh_state.select(
                    F.col("doc_id").alias("doc_a"), "_band_idx", "_band_hash"
                ),
                ["_band_idx", "_band_hash"],
            )
            .select("doc_a", "doc_b")
            .dropDuplicates(["doc_a", "doc_b"])
        )
        state_sigs = lsh_state.select(
            F.col("doc_id").alias("_id"), *_mh_cols()
        ).dropDuplicates(["_id"])
        rejected_by_state = (
            sig_verify_pairs(cand, state_sigs, sig, _K, _MIN_AGREE)
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
        )
        survivors = docs.join(rejected_by_state, "doc_id", "left_anti")
    else:
        survivors = docs

    # 2. within-batch greedy (ascending doc_id) over the survivor subgraph
    surv_brows = brows.join(
        survivors.select(F.col("doc_id").alias("_id")), "_id", "left_semi"
    )
    left = surv_brows.select(F.col("_id").alias("doc_a"), "_band_idx", "_band_hash")
    right = surv_brows.select(F.col("_id").alias("doc_b"), "_band_idx", "_band_hash")
    cand_in = (
        left.join(right, ["_band_idx", "_band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    edges = sig_verify_pairs(cand_in, sig, sig, _K, _MIN_AGREE)
    status = greedy_keep(survivors.select("doc_id"), edges, "doc_id")
    accepted_ids = status.filter(F.col("kept")).select("doc_id")

    return docs.join(accepted_ids, "doc_id", "left_semi").join(
        sig.withColumnRenamed("_id", "doc_id"), "doc_id", "left"
    )


def state_rows_of(accepted: DataFrame) -> DataFrame:
    """Derive the LSH bucket-index state rows from an accepted-docs
    relation (its signature columns): docs too short to shingle carry
    null signatures and contribute no state."""
    sig = accepted.filter(F.col("_mh0").isNotNull()).select(
        F.col("doc_id").alias("_id"), *_mh_cols()
    )
    return (
        band_rows(sig, _K, _BANDS)
        .join(sig, "_id")
        .select(
            F.col("_id").alias("doc_id"), "_band_idx", "_band_hash", *_mh_cols()
        )
    )


def merge_lsh_state(state: DataFrame, batch: DataFrame) -> DataFrame:
    """Accepted docs never change: the fold is a distinct union."""
    return state.unionByName(batch).distinct()


def run_neardup_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Continuously accept only docs that are not near-dups of any
    accepted doc, from a JSON-lines drop dir
    (``{"doc_id": ..., "text": ...}`` per line). Returns the
    StreamingQuery; the file source swaps for the Kafka consumer
    unchanged."""
    state = ParquetMergeTarget(spark, state_dir)
    state.recover()
    raw = read_json_lines(spark, input_dir, "doc_id LONG, text STRING")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # whole-batch guard: after the fold, recomputing acceptance would
        # see the batch's own signatures in state and reject everything
        if batch_id <= state.last_batch_id():
            return
        batch_out = os.path.join(out_dir, f"batch={batch_id}")
        accepted = neardup_batch(batch_df, state.read() if state.exists() else None)
        accepted.write.mode("overwrite").parquet(batch_out)
        fold_into_state(
            spark,
            state_dir,
            batch_id,
            state_rows_of(spark.read.parquet(batch_out)),
            merge_lsh_state,
        )

    return start_foreach_batch(raw, process_batch, checkpoint_dir, "neardup_stream")
