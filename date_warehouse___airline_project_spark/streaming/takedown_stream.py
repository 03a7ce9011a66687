"""Streaming takedown — the compliance ingest path for BOTH persisted
artifacts.

Batch takedown is complete on the ANN index (``ivf_stream.
remove_from_ivf_index``) and the corpus release (``plans.training_data.
apply_takedown_to_shards``); a real right-to-be-forgotten pipeline
consumes a takedown *stream* (a legal-hold queue, a user-deletion
outbox) and must apply each request exactly once per artifact. This
module runs those two batch operators as Structured Streaming
``foreachBatch`` consumers of an id feed.

Idempotence IS the redelivery discipline here: both batch operators are
idempotent by construction (re-running with the same list removes 0
rows / rewrites 0 shards via their own cheap no-op checks), so
AT-LEAST-ONCE redelivery can never corrupt the artifact and costs only
a semi-join probe. There is deliberately NO batch-id high-water guard:
a single monotone id per artifact dir would conflate "redelivered
batch" with "a different takedown stream whose checkpoint numbers
restart at 0" and silently drop that stream's deletion requests — for
right-to-be-forgotten traffic, a wasted no-op re-apply is acceptable
and a silently skipped removal is not. Same driver-local-commit caveat
as every protocol in this package: guarded by ``_require_local_path``.

Reference basis: the reference's streaming tier consumes per-row
messages off an outbox→Kafka loop (backend/supabaseWatcher.js:36-63,
kafkaworker.js:35-44); this applies that consume-and-apply shape to
deletion requests against the shipped artifacts.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession

from .ivf_stream import _require_local_path, remove_from_ivf_index
from .state_table import start_foreach_batch


def apply_ivf_takedown_batch(
    spark: SparkSession,
    path: str,
    batch_df: DataFrame,
    batch_id: int,
    id_col: str = "vec_id",
) -> int:
    """One takedown micro-batch against a persisted IVF/IVF-PQ index.
    Returns rows removed (0 for a redelivered or empty batch — the
    operator's own semi-probe detects the no-op). The removal itself is
    the batch operator — marker-protocol atomic, codes deleted with
    their rows on a PQ index. ``batch_id`` is accepted for the
    foreachBatch signature; redelivery safety is the operator's
    idempotence, not an id guard (see module docstring)."""
    path = _require_local_path(path, spark)
    return remove_from_ivf_index(spark, path, batch_df, id_col=id_col)


def apply_shard_takedown_batch(
    spark: SparkSession,
    out_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    state_path: str | None = None,
) -> list[int]:
    """One takedown micro-batch against written release shards. Returns
    the rewritten shard ids ([] for a skipped redelivery). Only shards
    containing a listed doc are rewritten — a micro-batch-sized request
    touches a micro-batch-sized set of files, never the whole release.
    When ``state_path`` is given, the persisted release STATE drops the
    ids too (``apply_takedown_to_release_state``) so the docs cannot
    resurrect at the next incremental fold — the two removals are each
    idempotent, so a crash between them re-applies harmlessly on
    redelivery (and so does a redelivered batch id: no id guard, see
    module docstring)."""
    from ..plans.training_data import apply_takedown_to_shards
    from .release_stream import apply_takedown_to_release_state

    out_dir = _require_local_path(out_dir, spark)
    changed = apply_takedown_to_shards(spark, out_dir, takedown_ids=batch_df)
    if state_path is not None:
        apply_takedown_to_release_state(spark, state_path, batch_df)
    return changed


def run_ivf_takedown_stream(
    ids: DataFrame,
    path: str,
    checkpoint_dir: str,
):
    """Consume a stream of vector ids and delete each batch from the
    persisted index. Returns the StreamingQuery."""
    path = _require_local_path(path, ids.sparkSession)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_ivf_takedown_batch(batch_df.sparkSession, path, batch_df, batch_id)

    return start_foreach_batch(ids, process_batch, checkpoint_dir)


def run_shard_takedown_stream(
    ids: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    state_path: str | None = None,
):
    """Consume a stream of doc ids and surgically remove each batch from
    the written release shards (and, when ``state_path`` is given, from
    the persisted release state — no resurrection at the next fold).
    Returns the StreamingQuery."""
    out_dir = _require_local_path(out_dir, ids.sparkSession)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_shard_takedown_batch(
            batch_df.sparkSession, out_dir, batch_df, batch_id, state_path
        )

    return start_foreach_batch(ids, process_batch, checkpoint_dir)
