"""Cross-artifact consistency accounting + healing.

One ingest feed fans out into TWO independently-maintained persisted
artifacts — the corpus release state (``release_stream.py``: doc/para/
gram fingerprints + released docs, watermark, batch deltas) and the ANN
index (``ivf_stream.py``: centroid-partitioned assignments, tombstones,
applied-batch ledger). Each side's fold is individually crash-safe, but
nothing ties the two folds together: a crash BETWEEN them (release
folded, index append lost — or the reverse) leaves the artifacts
silently divergent, and every per-artifact invariant still holds. This
module is the accounting that makes that divergence VISIBLE and the
maintenance action that heals it.

Direction of truth: the RELEASE STATE decides corpus membership (it owns
the dedup/funnel semantics and the append-only watermark); the index
serves the released corpus. So ids released-but-not-indexed are healed
by appending their vectors; ids indexed-but-not-released AT-OR-BELOW the
release watermark are healed by removing them (the release definitively
processed that range and did not release them — they were deduped away
or never released); ids ABOVE the release watermark are merely in-flight
(the release fold will arrive on redelivery) and are reported, never
removed. Tombstoned ids still present in the release (a takedown that
reached the index but crashed before the release side) are healed by
applying the takedown to the release state.

Reference basis: the reference's consistency surface is the outbox
pattern itself (backend/supabaseWatcher.js:36-63 — DB row and Kafka
message must eventually agree); this is that invariant extended to two
derived stores, with the report as the audit query.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ivf_stream import (
    _require_local_path,
    ivf_assignments_with_appends,
    read_applied_batches,
    record_applied_batches,
)
from .state_table import maintainer_lease, start_foreach_batch

_CHECKS = (
    "batches_index_only",
    "batches_release_only",
    "index_ahead_of_release",
    "index_highwater",
    "indexed_not_released",
    "release_ahead_of_index",
    "release_watermark",
    "released_not_indexed",
    "takedown_skew",
)


def _release_batch_ids(release_path: str) -> set[int]:
    """Batch ids the release state has applied: present delta dirs plus
    the ledger of batches folded away by compaction/backfill."""
    ids = set(read_applied_batches(release_path))
    bdir = os.path.join(release_path, "batches")
    if os.path.isdir(bdir):
        ids |= {
            int(n.split("=", 1)[1])
            for n in os.listdir(bdir)
            if n.startswith("batch=")
        }
    return ids


def _index_batch_ids(index_path: str) -> set[int]:
    """Batch ids the ANN index has applied: present append dirs plus the
    folded-away ledger (``ivf_stream.read_applied_batches``)."""
    ids = set(read_applied_batches(index_path))
    adir = os.path.join(index_path, "appends")
    if os.path.isdir(adir):
        ids |= {
            int(n.split("=", 1)[1])
            for n in os.listdir(adir)
            if n.startswith("batch=")
        }
    return ids


def _released_ids(spark: SparkSession, release_path: str) -> DataFrame:
    """Every released doc_id: the base ``v1_docs`` relation plus the
    released docs of every committed (uncompacted) batch delta — the same
    union ``release_state_rel`` serves, id column only."""
    released = spark.read.parquet(f"{release_path}/v1_docs").select(
        F.col("doc_id").alias("id")
    )
    bdir = os.path.join(release_path, "batches")
    if os.path.isdir(bdir):
        parts = [
            p
            for b in os.listdir(bdir)
            if b.startswith("batch=")
            and os.path.isdir(p := os.path.join(bdir, b, "v1_docs"))
            and any(f.endswith(".parquet") for f in os.listdir(p))
        ]
        if parts:
            released = released.unionByName(
                spark.read.parquet(*parts).select(F.col("doc_id").alias("id"))
            )
    return released


def _index_ids(spark: SparkSession, index_path: str, id_col: str):
    """(live ids, tombstoned ids) of the index — tombstones count as
    INGESTED (the feed delivered them; a takedown removed them)."""
    live = ivf_assignments_with_appends(spark, index_path).select(
        F.col(id_col).alias("id")
    )
    tdir = os.path.join(index_path, "tombstones")
    tomb = (
        spark.read.parquet(tdir).select(F.col(id_col).alias("id"))
        if os.path.isdir(tdir)
        else live.limit(0)
    )
    return live, tomb


def reconcile_release_index(
    spark: SparkSession,
    release_path: str,
    index_path: str,
    id_col: str = "vec_id",
) -> DataFrame:
    """The reconciliation report: one row per check, ``(check, n)``.

    * ``batches_release_only`` / ``batches_index_only`` — ingest batch
      ids applied (delta/append dir present, or folded away and
      ledgered) to one artifact but not the other: the direct witness of
      a crash between the two folds of one micro-batch.
    * ``release_watermark`` / ``index_highwater`` — the release's
      append-only watermark vs the highest id the index has ever
      ingested (live ∪ tombstoned); persistent skew between them is the
      lag the batch checks localize.
    * ``released_not_indexed`` — released docs at/below the index's
      high-water whose vectors are missing from the index (not live,
      not tombstoned): the index lost a fold it should have applied.
    * ``indexed_not_released`` — live index ids at/below the RELEASE
      watermark that the release does not carry: definitively divergent
      (the release processed that range and did not release them).
    * ``index_ahead_of_release`` / ``release_ahead_of_index`` — ids only
      one side has ingested YET (above the other side's frontier):
      in-flight lag, healed by the pending fold's redelivery, reported
      so an operator can distinguish lag from loss.
    * ``takedown_skew`` — tombstoned ids still released: a takedown that
      reached the index but not the release state.

    Every count is an anti-join of id-sized relations (fingerprint-scale,
    never corpus-content-scale); the batch-ledger checks are driver-side
    set math over directory listings. Read-only — safe to run
    concurrently with maintainers (reader-form recovery inside the
    assignment reader).

    The batch-ledger checks assume ONE feed with a SHARED batch-id space
    (the ``run_dual_maintenance_stream`` shape — both artifacts see the
    same checkpoint's batch ids). When the two artifacts are fed by
    INDEPENDENT streams with unrelated checkpoints, their batch-id
    spaces do not correspond; read only the watermark and id-set checks
    there (they are feed-agnostic) and ignore the two ``batches_*``
    rows."""
    from .release_stream import streamed_watermark

    release_path = _require_local_path(release_path, spark)
    index_path = _require_local_path(index_path, spark)
    rel_batches = _release_batch_ids(release_path)
    idx_batches = _index_batch_ids(index_path)
    released = _released_ids(spark, release_path)
    live, tomb = _index_ids(spark, index_path, id_col)
    wm = streamed_watermark(release_path)
    # ONE lazy plan instead of six eager driver actions (r11,
    # optimization guide §2.4/§5): the six id-set checks were separate
    # .count()/.collect() jobs, each paying its own scan + job latency;
    # they now union into a single 9-row relation the caller evaluates
    # once. The index high-water mark is a 1-row subrelation
    # broadcast-attached where the frontier filters need it, so it stays
    # in-plan. Row semantics are unchanged (anti-joins ignore right-side
    # duplicates, so the old `ingested` distinct was free to drop).
    ingested = live.unionByName(tomb)
    hi_rel = ingested.agg(
        F.coalesce(F.max("id"), F.lit(-1)).cast("bigint").alias("_hi")
    )

    def row(check: str, agg: DataFrame) -> DataFrame:
        return agg.select(
            F.lit(check).alias("check"), F.col("n").cast("bigint").alias("n")
        )

    n_count = F.count("*").alias("n")
    branches = [
        row(
            "index_ahead_of_release",
            live.filter(F.col("id") > wm).agg(n_count),
        ),
        row("index_highwater", hi_rel.select(F.col("_hi").alias("n"))),
        row(
            "indexed_not_released",
            live.filter(F.col("id") <= wm)
            .join(released, "id", "left_anti")
            .agg(n_count),
        ),
        row(
            "release_ahead_of_index",
            released.crossJoin(F.broadcast(hi_rel))
            .filter(F.col("id") > F.col("_hi"))
            .agg(n_count),
        ),
        row(
            "released_not_indexed",
            released.crossJoin(F.broadcast(hi_rel))
            .filter(F.col("id") <= F.col("_hi"))
            .join(ingested, "id", "left_anti")
            .agg(n_count),
        ),
        row("takedown_skew", tomb.join(released, "id", "semi").agg(n_count)),
    ]
    out = spark.createDataFrame(
        [
            ("batches_index_only", len(idx_batches - rel_batches)),
            ("batches_release_only", len(rel_batches - idx_batches)),
            ("release_watermark", int(wm)),
        ],
        "check string, n bigint",
    )
    for b in branches:
        out = out.unionByName(b)
    return out.orderBy("check")


def heal_release_index(
    spark: SparkSession,
    release_path: str,
    index_path: str,
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """One maintenance tick consuming the reconciliation report: heal
    every DEFINITIVE divergence (in-flight lag rows are left to the
    pending fold's redelivery). Returns ``{check: n_healed}``.

    * ``released_not_indexed`` + ``release_ahead_of_index`` → append the
      missing vectors from ``emb`` (the raw-vector source, same contract
      as ``rebuild_ivf_index``): the release definitively released those
      ids, so index absence is loss-or-lag and the append repairs both.
      Raises if ``emb`` does not cover them — healing must never
      silently shrink the release's reach.
    * ``indexed_not_released`` → remove the vectors the release
      definitively dropped (``remove_from_ivf_index`` — tombstoned, so
      a replay cannot resurrect them).
    * ``takedown_skew`` → apply the index-side takedown to the release
      state (``apply_takedown_to_release_state``).
    * ``batches_release_only`` → after the id-level heals, ledger those
      batch ids into the index's applied-batches file: their content is
      now reconciled, and a redelivery must skip instead of re-applying.

    Each artifact is mutated under its own maintainer lease; the heal is
    idempotent (a re-run finds an all-zero report and does nothing), and
    a crash mid-heal leaves both artifacts individually consistent —
    the next tick re-derives the remaining divergence from state, not
    from a plan."""
    from ..operators.similarity import append_to_ivf_index
    from .ivf_stream import remove_from_ivf_index
    from .release_stream import apply_takedown_to_release_state, streamed_watermark

    release_path = _require_local_path(release_path, spark)
    index_path = _require_local_path(index_path, spark)
    healed = {}
    with maintainer_lease(index_path, owner="reconcile-heal") as idx_lease:
        live, tomb = _index_ids(spark, index_path, id_col)
        released = _released_ids(spark, release_path)
        wm = streamed_watermark(release_path)
        # append EVERY released id the index lacks — at or above the
        # index's frontier alike: the release definitively released them
        # (its v1_docs is the truth), so index absence is loss-or-lag and
        # the append is the correct, idempotent repair either way
        # (tombstoned ids are NOT missing — they are the takedown_skew
        # heal's business, and re-appending would resurrect them).
        missing = (
            released.join(live.unionByName(tomb).distinct(), "id", "left_anti")
            .select(F.col("id").alias(id_col))
        )
        n_missing = missing.count()
        if n_missing:
            vecs = emb.join(missing, id_col, "semi")
            if vecs.count() != n_missing:
                raise ValueError(
                    f"heal_release_index: vector source covers only "
                    f"{vecs.count()} of {n_missing} released-but-unindexed "
                    f"id(s) — healing off a partial source would silently "
                    f"shrink the index's coverage of the release. Pass the "
                    f"full raw-vector feed."
                )
            append_to_ivf_index(
                vecs, index_path, id_col, vec_col, lease=idx_lease
            )
        healed["released_not_indexed"] = n_missing
        extra = (
            live.filter(F.col("id") <= wm)
            .join(released, "id", "left_anti")
            .select(F.col("id").alias(id_col))
            .distinct()
        )
        healed["indexed_not_released"] = (
            remove_from_ivf_index(spark, index_path, extra, id_col, lease=idx_lease)
            if not extra.isEmpty()
            else 0
        )
        rel_only = _release_batch_ids(release_path) - _index_batch_ids(
            index_path
        )
        if rel_only:
            record_applied_batches(
                index_path,
                [f"batch={b}" for b in sorted(rel_only)],
                lease=idx_lease,
            )
        healed["batches_release_only"] = len(rel_only)
    # release-side heal under ITS lease (the takedown acquires it
    # internally). Tombstones are RE-READ here: the index heals above may
    # have swapped the tombstone dir, and a plan captured before the swap
    # would chase deleted files. Ids tombstoned by our own
    # indexed-not-released heal are, by construction, not in v1_docs.
    tdir = os.path.join(index_path, "tombstones")
    healed["takedown_skew"] = 0
    if os.path.isdir(tdir):
        # MATERIALIZE the skew list before handing it to the takedown:
        # its internal compaction swaps v1_docs away, and a lazy plan
        # still reading the pre-swap files would chase deleted parts.
        # Bounded: tombstone sets are compliance-list-sized.
        td_rows = [
            (int(r["doc_id"]),)
            for r in spark.read.parquet(tdir)
            .select(F.col(id_col).alias("doc_id"))
            .join(
                _released_ids(spark, release_path).select(
                    F.col("id").alias("doc_id")
                ),
                "doc_id",
                "semi",
            )
            .collect()
        ]
        if td_rows:
            healed["takedown_skew"] = apply_takedown_to_release_state(
                spark,
                release_path,
                spark.createDataFrame(td_rows, "doc_id bigint"),
            )
    return healed


def apply_dual_batch(
    spark: SparkSession,
    release_path: str,
    index_path: str,
    batch: DataFrame,
    batch_id: int,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
) -> None:
    """Fold ONE ingest micro-batch into BOTH artifacts, release first:
    the release fold decides corpus membership (dedup/funnel), then the
    batch's RELEASED ids' vectors are appended to the ANN index — the
    index serves the release, so unreleased (deduped-away) docs are
    never indexed and nothing needs removing later.

    Each fold is individually idempotent under its own guard (delta-dir/
    ledger presence + content witness), so the crash-BETWEEN-folds
    window needs no extra protocol when driven from a checkpointed
    stream: the checkpoint commits only after both folds return, a crash
    between them redelivers the whole batch, the release side skips
    (byte-for-byte redelivery) and the index side applies — the
    in-flight lag ``reconcile_release_index`` reports heals by
    redelivery alone. Only a divergence that outlives its redelivery
    (source retention expired, checkpoint reset) needs
    ``heal_release_index``. The released-id witness reads the release
    state (base + deltas), not this delivery's plan, so a redelivered
    batch indexes exactly what the original fold released."""
    from . import ivf_stream
    from .release_stream import apply_release_batch

    apply_release_batch(
        spark, release_path, batch.drop(vec_col), batch_id
    )
    released = _released_ids(spark, release_path)
    vecs = batch.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col)
    ).join(released.select(F.col("id").alias("vec_id")), "vec_id", "semi")
    ivf_stream.apply_ivf_append_batch(
        spark, index_path, vecs, batch_id, id_col="vec_id", vec_col=vec_col
    )


def run_dual_maintenance_stream(
    new_docs: DataFrame,
    release_path: str,
    index_path: str,
    checkpoint_dir: str,
):
    """Maintain BOTH persisted artifacts off one stream of new documents
    carrying their vectors (``doc_id/source/text`` + an embedding
    column). Returns the StreamingQuery. See ``apply_dual_batch`` for
    the crash-between-folds story this wrapper completes."""
    release_path = _require_local_path(release_path, new_docs.sparkSession)
    index_path = _require_local_path(index_path, new_docs.sparkSession)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_dual_batch(
            batch_df.sparkSession, release_path, index_path, batch_df, batch_id
        )

    return start_foreach_batch(new_docs, process_batch, checkpoint_dir)
