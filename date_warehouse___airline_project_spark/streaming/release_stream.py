"""Continuously-maintained corpus release.

The batch side (plans/training_data.py) proves the incremental-release
theorem: under the append-only doc_id invariant and keep-min keeper
semantics, folding an ingest batch against the persisted release state —
doc fingerprints, paragraph fingerprints, rewritten-corpus gram
fingerprints, and the released docs — reproduces the full-recompute
release EXACTLY. This module runs that fold continuously: a Structured
Streaming ``foreachBatch`` loop where each micro-batch

  1. dedups itself against the CURRENT state (base + all committed batch
     updates) with the exact stage semantics of the batch cascade,
  2. writes its state delta (new doc/para/gram fingerprints + its
     released docs) to ``batches/batch=<id>/...`` via tmp + ``os.rename``
     (atomic on local FS), with a directory-presence redelivery guard,

so a replayed micro-batch is a byte-for-byte no-op and a crash mid-write
leaves only an orphaned ``.tmp-*`` dir that recovery sweeps.
``compact_release_state`` folds committed batch deltas into the base
relations through the same marker-file commit protocol the IVF index
uses (roll FORWARD from the marker, roll BACK from a markerless tmp).

The commit protocol is driver-local by construction (same rationale and
guard as ivf_stream._require_local_path); the state relations are
fingerprint-sized except ``v1_docs`` — which IS the release.

Reference basis: the reference's streaming tier is an outbox->Kafka
consumer loop (backend/supabaseWatcher.js:36-63, kafkaworker.js:35-44);
this module applies that maintain-state-per-message shape to the corpus
release the batch engine ships.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ivf_stream import (
    _require_local_path,
    read_applied_batches,
    record_applied_batches,
)
from .state_table import (
    maintainer_lease,
    recover_marker_commit,
    start_foreach_batch,
    verify_maintainer_lease,
    write_commit_marker,
)

_STATE_NAMES = ("doc_fps", "para_fps", "gram_fps", "v1_docs")
_REL_MARKER = "release-compact.commit"


def release_state_rel(spark: SparkSession, path: str, name: str) -> DataFrame:
    """One state relation = base dir UNION every committed batch delta.
    Runs compaction recovery first (same discipline as the IVF reader):
    a compaction that crashed after its live-swap but before deleting the
    folded batch dirs would otherwise serve every folded row twice."""
    path = _require_local_path(path, spark)
    # reader form: roll committed work forward, never sweep a maintainer's
    # in-flight .release-tmp-* build (see recover_marker_commit)
    recover_release_compaction(path, sweep_orphans=False)
    base = spark.read.parquet(f"{path}/{name}")
    bdir = os.path.join(path, "batches")
    if not os.path.isdir(bdir):
        return base
    parts = sorted(
        p
        for b in os.listdir(bdir)
        if b.startswith("batch=")
        and os.path.isdir(p := os.path.join(bdir, b, name))
        # a delta relation that folded to ZERO rows lands no part files
        # (only _SUCCESS); feeding such a dir to spark.read.parquet dies
        # on schema inference when it is the only uncompacted delta
        and any(f.endswith(".parquet") for f in os.listdir(p))
    )
    if not parts:
        return base
    return base.unionByName(spark.read.parquet(*parts).select(*base.columns))


def streamed_watermark(path: str) -> int:
    """Highest ingested doc_id across the base state and every committed
    batch delta — the guard bound for the next micro-batch. Batch dirs
    carry their own watermark file (written inside the atomic rename);
    compaction folds them into the base file before deleting the dirs,
    so the bound never regresses across a compaction."""
    from ..plans.training_data import read_ingest_watermark

    wm = read_ingest_watermark(path)
    bdir = os.path.join(path, "batches")
    if os.path.isdir(bdir):
        for b in os.listdir(bdir):
            if b.startswith("batch="):
                wm = max(wm, read_ingest_watermark(os.path.join(bdir, b)))
    return wm


def apply_release_batch(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    batch_id: int,
    lease: dict | None = None,
) -> None:
    """Fold one ingest micro-batch into the release state (idempotent).

    Stage semantics are the batch cascade's, joined against the CURRENT
    state so cross-batch duplicates resolve to the earliest occurrence:
    intra-batch exact keep-min then anti-join state doc fingerprints;
    intra-batch paragraph keep-first then anti-join state paragraph
    fingerprints; span removal where a hit is EITHER a gram known to the
    state (its keeper is an earlier doc) OR an intra-batch duplicate gram
    in a non-keeper doc. The batch's delta — ALL its doc fingerprints,
    its newly-introduced paragraph/gram fingerprints, and its released
    docs — lands in one atomically-renamed ``batch=<id>`` dir. Runs
    under the state's maintainer lease (acquired per micro-batch unless
    the caller threads one) — the fold is a mutator, and a concurrent
    compaction/backfill/takedown must raise instead of racing it."""
    path = _require_local_path(path, spark)
    with maintainer_lease(path, lease, owner="release-append") as lease:
        _apply_release_batch_locked(spark, path, batch, batch_id, lease)


def _apply_release_batch_locked(
    spark: SparkSession, path: str, batch: DataFrame, batch_id: int, lease: dict
) -> None:
    from ..plans.training_data import (
        fold_batch_released,
        guard_append_only,
        write_ingest_watermark,
    )

    # roll committed work forward only: the reader form stays correct
    # even though the lease now excludes a concurrent compactor — the
    # recovery here may run while OUR OWN marker from a previous crashed
    # tick still exists
    recover_release_compaction(path, sweep_orphans=False)
    if batch.isEmpty():
        # an empty batch must not land a delta dir: its four relation
        # writes would produce fileless dirs (only _SUCCESS) that wedge
        # every later schema inference over the deltas. Nothing to fold;
        # the checkpoint owns source progress.
        return
    bdir = os.path.join(path, "batches")
    os.makedirs(bdir, exist_ok=True)
    final_dir = os.path.join(bdir, f"batch={batch_id}")
    if os.path.isdir(final_dir) or batch_id in read_applied_batches(path):
        # the dir (or the folded-away ledger entry — compaction deletes
        # delta dirs but records their ids, same discipline as the IVF
        # appends) proves SOME batch with this id folded — not that THIS
        # delivery's content did. A fresh-checkpoint restart coalesces
        # newly dropped docs into the replayed batch id; skipping them
        # silently would mark them consumed without ever folding them.
        # Raise loudly on novel content; a byte-for-byte redelivery
        # (the crash-recovery case) still skips cleanly.
        novel = batch.join(
            release_state_rel(spark, path, "doc_fps"),
            F.md5(F.lower("text")) == F.col("fp"),
            "left_anti",
        )
        if not novel.isEmpty():
            raise ValueError(
                f"release batch {batch_id} was already folded, but this "
                f"delivery carries novel documents — a restarted "
                f"checkpoint has coalesced NEW docs into a replayed "
                f"batch id, and skipping would silently drop them from "
                f"the release. Re-feed the new docs through a fresh "
                f"input directory + checkpoint."
            )
        return  # redelivered micro-batch: byte-for-byte no-op
    # sweep orphaned tmp dirs from a previous crash mid-write
    for name in os.listdir(bdir):
        if name.startswith(".tmp-"):
            shutil.rmtree(os.path.join(bdir, name), ignore_errors=True)

    # enforce (not assume) the append-only doc_id invariant the keep-min
    # fold depends on: watermark = max over the base state and every
    # committed batch delta; a lower/equal doc_id in this batch is a
    # backfill and must be rejected loudly (retraction path or full
    # recompute), never folded silently. One exception keeps the stream
    # REPLAY-TOLERANT after a checkpoint reset: a sub-watermark batch
    # whose every doc fingerprint is already in the state carries no
    # novel content — its docs would all dedup away, and before the
    # guard existed such a replay re-folded to an empty delta harmlessly
    # — so it is skipped instead of wedging the stream forever. Only a
    # sub-watermark batch with NEW content (a true backfill) raises.
    wm = streamed_watermark(path)
    try:
        batch_hi = guard_append_only(batch, wm)
    except ValueError:
        no_novel_content = batch.join(
            release_state_rel(spark, path, "doc_fps"),
            F.md5(F.lower("text")) == F.col("fp"),
            "left_anti",
        ).isEmpty()
        if no_novel_content:  # pure replay of already-folded content
            return
        raise

    kpn, gramsn, final_new = fold_batch_released(
        batch,
        release_state_rel(spark, path, "doc_fps"),
        release_state_rel(spark, path, "para_fps"),
        release_state_rel(spark, path, "gram_fps"),
    )

    tmp = os.path.join(bdir, f".tmp-{batch_id}-{uuid.uuid4().hex[:8]}")
    batch.select(F.md5(F.lower("text")).alias("fp")).distinct().write.parquet(
        f"{tmp}/doc_fps"
    )
    kpn.select(F.md5("_ptxt").alias("pfp")).distinct().write.parquet(
        f"{tmp}/para_fps"
    )
    gramsn.select(F.md5("_g").alias("gfp")).distinct().write.parquet(
        f"{tmp}/gram_fps"
    )
    final_new.write.parquet(f"{tmp}/v1_docs")
    write_ingest_watermark(tmp, batch_hi)  # rides the batch's atomic rename
    verify_maintainer_lease(lease)  # fencing: a superseded folder aborts
    os.rename(tmp, final_dir)  # commit point


def release_manifest_from_state(spark: SparkSession, path: str) -> DataFrame:
    """The shipped manifest over base + committed batch deltas — the same
    mix/budget/shard assignment the batch engine certifies."""
    from ..plans.training_data import _assignment_of, _release_manifest_of

    return _release_manifest_of(
        _assignment_of(release_state_rel(spark, path, "v1_docs"))
    )


def recover_release_compaction(path: str, sweep_orphans: bool = True) -> None:
    """Finish or undo an interrupted ``compact_release_state`` — the IVF
    compaction protocol over the four state relations: marker present =
    every merged table was fully written, roll FORWARD (existence-guarded
    renames, re-runnable from any crash point); markerless tmp = roll
    BACK. The mechanics are ``state_table.recover_marker_commit`` — the
    SAME implementation the IVF index uses, parameterized by this
    module's multi-relation tmp layout (one ``.release-tmp-<token>``
    root holding a subdir per relation, removed whole after the swap)."""
    path = _require_local_path(path)
    recover_marker_commit(
        path,
        _REL_MARKER,
        names=_STATE_NAMES,
        tmp_of=lambda token, name: os.path.join(
            path, f".release-tmp-{token}", name
        ),
        old_of=lambda token, name: os.path.join(
            path, f".release-old-{token}-{name}"
        ),
        batches_dir=os.path.join(path, "batches"),
        extra_cleanup=lambda token: (
            os.path.join(path, f".release-tmp-{token}"),
        ),
        orphan_dir_prefixes=(".release-tmp-",),
        sweep_orphans=sweep_orphans,
    )


def compact_release_state(
    spark: SparkSession, path: str, lease: dict | None = None
) -> int:
    """Fold committed ``batches/batch=*`` deltas into the four base state
    relations. Returns the number of batch dirs folded. Same crash
    protocol as the IVF compaction: merged tables under one
    ``.release-tmp-<token>``, marker written via tmp + ``os.replace`` as
    the commit point, then the recovery routine swaps live and deletes
    the folded dirs — idempotent under crash at any step. Runs under the
    maintainer lease (acquired here unless threaded)."""
    path = _require_local_path(path, spark)
    with maintainer_lease(path, lease, owner="release-compact") as lease:
        return _compact_release_state_locked(spark, path, lease)


def _compact_release_state_locked(
    spark: SparkSession, path: str, lease: dict
) -> int:
    recover_release_compaction(path)
    bdir = os.path.join(path, "batches")
    if not os.path.isdir(bdir):
        return 0
    batches = sorted(n for n in os.listdir(bdir) if n.startswith("batch="))
    if not batches:
        return 0
    token = uuid.uuid4().hex[:12]
    tmp_root = os.path.join(path, f".release-tmp-{token}")
    for name in _STATE_NAMES:
        base = spark.read.parquet(f"{path}/{name}")
        parts = [
            p
            for b in batches
            if os.path.isdir(p := os.path.join(bdir, b, name))
            # skip fileless zero-row deltas (see release_state_rel)
            and any(f.endswith(".parquet") for f in os.listdir(p))
        ]
        merged = base
        if parts:
            merged = base.unionByName(
                spark.read.parquet(*parts).select(*base.columns)
            )
            if name != "v1_docs":
                # fingerprint deltas overlap the state (a batch stores ALL
                # its doc fps; gram/para fps can repeat across batches) —
                # fold to the distinct set so the state stays bounded by
                # DISTINCT fingerprints, not total ingested volume
                merged = merged.distinct()
        merged.write.mode("overwrite").parquet(os.path.join(tmp_root, name))
    # fold the batch watermarks into the base file BEFORE the commit:
    # the guard bound must survive the batch dirs' deletion, and a
    # watermark only ever advances, so persisting it early is safe even
    # if the compaction rolls back
    from ..plans.training_data import write_ingest_watermark

    write_ingest_watermark(path, streamed_watermark(path))
    # ledger the folded batch ids BEFORE the commit that deletes their
    # dirs (the redelivery guard and the cross-artifact reconciliation
    # both need an applied-batch witness that survives the dirs);
    # conservative under a crash here — dir still present, presence
    # guard covers it
    record_applied_batches(path, batches, lease=lease)
    write_commit_marker(
        path, _REL_MARKER, {"token": token, "batches": batches}, lease=lease
    )
    recover_release_compaction(path)
    return len(batches)


def apply_takedown_to_release_state(
    spark: SparkSession,
    path: str,
    takedown_ids: DataFrame,
    lease: dict | None = None,
) -> int:
    """Takedown over the PERSISTED release state — without this, a doc
    removed from the shipped shard files (``apply_takedown_to_shards``)
    silently RESURRECTS at the next incremental fold or stream
    compaction, because ``v1_docs`` still carries it into every future
    ``_assignment_of``. Removes the listed doc_ids from ``v1_docs``
    atomically (batch deltas folded first, rewrite committed through the
    SAME release marker protocol ``recover_release_compaction`` rolls
    forward/back) and returns the number of state rows removed.

    The fingerprint relations (doc/para/gram fps) are deliberately KEPT:
    they are one-way hashes, not content, and dropping them would let a
    byte-identical duplicate of the removed doc re-enter the release
    through a later batch — the takedown must stick. Idempotent: a
    re-run removes 0 rows."""
    path = _require_local_path(path, spark)
    with maintainer_lease(path, lease, owner="release-takedown") as lease:
        compact_release_state(spark, path, lease=lease)  # one relation to rewrite
        base = spark.read.parquet(f"{path}/v1_docs")
        ids = takedown_ids.select(F.col("doc_id").cast("bigint")).distinct()
        n_removed = base.join(ids, "doc_id", "semi").count()
        if n_removed == 0:
            return 0
        kept = base.join(ids, "doc_id", "left_anti")
        token = uuid.uuid4().hex[:12]
        tmp_root = os.path.join(path, f".release-tmp-{token}")
        kept.write.mode("overwrite").parquet(os.path.join(tmp_root, "v1_docs"))
        # marker commit: recover walks all four names but only v1_docs has a
        # tmp — the other three relations are untouched by existence guard
        write_commit_marker(
            path, _REL_MARKER, {"token": token, "batches": []}, lease=lease
        )
        recover_release_compaction(path)
        return n_removed


def apply_backfill_to_release_state(
    spark: SparkSession,
    path: str,
    corrected: DataFrame,
    lease: dict | None = None,
) -> None:
    """Rebase the persisted release state onto the CORRECTED corpus — the
    state-side half of executing a backfill revision (the file-side half
    is ``training_data.apply_backfill_to_shards``). A backfill's
    sub-watermark doc_ids invalidate every keep-min keeper decision the
    state encodes, so all four relations are recomputed from
    ``corrected`` (which must be the complete corrected corpus:
    everything ever ingested plus the late arrivals) through the SAME
    ``_state_rels`` definition the initial state write uses, and swapped
    in atomically through the release marker protocol — a crash at any
    point leaves the state either fully pre- or fully post-rebase
    (``recover_release_compaction`` rolls forward/back). Committed batch
    delta dirs are superseded by the rebase (their content is inside
    ``corrected``) and deleted in the same commit. The watermark advances
    to cover the corrected corpus before the marker (monotone, so an
    aborted rebase leaving the higher bound is safe — it only makes the
    guard stricter). After the rebase, incremental folds resume off the
    corrected corpus — certified equal to a from-scratch
    ``write_release_state`` by the rebase-equals-rewrite test."""
    from ..plans.training_data import _state_rels, write_ingest_watermark

    path = _require_local_path(path, spark)
    with maintainer_lease(path, lease, owner="release-backfill") as lease:
        _apply_backfill_to_release_state_locked(spark, path, corrected, lease)


def _apply_backfill_to_release_state_locked(
    spark: SparkSession, path: str, corrected: DataFrame, lease: dict
) -> None:
    from ..plans.training_data import _state_rels, write_ingest_watermark

    recover_release_compaction(path)
    # ENFORCE the completeness contract (the rebuild_ivf_index
    # discipline): every doc fingerprint the state has ever ingested
    # must appear in `corrected` — a partial source would silently
    # rewrite all four relations without it, dropping released docs and
    # re-admitting byte-identical duplicates on later folds. One
    # anti-join of the fingerprint-sized state relation.
    missing = release_state_rel(spark, path, "doc_fps").join(
        corrected.select(F.md5(F.lower("text")).alias("fp")), "fp", "left_anti"
    )
    if not missing.isEmpty():
        n = missing.count()
        raise ValueError(
            f"apply_backfill_to_release_state: `corrected` is missing "
            f"{n} doc fingerprint(s) the state has already ingested — it "
            f"must be the COMPLETE corrected corpus (everything ever "
            f"ingested plus the late arrivals). Rebasing onto a partial "
            f"source would silently drop released docs from v1_docs and "
            f"let byte-identical duplicates re-enter on later folds."
        )
    bdir = os.path.join(path, "batches")
    batches = (
        sorted(n for n in os.listdir(bdir) if n.startswith("batch="))
        if os.path.isdir(bdir)
        else []
    )
    token = uuid.uuid4().hex[:12]
    tmp_root = os.path.join(path, f".release-tmp-{token}")
    persisted: list = []
    try:
        for name, rel in _state_rels(corrected, persisted).items():
            rel.write.mode("overwrite").parquet(os.path.join(tmp_root, name))
    finally:
        for df in persisted:
            df.unpersist()
    mx = corrected.agg(F.max("doc_id").alias("m")).collect()[0]["m"]  # 1-row fold
    write_ingest_watermark(
        path, max(streamed_watermark(path), -1 if mx is None else int(mx))
    )
    # the rebase supersedes the delta dirs it deletes — ledger their ids
    # so a post-rebase redelivery still skips (and reconciliation still
    # sees them as applied)
    record_applied_batches(path, batches, lease=lease)
    write_commit_marker(
        path, _REL_MARKER, {"token": token, "batches": batches}, lease=lease
    )
    recover_release_compaction(path)


def run_release_maintenance_stream(
    new_docs: DataFrame,
    path: str,
    checkpoint_dir: str,
):
    """Maintain a persisted corpus release off a stream of new documents.
    Micro-batches must respect the append-only doc_id invariant (ingest
    ids are monotone across batches — the property real ingest pipelines
    get from sequence-assigned ids). Returns the StreamingQuery.
    Start-time recovery is READER-form: the stream holds no lease here
    (each micro-batch acquires it inside ``apply_release_batch``), and
    an unleased maintainer-form sweep could delete a live compactor's
    in-flight ``.release-tmp-*`` build — see ``run_ivf_append_stream``
    for the full rationale."""
    path = _require_local_path(path, new_docs.sparkSession)
    recover_release_compaction(path, sweep_orphans=False)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_release_batch(batch_df.sparkSession, path, batch_df, batch_id)

    return start_foreach_batch(new_docs, process_batch, checkpoint_dir)
