"""Streaming IVF index maintenance — the ingest path of the ANN stack.

The batch lifecycle (``operators/similarity.py``: ``save_ivf_index`` →
``append_to_ivf_index`` → ``ivf_cell_drift``) assumes someone runs the
append; in production that someone is the ingest stream. Here the same
frozen-codebook assignment runs as a Structured Streaming ``foreachBatch``
loop over a vector feed (file drop / outbox projection / Kafka — the plan
is source-agnostic, like every stream in this package).

Idempotence discipline: ``foreachBatch`` is AT-LEAST-ONCE and a parquet
APPEND is not idempotent, so each micro-batch lands in its own
``<path>/appends/batch=<id>`` directory — written to a ``.tmp-*`` sibling
and RENAMED live, so a batch directory either fully exists (applied;
redelivery is a no-op by presence check) or not at all. A crash mid-write
leaves only a ``.tmp-*`` orphan, swept by ``recover_appends`` from the
next LEASED batch apply — never a partial batch visible to readers. This is the
directory-per-transaction emulation of a transactional format's
``txnAppId``/``txnVersion`` idempotent append (``state_table.py`` has the
same note for folded state).

Inside each batch directory the rows stay partitioned by ``centroid_id``,
so probe-side partition pruning works across base + appends alike; the
accumulated small per-batch files are reclaimed by
``compact_ivf_appends`` below: one centroid-keyed rewrite of
base+appends with a marker-file commit, crash-idempotent, preserving the
(id, centroid_id) relation row-for-row so the drift report is unchanged.

All commit mechanics here are DRIVER-LOCAL (``os.rename``/``os.listdir``)
and every entry point asserts the path is local disk via
``_require_local_path`` — on HDFS/S3 these calls would silently see
nothing, so a remote path fails fast instead of silently dropping
appends. The remote-store version of this protocol is the Hadoop
FileSystem API or a transactional table format's txnAppId/txnVersion.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.swap import recover_rename_swap, rename_swap
from .state_table import (
    maintainer_lease,
    recover_marker_commit,
    start_foreach_batch,
    verify_maintainer_lease,
    write_commit_marker,
)


def _require_local_path(path: str, spark: SparkSession | None = None) -> str:
    """Fail FAST when the index path is not driver-local.

    The batch-commit protocol in this module (tmp write + ``os.rename``,
    presence-guard idempotence, marker-file compaction) is driver-local by
    construction. Against HDFS/S3 the ``os.*`` calls see an empty local
    directory: appends would silently vanish from reads and the
    redelivery guard would never fire — a silent-wrong-results mode. A
    remote store needs the Hadoop FileSystem API or a transactional table
    format; until then, reject anything that is not local disk."""
    if "://" in path:
        scheme = path.split("://", 1)[0]
        if scheme != "file":
            raise ValueError(
                f"ivf_stream maintains its index with driver-local rename "
                f"commits; path {path!r} (scheme {scheme!r}) is a remote "
                f"filesystem where os.rename/os.listdir see nothing — the "
                f"appends would be silently dropped from reads. Use a "
                f"local path, or port the commit protocol to the Hadoop "
                f"FileSystem API / a transactional format first."
            )
        path = path.split("://", 1)[1]
        if not path.startswith("/"):
            # file://host/... — only the empty-authority form is local
            raise ValueError(
                "file:// paths must use the empty-authority form "
                "file:///abs/path for ivf_stream's driver-local commits"
            )
    if spark is not None:
        default_fs = spark.sparkContext._jsc.hadoopConfiguration().get(
            "fs.defaultFS", "file:///"
        )
        if not default_fs.startswith("file:"):
            raise ValueError(
                f"ivf_stream path {path!r} is scheme-less but "
                f"fs.defaultFS={default_fs!r}: Spark would read/write the "
                f"remote store while the commit protocol renames local "
                f"disk — appends would be silently dropped. Pass an "
                f"explicit local path on a local-FS cluster, or port the "
                f"commit protocol before pointing at a remote store."
            )
    return path


def recover_appends(path: str) -> None:
    """Sweep orphaned ``.tmp-*`` batch writes (crash between write and
    rename). Completed ``batch=*`` dirs are never touched."""
    path = _require_local_path(path)
    adir = f"{path}/appends"
    if not os.path.isdir(adir):
        return
    for name in os.listdir(adir):
        if name.startswith(".tmp-"):
            shutil.rmtree(os.path.join(adir, name), ignore_errors=True)


_APPLIED_BATCHES_FILE = "_applied_batches"  # underscore: parquet readers skip


def read_applied_batches(path: str) -> set[int]:
    """Batch ids whose append dirs were FOLDED AWAY by a compaction or a
    rebuild — the redelivery-idempotence ledger that survives the dirs'
    deletion. Without it, a batch folded before its streaming checkpoint
    committed would be re-appended on restart (the dir-presence guard's
    only witness is gone), landing duplicate rows per id."""
    p = os.path.join(path, _APPLIED_BATCHES_FILE)
    if not os.path.exists(p):
        return set()
    with open(p, encoding="ascii") as f:
        return {int(x) for x in f.read().split()}


def record_applied_batches(path: str, batch_names, lease: dict | None = None) -> None:
    """Fold ``batch_names`` (``batch=<id>`` dir names) into the applied
    ledger, atomically (tmp + ``os.replace``). Written BEFORE the commit
    that deletes the dirs — conservative: a crash leaves ids ledgered
    whose dirs still exist, and the dir-presence guard already skips
    those. The ledger is a read-modify-write, so a FENCED caller must
    verify its lease immediately before the replace — a zombie
    maintainer merging its stale view over the new holder's ledger would
    drop ids whose dirs are already deleted, re-admitting their
    redeliveries as duplicate appends."""
    ids = read_applied_batches(path) | {
        int(b.split("=", 1)[1]) for b in batch_names
    }
    if not ids:
        return
    tmp = os.path.join(path, f".{_APPLIED_BATCHES_FILE}-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w", encoding="ascii") as f:
        f.write("\n".join(str(i) for i in sorted(ids)))
    if lease is not None:
        verify_maintainer_lease(lease)
    os.replace(tmp, os.path.join(path, _APPLIED_BATCHES_FILE))


def _guard_replayed_novel_ids(
    spark: SparkSession, path: str, batch_df: DataFrame, batch_id: int, id_col: str
) -> None:
    """A skipped redelivery must carry only KNOWN content. The dir/ledger
    guard proves some batch with this id was applied — not that THIS
    delivery's content was: a fresh-checkpoint restart coalesces newly
    dropped vectors into the replayed batch 0, and a silent skip would
    mark them consumed without ever indexing them. Raise loudly instead
    (one batch-sized anti-join against live ids + tombstones)."""
    known = ivf_assignments_with_appends(spark, path).select(id_col)
    tdir = os.path.join(path, "tombstones")
    if os.path.isdir(tdir):
        known = known.unionByName(spark.read.parquet(tdir).select(id_col))
    novel = batch_df.select(id_col).join(known, id_col, "left_anti")
    if not novel.isEmpty():
        n = novel.count()
        raise ValueError(
            f"append batch {batch_id} was already applied, but this "
            f"delivery carries {n} never-indexed id(s) — a restarted "
            f"checkpoint has coalesced NEW vectors into a replayed batch "
            f"id, and skipping would silently drop them. Re-feed the new "
            f"vectors through a fresh input directory + checkpoint (or "
            f"append them directly via append_to_ivf_index)."
        )


def apply_ivf_append_batch(
    spark: SparkSession,
    path: str,
    batch_df: DataFrame,
    batch_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lease: dict | None = None,
) -> None:
    """Assign one micro-batch of new vectors against the SAVED codebook
    (frozen — identical to ``append_to_ivf_index``'s contract, pinned by
    the stream-equals-batch test) and land it atomically as
    ``appends/batch=<batch_id>``. Re-applying an applied batch id (dir
    present, or dir folded away and ledgered in ``_applied_batches``) is
    a no-op — unless the redelivery carries never-indexed ids, which
    raises (see ``_guard_replayed_novel_ids``). An empty batch writes
    nothing (nothing to guard — the checkpoint already owns source
    progress). Runs under the artifact's maintainer lease (acquired per
    micro-batch unless the caller threads one): appends are mutators,
    and a concurrent compaction/rebuild/takedown must raise
    ``MaintainerLeaseHeldError`` here instead of racing the commit."""
    path = _require_local_path(path, spark)
    with maintainer_lease(path, lease, owner="ivf-append") as lease:
        _apply_ivf_append_batch_locked(
            spark, path, batch_df, batch_id, id_col, vec_col, lease
        )


def _apply_ivf_append_batch_locked(
    spark: SparkSession,
    path: str,
    batch_df: DataFrame,
    batch_id: int,
    id_col: str,
    vec_col: str,
    lease: dict,
) -> None:
    from ..operators.similarity import index_batch_rows

    # sweep orphaned .tmp-* batch writes (a previous appender's crash
    # between write and rename) — HERE, under the lease, not at unleased
    # stream start: the lease excludes every other mutator, so the sweep
    # can only ever hit dead debris
    recover_appends(path)
    bdir = f"{path}/appends/batch={batch_id}"
    if os.path.exists(bdir) or batch_id in read_applied_batches(path):
        _guard_replayed_novel_ids(spark, path, batch_df, batch_id, id_col)
        return  # redelivered batch — already fully applied
    # emptiness pre-check on the (tombstone-filtered) id column only —
    # never on the assembled rows, whose plan carries the full
    # assignment + PQ-encode work and would execute TWICE (once for the
    # check, once for the write). An all-tombstoned batch must skip: a
    # no-file batch dir would break schema inference over the appends
    # root (the checkpoint still owns source progress).
    surviving = batch_df.select(id_col)
    # repair a crashed tombstone swap BEFORE the existence check: a
    # stranded .tombstones-old-* with no live dir would read as "no
    # tombstones" and resurrect taken-down ids through this append.
    # Reader form (no orphan sweep): a takedown may be rewriting the set
    # concurrently and its in-flight tmp must not be deleted from here.
    recover_tombstones(path, sweep_orphans=False)
    if os.path.isdir(f"{path}/tombstones"):
        surviving = surviving.join(
            spark.read.parquet(f"{path}/tombstones"), id_col, "left_anti"
        )
    if surviving.isEmpty():
        return
    # index_batch_rows matches the index's own assignments schema: coarse
    # assignment always, + frozen PQ codes and payload columns when the
    # index is IVF-PQ — the stream path cannot diverge from the batch one.
    # sweep_orphans=False threads the reader-form recovery through its
    # internal recover_tombstones too: this path must never delete a
    # concurrent takedown's in-flight .tombstones-tmp-* (sweeping it
    # would turn the takedown's commit rename into a loud
    # FileNotFoundError — the protection the pre-check above exists for).
    rows = index_batch_rows(
        spark, path, batch_df, id_col, vec_col, sweep_orphans=False
    )
    tmp = f"{path}/appends/.tmp-{batch_id}-{uuid.uuid4().hex[:8]}"
    (
        rows.repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(tmp)
    )
    verify_maintainer_lease(lease)  # fencing: a superseded appender aborts
    os.rename(tmp, bdir)


def ivf_assignments_with_appends(spark: SparkSession, path: str) -> DataFrame:
    """The index's full (id, centroid_id) relation: base assignments plus
    every applied streaming batch. Both sides stay partitioned by
    ``centroid_id``, so a probe's partition filter prunes base and append
    files alike. Self-healing: a commit marker left by a compaction crash
    is rolled forward first (cheap local renames/deletes — see
    ``recover_compaction``), so a reader never sees a folded batch twice —
    in READER form (no orphan sweep: a maintainer's in-flight tmp must
    survive a concurrent read). Append rows are anti-joined against the
    tombstone set: a takedown racing an in-flight append batch (filtered
    against the PRE-takedown set) can land tombstoned rows in a batch
    dir, and they must never be SERVED — compaction drops them
    physically at the next fold."""
    path = _require_local_path(path, spark)
    recover_compaction(path, sweep_orphans=False)
    base = spark.read.parquet(f"{path}/assignments")
    adir = f"{path}/appends"
    if not os.path.isdir(adir) or not any(
        n.startswith("batch=") for n in os.listdir(adir)
    ):
        return base
    appends = spark.read.parquet(adir).select(*base.columns)
    tdir = f"{path}/tombstones"
    if os.path.isdir(tdir):
        appends = appends.join(
            spark.read.parquet(tdir), base.columns[0], "left_anti"
        )
    return base.unionByName(appends)


_COMPACT_MARKER = "compact.commit"


def recover_compaction(path: str, sweep_orphans: bool = True) -> None:
    """Finish or undo an interrupted ``compact_ivf_appends`` (or the
    takedown rewrite, which commits through the same marker).

    The marker file is the commit point: present → the merged assignments
    table was fully written, roll FORWARD; only ``.compact-tmp-*`` dirs →
    crash before the marker, roll BACK (the live index was never
    touched). The mechanics live in ``state_table.recover_marker_commit``
    — ONE implementation shared with the release-state compaction, so
    the two crash protocols cannot drift. ``sweep_orphans=False`` is the
    READER form (see ``recover_marker_commit``): roll committed work
    forward but never delete a markerless tmp, which may be a
    maintainer's in-flight build. Single-maintainer discipline for the
    MUTATORS still holds: one process runs appends/compaction for an
    index at a time; readers are additionally safe concurrently."""
    path = _require_local_path(path)
    # a crashed rebuild swap leaves NO live index dir — restore it before
    # any marker/tombstone recovery (both operate INSIDE the dir)
    recover_rebuild(path, sweep_orphans=sweep_orphans)
    recover_marker_commit(
        path,
        _COMPACT_MARKER,
        names=("assignments",),
        # single-relation layout: the tmp dir IS the relation
        tmp_of=lambda token, name: os.path.join(path, f".compact-tmp-{token}"),
        old_of=lambda token, name: os.path.join(path, f".compact-old-{token}"),
        batches_dir=os.path.join(path, "appends"),
        orphan_dir_prefixes=(".compact-tmp-",),
        sweep_orphans=sweep_orphans,
    )
    recover_tombstones(path, sweep_orphans=sweep_orphans)


def recover_rebuild(path: str, sweep_orphans: bool = True) -> None:
    """Repair an interrupted ``rebuild_ivf_index`` swap: the index is
    replaced whole-tree via two sibling renames (live → ``.rebuild-old-``
    backup, tmp → live), so a crash between them leaves NO live index —
    roll BACK by restoring the backup (the rebuild is idempotent and
    re-runnable); post-swap backup debris and orphaned
    ``.rebuild-tmp-*`` builds are swept. Shares
    ``sources/swap.py::recover_rename_swap`` with every other
    whole-directory swap. Single-maintainer discipline applies: the
    sweep treats any tmp sibling as a crashed build, so one process runs
    rebuild/append/compaction for an index at a time (the module-wide
    assumption)."""
    parent = os.path.dirname(path.rstrip("/")) or "."
    base = os.path.basename(path.rstrip("/"))
    recover_rename_swap(
        parent,
        old_prefix=f"{base}.rebuild-old-",
        tmp_prefix=f"{base}.rebuild-tmp-",
        live_of=lambda _: base,
        sweep_orphans=sweep_orphans,
    )


def rebuild_ivf_index(
    spark: SparkSession,
    path: str,
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = 25,
    sample_mod: int = 4,
    iters: int = 2,
    pq_cents: DataFrame | None = None,
    lease: dict | None = None,
) -> int:
    """Retrain-and-swap for a persisted IVF / IVF-PQ index — the consumer
    of the drift signal (``ivf_cell_drift``'s ``retrain_flag`` is the
    trigger; this is the action): retrain the coarse codebook from the
    index's CURRENT rows (base + applied appends; taken-down rows are
    already physically absent), re-assign and re-encode every row, and
    swap the new index in atomically. Returns the number of rows indexed.

    ``emb`` is the raw-vector source and must cover every live id (the
    index stores ids + codes, not vectors — re-training needs the
    originals); a missing vector raises instead of silently shrinking
    the index. For an IVF-PQ index the sub-quantizers default to the
    SAVED ``pq_codebook`` (frozen sub-quantizers + retrained coarse book,
    the standard production refresh — ADC tables stay valid); pass
    ``pq_cents`` to retrain them too. Payload columns are re-read from
    ``emb`` under the saved assignment schema.

    The swap is two sibling renames with ``recover_rebuild`` rolling a
    crash between them back, so the index is either fully pre- or fully
    post-rebuild at every instant. ``cell_stats`` is rewritten from the
    new assignments — the drift baseline resets, so ``ivf_cell_drift``
    reads 0 added everywhere post-swap (pinned by test). The tombstone
    set is carried across the swap unchanged: the rebuilt tree contains
    no removed rows, but a replayed ingest batch must STILL not
    resurrect them. At 100 TB this is the periodic retrain of the
    build-once/append-forever lifecycle: one training pass over the
    current rows + one partitioned write, amortized across every search
    until the next drift trip."""
    path = _require_local_path(path, spark)
    with maintainer_lease(path, lease, owner="ivf-rebuild") as lease:
        return _rebuild_ivf_index_locked(
            spark, path, emb, id_col, vec_col, centroid_mod, sample_mod,
            iters, pq_cents, lease,
        )


def _rebuild_ivf_index_locked(
    spark: SparkSession,
    path: str,
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    centroid_mod: int,
    sample_mod: int,
    iters: int,
    pq_cents: DataFrame | None,
    lease: dict,
) -> int:
    recover_compaction(path)  # includes the rebuild-swap + tombstone repair
    base_cols = spark.read.parquet(f"{path}/assignments").columns
    # DISTINCT ids: the rebuild keys on vectors, and it heals accidental
    # duplicate rows (an id delivered by two different append batches)
    # back to one row per vector — the index's intended shape
    cur_ids = ivf_assignments_with_appends(spark, path).select(id_col).distinct()
    # exclude tombstoned ids: in the documented takedown crash window
    # (ids tombstoned, rewrite not yet committed) the relation may still
    # carry them — rebuilding must neither re-index a taken-down vector
    # nor wedge on "partial source" when the corpus already dropped it
    if os.path.isdir(f"{path}/tombstones"):
        cur_ids = cur_ids.join(
            spark.read.parquet(f"{path}/tombstones"), id_col, "left_anti"
        )
    rows = emb.join(cur_ids, id_col, "semi")
    # distinguish a PARTIAL source (drops vectors — the dangerous case)
    # from a DUPLICATED one (same id twice in emb — would index dup rows):
    # each gets its own diagnosis instead of one conflated row-count check
    n_cur, n_src, n_rows = (
        cur_ids.count(),
        rows.select(id_col).distinct().count(),
        rows.count(),
    )
    if n_src != n_cur:
        raise ValueError(
            f"rebuild_ivf_index: vector source covers {n_src} of the "
            f"index's {n_cur} live ids — a rebuild off a partial source "
            f"would silently drop indexed vectors. Pass the full corpus "
            f"(base rows plus everything ever appended, minus nothing)."
        )
    if n_rows != n_src:
        raise ValueError(
            f"rebuild_ivf_index: vector source carries duplicate rows for "
            f"{n_rows - n_src} live id(s) — rebuilding off it would index "
            f"duplicate rows. Deduplicate the source to one row per id "
            f"(e.g. keep-first by ingest order) and re-run."
        )
    from ..operators.similarity import save_ivf_index, save_ivfpq_index

    token = uuid.uuid4().hex[:8]
    tmp = f"{path}.rebuild-tmp-{token}"
    if "codes" in base_cols:
        payload = tuple(
            c for c in base_cols if c not in (id_col, "codes", "centroid_id")
        )
        if pq_cents is None:
            pq_cents = spark.read.parquet(f"{path}/pq_codebook")
        save_ivfpq_index(
            rows, tmp, pq_cents, id_col, vec_col,
            centroid_mod, sample_mod, iters, payload_cols=payload,
        )
    else:
        save_ivf_index(
            rows, tmp, id_col, vec_col, centroid_mod, sample_mod, iters
        )
    if os.path.isdir(f"{path}/tombstones"):
        shutil.copytree(f"{path}/tombstones", f"{tmp}/tombstones")
    # carry the applied-batches ledger too, folding in any append dirs
    # this rebuild subsumed — their dirs die with the old tree, and a
    # post-rebuild redelivery must still skip them
    adir = f"{path}/appends"
    record_applied_batches(
        path,
        [n for n in os.listdir(adir) if n.startswith("batch=")]
        if os.path.isdir(adir)
        else [],
        lease=lease,
    )
    if os.path.exists(os.path.join(path, _APPLIED_BATCHES_FILE)):
        shutil.copy2(
            os.path.join(path, _APPLIED_BATCHES_FILE),
            os.path.join(tmp, _APPLIED_BATCHES_FILE),
        )
    from .state_table import heartbeat_maintainer_lease

    # the save above is the tick's longest phase: refresh liveness AND
    # fence (heartbeat verifies first) immediately before the swap — a
    # superseded rebuild aborts HERE, before any rename touches the live
    # tree
    heartbeat_maintainer_lease(lease)
    # commit point (recover_rebuild repairs a crash between the renames)
    rename_swap(tmp, path, f"{path}.rebuild-old-{token}")
    return n_cur


def maintain_ivf_index(
    spark: SparkSession,
    path: str,
    emb: DataFrame,
    retrain_threshold: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = 25,
    sample_mod: int = 4,
    iters: int = 2,
    pq_max_dead_frac: float = 0.25,
    pq_max_imbalance: float = 2.0,
    pq_sample_mod: int = 4,
    pq_iters: int = 1,
    lease: dict | None = None,
) -> bool:
    """The maintenance POLICY closing the signal → action chain: fold the
    streamed appends (the per-cell small-files reclaim), read BOTH health
    signals, and rebuild the index iff either trips —

      * **coarse drift** (``ivf_cell_drift_streamed``): any cell's
        added_frac exceeds ``retrain_threshold`` → rebuild with a
        retrained coarse codebook (sub-quantizers frozen by default —
        the standard refresh, ADC tables stay valid);
      * **sub-quantizer degradation** (``ivf_pq_code_health``, IVF-PQ
        indexes only): any subspace's dead-code fraction exceeds
        ``pq_max_dead_frac`` or its imbalance factor exceeds
        ``pq_max_imbalance`` → the rebuild ALSO retrains the
        sub-quantizers (``train_pq_cents`` over the index's current
        rows) and passes them as ``pq_cents``, so the swapped-in index
        is bit-equal to a fresh ``save_ivfpq_index`` over those rows.

    Both signals are evaluated up front so a doubly-degraded index pays
    ONE rebuild, not a coarse rebuild followed by a PQ rebuild at the
    next tick. Returns whether a rebuild ran. Below both thresholds this
    is one compaction plus two bounded-by-codebook-size aggregates;
    above, the retrain-and-swap resets the tripped baseline(s) so the
    next tick is a no-op until new degradation accrues. Run it from a
    scheduler tick or at the end of an ingest window —
    single-maintainer discipline, ENFORCED: the whole policy tick runs
    under one maintainer lease (acquired here, threaded through the
    compaction and rebuild), so a second concurrently-ticking maintainer
    raises ``MaintainerLeaseHeldError`` instead of corrupting state."""
    path = _require_local_path(path, spark)
    with maintainer_lease(path, lease, owner="ivf-maintain") as lease:
        compact_ivf_appends(spark, path, lease=lease)
        coarse_flagged = not (
            ivf_cell_drift_streamed(spark, path, retrain_threshold)
            .filter(F.col("retrain_flag") == 1)
            .isEmpty()
        )
        pq_cents = None
        is_pq = "codes" in spark.read.parquet(f"{path}/assignments").columns
        pq_flagged = is_pq and not (
            ivf_pq_code_health(spark, path, pq_max_dead_frac, pq_max_imbalance)
            .filter(F.col("retrain_flag") == 1)
            .isEmpty()
        )
        if not coarse_flagged and not pq_flagged:
            return False
        if pq_flagged:
            from ..operators.similarity import train_pq_cents

            mrow = spark.read.parquet(f"{path}/pq_meta").collect()[0]
            k = (
                spark.read.parquet(f"{path}/pq_codebook")
                .groupBy("g")
                .count()
                .agg(F.max("count"))
                .collect()[0][0]
            )
            live = ivf_assignments_with_appends(spark, path).select(id_col)
            pq_cents = train_pq_cents(
                emb.join(live.distinct(), id_col, "semi"),
                mrow["n_sub"],
                mrow["sub_dim"],
                n_codes=int(k),
                id_col=id_col,
                vec_col=vec_col,
                sample_mod=pq_sample_mod,
                iters=pq_iters,
            )
        rebuild_ivf_index(
            spark, path, emb, id_col, vec_col, centroid_mod, sample_mod,
            iters, pq_cents=pq_cents, lease=lease,
        )
        return True


def recover_tombstones(path: str, sweep_orphans: bool = True) -> None:
    """Repair an interrupted ``_tombstone_ids`` swap. A crash between the
    two renames strands the ENTIRE accumulated tombstone set in
    ``.tombstones-old-*`` with no live ``tombstones`` dir — without this,
    every previously taken-down id could silently resurrect through
    re-ingest (the exact compliance failure the set exists to prevent),
    and a re-run of the takedown would only re-tombstone the current
    batch. Roll BACK by restoring the backup (the interrupted merge is
    idempotent and re-runnable); sweep post-swap ``.tombstones-old-*``
    debris and orphaned ``.tombstones-tmp-*`` writes. Shares
    ``sources/swap.py::recover_rename_swap`` with every other
    whole-directory swap, so the crash protocols cannot drift. Runs from
    ``recover_compaction`` (every read/compact/stream-start path) and
    before every tombstone read/rewrite."""
    recover_rename_swap(
        path,
        old_prefix=".tombstones-old-",
        tmp_prefix=".tombstones-tmp-",
        live_of=lambda _: "tombstones",
        sweep_orphans=sweep_orphans,
    )


def compact_ivf_appends(
    spark: SparkSession,
    path: str,
    fold_tombstones: bool = False,
    lease: dict | None = None,
) -> int:
    """Fold the applied ``appends/batch=*`` dirs into the base
    ``assignments`` table — the reclaim step the module docstring
    promises. Returns the number of batch dirs folded.

    Why: every streamed micro-batch adds ncells-ish small files; probes
    pay the open cost forever. The fold rewrites base+appends as one
    centroid-partitioned table (one exchange, shuffle keyed on
    ``centroid_id``) and removes the folded batch dirs, so the per-cell
    file count drops back to shuffle-partitions-per-cell.

    Crash protocol (all driver-local, guarded by ``_require_local_path``):
    merged table → ``.compact-tmp-<token>``; marker file written via
    tmp+``os.replace`` = the commit point; then swap live and delete the
    folded batch dirs. ``recover_compaction`` rolls an interrupted run
    forward from the marker or back from a markerless tmp, so the fold is
    idempotent under crash at any step (pinned by the crash tests).

    ``cell_stats`` is deliberately NOT touched: ``n_train`` is the
    training-time baseline and folding appends is not a retrain — the
    drift report is bit-identical across a compaction (pinned by test),
    because the (id, centroid_id) relation is preserved row-for-row.

    Batches that land AFTER the listing (the stream keeps running) are
    untouched: only the pinned batch list is folded and deleted.

    ``fold_tombstones=True`` additionally drops every tombstoned id from
    the tombstone set after the fold commits (the removed rows are
    physically gone from the compacted assignments, so the set's only
    remaining job is blocking re-ingest REPLAYS). This is an explicit
    operator assertion that no replay can still deliver those ids — the
    source checkpoint is stable past every batch that carried them — and
    it is deliberately NOT the default: with the set folded, a
    checkpoint-reset replay (or a fresh feed) re-admits the ids, which
    is exactly the resurrection the set exists to prevent. The fold runs
    AFTER the marker commit through the same atomic tombstone swap, so a
    crash between the two leaves the set intact (conservative: appends
    stay blocked; re-run the fold). This bounds the one
    grows-forever-by-design relation the round-9 review flagged; the
    accounting query (``state_growth_accounting``) is how an operator
    decides when the fold is worth running."""
    path = _require_local_path(path, spark)
    with maintainer_lease(path, lease, owner="ivf-compact") as lease:
        return _compact_ivf_appends_locked(spark, path, fold_tombstones, lease)


def _compact_ivf_appends_locked(
    spark: SparkSession, path: str, fold_tombstones: bool, lease: dict
) -> int:
    recover_compaction(path)
    adir = os.path.join(path, "appends")
    if not os.path.isdir(adir):
        if fold_tombstones:
            _fold_tombstone_set(spark, path, lease)
        return 0
    batches = sorted(n for n in os.listdir(adir) if n.startswith("batch="))
    if not batches:
        if fold_tombstones:
            _fold_tombstone_set(spark, path, lease)
        return 0
    base = spark.read.parquet(f"{path}/assignments")
    # basePath pins partition discovery to the appends root so the pinned
    # batch list reads as one relation (batch= and centroid_id= both
    # surface as partition columns; the select drops batch)
    appended = (
        spark.read.option("basePath", adir)
        .parquet(*[os.path.join(adir, b) for b in batches])
        .select(*base.columns)
    )
    # drop rows a takedown tombstoned AFTER their batch's own filter ran
    # (the in-flight-append race): folding them into the base would
    # physically resurrect removed vectors in every direct base reader
    tdir = os.path.join(path, "tombstones")
    if os.path.isdir(tdir):
        appended = appended.join(
            spark.read.parquet(tdir), base.columns[0], "left_anti"
        )
    # ledger the folded batch ids BEFORE the commit that deletes their
    # dirs: the redelivery guard must survive the dirs (see
    # read_applied_batches); conservative under a crash here (dir still
    # present -> presence guard covers it)
    record_applied_batches(path, batches, lease=lease)
    token = uuid.uuid4().hex[:12]
    tmp = os.path.join(path, f".compact-tmp-{token}")
    (
        base.unionByName(appended)
        .repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(tmp)
    )
    write_commit_marker(
        path, _COMPACT_MARKER, {"token": token, "batches": batches}, lease=lease
    )
    recover_compaction(path)  # roll the committed fold forward
    if fold_tombstones:
        _fold_tombstone_set(spark, path, lease)
    return len(batches)


def _fold_tombstone_set(
    spark: SparkSession, path: str, lease: dict | None = None
) -> int:
    """Drop from the tombstone set every id no longer physically present
    in the compacted assignments (post-takedown that is ALL of them —
    takedown removes rows before tombstoning sticks them). Keeps any id
    that somehow still has live rows (never drop a barrier that is still
    doing filtering work). Same atomic rename swap as ``_tombstone_ids``;
    returns the number of ids dropped. See ``compact_ivf_appends`` for
    when this is safe to run.

    'Physically present' must include the RAW ``appends/batch=*`` dirs,
    read WITHOUT the tombstone anti-join: ``compact_ivf_appends``
    deliberately leaves batches that land after its pinned listing
    untouched, so a stale in-flight append carrying tombstoned rows (the
    takedown/in-flight-append race) can sit un-folded while this fold
    runs — dropping those ids from the set would let the reader's
    anti-join serve the resurrected vectors and the NEXT compaction fold
    them into the base permanently."""
    recover_tombstones(path)
    tdir = os.path.join(path, "tombstones")
    if not os.path.isdir(tdir):
        return 0
    tomb = spark.read.parquet(tdir)
    id_col = tomb.columns[0]
    live = spark.read.parquet(f"{path}/assignments").select(id_col)
    adir = os.path.join(path, "appends")
    if os.path.isdir(adir):
        raw_batches = [
            os.path.join(adir, n)
            for n in os.listdir(adir)
            if n.startswith("batch=")
        ]
        if raw_batches:
            live = live.unionByName(
                spark.read.option("basePath", adir)
                .parquet(*raw_batches)
                .select(id_col)
            )
    # one job decides the drop count (the set is maintained distinct, and
    # a semi-join cannot introduce duplicates — no extra count/distinct)
    n_drop = tomb.join(live, id_col, "left_anti").count()
    if n_drop == 0:
        return 0
    kept = tomb.join(live, id_col, "semi")
    _swap_tombstones(path, kept, lease)
    return n_drop


def ivf_pq_code_health(
    spark: SparkSession,
    path: str,
    max_dead_frac: float = 0.25,
    max_imbalance: float = 2.0,
) -> DataFrame:
    """Per-subspace health of a persisted IVF-PQ index's sub-quantizers —
    the PQ dual of ``ivf_cell_drift_streamed``, read off the LIVE code
    table (base + applied appends): codes-in-use, dead codes, the FAISS
    imbalance factor ``K * sum(n_c^2) / N^2`` (1.0 = perfectly balanced),
    and a ``retrain_flag`` that trips when dead codes exceed
    ``max_dead_frac`` of the codebook or the imbalance factor exceeds
    ``max_imbalance``. A degraded sub-quantizer quantizes new vectors
    onto few effective codes — ADC scores flatten and recall decays even
    while the COARSE drift signal stays quiet (cells can be balanced
    while in-cell codes collapse), which is why the maintenance policy
    consumes both signals. K is read from the index's own
    ``pq_codebook``; everything is bounded by codebook x batch size, one
    scan of the codes column."""
    pq = spark.read.parquet(f"{path}/pq_codebook")
    k_per_g = pq.groupBy("g").agg(F.count("*").alias("k"))
    used = (
        ivf_assignments_with_appends(spark, path)
        .select(F.posexplode("codes").alias("g", "code"))
        .groupBy("g", "code")
        .agg(F.count("*").alias("n"))
    )
    tot = used.groupBy("g").agg(
        F.sum("n").alias("tn"),
        F.count("*").cast("bigint").alias("n_codes_used"),
        F.max("n").alias("max_n"),
        F.sum(F.col("n") * F.col("n")).alias("sq"),
    )
    imb = (F.col("k") * F.col("sq")).cast("double") / (
        F.col("tn") * F.col("tn")
    )
    dead_frac = (F.col("k") - F.col("n_codes_used")).cast("double") / F.col("k")
    return (
        k_per_g.join(tot, "g", "left")
        .na.fill({"tn": 0, "n_codes_used": 0, "max_n": 0, "sq": 0})
        .select(
            F.col("g").alias("subspace"),
            "n_codes_used",
            (F.col("k") - F.col("n_codes_used")).cast("bigint").alias("n_dead_codes"),
            F.round(
                F.when(F.col("tn") > 0, F.col("max_n").cast("double") / F.col("tn")),
                6,
            ).alias("max_code_frac"),
            F.round(F.when(F.col("tn") > 0, imb), 6).alias("imbalance_factor"),
            # tn == 0 (no live rows in the subspace — e.g. an emptied
            # index) never flags: every code reads as dead, but there is
            # nothing to retrain FROM and a triggered rebuild would wedge
            # on the empty corpus; drift/appends re-populate first
            F.when(
                (F.col("tn") > 0)
                & ((dead_frac > max_dead_frac) | (imb > max_imbalance)),
                1,
            )
            .otherwise(0)
            .alias("retrain_flag"),
        )
        .orderBy("subspace")
    )


def ivf_cell_drift_streamed(
    spark: SparkSession, path: str, retrain_threshold: float = 0.25
) -> DataFrame:
    """``ivf_cell_drift`` over a stream-maintained index: live counts come
    from base + applied append batches; the training-time baseline and the
    retrain rule are identical to the batch operator (full outer, so a
    cell populated only by streamed appends still surfaces)."""
    stats = spark.read.parquet(f"{path}/cell_stats")
    cur = (
        ivf_assignments_with_appends(spark, path)
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n_current"))
    )
    added = F.col("n_current") - F.col("n_train")
    frac = F.when(F.col("n_train") > 0, added.cast("double") / F.col("n_train"))
    return (
        stats.join(cur, "centroid_id", "full")
        .na.fill({"n_current": 0, "n_train": 0})
        .select(
            "centroid_id",
            "n_train",
            "n_current",
            added.alias("n_added"),
            F.round(frac, 6).alias("added_frac"),
            F.when((F.col("n_train") == 0) & (added > 0), 1)
            .when(frac > retrain_threshold, 1)
            .otherwise(0)
            .alias("retrain_flag"),
        )
        .orderBy("centroid_id")
    )


def run_ivf_append_stream(
    new_vectors: DataFrame,
    path: str,
    checkpoint_dir: str,
):
    """Maintain a persisted IVF index off a stream of new vectors.
    Returns the StreamingQuery. Start-time recovery is READER-form
    (roll committed work forward, sweep nothing): the stream does not
    hold the maintainer lease here — each micro-batch acquires it inside
    ``apply_ivf_append_batch`` — and a maintainer-form sweep from an
    unleased stream restart could delete a live compactor's in-flight
    tmp (the permanent-state-loss interleaving the reader-form recovery
    exists to prevent). Orphaned ``.tmp-*`` batch writes from this
    stream's own crashes are swept by the next leased compaction."""
    path = _require_local_path(path, new_vectors.sparkSession)
    recover_compaction(path, sweep_orphans=False)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_ivf_append_batch(batch_df.sparkSession, path, batch_df, batch_id)

    return start_foreach_batch(new_vectors, process_batch, checkpoint_dir)


def _tombstone_ids(
    spark: SparkSession, path: str, ids: DataFrame, lease: dict | None = None
) -> None:
    """Fold ``ids`` into the index's tombstone set: distinct union with
    the existing table, written to a tmp sibling and renamed in (atomic
    on local FS; the old set renamed aside first and removed after).
    Skips the rewrite when every id is already tombstoned. A crash
    between the renames is repaired by ``recover_tombstones`` (run here
    first, and on every read path via ``recover_compaction``)."""
    recover_tombstones(path)
    tdir = os.path.join(path, "tombstones")
    if os.path.isdir(tdir):
        existing = spark.read.parquet(tdir)
        new_ids = ids.join(existing, ids.columns[0], "left_anti")
        if new_ids.isEmpty():
            return  # idempotent re-run: nothing to add
        merged = existing.unionByName(new_ids).distinct()
    else:
        merged = ids.distinct()
    _swap_tombstones(path, merged, lease)


def _swap_tombstones(path: str, ids: DataFrame, lease: dict | None) -> None:
    """Write ``ids`` as the index's whole tombstone set and swap it in;
    ``recover_tombstones`` repairs a crash between the renames."""
    token = uuid.uuid4().hex[:8]
    tmp = os.path.join(path, f".tombstones-tmp-{token}")
    ids.coalesce(1).write.mode("overwrite").parquet(tmp)
    if lease is not None:
        verify_maintainer_lease(lease)  # fencing before the commit renames
    rename_swap(
        tmp,
        os.path.join(path, "tombstones"),
        os.path.join(path, f".tombstones-old-{token}"),
    )


def remove_from_ivf_index(
    spark: SparkSession,
    path: str,
    takedown: DataFrame,
    id_col: str = "vec_id",
    lease: dict | None = None,
) -> int:
    """Takedown over a persisted IVF index — the GDPR/right-to-be-forgotten
    path for the ANN side, completing the release-side
    ``doc_release_takedown_diff``: delete every listed vector id from the
    index's assignment relation, atomically, without retraining. Returns
    the number of assignment rows removed.

    Protocol: appends are first folded into the base
    (``compact_ivf_appends`` — one relation to rewrite instead of
    base + k batch dirs), then the anti-joined table is written to a
    ``.compact-tmp-*`` dir and committed through the SAME marker-file
    swap ``recover_compaction`` already rolls forward/back, so a crash at
    any step leaves the index either fully pre- or fully post-takedown
    (batches list is empty — nothing extra to delete at roll-forward).
    Re-running with the same list removes 0 rows (idempotent).

    ``codebook`` and ``cell_stats`` are deliberately untouched: a
    takedown is not a retrain, and the drift report's n_current drop
    against the training-time baseline IS the operational signal that
    cells have thinned (mirroring how appends surface as positive
    drift). The takedown list is typically legal-list-sized (auto-
    broadcast) but may be arbitrarily large — the join strategy is left
    to AQE; the rewrite is one anti-join + one centroid-partitioned
    write, shuffle keyed on centroid_id."""
    path = _require_local_path(path, spark)
    with maintainer_lease(path, lease, owner="ivf-takedown") as lease:
        return _remove_from_ivf_index_locked(
            spark, path, takedown, id_col, lease
        )


def _remove_from_ivf_index_locked(
    spark: SparkSession,
    path: str,
    takedown: DataFrame,
    id_col: str,
    lease: dict,
) -> int:
    compact_ivf_appends(spark, path, lease=lease)
    base = spark.read.parquet(f"{path}/assignments")
    ids = takedown.select(F.col(id_col).alias("_td_id")).distinct()
    # tombstone the ids FIRST: a takedown must STICK — without this, a
    # re-ingested feed (replayed source after a checkpoint reset, a
    # batch dir already reclaimed by compaction) would silently
    # resurrect removed vectors through the append path, which
    # anti-joins new rows against this relation. Crash between the
    # tombstone write and the rewrite commit leaves ids tombstoned but
    # not yet removed — conservative: appends already blocked, and the
    # caller re-runs the idempotent removal. The set is maintained as
    # ONE distinct single-file table via an atomic rename swap (not
    # mode-append): per-call append files with duplicated ids would
    # grow forever and every future append pays the read — the small-
    # files problem compact_ivf_appends exists to fix, avoided here by
    # construction. Idempotent re-runs add nothing and skip the write.
    _tombstone_ids(
        spark, path, ids.select(F.col("_td_id").alias(id_col)), lease=lease
    )
    # one partition-pruned semi count decides the no-op AND the return
    # value — no full-table count just to detect an empty takedown.
    # No forced broadcast: a legal list auto-broadcasts under the 10 MB
    # threshold anyway, but the API accepts ANY DataFrame (the tests pass
    # the whole corpus id set) and a forced broadcast of a large list
    # would OOM the driver where AQE would pick a shuffle join.
    n_removed = base.join(ids, base[id_col] == F.col("_td_id"), "semi").count()
    if n_removed == 0:
        return 0
    kept = base.join(ids, base[id_col] == F.col("_td_id"), "left_anti")
    token = uuid.uuid4().hex[:12]
    tmp = os.path.join(path, f".compact-tmp-{token}")
    (
        kept.repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(tmp)
    )
    if not any(n.startswith("centroid_id=") for n in os.listdir(tmp)):
        # the takedown emptied the index: a partitioned write of zero rows
        # leaves no part files and the dir would be unreadable — rewrite
        # as a plain empty table (schema'd part file, centroid_id as a
        # normal column) so every reader keeps working on the empty index
        kept.write.mode("overwrite").parquet(tmp)
    write_commit_marker(
        path, _COMPACT_MARKER, {"token": token, "batches": []}, lease=lease
    )
    recover_compaction(path)  # roll the committed rewrite forward
    return n_removed
