"""Shared persistent-state-table discipline for incremental streaming
maintenance (Count-Min cells, continuous aggregates).

One pattern, two invariants, both kept by the one table replaced whole,
``sources/merge_target.py::ParquetMergeTarget``:

  * **Atomic swap-in.** New state is fully written to a ``.tmp-*`` sibling,
    then ``sources/swap.py::rename_swap`` renames it live (the previous
    state renamed aside first, and put back if the swap fails). A crash
    can leave a brief no-live-dir window but never partial data; the
    table's ``recover`` repairs that window at start and inside every
    batch by restoring the newest ``.old-*`` backup and sweeping stale
    siblings.
  * **Idempotent fold.** foreachBatch is AT-LEAST-ONCE and a sum/merge fold
    is not idempotent, so the last-applied ``batch_id`` is written INSIDE
    the state dir in the same swap (``write(df, batch_id)``); a
    redelivered batch id (``last_batch_id()``) is skipped.

The same module holds the runner lifecycle every maintenance stream in
this package shares: ``start_foreach_batch`` (checkpoint, name, trigger,
start), ``read_json_lines`` (the JSON-lines doc drop-dir reader) and
``run_fold_stream`` — the whole runner of a mergeable-state stream:
recover at start, read a text drop dir, turn each micro-batch into
``cells(batch_df)`` and fold it in with ``merge``.

This is the parquet-directory emulation of what a transactional table
format gives natively: with Delta present, ``fold_into_state`` becomes a
single ``MERGE INTO`` keyed on the state key and the batch-id guard moves
to ``txnAppId``/``txnVersion`` idempotent writes. At 100 TB the state
table additionally partitions by a coarse time key so a batch rewrites
only dirty partitions.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid
from collections.abc import Callable, Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.merge_target import ParquetMergeTarget


# ---------------------------------------------------------------------------
# Maintainer lease + fencing tokens.
#
# Every mutator of a persisted artifact in this package (IVF compaction /
# rebuild / takedown / appends, release-state compaction / backfill /
# takedown, shard rewrites) documents single-maintainer discipline — one
# process runs maintenance for an artifact at a time — and the recovery
# sweeps DEPEND on it: to a maintainer, any markerless tmp sibling is
# crash debris, so a second live maintainer's in-flight build would be
# swept and its late commit would corrupt state silently. That was the one
# uncovered failure class in the crash story; this primitive ENFORCES the
# discipline instead of assuming it.
#
# Mechanics (driver-local, like every commit protocol here):
#   * The lease is a SIBLING file `<artifact>.maintainer-lease` — sibling,
#     not inside the dir, because rebuild/backfill swap the whole artifact
#     tree and the lease must survive the swap. Creation is O_CREAT|O_EXCL
#     (atomic on POSIX): exactly one process wins.
#   * A live holder re-touches the file (`heartbeat_maintainer_lease`);
#     a lease whose mtime is older than `stale_after_s` is presumed dead
#     and may be TAKEN OVER: the contender renames the stale file aside
#     (exactly one racer wins the rename), bumps the fencing counter in
#     `<artifact>.maintainer-fence`, and creates a fresh lease.
#   * Fencing: every commit checkpoint calls `verify_maintainer_lease`
#     immediately before its rename — a zombie whose lease was taken over
#     sees a different token and raises `MaintainerFencedError` INSTEAD of
#     renaming half-built state live. `write_commit_marker` embeds the
#     holder's fence number in the marker payload so post-mortems can
#     attribute every commit to a lease generation.
#
# The takeover default is deliberately generous (10 min): maintenance
# mutators here run minutes at most, and a false takeover (declaring a
# slow-but-alive maintainer dead) is the dangerous direction — fencing
# bounds the damage (the zombie's commits are rejected), but its partial
# tmp work is wasted. Long-running holders heartbeat between phases.
# ---------------------------------------------------------------------------


class MaintainerLeaseHeldError(RuntimeError):
    """Another live maintainer holds the artifact's lease."""


class MaintainerFencedError(RuntimeError):
    """This process's lease was taken over (stale-lease takeover) — its
    pending commit must be abandoned, not retried: a newer maintainer owns
    the artifact and a late rename would corrupt its state."""


def _lease_file(path: str) -> str:
    return path.rstrip("/") + ".maintainer-lease"


def _fence_file(path: str) -> str:
    return path.rstrip("/") + ".maintainer-fence"


def read_maintainer_fence(path: str) -> int:
    """Current fencing generation for the artifact at ``path`` (0 before
    any lease was ever acquired)."""
    try:
        with open(_fence_file(path), encoding="ascii") as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return 0


def acquire_maintainer_lease(
    path: str, stale_after_s: float = 600.0, owner: str = "maintainer"
) -> dict:
    """Acquire the single-maintainer lease for the artifact at ``path``.

    Returns the lease dict (carries the fencing ``token``/``fence``);
    raises ``MaintainerLeaseHeldError`` when a live (heartbeat younger
    than ``stale_after_s``) holder exists. A stale lease is taken over:
    the fencing counter bumps so the presumed-dead holder's late commits
    are rejected at their ``verify_maintainer_lease`` checkpoints."""
    lf = _lease_file(path)
    for _ in range(16):
        try:
            fd = os.open(lf, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            try:
                age = time.time() - os.stat(lf).st_mtime
            except FileNotFoundError:
                continue  # released this instant: retry the create
            try:
                with open(lf, encoding="ascii") as f:
                    holder = json.load(f)
            except FileNotFoundError:
                continue
            except json.JSONDecodeError:
                # half-written lease (acquirer crashed between create and
                # write): unreadable, but it must still go STALE and be
                # taken over below — treating it as retry-forever would
                # wedge acquisition permanently on one crashed acquirer
                holder = {}
            if age <= stale_after_s:
                raise MaintainerLeaseHeldError(
                    f"artifact {path!r} is being maintained by "
                    f"pid {holder.get('pid')} (owner "
                    f"{holder.get('owner')!r}, lease age {age:.0f}s <= "
                    f"stale_after {stale_after_s:.0f}s). Single-maintainer "
                    f"discipline: one process runs append/compact/rebuild/"
                    f"takedown/backfill for an artifact at a time — a "
                    f"second mutator's in-flight tmp dirs read as crash "
                    f"debris to the first and state would corrupt "
                    f"silently. Wait for the holder (or, if it is truly "
                    f"dead, its lease goes stale and is taken over)."
                )
            # stale: exactly one contender wins this rename
            stale_aside = f"{lf}.stale-{uuid.uuid4().hex[:8]}"
            try:
                os.rename(lf, stale_aside)
            except FileNotFoundError:
                continue  # another contender won; retry the create
            os.remove(stale_aside)
            continue
        # created: we hold the lease — bump the fence while holding it
        fence = read_maintainer_fence(path) + 1
        ftmp = f"{_fence_file(path)}.tmp-{uuid.uuid4().hex[:8]}"
        with open(ftmp, "w", encoding="ascii") as f:
            f.write(str(fence))
        os.replace(ftmp, _fence_file(path))
        lease = {
            "path": path,
            "lease_file": lf,
            "token": uuid.uuid4().hex,
            "fence": fence,
            "pid": os.getpid(),
            "owner": owner,
            "acquired_at": time.time(),
        }
        os.write(fd, json.dumps(lease).encode("ascii"))
        os.close(fd)
        return lease
    raise MaintainerLeaseHeldError(
        f"could not acquire maintainer lease for {path!r}: the lease file "
        f"kept churning across 16 attempts (heavy contention — more than "
        f"one maintainer is being run against this artifact)."
    )


def verify_maintainer_lease(lease: dict) -> None:
    """Assert ``lease`` is still the artifact's LIVE lease — called at
    every commit checkpoint immediately before the rename, so a zombie
    maintainer (taken over after stalling past ``stale_after_s``) raises
    here instead of renaming its stale build over the new holder's
    state."""
    try:
        with open(lease["lease_file"], encoding="ascii") as f:
            cur = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        raise MaintainerFencedError(
            f"maintainer lease for {lease['path']!r} (fence "
            f"{lease['fence']}) is gone — released or taken over; this "
            f"mutation must be abandoned, a late commit would corrupt "
            f"the current maintainer's state."
        ) from None
    if cur.get("token") != lease["token"]:
        raise MaintainerFencedError(
            f"fenced out: maintainer lease for {lease['path']!r} is now "
            f"held by pid {cur.get('pid')} at fence {cur.get('fence')} "
            f"(this process held fence {lease['fence']}). This process "
            f"was presumed dead and superseded; abandon the mutation — "
            f"its tmp work is void and a late rename would corrupt the "
            f"new maintainer's state."
        )


def heartbeat_maintainer_lease(lease: dict) -> None:
    """Refresh the lease's liveness (mtime) — long-running maintainers
    call this between phases so they are not presumed dead. Verifies
    first: heartbeating a taken-over lease must fail loudly, not
    resurrect it."""
    verify_maintainer_lease(lease)
    os.utime(lease["lease_file"])


def release_maintainer_lease(lease: dict) -> None:
    """Release the lease if this process still holds it (no-op after a
    takeover — there is nothing of ours left to release)."""
    try:
        with open(lease["lease_file"], encoding="ascii") as f:
            cur = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return
    if cur.get("token") == lease["token"]:
        with contextlib.suppress(FileNotFoundError):
            os.remove(lease["lease_file"])


def _start_heartbeat_thread(lease: dict, interval_s: float):
    """Best-effort background liveness: a daemon thread re-touching the
    lease file every ``interval_s`` while the owning scope is open. The
    DRIVER loop cannot heartbeat during a long Spark job (it is blocked
    inside the action), so without this a slow-but-alive maintainer's
    mtime ages past ``stale_after_s`` mid-write and a contender presumes
    it dead — fencing then correctly voids the work at the commit
    checkpoint, but the whole phase was wasted. The thread touches ONLY
    while the token still matches (never resurrects a taken-over lease)
    and swallows races with release/takeover — liveness is best-effort;
    CORRECTNESS always rests on the commit-point verification, never on
    the heartbeat."""
    import threading

    stop = threading.Event()

    def beat() -> None:
        while not stop.wait(interval_s):
            try:
                with open(lease["lease_file"], encoding="ascii") as f:
                    if json.load(f).get("token") != lease["token"]:
                        return  # superseded: stop silently, commit will fence
                os.utime(lease["lease_file"])
            except (OSError, json.JSONDecodeError):
                return
    t = threading.Thread(target=beat, daemon=True, name="maintainer-heartbeat")
    t.start()
    return stop


@contextlib.contextmanager
def maintainer_lease(
    path: str,
    lease: dict | None = None,
    stale_after_s: float = 600.0,
    owner: str = "maintainer",
):
    """Scope a mutation under the artifact's maintainer lease.

    Passing an already-held ``lease`` makes the scope REENTRANT (the
    composed mutators — e.g. ``maintain_ivf_index`` calling
    ``compact_ivf_appends`` then ``rebuild_ivf_index`` — acquire once at
    the top and thread the lease down); it is verified AND heartbeaten
    on entry (each phase of a long composed tick refreshes liveness, so
    a slow-but-alive maintainer is not presumed dead between phases) and
    NOT released on exit (the owner releases). The OWNING scope also
    runs a background heartbeat thread (``_start_heartbeat_thread``) for
    the duration — the driver loop is blocked inside Spark actions and
    cannot heartbeat itself through a long write."""
    if lease is not None:
        heartbeat_maintainer_lease(lease)  # verify + refresh liveness
        yield lease
        return
    held = acquire_maintainer_lease(path, stale_after_s, owner)
    stop = _start_heartbeat_thread(held, max(1.0, stale_after_s / 3.0))
    try:
        yield held
    finally:
        stop.set()
        release_maintainer_lease(held)


def read_watermark(file_path: str) -> int:
    """Monotone ingest watermark recorded at ``file_path``; -1 when absent
    (a pre-watermark state: the guard degrades to permissive rather than
    rejecting valid appends)."""
    if os.path.exists(file_path):
        with open(file_path, encoding="ascii") as f:
            return int(f.read().strip())
    return -1


def write_watermark(file_path: str, value: int) -> None:
    """Atomically record the watermark (tmp + ``os.replace``, same
    discipline as the batch-id file)."""
    tmp = f"{file_path}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w", encoding="ascii") as f:
        f.write(str(value))
    os.replace(tmp, file_path)


def guard_append_only(
    batch: DataFrame, watermark: int, id_col: str = "doc_id"
) -> int:
    """Enforce (not assume) the append-only id invariant every keep-min /
    first-arrival-wins incremental fold in this package depends on: all
    ids in the batch must EXCEED the recorded watermark. Returns the
    batch max (for advancing the watermark); raises on violation — a
    late-arriving lower id (backfill, replayed partition) folded silently
    would crown the wrong canonical. Backfills need a retraction-emitting
    revision or a full recompute, not this fold."""
    row = batch.agg(
        F.min(id_col).alias("lo"), F.max(id_col).alias("hi")
    ).collect()[0]  # one batch-sized fold, 1 row
    if row["lo"] is None:
        return watermark  # empty batch
    if int(row["lo"]) <= watermark:
        raise ValueError(
            f"out-of-order ingest batch: {id_col} {row['lo']} <= recorded "
            f"watermark {watermark}. The incremental fold is exact ONLY "
            f"under append-only ids (keep-min keeper semantics); folding "
            f"this batch would silently ship the wrong canonical. "
            f"Backfills must go through a full recompute or a "
            f"retraction-emitting revision, not this fold."
        )
    return int(row["hi"])


# ---------------------------------------------------------------------------
# Marker-file commit protocol (shared by the IVF compaction/takedown and
# the release-state compaction; directories replaced whole without a
# marker go through ``sources/swap.py::rename_swap``). One primitive,
# thin adapters: the crash protocols MUST stay behaviorally identical,
# and hand-maintained near-copies were the drift risk the round-8 review
# flagged.
#
# Protocol: every replaced relation is fully written to a tmp location,
# then a marker file {"token": ..., "batches": [...]} is committed via
# tmp + os.replace — THE commit point. Recovery rolls FORWARD from a
# marker (existence-guarded renames, re-runnable from any crash point:
# live → old backup, tmp → live, delete folded batch dirs, delete marker)
# and rolls BACK from a markerless tmp (delete it — the live relations
# were never touched). All driver-local by construction; callers guard
# with ivf_stream._require_local_path.
# ---------------------------------------------------------------------------


def write_commit_marker(
    path: str, marker: str, payload: dict, lease: dict | None = None
) -> None:
    """Atomically commit ``payload`` (must carry ``token``) as the marker
    file ``<path>/<marker>``. The tmp name embeds the token so an
    orphaned half-written marker tmp is sweepable by prefix. With a
    ``lease``, the holder is re-verified immediately before the
    ``os.replace`` commit point (a zombie maintainer raises
    ``MaintainerFencedError`` instead of committing) and the lease's
    fence generation is embedded in the marker for attribution."""
    if lease is not None:
        payload = {**payload, "fence": lease["fence"]}
    marker_tmp = os.path.join(path, f".{marker}-{payload['token']}")
    with open(marker_tmp, "w") as f:
        json.dump(payload, f)
    if lease is not None:
        verify_maintainer_lease(lease)  # fencing: reject a zombie's commit
    os.replace(marker_tmp, os.path.join(path, marker))  # commit point


def recover_marker_commit(
    path: str,
    marker: str,
    names: Sequence[str],
    tmp_of: Callable[[str, str], str],
    old_of: Callable[[str, str], str],
    batches_dir: str | None = None,
    extra_cleanup: Callable[[str], Iterable[str]] | None = None,
    orphan_dir_prefixes: Sequence[str] = (),
    sweep_orphans: bool = True,
) -> None:
    """Finish (marker present) or undo (markerless tmp) an interrupted
    marker-file commit over the relations ``names`` living at
    ``<path>/<name>``. ``tmp_of(token, name)`` / ``old_of(token, name)``
    map to the adapter's tmp/backup locations (absolute paths);
    ``batches_dir`` holds the folded ``batch=*`` dirs to delete on
    roll-forward; ``extra_cleanup(token)`` yields extra paths to remove
    after the swap (e.g. a shared tmp ROOT whose per-relation subdirs
    were renamed out); ``orphan_dir_prefixes`` are ``<path>`` entry-name
    prefixes swept when no marker exists (plus ``.{marker}-`` tmps).
    Every step is existence-guarded, so recovery is re-runnable from any
    crash point — including a crash inside a previous recovery.

    ``sweep_orphans=False`` is the READER form: roll committed work
    forward (a reader must see consistent state) but never delete a
    markerless tmp — to a reader that tmp is invisible (the live
    relations are untouched), while to a compactor RUNNING RIGHT NOW it
    is the in-flight build: a reader sweeping it would let the compactor
    commit a marker whose tmps are gone, and the next roll-forward would
    delete the folded batch dirs WITHOUT installing the merged tables —
    permanent state loss. Only maintenance entry points (which hold the
    single-maintainer role by contract) sweep."""
    mpath = os.path.join(path, marker)
    if os.path.exists(mpath):
        with open(mpath) as f:
            state = json.load(f)
        token, batches = state["token"], state["batches"]
        for name in names:
            tmp, old = tmp_of(token, name), old_of(token, name)
            live = os.path.join(path, name)
            if os.path.isdir(tmp):
                # swap the merged table live (two renames; re-entrant
                # from either side of the crash window)
                if os.path.isdir(live) and not os.path.isdir(old):
                    os.rename(live, old)
                if not os.path.isdir(live):
                    os.rename(tmp, live)
                else:  # crashed between old-rename and tmp-rename last time
                    shutil.rmtree(tmp, ignore_errors=True)
            shutil.rmtree(old, ignore_errors=True)
        if batches_dir is not None:
            for b in batches:
                shutil.rmtree(os.path.join(batches_dir, b), ignore_errors=True)
        if extra_cleanup is not None:
            for p in extra_cleanup(token):
                shutil.rmtree(p, ignore_errors=True)
        os.remove(mpath)
    if sweep_orphans and os.path.isdir(path):
        for name in os.listdir(path):
            full = os.path.join(path, name)
            if any(name.startswith(p) for p in orphan_dir_prefixes):
                shutil.rmtree(full, ignore_errors=True)
            elif name.startswith(f".{marker}-"):
                os.remove(full)  # orphaned half-written marker tmp


def fold_into_state(
    spark: SparkSession,
    state_dir: str,
    batch_id: int,
    batch_cells: DataFrame,
    merge: Callable[[DataFrame, DataFrame], DataFrame],
) -> None:
    """Fold one micro-batch's pre-aggregated relation into the state table.

    ``merge(state, batch_cells)`` must be the associative combine (keyed
    sum for counts/partial sums, register MAX for HLL-style state, ...).
    Skips already-applied batch ids; swaps the merged table in atomically
    with the batch id recorded in the same swap.
    """
    state = ParquetMergeTarget(spark, state_dir)
    state.recover()  # repair a mid-stream swap crash too
    if batch_id <= state.last_batch_id():
        return  # at-least-once redelivery of an already-folded batch
    if os.path.exists(state_dir):
        merged = merge(spark.read.parquet(state_dir), batch_cells)
    elif batch_cells.isEmpty():
        # an empty first batch must NOT create the state dir: an empty
        # write lands no part files (only _SUCCESS + the batch-id file),
        # and every later batch's spark.read.parquet(state_dir) would
        # die on schema inference — a permanent wedge recovery cannot
        # repair (the dir looks live). Skipping records nothing, which
        # is exactly right: there is no state yet.
        return
    else:
        merged = batch_cells
    state.write(merged, batch_id)


def start_foreach_batch(
    stream: DataFrame,
    process_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    query_name: str | None = None,
    available_now: bool = True,
):
    """Start ``process_batch(batch_df, batch_id)`` over ``stream``,
    checkpointed at ``checkpoint_dir``. ``available_now`` drains the
    backlog and stops; otherwise the query runs until stopped. Returns
    the StreamingQuery."""
    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if query_name is not None:
        writer = writer.queryName(query_name)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_json_lines(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream a JSON-lines drop dir as the columns of ``schema``, a DDL
    string with a ``doc_id`` column; lines without a ``doc_id`` are
    dropped. ``max_files_per_trigger`` caps files per micro-batch."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return (
        reader.load(input_dir)
        .select(F.from_json("value", schema).alias("_r"))
        .select("_r.*")
        .where(F.col("doc_id").isNotNull())
    )


def run_fold_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    query_name: str,
    cells: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame, DataFrame], DataFrame],
):
    """Maintain a mergeable state table over a text drop dir: each
    micro-batch's lines (a ``value`` column) become ``cells(batch_df)``,
    folded into ``state_dir`` with ``merge`` (``fold_into_state``).
    Recovery runs at start too, not only inside a batch: a restart that
    reads no new file must still restore a stranded backup, since
    readers such as ``drift_stream.psi_report`` read the state dir
    directly. Returns the StreamingQuery; swap the file source for the
    Kafka consumer unchanged."""
    ParquetMergeTarget(spark, state_dir).recover()

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        fold_into_state(spark, state_dir, batch_id, cells(batch_df), merge)

    raw = spark.readStream.format("text").load(input_dir)
    return start_foreach_batch(raw, process_batch, checkpoint_dir, query_name)
