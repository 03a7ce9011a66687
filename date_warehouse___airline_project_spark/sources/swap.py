"""The rename-swap: replace a directory whole (merge-target tables,
compacted parquet, state tables, an IVF index, its tombstone set,
release shards), and recover from a crash between its two renames.
Driver-local ``os.rename``: atomic on one POSIX filesystem only (see
``streaming/ivf_stream.py::_require_local_path``).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable


class SwapInError(RuntimeError):
    """A swap-in failed after the live table was renamed aside, and the
    backup could not be put back: the table path is missing."""


def rename_swap(new: str, live: str, old: str) -> None:
    """Replace the directory ``live`` by the fully written ``new``
    beside it: rename live to the backup ``old``, rename new into place,
    delete the backup. Without a live directory ``new`` is renamed
    straight in. If the second rename fails, the backup is put back and
    the failure re-raised; if that restore fails too, ``SwapInError``
    names the backup. ``new``'s write and cleanup belong to the caller."""
    if not os.path.exists(live):
        os.rename(new, live)
        return
    os.rename(live, old)
    try:
        os.rename(new, live)
    except BaseException:
        try:
            os.rename(old, live)
        except OSError as restore:
            raise SwapInError(
                f"{live} is missing; its previous state is in {old}"
            ) from restore
        raise
    # only after the new state is live; a leftover backup is harmless
    shutil.rmtree(old, ignore_errors=True)


def _mtime(path: str) -> float:
    # a writer finishing its swap may delete a backup after the listing
    try:
        return os.path.getmtime(path)
    except FileNotFoundError:
        return 0.0


def recover_rename_swap(
    root: str,
    old_prefix: str,
    tmp_prefix: str,
    live_of: Callable[[str], str],
    sweep_orphans: bool = True,
) -> None:
    """Repair interrupted ``rename_swap`` calls under ``root``. An
    ``<old_prefix><token>-<item>`` backup with NO live dir
    (``live_of(item)``, a dirname under ``root``; ``<item>`` is the text
    after the last ``-``) means the crash hit between the two renames:
    roll BACK by restoring the backup (every rewrite swapped this way is
    idempotent and re-runnable, so the pre-swap state is always safe).
    Backups are visited newest first, so when several are stranded the
    newest is restored; a backup WITH a live dir is post-swap debris and
    is deleted, along with every ``<tmp_prefix>*`` sibling.

    ``sweep_orphans=False`` is the READER form: restore stranded backups
    (a reader needs the live dir back) but never delete a
    ``<tmp_prefix>*`` sibling, which may be a writer's in-flight build
    (see ``streaming/state_table.py::recover_marker_commit``). Only
    entry points that mutate the artifact sweep."""
    if not os.path.isdir(root):
        return
    names = os.listdir(root)
    olds = [os.path.join(root, n) for n in names if n.startswith(old_prefix)]
    for old in sorted(olds, key=_mtime, reverse=True):
        live = os.path.join(root, live_of(old.rsplit("-", 1)[1]))
        if not os.path.isdir(live):
            os.rename(old, live)  # roll back the half-swapped item
        else:
            shutil.rmtree(old, ignore_errors=True)
    if sweep_orphans:
        for n in names:
            if n.startswith(tmp_prefix):
                shutil.rmtree(os.path.join(root, n), ignore_errors=True)
