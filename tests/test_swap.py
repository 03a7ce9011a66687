"""Failure paths of the one rename-swap (``sources/swap.py``) and of the
callers that replace a directory whole through it: a failed second
rename puts the backup back, and a crash between the renames is repaired
by ``recover_rename_swap``. Tests that only check renames use plain
directories and run no Spark action."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from date_warehouse___airline_project_spark.sources.swap import (
    SwapInError,
    recover_rename_swap,
    rename_swap,
)


def _dir(path, marker):
    os.makedirs(path)
    with open(os.path.join(path, "marker"), "w") as f:
        f.write(marker)


def _marker(path):
    with open(os.path.join(path, "marker")) as f:
        return f.read()


def _fail_rename_onto(monkeypatch, live, blocked=(".tmp-", ".new")):
    """Make moving a directory onto ``live`` fail when the source's name
    contains one of ``blocked``."""
    real_rename = os.rename

    def rename(src, dst, *a, **kw):
        if str(dst) == str(live) and any(b in os.path.basename(str(src)) for b in blocked):
            raise OSError("injected rename failure")
        return real_rename(src, dst, *a, **kw)

    monkeypatch.setattr(os, "rename", rename)


# --- rename_swap / recover_rename_swap on plain directories -------------------


def test_rename_swap_replaces_live_and_drops_backup(tmp_path):
    live, new, old = tmp_path / "t", tmp_path / "t.new", tmp_path / "t.old-1"
    _dir(new, "first")
    rename_swap(str(new), str(live), str(old))  # no live dir: straight in
    _dir(new, "second")
    rename_swap(str(new), str(live), str(old))
    assert _marker(live) == "second"
    assert sorted(os.listdir(tmp_path)) == ["t"]


def test_rename_swap_puts_backup_back_when_second_rename_fails(tmp_path, monkeypatch):
    live, new, old = tmp_path / "t", tmp_path / "t.new", tmp_path / "t.old-1"
    _dir(live, "before")
    _dir(new, "after")
    _fail_rename_onto(monkeypatch, live)
    with pytest.raises(OSError, match="injected"):
        rename_swap(str(new), str(live), str(old))
    assert _marker(live) == "before"
    assert not old.exists()
    assert _marker(new) == "after"  # the caller's write, left to the caller


def test_rename_swap_raises_swapinerror_when_restore_fails(tmp_path, monkeypatch):
    live, new, old = tmp_path / "t", tmp_path / "t.new", tmp_path / "t.old-1"
    _dir(live, "before")
    _dir(new, "after")
    _fail_rename_onto(monkeypatch, live, blocked=(".new", ".old-"))
    with pytest.raises(SwapInError, match=r"t\.old-1"):
        rename_swap(str(new), str(live), str(old))
    assert not live.exists()
    assert _marker(old) == "before"


def test_recover_rename_swap_restores_the_newest_of_two_backups(tmp_path):
    older, newer = tmp_path / "t.old-aaaa", tmp_path / "t.old-bbbb"
    _dir(older, "older")
    _dir(newer, "newer")
    os.utime(older, (1_000_000, 1_000_000))
    os.utime(newer, (2_000_000, 2_000_000))
    _dir(tmp_path / "t.tmp-cccc", "in-flight")
    recover_rename_swap(str(tmp_path), "t.old-", "t.tmp-", lambda _: "t")
    assert _marker(tmp_path / "t") == "newer"
    assert sorted(os.listdir(tmp_path)) == ["t"]  # older backup and tmp swept


def test_merge_target_reader_restores_a_stranded_table(tmp_path):
    from date_warehouse___airline_project_spark.sources.merge_target import (
        ParquetMergeTarget,
    )

    _dir(tmp_path / "t.old-deadbeef", "before")
    _dir(tmp_path / "t.tmp-cafe0001", "in-flight")
    assert ParquetMergeTarget(None, str(tmp_path / "t")).exists()
    assert _marker(tmp_path / "t") == "before"
    # the reader form never sweeps: the tmp may be a writer's build
    assert sorted(os.listdir(tmp_path)) == ["t", "t.tmp-cafe0001"]


# --- callers, through Spark ---------------------------------------------------


def test_upsert_after_a_kill_between_the_renames_keeps_the_old_rows(spark, tmp_path):
    from date_warehouse___airline_project_spark.sources.sinks import safe_upsert

    path = str(tmp_path / "staging_airlines")
    first = spark.createDataFrame([("AA", "American"), ("BA", "British")], "k string, v string")
    assert safe_upsert(first, path, ["k"]) == "inserted"
    # a process killed between the two renames of the swap
    os.rename(path, f"{path}.old-deadbeef")
    os.makedirs(f"{path}.tmp-deadbeef")
    batch = spark.createDataFrame([("CA", "Air China")], "k string, v string")
    assert safe_upsert(batch, path, ["k"]) == "upserted"
    rows = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert rows == [("AA", "American"), ("BA", "British"), ("CA", "Air China")]
    assert os.listdir(tmp_path) == ["staging_airlines"]


def _sum_cells(state, cells):
    return state.unionByName(cells).groupBy("k").agg(F.sum("cnt").alias("cnt"))


def _fold(spark, path, batch_id, rows):
    from date_warehouse___airline_project_spark.streaming.state_table import (
        fold_into_state,
    )

    cells = spark.createDataFrame(rows, "k int, cnt int")
    fold_into_state(spark, path, batch_id, cells, _sum_cells)


def _scd2(spark, path, batch_id, v, ts):
    from date_warehouse___airline_project_spark.streaming.scd2_stream import (
        apply_scd2_batch,
    )

    batch = spark.createDataFrame([(1, v, ts)], "k int, v string, ts string")
    apply_scd2_batch(spark, path, batch, batch_id, ["k"], ["v"], "ts")


def _upsert(spark, path, rows):
    from date_warehouse___airline_project_spark.sources.sinks import safe_upsert

    return safe_upsert(spark.createDataFrame(rows, "k int, cnt int"), path, ["k"])


def _compact(spark, path):
    from date_warehouse___airline_project_spark.sources.sinks import compact_parquet

    compact_parquet(spark, path)


# (first write, second write whose swap fails, rows the second write adds)
_SHARED_WRITE_CALLERS = {
    # the reference's insert fallback appends the batch to the kept table
    "safe_upsert": (
        lambda spark, p: _upsert(spark, p, [(1, 10)]),
        lambda spark, p: _upsert(spark, p, [(2, 20)]),
        [(2, 20)],
    ),
    "fold_into_state": (
        lambda spark, p: _fold(spark, p, 0, [(1, 10)]),
        lambda spark, p: _fold(spark, p, 1, [(1, 99)]),
        [],
    ),
    "apply_scd2_batch": (
        lambda spark, p: _scd2(spark, p, 0, "a", "2024-01-01 00:00:00"),
        lambda spark, p: _scd2(spark, p, 1, "b", "2024-02-01 00:00:00"),
        [],
    ),
    "compact_parquet": (
        lambda spark, p: _fold(spark, p, 0, [(1, 10)]),
        _compact,
        [],
    ),
}


@pytest.mark.parametrize("caller", list(_SHARED_WRITE_CALLERS))
def test_failed_second_rename_keeps_the_previous_table(spark, tmp_path, monkeypatch, caller):
    from date_warehouse___airline_project_spark.sources.merge_target import (
        ParquetMergeTarget,
    )

    first, second, appended = _SHARED_WRITE_CALLERS[caller]
    path = str(tmp_path / "t")
    first(spark, path)
    rows = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    batch_id = ParquetMergeTarget(spark, path).last_batch_id()
    _fail_rename_onto(monkeypatch, path)
    if caller == "safe_upsert":
        assert second(spark, path) == "inserted"
    else:
        with pytest.raises(OSError, match="injected"):
            second(spark, path)
    monkeypatch.undo()
    got = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert got == sorted(rows + appended)
    assert ParquetMergeTarget(spark, path).last_batch_id() == batch_id
    assert os.listdir(tmp_path) == ["t"]  # no .tmp-* or .old-* left


def test_first_insert_failed_rename_leaves_no_table(spark, tmp_path, monkeypatch):
    from date_warehouse___airline_project_spark.sources.merge_target import (
        ParquetMergeTarget,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 10)], "k int, cnt int")
    _fail_rename_onto(monkeypatch, path)
    # the first insert is written beside the table and renamed in, so a
    # failed (or killed) insert never leaves a partial live table
    with pytest.raises(OSError, match="injected"):
        ParquetMergeTarget(spark, path).upsert(df, ["k"])
    monkeypatch.undo()
    assert os.listdir(tmp_path) == []
