"""Warehouse-layer tests: typing/dedup into prefact, SCD2 invariants
(rerun no-op, change closes+opens, one current row per key), surrogate-key
stability, and fact SK resolution."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from date_warehouse___airline_project_spark.pipelines.warehouse import (
    WarehouseConfig,
    dim_to_fact,
    run_batch,
    stage_to_prefact,
)

CFG = WarehouseConfig(
    subject="booking",
    natural_key=("booking_reference",),
    tracked=("channel", "status"),
    measures=("amount",),
    type_map={"amount": "decimal(10,2)"},
)

BATCH1 = [
    ("B001", "web", "confirmed", "100.50"),
    ("B002", "agency", "pending", "200.00"),
    ("B001", "web", "DUPLICATE", "999.99"),  # keep-first drops this
]
BATCH2 = [
    ("B001", "web", "cancelled", "100.50"),  # status change → new version
    ("B002", "agency", "pending", "250.00"),  # tracked attrs same → no-op
    ("B003", "mobile", "confirmed", "300.00"),  # new key
]
COLS = ["booking_reference", "channel", "status", "amount"]


@pytest.fixture(scope="module")
def dims(spark):
    s1 = spark.createDataFrame(BATCH1, COLS)
    s2 = spark.createDataFrame(BATCH2, COLS)
    _, dim1, fact1 = run_batch(s1, None, CFG, "2026-01-01 00:00:00")
    dim1 = dim1.cache()
    _, dim2, fact2 = run_batch(s2, dim1, CFG, "2026-02-01 00:00:00")
    return dim1, dim2.cache(), fact1, fact2


def test_prefact_types_and_dedups(spark):
    pf = stage_to_prefact(spark.createDataFrame(BATCH1, COLS), CFG)
    rows = {r.booking_reference: r for r in pf.collect()}
    assert len(rows) == 2
    assert rows["B001"].status == "confirmed"  # first occurrence won
    assert str(rows["B001"].amount) == "100.50"
    assert dict(pf.dtypes)["amount"] == "decimal(10,2)"


def test_scd2_change_closes_and_opens(dims):
    _, dim2, _, _ = dims
    b1 = sorted(
        dim2.filter(F.col("booking_reference") == "B001").collect(),
        key=lambda r: r._valid_from,
    )
    assert len(b1) == 2
    closed, opened = b1
    assert not closed._is_current and str(closed._valid_to) == "2026-02-01 00:00:00"
    assert closed.status == "confirmed"
    assert opened._is_current and opened._valid_to is None
    assert opened.status == "cancelled"


def test_scd2_noop_and_insert(dims):
    _, dim2, _, _ = dims
    b2 = dim2.filter(F.col("booking_reference") == "B002").collect()
    assert len(b2) == 1 and b2[0]._is_current
    assert str(b2[0]._valid_from) == "2026-01-01 00:00:00"  # untouched
    b3 = dim2.filter(F.col("booking_reference") == "B003").collect()
    assert len(b3) == 1 and b3[0]._is_current
    assert str(b3[0]._valid_from) == "2026-02-01 00:00:00"


def test_scd2_rerun_is_noop(spark, dims):
    _, dim2, _, _ = dims
    s2 = spark.createDataFrame(BATCH2, COLS)
    _, dim3, _ = run_batch(s2, dim2, CFG, "2026-03-01 00:00:00")
    a = sorted(map(tuple, dim2.collect()))
    b = sorted(map(tuple, dim3.collect()))
    assert a == b


def test_one_current_row_per_key(dims):
    _, dim2, _, _ = dims
    bad = (
        dim2.filter(F.col("_is_current"))
        .groupBy("booking_reference")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert bad == 0


def test_surrogate_keys_stable_and_fact_resolution(dims):
    dim1, dim2, fact1, fact2 = dims
    sk1 = {r.booking_reference: r.booking_sk for r in dim1.filter(F.col("_is_current")).collect()}
    # B002 never changed: its surrogate survives the second merge unchanged
    sk2 = {r.booking_reference: r.booking_sk for r in dim2.filter(F.col("_is_current")).collect()}
    assert sk1["B002"] == sk2["B002"]
    assert sk1["B001"] != sk2["B001"]  # new version → new surrogate

    f2 = {r.booking_reference: r for r in fact2.collect()}
    assert f2["B001"].booking_sk == sk2["B001"]
    assert str(f2["B002"].amount) == "250.00"
    assert all(r.booking_sk is not None for r in f2.values())


def test_parquet_merge_target_upsert_and_scd2_contract(spark, tmp_path):
    from date_warehouse___airline_project_spark.sources import ParquetMergeTarget

    t = ParquetMergeTarget(spark, str(tmp_path / "tbl"))
    assert not t.exists()
    assert t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]), ["k"]) == "inserted"
    assert t.upsert(spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"]), ["k"]) == "upserted"
    assert {(r.k, r.v) for r in t.read().collect()} == {(1, "a"), (2, "B"), (3, "c")}

    d = ParquetMergeTarget(spark, str(tmp_path / "dim"))
    u1 = spark.createDataFrame([("bk1", "econ"), ("bk2", "biz")], ["booking_reference", "cls"])
    d.apply_scd2(u1, ["booking_reference"], ["cls"], "2026-01-01 00:00:00")
    u2 = spark.createDataFrame([("bk1", "first")], ["booking_reference", "cls"])
    d.apply_scd2(u2, ["booking_reference"], ["cls"], "2026-02-01 00:00:00")
    rows = {(r.booking_reference, r.cls, r._is_current) for r in d.read().collect()}
    assert rows == {
        ("bk1", "econ", False),  # closed version
        ("bk1", "first", True),  # reopened current
        ("bk2", "biz", True),  # untouched current
    }
    # idempotence: replaying the batch is a no-op
    d.apply_scd2(u2, ["booking_reference"], ["cls"], "2026-03-01 00:00:00")
    assert d.read().count() == 3


def test_parquet_merge_target_contract_with_in_batch_duplicates(spark, tmp_path):
    # The upsert + SCD2 contract with an in-batch duplicate key in the
    # upsert batch.
    from date_warehouse___airline_project_spark.sources import ParquetMergeTarget

    t = ParquetMergeTarget(spark, str(tmp_path / "tbl"))
    assert not t.exists()
    assert t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]), ["k"]) == "inserted"
    # update + insert + an in-batch duplicate key in one batch
    batch = spark.createDataFrame([(2, "B"), (3, "c"), (3, "c2")], ["k", "v"])
    assert t.upsert(batch, ["k"]) == "upserted"
    state = {r.k: r.v for r in t.read().collect()}
    assert state[1] == "a" and state[2] == "B" and state[3] in ("c", "c2")
    assert t.read().groupBy("k").count().filter("count > 1").count() == 0

    d = ParquetMergeTarget(spark, str(tmp_path / "dim"))
    u1 = spark.createDataFrame([("bk1", "econ"), ("bk2", "biz")], ["booking_reference", "cls"])
    d.apply_scd2(u1, ["booking_reference"], ["cls"], "2026-01-01 00:00:00")
    u2 = spark.createDataFrame([("bk1", "first")], ["booking_reference", "cls"])
    d.apply_scd2(u2, ["booking_reference"], ["cls"], "2026-02-01 00:00:00")
    rows = {(r.booking_reference, r.cls, r._is_current) for r in d.read().collect()}
    assert rows == {
        ("bk1", "econ", False),
        ("bk1", "first", True),
        ("bk2", "biz", True),
    }
    # idempotence: replaying the same tracked values is a no-op
    d.apply_scd2(u2, ["booking_reference"], ["cls"], "2026-03-01 00:00:00")
    assert d.read().count() == 3


def test_parquet_merge_target_dedups_within_batch(spark, tmp_path):
    # the per-key-uniqueness contract must hold even when one batch
    # carries duplicate keys (Delta MERGE would reject such a batch)
    from date_warehouse___airline_project_spark.sources import ParquetMergeTarget

    t = ParquetMergeTarget(spark, str(tmp_path / "tbl"))
    t.upsert(spark.createDataFrame([(1, "a"), (1, "b")], ["k", "v"]), ["k"])
    assert t.read().count() == 1
    t.upsert(spark.createDataFrame([(1, "c"), (1, "d"), (2, "e")], ["k", "v"]), ["k"])
    rows = t.read().groupBy("k").count().collect()
    assert all(r["count"] == 1 for r in rows) and len(rows) == 2


def test_export_shards_roundtrip_order_and_colocation(spark, tmp_path):
    # The written corpus must (a) partition into exactly the assigned
    # shards, (b) preserve the deterministic in-shard hash order as the
    # file row order, (c) write each shard as ONE task's output (the
    # co-location contract), so readers stream a shard sequentially.
    import glob

    import pandas as pd

    from date_warehouse___airline_project_spark.functions.hashing import hash56
    from date_warehouse___airline_project_spark.sources.sinks import export_shards

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "shards")
    export_shards(docs, path, n_shards=4)

    # (a) assignment parity with the registry query's rule
    want = {
        (r.doc_id, r.shard)
        for r in docs.select(
            "doc_id", (hash56(F.col("doc_id")) % 4).cast("bigint").alias("shard")
        ).collect()
    }
    got = {
        (r.doc_id, r.shard)
        for r in spark.read.parquet(path).select("doc_id", "shard").collect()
    }
    assert got == want
    # (b)+(c) one data file per shard; file row order == hash order
    for s in range(4):
        files = [
            f
            for f in glob.glob(f"{path}/shard={s}/*")
            if not f.endswith(".crc") and "_SUCCESS" not in f
        ]
        assert len(files) == 1, f"shard {s} not co-located: {files}"
        pdf = pd.read_parquet(files[0])
        hashes = [
            r.h for r in spark.createDataFrame(pdf[["doc_id"]])
            .select(hash56(F.col("doc_id")).alias("h"))
            .collect()
        ]
        assert hashes == sorted(hashes), f"shard {s} rows not in hash order"


def test_compact_parquet_merges_slivers_preserving_rows(spark, tmp_path):
    # A sliver-heavy directory (32 files from a wide repartition write)
    # compacts to the byte-target file count with identical row content.
    import glob

    from date_warehouse___airline_project_spark.sources.sinks import compact_parquet

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "slivers")
    docs.repartition(32).write.parquet(path)
    before_files = glob.glob(f"{path}/part-*.parquet")
    assert len(before_files) == 32
    before_rows = {r.doc_id for r in spark.read.parquet(path).collect()}

    total = sum(len(open(f, "rb").read()) for f in before_files)
    # target ~ half the table -> expect exactly 2 files
    n = compact_parquet(spark, path, target_file_bytes=(total + 1) // 2)
    assert n == 2
    assert len(glob.glob(f"{path}/part-*.parquet")) == 2
    assert {r.doc_id for r in spark.read.parquet(path).collect()} == before_rows
    # swap left no tmp/backup siblings behind
    assert glob.glob(f"{path}.tmp-*") == [] and glob.glob(f"{path}.old-*") == []


def test_compact_parquet_keeps_a_state_tables_batch_id(spark, tmp_path):
    # Compacting a stream's state table must keep its recorded batch id:
    # a redelivered batch 0 after the compaction is still skipped, not
    # folded a second time.
    from date_warehouse___airline_project_spark.sources.merge_target import (
        ParquetMergeTarget,
    )
    from date_warehouse___airline_project_spark.sources.sinks import compact_parquet
    from date_warehouse___airline_project_spark.streaming.state_table import (
        fold_into_state,
    )

    def merge(state, cells):
        return state.unionByName(cells).groupBy("k").agg(F.sum("cnt").alias("cnt"))

    state = str(tmp_path / "state")
    cells = spark.createDataFrame([(1, 10)], "k int, cnt int")
    fold_into_state(spark, state, 0, cells, merge)
    compact_parquet(spark, state)
    fold_into_state(spark, state, 0, cells, merge)  # redelivered batch 0
    assert [tuple(r) for r in spark.read.parquet(state).collect()] == [(1, 10)]
    assert ParquetMergeTarget(spark, state).last_batch_id() == 0


def test_backfill_overwrites_only_named_partitions(spark, tmp_path):
    # A one-month backfill must replace that month's partition and leave
    # every other partition byte-for-byte alone; re-running converges.
    from date_warehouse___airline_project_spark.sources.sinks import (
        backfill_partitions,
    )

    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        "o_orderkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
    )
    path = str(tmp_path / "bymonth")
    o.write.partitionBy("month").parquet(path)
    months = [r.month for r in spark.read.parquet(path).select("month").distinct().collect()]
    target = sorted(months)[0]
    other = sorted(months)[1]
    before_other = {
        (r.o_orderkey, float(r.o_totalprice))
        for r in spark.read.parquet(path).filter(F.col("month") == other).collect()
    }

    fixed = (
        o.filter(F.col("month") == target)
        .withColumn("o_totalprice", F.col("o_totalprice") * 0 + 1.0)
    )
    backfill_partitions(fixed, path, "month")
    after = spark.read.parquet(path)
    # target month fully replaced by the fixed rows
    got_target = {float(r.o_totalprice) for r in after.filter(F.col("month") == target).collect()}
    assert got_target == {1.0}
    # untouched month identical
    after_other = {
        (r.o_orderkey, float(r.o_totalprice))
        for r in after.filter(F.col("month") == other).collect()
    }
    assert after_other == before_other
    # idempotent: re-run converges to the same table (fresh read: the
    # rewrite invalidates the old DataFrame's file listing)
    n_after = after.count()
    backfill_partitions(fixed, path, "month")
    assert spark.read.parquet(path).count() == n_after


def test_scd2_reconcile_version_lost(spark):
    """A retroactive effective-date moving PAST a fact must surface as
    dim_version_lost — the class the certified query's data cannot
    produce (its corrections only add versions)."""
    from date_warehouse___airline_project_spark.operators.scd2 import (
        scd2_init,
        scd2_reconcile,
    )

    facts = spark.createDataFrame(
        [(100, 1, "2020-06-01"), (101, 2, "2020-06-01")],
        "fact_id long, key long, ts string",
    ).selectExpr("fact_id", "key", "CAST(ts AS TIMESTAMP) AS ts")
    dim_rows = spark.createDataFrame(
        [(1, "A"), (2, "B")], "key long, attr string"
    )
    dim_old = scd2_init(dim_rows, "2020-01-01 00:00:00")
    # the corrected state says key 1's history only STARTS in July —
    # the June fact no longer resolves to any version
    dim_new = scd2_init(
        spark.createDataFrame([(1, "A")], "key long, attr string"),
        "2020-07-01 00:00:00",
    ).unionByName(
        scd2_init(
            spark.createDataFrame([(2, "B")], "key long, attr string"),
            "2020-01-01 00:00:00",
        )
    )
    out = {
        r["fact_id"]: (r["change_type"], r["old_attr"], r["new_attr"])
        for r in scd2_reconcile(
            facts, dim_old, dim_new, "key", "ts", "key", ["attr"]
        ).collect()
    }
    assert out == {100: ("dim_version_lost", "A", None)}
