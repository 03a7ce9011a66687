"""Streaming tests: eligibility pipeline end-to-end through a file-source
stream (availableNow), watermarked windows vs their batch equivalents, and
CSV drop-dir ingest through a cleaning pipeline."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from date_warehouse___airline_project_spark.streaming import (
    run_eligibility_stream,
    stream_csv_dir,
    windowed_event_counts,
)

FLIGHTS = [
    # (flight_number, scheduled, actual) — delay 180 min → eligible
    ("AA100", "2026-01-01 10:00:00", "2026-01-01 13:00:00"),
    # older row for AA100: must be ignored (latest-by-scheduled wins)
    ("AA100", "2025-12-01 10:00:00", "2025-12-01 10:05:00"),
    # delay 30 min → not eligible
    ("BB200", "2026-01-01 09:00:00", "2026-01-01 09:30:00"),
    # unparseable actual → invalid_time_format
    ("CC300", "2026-01-01 08:00:00", "not-a-time"),
    # missing actual → missing_time_data
    ("DD400", "2026-01-01 07:00:00", None),
]


def _msg(ptype: str, pid: str, flight: str) -> str:
    return json.dumps(
        {
            "type": ptype,
            "payload": {
                "passengerId": pid,
                "firstName": "Ada",
                "lastName": "Lovelace",
                "flightNumber": flight,
            },
            "requested_at": "2026-01-02T00:00:00Z",
        }
    )


@pytest.fixture()
def flights_df(spark):
    return spark.createDataFrame(
        FLIGHTS, ["flight_number", "scheduled_departure", "actual_departure"]
    )


def test_eligibility_stream_end_to_end(spark, tmp_path, flights_df):
    input_dir, audit, results, ckpt = (
        str(tmp_path / d) for d in ("in", "audit", "results", "ckpt")
    )
    (tmp_path / "in").mkdir()
    lines = [
        _msg("eligibility_check", "P1", "AA100"),
        _msg("eligibility_check", "P2", "BB200"),
        _msg("eligibility_check", "P3", "CC300"),
        _msg("eligibility_check", "P4", "DD400"),
        _msg("eligibility_check", "P5", "ZZ999"),  # flight_not_found
        _msg("other_event", "P6", "AA100"),  # audited, not dispatched
        "{not json",  # raw fallback, audited only
    ]
    (tmp_path / "in" / "batch1.txt").write_text("\n".join(lines))

    q = run_eligibility_stream(spark, input_dir, flights_df, audit, results, ckpt)
    q.awaitTermination(120)

    audit_rows = spark.read.parquet(audit)
    assert audit_rows.count() == 7  # every line audited, including malformed
    assert audit_rows.filter(F.col("type").isNull()).count() == 1

    res = {r.passenger_id: r for r in spark.read.parquet(results).collect()}
    assert len(res) == 5
    assert res["P1"].eligible and res["P1"].reason == "delay_threshold_met"
    assert res["P1"].delay_minutes == 180
    assert not res["P2"].eligible and res["P2"].reason == "delay_below_threshold"
    assert res["P2"].delay_minutes == 30
    assert res["P3"].reason == "invalid_time_format"
    assert res["P4"].reason == "missing_time_data"
    assert res["P5"].reason == "flight_not_found"

    # replay with the same checkpoint: no new rows (exactly-once per batch)
    q2 = run_eligibility_stream(spark, input_dir, flights_df, audit, results, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(results).count() == 5


def _outbox_row(oid: int, otype: str, pid: str, flight: str):
    import datetime

    return (
        oid,
        otype,
        (pid, "Ada", "Lovelace", flight),
        "2026-01-02T00:00:00Z",
        datetime.datetime(2026, 1, 2, 0, 0, oid % 60),
    )


def test_outbox_change_feed_end_to_end(spark, tmp_path, flights_df):
    # S11 as a real change-feed shape: INSERTs on an append-only outbox
    # table arrive as typed {op, new} events (supabaseWatcher.js:36-63
    # payload.new contract), re-serialize into the producer envelope, and
    # drive the FULL worker pipeline — parse_messages dispatch, audit
    # append, verdict computation — with no stand-in text shapes.
    from date_warehouse___airline_project_spark.streaming.outbox import (
        OUTBOX_SCHEMA,
        outbox_change_feed,
        outbox_to_kafka_values,
    )

    outbox, audit, results, ckpt = (
        str(tmp_path / d) for d in ("outbox", "audit", "results", "ckpt")
    )
    rows1 = [
        _outbox_row(1, "eligibility_check", "P1", "AA100"),
        _outbox_row(2, "eligibility_check", "P2", "BB200"),
        _outbox_row(3, "other_event", "P3", "AA100"),  # audited, not dispatched
    ]
    spark.createDataFrame(rows1, OUTBOX_SCHEMA).write.mode("append").parquet(outbox)

    feed = outbox_change_feed(spark, outbox)
    assert feed.isStreaming
    assert [f.name for f in feed.schema.fields] == ["op", "new"]

    q = run_eligibility_stream(
        spark, "", flights_df, audit, results, ckpt,
        source=outbox_to_kafka_values(outbox_change_feed(spark, outbox)),
    )
    q.awaitTermination(120)
    res = {r.passenger_id: r for r in spark.read.parquet(results).collect()}
    assert set(res) == {"P1", "P2"}
    assert res["P1"].eligible and res["P1"].reason == "delay_threshold_met"
    assert not res["P2"].eligible
    audit_rows = spark.read.parquet(audit)
    assert audit_rows.count() == 3  # other_event audited too
    assert audit_rows.filter(F.col("type") == "other_event").count() == 1

    # a second INSERT batch is picked up incrementally by the same
    # checkpointed stream — the watcher's continuous tailing semantics
    rows2 = [_outbox_row(4, "eligibility_check", "P4", "ZZ999")]
    spark.createDataFrame(rows2, OUTBOX_SCHEMA).write.mode("append").parquet(outbox)
    q = run_eligibility_stream(
        spark, "", flights_df, audit, results, ckpt,
        source=outbox_to_kafka_values(outbox_change_feed(spark, outbox)),
    )
    q.awaitTermination(120)
    res = {r.passenger_id: r for r in spark.read.parquet(results).collect()}
    assert res["P4"].reason == "flight_not_found"
    assert len(res) == 3  # batch-1 rows not re-processed


def test_outbox_envelope_parses_typed(spark):
    # outbox → producer value → parse_messages is a typed roundtrip: every
    # MESSAGE_SCHEMA field the worker dispatches on survives unchanged.
    from date_warehouse___airline_project_spark.streaming import parse_messages
    from date_warehouse___airline_project_spark.streaming.outbox import (
        OUTBOX_SCHEMA,
        outbox_to_kafka_values,
    )

    rows = spark.createDataFrame(
        [_outbox_row(7, "eligibility_check", "P7", "AA100")], OUTBOX_SCHEMA
    )
    feed = rows.select(
        F.lit("insert").alias("op"),
        F.struct(*[F.col(f.name) for f in OUTBOX_SCHEMA.fields]).alias("new"),
    )
    parsed = parse_messages(outbox_to_kafka_values(feed)).collect()[0]
    assert parsed.type == "eligibility_check"
    assert parsed.passenger_id == "P7"
    assert parsed.first_name == "Ada" and parsed.last_name == "Lovelace"
    assert parsed.flight_number == "AA100"
    assert parsed.requested_at == "2026-01-02T00:00:00Z"


def test_windowed_counts_stream_matches_batch(spark, tmp_path):
    from date_warehouse___airline_project_spark.sources.catalog import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "events_src")
    events.limit(400).write.parquet(src)

    batch = windowed_event_counts(spark.read.parquet(src))
    stream = windowed_event_counts(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.table("win_counts").collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_watermark_drops_late_data_in_append_mode(spark, tmp_path):
    """Two micro-batches; the second delivers an event far older than the
    advanced watermark. In append mode the event's (already emitted /
    expired) window must NOT be re-emitted or updated — the engine's
    late-data drop policy."""
    import time as _time

    src = tmp_path / "late_src"
    src.mkdir()
    schema = "ts timestamp, event_type string, value double"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / ("stage_" + name))
        )
        import shutil, glob

        part = glob.glob(str(tmp_path / ("stage_" + name) / "part-*.parquet"))[0]
        shutil.copy(part, str(src / (name + ".parquet")))

    from datetime import datetime

    t = lambda s: datetime.fromisoformat(s)  # noqa: E731
    # batch 1: events in windows 10:00 and 11:00; max ts 11:05 → after this
    # batch the watermark is 11:05 − 30min = 10:35 → the 10:00–10:15 window
    # is closed and emitted
    write_batch("b1", [(t("2026-01-01 10:01:00"), "a", 1.0),
                       (t("2026-01-01 10:02:00"), "a", 1.0),
                       (t("2026-01-01 11:05:00"), "a", 1.0)])

    stream = spark.readStream.schema(schema).parquet(str(src))
    from date_warehouse___airline_project_spark.streaming import windowed_event_counts

    agg = windowed_event_counts(stream, window="15 minutes", watermark="30 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "late_ckpt"))
        .start()
    )
    try:
        deadline = _time.time() + 60
        while _time.time() < deadline:
            q.processAllAvailable()
            if spark.table("late_test").count() >= 1:
                break
            _time.sleep(0.5)
        emitted1 = {
            (str(r.window_start), r.n_events) for r in spark.table("late_test").collect()
        }
        assert ("2026-01-01 10:00:00", 2) in emitted1  # closed window emitted once

        # batch 2: a late event for the already-closed 10:00 window
        write_batch("b2", [(t("2026-01-01 10:03:00"), "a", 99.0)])
        q.processAllAvailable()
        emitted2 = {
            (str(r.window_start), r.n_events) for r in spark.table("late_test").collect()
        }
        # the late event was dropped: no new/updated 10:00 window row
        assert emitted2 == emitted1
    finally:
        q.stop()


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState: per-user totals must ACCUMULATE across two
    separate micro-batches (proving GroupState persistence, not per-batch
    aggregation)."""
    from date_warehouse___airline_project_spark.streaming import running_user_totals

    src = tmp_path / "state_src"
    src.mkdir()
    schema = "user_id long, value double"

    def write_batch(name, rows):
        import glob, shutil

        stage = tmp_path / ("s_" + name)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
            str(stage)
        )
        shutil.copy(glob.glob(str(stage / "part-*.parquet"))[0], str(src / (name + ".parquet")))

    write_batch("b1", [(1, 10.0), (1, 5.0), (2, 1.0)])
    stream = spark.readStream.schema(schema).parquet(str(src))
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("state_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "state_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        write_batch("b2", [(1, 2.5), (3, 7.0)])
        q.processAllAvailable()
        # last emitted row per user reflects the cumulative state
        rows = spark.table("state_test").collect()
        latest = {}
        for r in rows:  # memory sink appends update-mode rows in order
            latest[r.user_id] = (r.n_events, r.total_value)
        assert latest[1] == (3, 17.5)  # 2 events in b1 + 1 in b2, summed
        assert latest[2] == (1, 1.0)
        assert latest[3] == (1, 7.0)
    finally:
        q.stop()


def test_transform_with_state_running_totals(spark, tmp_path):
    """Same running-totals contract through transformWithStateInPandas
    (Spark 4's StatefulProcessor API, RocksDB-backed state)."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState's state-server protocol needs protobuf "
        "(pyspark[connect] dependency) — absent in this container",
    )
    from date_warehouse___airline_project_spark.streaming import running_user_totals_tws

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    src = tmp_path / "tws_src"
    src.mkdir()
    schema = "user_id long, value double"

    def write_batch(name, rows):
        import glob, shutil

        stage = tmp_path / ("tws_" + name)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
            str(stage)
        )
        shutil.copy(glob.glob(str(stage / "part-*.parquet"))[0], str(src / (name + ".parquet")))

    write_batch("b1", [(1, 10.0), (1, 5.0), (2, 1.0)])
    stream = spark.readStream.schema(schema).parquet(str(src))
    q = (
        running_user_totals_tws(stream)
        .writeStream.format("memory")
        .queryName("tws_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "tws_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        write_batch("b2", [(1, 2.5), (3, 7.0)])
        q.processAllAvailable()
        latest = {}
        for r in spark.table("tws_test").collect():
            latest[r.user_id] = (r.n_events, r.total_value)
        assert latest[1] == (3, 17.5)
        assert latest[2] == (1, 1.0)
        assert latest[3] == (1, 7.0)
    finally:
        q.stop()
        if old is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old)


def test_csv_drop_dir_ingest_cleans_per_batch(spark, tmp_path):
    from date_warehouse___airline_project_spark.pipelines.cleaners import clean_airlinesales

    (tmp_path / "drop").mkdir()
    (tmp_path / "drop" / "f1.csv").write_text(
        "TransactionId,TicketPrice\n10001,$1,540.00\n,\n10001,$99.00\n"
    )
    out: dict[str, int] = {}

    def process(batch_df, batch_id):
        clean, quar = clean_airlinesales(batch_df)
        out["clean"] = clean.count()
        out["quar"] = quar.count()

    q = stream_csv_dir(
        spark,
        str(tmp_path / "drop"),
        ["TransactionId", "TicketPrice"],
        process,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    # row 1 clean; row 2 missing id → quarantine; row 3 duplicate id → quarantine
    assert out == {"clean": 1, "quar": 2}


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join (watermarks both sides + bounded range
    condition) over a file-source stream must equal the batch-mode join of
    the same inputs — certifying the join arithmetic; streaming mode adds
    only state-expiry mechanics."""
    from date_warehouse___airline_project_spark.sources.catalog import load_table
    from date_warehouse___airline_project_spark.streaming import (
        stream_stream_followup_join,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "ev_src")
    events.limit(500).write.parquet(src)

    def sides(df):
        return (
            df.filter(F.col("event_type") == "purchase"),
            df.filter(F.col("event_type") == "error"),
        )

    batch = stream_stream_followup_join(*sides(spark.read.parquet(src)), max_lag_minutes=1440)
    schema = spark.read.parquet(src).schema
    sp, se = sides(spark.readStream.schema(schema).parquet(src))
    stream = stream_stream_followup_join(sp, se, max_lag_minutes=1440)
    q = (
        stream.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ss"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {(r.purchase_id, r.error_id) for r in spark.table("ss_join").collect()}
    want = {(r.purchase_id, r.error_id) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_stream_stream_left_outer_join_emits_unmatched(spark, tmp_path):
    """Left-outer stream-stream join: a purchase with no follow-up error
    must surface with a null error_id — but only after the watermark
    passes its match interval (state expiry is the proof of no-match).
    Sentinel far-future events advance the watermark on both sides."""
    import glob, shutil

    from date_warehouse___airline_project_spark.streaming import (
        stream_stream_followup_join,
    )

    schema = "user_id long, ts timestamp, event_id long, value double, event_type string"
    t0 = "2024-01-01 12:00:00"
    batch1 = [
        (1, "2024-01-01 12:00:00", 101, 50.0, "purchase"),  # matched by 201
        (2, "2024-01-01 12:00:00", 102, 60.0, "purchase"),  # NO error follows
        (1, "2024-01-01 12:05:00", 201, 0.0, "error"),
    ]
    flush = [  # far future: watermark sweeps past every batch1 interval
        (9, "2024-01-02 12:00:00", 901, 0.0, "purchase"),
        (9, "2024-01-02 12:00:00", 902, 0.0, "error"),
    ]

    src = tmp_path / "lo_src"
    src.mkdir()

    def write_file(name, rows):
        stage = tmp_path / ("lo_" + name)
        df = spark.createDataFrame(
            [(u, t, e, v, k) for u, t, e, v, k in rows],
            "user_id long, ts string, event_id long, value double, event_type string",
        ).select(
            "user_id", F.to_timestamp("ts").alias("ts"), "event_id", "value", "event_type"
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(stage))
        shutil.copy(glob.glob(str(stage / "part-*.parquet"))[0], str(src / (name + ".parquet")))

    write_file("b1", batch1)
    sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
    joined = stream_stream_followup_join(
        sdf.filter(F.col("event_type") == "purchase"),
        sdf.filter(F.col("event_type") == "error"),
        watermark="10 minutes",
        max_lag_minutes=15,
        how="leftOuter",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("lo_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "lo_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        write_file("b2", flush)
        q.processAllAvailable()
        rows = {
            r.purchase_id: r.error_id
            for r in spark.table("lo_join").collect()
            if r.purchase_id < 900
        }
        assert rows[101] == 201  # inner match
        assert 102 in rows and rows[102] is None  # outer null after expiry
    finally:
        q.stop()


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup on event_id under a watermark — the
    at-least-once → effectively-once uplift (SURVEY ST5): replayed events
    inside the watermark horizon are dropped; state expires with the
    watermark instead of growing with the stream."""
    from date_warehouse___airline_project_spark.sources.catalog import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events").limit(200)
    src = str(tmp_path / "dedup_src")
    # write the batch TWICE — a full replay of every event
    events.write.parquet(src)
    events.write.mode("append").parquet(src)
    assert spark.read.parquet(src).count() == 400

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(src)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = [r.event_id for r in spark.table("dedup_stream").collect()]
    assert len(got) == len(set(got)) == 200


def test_kafka_source_sink_construction(spark):
    # The "kafka = connector config swap" claim, exercised for real: build
    # the actual format("kafka") source/sink with subscribe/startingOffsets.
    # On a cluster (connector jar present) the source must resolve to the
    # value:string shape shared with the drop-dir stand-in and analyze all
    # the way through parse_messages; in this container the jar is absent
    # and resolution raises DATA_SOURCE_NOT_FOUND → documented skip.
    from date_warehouse___airline_project_spark.streaming.eligibility_stream import (
        kafka_messages_source,
        kafka_results_sink,
        parse_messages,
    )

    try:
        raw = kafka_messages_source(spark, "localhost:9092", "outbox")
    except Exception as e:  # noqa: BLE001 - classify and re-raise below
        msg = str(e)
        if "DATA_SOURCE_NOT_FOUND" in msg or "kafka" in msg.lower():
            pytest.skip("spark-sql-kafka connector not on classpath: " + msg.splitlines()[0])
        raise
    assert raw.isStreaming
    assert [(f.name, f.dataType.simpleString()) for f in raw.schema.fields] == [
        ("value", "string")
    ]
    parsed = parse_messages(raw)
    assert parsed.isStreaming and "passenger_id" in parsed.columns
    writer = kafka_results_sink(parsed, "localhost:9092", "results", "/tmp/nope")
    assert writer is not None


def test_cms_stream_state_matches_batch_sketch(spark, tmp_path):
    # Two micro-batches of keys folded into the persistent cell table must
    # equal the sketch built over all keys at once (CMS mergeability).
    from date_warehouse___airline_project_spark.streaming.sketch_stream import (
        cms_cells,
        run_cms_stream,
    )

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    (input_dir / "b1.txt").write_text("\n".join(str(i % 7) for i in range(50)))
    q = run_cms_stream(
        spark, str(input_dir), str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    (input_dir / "b2.txt").write_text("\n".join(str(i % 5) for i in range(30)))
    q = run_cms_stream(
        spark, str(input_dir), str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    got = {
        (r.d, r.cell): r.cnt
        for r in spark.read.parquet(str(tmp_path / "state")).collect()
    }
    all_keys = spark.createDataFrame(
        [(i % 7,) for i in range(50)] + [(i % 5,) for i in range(30)], ["user_id"]
    )
    want = {(r.d, r.cell): r.cnt for r in cms_cells(all_keys, "user_id").collect()}
    assert got == want


def test_cms_stream_redelivery_is_idempotent(spark, tmp_path):
    # foreachBatch is at-least-once: wiping the checkpoint redelivers the
    # whole input as batch 0 again. The state carries the last-applied
    # batch_id, so the redelivered batch must be skipped, not sum-merged
    # a second time (which would permanently double every count).
    from date_warehouse___airline_project_spark.streaming.sketch_stream import (
        cms_cells,
        last_applied_batch_id,
        run_cms_stream,
    )

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    (input_dir / "b1.txt").write_text("\n".join(str(i % 7) for i in range(50)))
    state = str(tmp_path / "state")
    q = run_cms_stream(spark, str(input_dir), state, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert last_applied_batch_id(state) == 0
    want = {
        (r.d, r.cell): r.cnt for r in spark.read.parquet(state).collect()
    }

    shutil.rmtree(tmp_path / "ckpt")  # forces redelivery of batch 0
    q = run_cms_stream(spark, str(input_dir), state, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = {(r.d, r.cell): r.cnt for r in spark.read.parquet(state).collect()}
    assert got == want, "redelivered batch was double-counted"

    all_keys = spark.createDataFrame([(i % 7,) for i in range(50)], ["user_id"])
    exact = {(r.d, r.cell): r.cnt for r in cms_cells(all_keys, "user_id").collect()}
    assert got == exact


def test_cms_stream_recovers_dangling_swap_and_sweeps_orphans(spark, tmp_path):
    # Crash between the two swap renames leaves .old-* but NO live state
    # dir; the next start must restore the backup instead of silently
    # restarting the sketch from empty, and must sweep stale .tmp-* dirs.
    from date_warehouse___airline_project_spark.streaming.sketch_stream import (
        cms_cells,
        run_cms_stream,
    )

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    (input_dir / "b1.txt").write_text("\n".join(str(i % 7) for i in range(50)))
    state = str(tmp_path / "state")
    q = run_cms_stream(spark, str(input_dir), state, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    # simulate the crash window + an orphaned tmp from an older crash
    os.rename(state, state + ".old-deadbeef")
    os.mkdir(state + ".tmp-orphan")
    (input_dir / "b2.txt").write_text("\n".join(str(i % 5) for i in range(30)))
    q = run_cms_stream(spark, str(input_dir), state, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    assert not os.path.exists(state + ".old-deadbeef")
    assert not os.path.exists(state + ".tmp-orphan")
    got = {(r.d, r.cell): r.cnt for r in spark.read.parquet(state).collect()}
    all_keys = spark.createDataFrame(
        [(i % 7,) for i in range(50)] + [(i % 5,) for i in range(30)], ["user_id"]
    )
    want = {(r.d, r.cell): r.cnt for r in cms_cells(all_keys, "user_id").collect()}
    assert got == want, "backup was not restored before folding batch 2"


def test_kafka_sink_value_envelope_roundtrips(spark):
    # The producer sink's value projection (one JSON envelope per row) is
    # broker-independent: every row must round-trip through from_json with
    # the original values intact.
    from pyspark.sql import functions as F_

    results = spark.createDataFrame(
        [("p1", "AA100", 180, "eligible"), ("p2", "BB200", 30, "not_eligible")],
        ["passenger_id", "flight_number", "delay_minutes", "verdict"],
    )
    enveloped = results.select(F_.to_json(F_.struct(*results.columns)).alias("value"))
    back = enveloped.select(
        F_.from_json(
            "value",
            "passenger_id string, flight_number string, delay_minutes long, verdict string",
        ).alias("m")
    ).select("m.*")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, results.collect()))


def test_rollup_stream_state_matches_batch_aggregate(spark, tmp_path):
    # Two micro-batches folded into the continuous aggregate must equal
    # the one-shot rollup over all events (associative combine; decimal
    # sums make the incremental fold bit-identical to the recompute).
    import json as _json

    from date_warehouse___airline_project_spark.streaming.rollup import (
        EVENT_SCHEMA,
        rollup_cells,
        run_rollup_stream,
    )

    def lines(rows):
        return "\n".join(_json.dumps(r) for r in rows)

    b1 = [
        {"ts": f"2024-03-01 10:{m:02d}:00", "user_id": m, "event_type": t, "value": v}
        for m, t, v in [(1, "view", 1.5), (2, "view", 2.25), (3, "purchase", 9.99),
                        (40, "view", 0.5), (59, "error", None)]
    ]
    b2 = [
        {"ts": f"2024-03-01 {h:02d}:30:00", "user_id": h, "event_type": t, "value": v}
        for h, t, v in [(10, "view", 4.0), (11, "purchase", 19.5), (11, "purchase", 0.01)]
    ]
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    state = str(tmp_path / "state")
    (input_dir / "b1.json").write_text(lines(b1))
    q = run_rollup_stream(spark, str(input_dir), state, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    (input_dir / "b2.json").write_text(lines(b2))
    q = run_rollup_stream(spark, str(input_dir), state, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    got = {
        (str(r.bucket), r.event_type): (r.n_events, str(r.sum_value))
        for r in spark.read.parquet(state).collect()
    }
    all_events = spark.createDataFrame(
        [tuple(r.values()) for r in b1 + b2],
        "ts_s string, user_id long, event_type string, value double",
    ).selectExpr("CAST(ts_s AS TIMESTAMP) AS ts", "user_id", "event_type", "value")
    want = {
        (str(r.bucket), r.event_type): (r.n_events, str(r.sum_value))
        for r in rollup_cells(all_events).collect()
    }
    assert got == want
    # sanity: hour-10 views folded across both batches
    assert got[("2024-03-01 10:00:00", "view")][0] == 4


def test_rollup_stream_redelivery_is_idempotent(spark, tmp_path):
    # Wiping the checkpoint redelivers everything as batch 0; the batch-id
    # sidecar must make the fold a no-op instead of doubling the counts.
    import json as _json

    from date_warehouse___airline_project_spark.streaming.rollup import (
        run_rollup_stream,
    )
    from date_warehouse___airline_project_spark.streaming.state_table import (
        last_applied_batch_id,
    )

    rows = [
        {"ts": "2024-03-01 10:05:00", "user_id": 1, "event_type": "view", "value": 2.0},
        {"ts": "2024-03-01 11:05:00", "user_id": 2, "event_type": "view", "value": 3.0},
    ]
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    (input_dir / "b1.json").write_text("\n".join(_json.dumps(r) for r in rows))
    state = str(tmp_path / "state")
    q = run_rollup_stream(spark, str(input_dir), state, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert last_applied_batch_id(state) == 0
    want = sorted(map(tuple, spark.read.parquet(state).collect()))

    shutil.rmtree(tmp_path / "ckpt")  # forces redelivery of batch 0
    q = run_rollup_stream(spark, str(input_dir), state, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.read.parquet(state).collect()))
    assert got == want, "redelivered batch was double-counted"


def test_hll_stream_registers_match_batch_sketch(spark, tmp_path):
    # Register table folded over two micro-batches must equal the
    # registers over all keys at once (MAX-merge mergeability), so the
    # streamed sketch yields the identical distinct-count estimate.
    from date_warehouse___airline_project_spark.plans.sketches import hll_registers
    from date_warehouse___airline_project_spark.streaming.sketch_stream import (
        run_hll_stream,
    )

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    (input_dir / "b1.txt").write_text("\n".join(str(i * 13 % 401) for i in range(300)))
    state = str(tmp_path / "state")
    q = run_hll_stream(spark, str(input_dir), state, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    (input_dir / "b2.txt").write_text("\n".join(str(i * 7 % 269) for i in range(200)))
    q = run_hll_stream(spark, str(input_dir), state, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    got = {r.idx: r.r for r in spark.read.parquet(state).collect()}
    all_keys = spark.createDataFrame(
        [(i * 13 % 401,) for i in range(300)] + [(i * 7 % 269,) for i in range(200)],
        ["user_id"],
    )
    want = {r.idx: r.r for r in hll_registers(all_keys, "user_id").collect()}
    assert got == want


def test_incremental_dedup_stream_accepts_only_first_sighting(spark, tmp_path):
    # Three dedup layers across two micro-batches: within-batch first-wins,
    # cross-batch state rejection, and the accepted output per batch.
    import json

    from date_warehouse___airline_project_spark.streaming.dedup_stream import (
        run_incremental_dedup_stream,
    )

    def jl(*rows):
        return "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in rows)

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    # batch 0: doc 2 duplicates doc 1 (same normalized content) -> first wins
    (input_dir / "b1.jsonl").write_text(
        jl((1, "Alpha  beta"), (2, "alpha BETA"), (3, "gamma delta"))
    )
    q = run_incremental_dedup_stream(spark, str(input_dir), state, out, ckpt)
    q.awaitTermination(120)
    # batch 1: doc 4 repeats batch-0 content (rejected by state);
    # doc 5 is new
    (input_dir / "b2.jsonl").write_text(
        jl((4, "ALPHA beta"), (5, "epsilon zeta"))
    )
    q = run_incremental_dedup_stream(spark, str(input_dir), state, out, ckpt)
    q.awaitTermination(120)

    accepted = {
        r.doc_id for r in spark.read.parquet(f"{out}/batch=0").collect()
    } | {r.doc_id for r in spark.read.parquet(f"{out}/batch=1").collect()}
    assert accepted == {1, 3, 5}
    # state holds exactly the accepted distinct fingerprints
    assert spark.read.parquet(state).count() == 3


def test_incremental_dedup_stream_redelivery_preserves_output(spark, tmp_path):
    # Crash-after-fold redelivery: replaying batch 0 against a state that
    # already contains its fingerprints must NOT clobber the batch's
    # accepted output with an empty overwrite — the batch-id guard skips
    # the whole redelivered batch.
    import json

    from date_warehouse___airline_project_spark.streaming.dedup_stream import (
        run_incremental_dedup_stream,
    )
    from date_warehouse___airline_project_spark.streaming.state_table import (
        last_applied_batch_id,
    )

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    (input_dir / "b1.jsonl").write_text(
        "\n".join(
            json.dumps({"doc_id": i, "text": t})
            for i, t in [(1, "alpha beta"), (2, "gamma delta")]
        )
    )
    q = run_incremental_dedup_stream(
        spark, str(input_dir), state, out, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert last_applied_batch_id(state) == 0
    before = {r.doc_id for r in spark.read.parquet(f"{out}/batch=0").collect()}
    assert before == {1, 2}

    shutil.rmtree(tmp_path / "ckpt")  # forces redelivery of batch 0
    q = run_incremental_dedup_stream(
        spark, str(input_dir), state, out, str(tmp_path / "ckpt2")
    )
    q.awaitTermination(120)
    after = {r.doc_id for r in spark.read.parquet(f"{out}/batch=0").collect()}
    assert after == before, "redelivery clobbered the accepted output"
    assert spark.read.parquet(state).count() == 2


def test_bloom_stream_state_matches_batch_bits(spark, tmp_path):
    # Two micro-batches folded by bit-OR must equal the Bloom bit set
    # built over all keys at once (sketch mergeability).
    from date_warehouse___airline_project_spark.streaming.sketch_stream import (
        bloom_bits,
        run_bloom_stream,
    )

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    (input_dir / "b1.txt").write_text("\n".join(str(i) for i in range(40)))
    q = run_bloom_stream(
        spark, str(input_dir), str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    (input_dir / "b2.txt").write_text("\n".join(str(i) for i in range(20, 60)))
    q = run_bloom_stream(
        spark, str(input_dir), str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    got = {r.bit for r in spark.read.parquet(str(tmp_path / "state")).collect()}
    all_keys = spark.createDataFrame([(i,) for i in range(60)], ["user_id"])
    want = {r.bit for r in bloom_bits(all_keys, "user_id").collect()}
    assert got == want


def test_grouped_hll_stream_matches_batch_registers_with_late_data(spark, tmp_path):
    # Per-(group, idx) register MAX must equal the batch construction over
    # all rows — including a second micro-batch that delivers LATE rows
    # for the first batch's group (no reprocessing window needed).
    from date_warehouse___airline_project_spark.functions.hashing import hash56
    from date_warehouse___airline_project_spark.streaming.sketch_stream import (
        run_grouped_hll_stream,
    )

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    (input_dir / "b1.txt").write_text(
        "\n".join(f"d1,{i}" for i in range(30)) + "\n" + "\n".join(f"d2,{i}" for i in range(10))
    )
    q = run_grouped_hll_stream(
        spark, str(input_dir), str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    # late arrivals for d1 plus new rows for d2
    (input_dir / "b2.txt").write_text(
        "\n".join(f"d1,{i}" for i in range(25, 45)) + "\n" + "\n".join(f"d2,{i}" for i in range(5, 20))
    )
    q = run_grouped_hll_stream(
        spark, str(input_dir), str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    got = {
        (r.grp, r.idx): r.r
        for r in spark.read.parquet(str(tmp_path / "state")).collect()
    }
    rows = [("d1", i) for i in range(45)] + [("d2", i) for i in range(20)]
    all_df = spark.createDataFrame(rows, ["grp", "user_id"])
    parts = all_df.select(
        "grp", hash56(F.col("user_id")).alias("hv")
    ).select("grp", (F.col("hv") % 64).alias("idx"), F.expr("hv div 64").alias("rest"))
    lbv = spark.createDataFrame([(j, 1 << j) for j in range(50)], "j int, lowbit long")
    want = {
        (r.grp, r.idx): r.r
        for r in parts.join(
            F.broadcast(lbv), F.expr("rest & (-rest)") == F.col("lowbit"), "left"
        )
        .select(
            "grp",
            "idx",
            F.when(F.col("rest") == 0, F.lit(51)).otherwise(F.col("j") + 1).alias("rank"),
        )
        .groupBy("grp", "idx")
        .agg(F.max("rank").alias("r"))
        .collect()
    }
    assert got == want


def test_curation_stream_equals_batch(spark, tmp_path):
    # The continuously-maintained curation state (gate -> incremental
    # exact dedup -> per-source accounting) must converge to exactly the
    # batch registry query `doc_curation_accounting` over the same
    # documents, when batches arrive in ascending doc_id order (then
    # first-arrival-wins == the batch min-doc_id keep rule).
    from date_warehouse___airline_project_spark.streaming.curation_stream import (
        accounting_of,
        batch_curate,
        run_curation_stream,
    )

    docs = sorted(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "source", "text")
        .collect(),
        key=lambda r: r.doc_id,
    )
    # Inject cross-batch exact duplicates of two early docs (whitespace/
    # case-normalized copies) so the state-rejection layer provably fires:
    # ids 9001/9002 land in the LAST batch and must be rejected.
    dupes = [
        (9001, docs[10].source, "  " + docs[10].text.upper()),
        (9002, docs[40].source, docs[40].text.lower() + "  "),
    ]
    rows = [(r.doc_id, r.source, r.text) for r in docs] + dupes

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    out = str(tmp_path / "out")
    fp_state = str(tmp_path / "fp_state")
    acct_state = str(tmp_path / "acct_state")

    def jl(batch):
        return "\n".join(
            json.dumps({"doc_id": i, "source": s, "text": t}) for i, s, t in batch
        )

    # three ascending-doc_id micro-batches, one stream run per drop
    batches = [rows[:170], rows[170:340], rows[340:]]
    for n, batch in enumerate(batches):
        (input_dir / f"b{n}.jsonl").write_text(jl(batch))
        q = run_curation_stream(
            spark, str(input_dir), fp_state, acct_state, out, str(tmp_path / "ckpt")
        )
        q.awaitTermination(120)

    all_docs = spark.createDataFrame(rows, "doc_id LONG, source STRING, text STRING")
    batch_accepted = batch_curate(all_docs, None)
    want_ids = {r.doc_id for r in batch_accepted.select("doc_id").collect()}
    assert want_ids, "fixture produced an empty curated corpus"
    assert 9001 not in want_ids and 9002 not in want_ids

    got_ids = set()
    for n in range(len(batches)):
        p = f"{out}/batch={n}"
        if os.path.exists(p):
            got_ids |= {r.doc_id for r in spark.read.parquet(p).collect()}
    assert got_ids == want_ids

    want_acct = {
        r.source: (r.n_docs, r.n_tokens)
        for r in accounting_of(batch_accepted).collect()
    }
    got_acct = {
        r.source: (r.n_docs, r.n_tokens)
        for r in spark.read.parquet(acct_state).collect()
    }
    assert got_acct == want_acct
    # fingerprint state is exactly one row per accepted doc (all distinct)
    assert spark.read.parquet(fp_state).count() == len(want_ids)


def test_curation_stream_redelivery_and_partial_fold_recovery(spark, tmp_path):
    # (a) full redelivery of an already-applied batch is a no-op for all
    # three effects; (b) a crash between the fingerprint fold and the
    # accounting fold (simulated by dropping the accounting state) is
    # repaired on redelivery from the MATERIALIZED batch output — the
    # fingerprint side skips, the accounting side refolds correctly.
    from date_warehouse___airline_project_spark.streaming.curation_stream import (
        run_curation_stream,
    )
    from date_warehouse___airline_project_spark.streaming.state_table import (
        last_applied_batch_id,
    )

    docs = sorted(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "source", "text")
        .collect(),
        key=lambda r: r.doc_id,
    )[:120]
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    (input_dir / "b0.jsonl").write_text(
        "\n".join(
            json.dumps({"doc_id": r.doc_id, "source": r.source, "text": r.text})
            for r in docs
        )
    )
    out = str(tmp_path / "out")
    fp_state = str(tmp_path / "fp_state")
    acct_state = str(tmp_path / "acct_state")

    q = run_curation_stream(
        spark, str(input_dir), fp_state, acct_state, out, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert last_applied_batch_id(fp_state) == 0
    assert last_applied_batch_id(acct_state) == 0
    ids0 = {r.doc_id for r in spark.read.parquet(f"{out}/batch=0").collect()}
    acct0 = {
        r.source: (r.n_docs, r.n_tokens)
        for r in spark.read.parquet(acct_state).collect()
    }
    assert ids0 and acct0

    # (a) redelivery: fresh checkpoint replays batch 0 against folded state
    q = run_curation_stream(
        spark, str(input_dir), fp_state, acct_state, out, str(tmp_path / "ckpt2")
    )
    q.awaitTermination(120)
    assert {r.doc_id for r in spark.read.parquet(f"{out}/batch=0").collect()} == ids0
    assert {
        r.source: (r.n_docs, r.n_tokens)
        for r in spark.read.parquet(acct_state).collect()
    } == acct0

    # (b) crash-between-folds: fingerprints folded, accounting lost
    shutil.rmtree(acct_state)
    q = run_curation_stream(
        spark, str(input_dir), fp_state, acct_state, out, str(tmp_path / "ckpt3")
    )
    q.awaitTermination(120)
    assert {
        r.source: (r.n_docs, r.n_tokens)
        for r in spark.read.parquet(acct_state).collect()
    } == acct0
    assert {r.doc_id for r in spark.read.parquet(f"{out}/batch=0").collect()} == ids0


def test_kafka_option_contract_is_config_only(spark, tmp_path):
    # The constructed Kafka source/sink carry EXACTLY the option set the
    # reference worker uses (backend/kafkaworker.js:28-44 subscribe +
    # earliest; kafkaProducer.js:36-44 topic), so dropping the
    # spark-sql-kafka connector jar onto a cluster classpath makes the
    # broker deployment config-only — no code change. Pinned via the pure
    # option dicts (the jar is absent in this container, so .load() on a
    # kafka reader cannot execute here).
    from date_warehouse___airline_project_spark.streaming.eligibility_stream import (
        kafka_sink_options,
        kafka_source_options,
    )

    assert kafka_source_options("broker:9092", "flight-events") == {
        "kafka.bootstrap.servers": "broker:9092",
        "subscribe": "flight-events",  # subscribe, not assign/pattern
        "startingOffsets": "earliest",  # restarted worker drains backlog
    }
    assert kafka_sink_options("broker:9092", "eligibility-results", "/ck") == {
        "kafka.bootstrap.servers": "broker:9092",
        "topic": "eligibility-results",
        "checkpointLocation": "/ck",
    }

    # value schema contract: the producer envelope is one string column
    # named `value` holding the JSON of every result column — the exact
    # shape the kafka sink requires and the reference consumer parses.
    results = spark.createDataFrame(
        [("P1", True, "delay_threshold_met")],
        "passenger_id STRING, eligible BOOLEAN, reason STRING",
    )
    envelope = results.select(
        F.to_json(F.struct(*results.columns)).alias("value")
    )
    assert [(f.name, f.dataType.simpleString()) for f in envelope.schema.fields] == [
        ("value", "string")
    ]
    row = json.loads(envelope.collect()[0].value)
    assert row == {
        "passenger_id": "P1",
        "eligible": True,
        "reason": "delay_threshold_met",
    }


def test_neardup_stream_equals_batch_greedy(spark, tmp_path):
    # Cumulative accepted set of the streaming near-dup lane must equal
    # the batch twin (greedy-by-id keep over signature-jaccard pairs,
    # certified by the doc_neardup_greedy_keep oracle) when batches
    # arrive in ascending doc_id order.
    from date_warehouse___airline_project_spark.operators.text_dedup import (
        greedy_keep,
        sig_jaccard_pairs,
    )
    from date_warehouse___airline_project_spark.streaming.neardup_stream import (
        run_neardup_stream,
    )

    docs = sorted(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .collect(),
        key=lambda r: r.doc_id,
    )
    rows = [(r.doc_id, r.text) for r in docs]

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")

    batches = [rows[:170], rows[170:340], rows[340:]]
    for i, batch in enumerate(batches):
        (input_dir / f"b{i}.jsonl").write_text(
            "\n".join(json.dumps({"doc_id": d, "text": t}) for d, t in batch)
        )
        q = run_neardup_stream(
            spark, str(input_dir), state, out, str(tmp_path / "ckpt")
        )
        q.awaitTermination(180)

    d = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    pairs = sig_jaccard_pairs(d, "doc_id", "text", n=3, k=16, bands=4, min_agree=8)
    status = greedy_keep(d.select("doc_id"), pairs, "doc_id")
    want = {r.doc_id for r in status.filter(F.col("kept")).collect()}
    assert want and len(want) < len(rows), "fixture has no near-dup rejections"

    got = set()
    for i in range(len(batches)):
        p = f"{out}/batch={i}"
        if os.path.exists(p):
            got |= {r.doc_id for r in spark.read.parquet(p).collect()}
    assert got == want
    # state holds exactly `bands` rows per accepted doc that has a signature
    st = spark.read.parquet(state)
    n_sig_docs = st.select("doc_id").distinct().count()
    assert st.count() == 4 * n_sig_docs


def test_neardup_stream_redelivery_is_noop(spark, tmp_path):
    # Replaying batch 0 against a state that already folded it must keep
    # both the accepted output and the state byte-stable (whole-batch
    # guard: recomputing acceptance post-fold would reject everything).
    from date_warehouse___airline_project_spark.streaming.neardup_stream import (
        run_neardup_stream,
    )
    from date_warehouse___airline_project_spark.streaming.state_table import (
        last_applied_batch_id,
    )

    docs = sorted(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .collect(),
        key=lambda r: r.doc_id,
    )[:120]
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    (input_dir / "b0.jsonl").write_text(
        "\n".join(
            json.dumps({"doc_id": r.doc_id, "text": r.text}) for r in docs
        )
    )
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")

    q = run_neardup_stream(spark, str(input_dir), state, out, str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    assert last_applied_batch_id(state) == 0
    ids0 = {r.doc_id for r in spark.read.parquet(f"{out}/batch=0").collect()}
    state0 = spark.read.parquet(state).count()
    assert ids0 and state0

    q = run_neardup_stream(spark, str(input_dir), state, out, str(tmp_path / "ckpt2"))
    q.awaitTermination(180)
    assert {r.doc_id for r in spark.read.parquet(f"{out}/batch=0").collect()} == ids0
    assert spark.read.parquet(state).count() == state0


def test_curation_v2_stream_equals_batch(spark, tmp_path):
    # Composed v2 lane (gate -> exact dedup -> near-dup greedy ->
    # accounting) must converge to the batch twin
    # doc_curation_accounting_v2's construction on the same data when
    # batches arrive in ascending doc_id order. Also pins the state
    # split: fingerprints fold for every exact WINNER, LSH rows only for
    # finally-ACCEPTED docs.
    from date_warehouse___airline_project_spark.streaming.curation_stream import (
        accounting_of,
        batch_curate,
        batch_curate_v2,
        run_curation_v2_stream,
    )

    docs = sorted(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "source", "text")
        .collect(),
        key=lambda r: r.doc_id,
    )
    rows = [(r.doc_id, r.source, r.text) for r in docs]

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    out = str(tmp_path / "out")
    fp_state = str(tmp_path / "fp_state")
    lsh_state = str(tmp_path / "lsh_state")
    acct_state = str(tmp_path / "acct_state")

    batches = [rows[:170], rows[170:340], rows[340:]]
    for i, batch in enumerate(batches):
        (input_dir / f"b{i}.jsonl").write_text(
            "\n".join(
                json.dumps({"doc_id": d, "source": s, "text": t})
                for d, s, t in batch
            )
        )
        q = run_curation_v2_stream(
            spark, str(input_dir), fp_state, lsh_state, acct_state, out,
            str(tmp_path / "ckpt"),
        )
        q.awaitTermination(240)

    all_docs = spark.createDataFrame(rows, "doc_id LONG, source STRING, text STRING")
    batch_accepted = batch_curate_v2(all_docs, None, None)
    want_ids = {r.doc_id for r in batch_accepted.select("doc_id").collect()}
    winner_ids = {
        r.doc_id for r in batch_curate(all_docs, None).select("doc_id").collect()
    }
    assert want_ids and want_ids < winner_ids, (
        "fixture must exercise the near-dup stage (some winner rejected)"
    )

    got_ids = set()
    for i in range(len(batches)):
        p = f"{out}/accepted/batch={i}"
        if os.path.exists(p):
            got_ids |= {r.doc_id for r in spark.read.parquet(p).collect()}
    assert got_ids == want_ids

    want_acct = {
        r.source: (r.n_docs, r.n_tokens)
        for r in accounting_of(batch_accepted).collect()
    }
    got_acct = {
        r.source: (r.n_docs, r.n_tokens)
        for r in spark.read.parquet(acct_state).collect()
    }
    assert got_acct == want_acct

    # state split: fp state covers ALL winners; LSH state only accepted
    assert spark.read.parquet(fp_state).count() == len(winner_ids)
    lsh_docs = {
        r.doc_id for r in spark.read.parquet(lsh_state).select("doc_id").distinct().collect()
    }
    assert lsh_docs <= want_ids


def test_curation_v2_stream_crash_between_folds_recovers(spark, tmp_path):
    # Drop the LAST two states after a run (simulating a crash after the
    # fingerprint fold); redelivery must rebuild both from the
    # materialized outputs without recomputing acceptance.
    from date_warehouse___airline_project_spark.streaming.curation_stream import (
        run_curation_v2_stream,
    )
    from date_warehouse___airline_project_spark.streaming.state_table import (
        last_applied_batch_id,
    )

    docs = sorted(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "source", "text")
        .collect(),
        key=lambda r: r.doc_id,
    )[:150]
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    (input_dir / "b0.jsonl").write_text(
        "\n".join(
            json.dumps({"doc_id": r.doc_id, "source": r.source, "text": r.text})
            for r in docs
        )
    )
    out = str(tmp_path / "out")
    fp_state = str(tmp_path / "fp_state")
    lsh_state = str(tmp_path / "lsh_state")
    acct_state = str(tmp_path / "acct_state")

    q = run_curation_v2_stream(
        spark, str(input_dir), fp_state, lsh_state, acct_state, out,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(240)
    assert last_applied_batch_id(fp_state) == 0
    ids0 = {r.doc_id for r in spark.read.parquet(f"{out}/accepted/batch=0").collect()}
    lsh0 = spark.read.parquet(lsh_state).count()
    acct0 = {
        r.source: (r.n_docs, r.n_tokens)
        for r in spark.read.parquet(acct_state).collect()
    }
    assert ids0 and lsh0 and acct0

    shutil.rmtree(lsh_state)
    shutil.rmtree(acct_state)
    q = run_curation_v2_stream(
        spark, str(input_dir), fp_state, lsh_state, acct_state, out,
        str(tmp_path / "ckpt2"),
    )
    q.awaitTermination(240)
    assert {
        r.doc_id for r in spark.read.parquet(f"{out}/accepted/batch=0").collect()
    } == ids0
    assert spark.read.parquet(lsh_state).count() == lsh0
    assert {
        r.source: (r.n_docs, r.n_tokens)
        for r in spark.read.parquet(acct_state).collect()
    } == acct0


def test_curate_v2_injected_prefixes_equal_default(spark):
    # The plan-layer batch queries inject session-shared prefixes into the
    # certified construction (pre-gated relation into batch_curate,
    # pre-curated winners and corpus-derived signatures into
    # batch_curate_v2) while the stream always takes the default path.
    # The two paths must stay row-identical, or the sharing silently forks
    # the construction the stream-equals-batch tests certify.
    from pyspark.sql import functions as F

    from date_warehouse___airline_project_spark.operators.quality import gopher_gate
    from date_warehouse___airline_project_spark.operators.text_dedup import (
        minhash_signatures,
    )
    from date_warehouse___airline_project_spark.streaming.curation_stream import (
        batch_curate,
        batch_curate_v2,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "source", "text"
    )
    default = batch_curate_v2(d, None, None)

    gated = gopher_gate(d.select("doc_id", "source", "text"))
    winners = batch_curate(d, None, gated=gated)
    # content-only signatures: corpus relation semi-joined to winner ids
    win_sig = minhash_signatures(d, "doc_id", "text", 3, 16).join(
        winners.select(F.col("doc_id").alias("_id")), "_id", "left_semi"
    )
    injected = batch_curate_v2(d, None, None, winners=winners, sig=win_sig)

    cols = sorted(default.columns)
    assert sorted(injected.columns) == cols
    a = sorted(map(tuple, default.select(*cols).collect()))
    b = sorted(map(tuple, injected.select(*cols).collect()))
    assert a and a == b


def test_drift_stream_equals_batch_psi(spark, tmp_path):
    # The stream-maintained current histogram, compared against the
    # reference cohort's histogram, must reproduce the batch registry
    # query profile_drift_psi EXACTLY on the same orders data — both
    # halves (binning, PSI math) are shared code, this pins it.
    from date_warehouse___airline_project_spark.plans import REGISTRY, load_all
    from date_warehouse___airline_project_spark.plans.profiling import _PSI_SPLIT
    from date_warehouse___airline_project_spark.sources.catalog import load_table
    from date_warehouse___airline_project_spark.streaming.drift_stream import (
        psi_bin_counts,
        psi_report,
        run_drift_stream,
    )

    load_all()
    sf = "/root/testdata/sf0.001"
    orders = load_table(spark, sf, "orders")
    split = F.lit(_PSI_SPLIT).cast("timestamp")
    cur_vals = [
        str(r.o_totalprice)
        for r in orders.filter(F.col("o_orderdate") >= split)
        .select("o_totalprice")
        .collect()
    ]
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    # current cohort arrives in three micro-batches
    third = len(cur_vals) // 3
    for i, chunk in enumerate(
        (cur_vals[:third], cur_vals[third : 2 * third], cur_vals[2 * third :])
    ):
        (input_dir / f"b{i}.txt").write_text("\n".join(chunk))
        q = run_drift_stream(
            spark, str(input_dir), str(tmp_path / "state"), str(tmp_path / "ckpt")
        )
        q.awaitTermination(120)

    ref_bins = psi_bin_counts(
        orders.filter(F.col("o_orderdate") < split).select("o_totalprice"),
        "o_totalprice",
    )
    got = psi_report(spark, str(tmp_path / "state"), ref_bins)
    want = REGISTRY["profile_drift_psi"].fn(spark, sf)
    assert [r.asDict() for r in got.orderBy("bin").collect()] == [
        r.asDict() for r in want.orderBy("bin").collect()
    ]


def test_drift_stream_redelivery_is_idempotent(spark, tmp_path):
    # Checkpoint wipe redelivers batch 0; the per-bin SUM fold is not
    # idempotent, so the batch-id guard must skip it.
    from date_warehouse___airline_project_spark.streaming.drift_stream import (
        run_drift_stream,
    )
    from date_warehouse___airline_project_spark.streaming.state_table import (
        last_applied_batch_id,
    )

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    (input_dir / "b1.txt").write_text("\n".join(str(1000.0 * i) for i in range(200)))
    state = str(tmp_path / "state")
    q = run_drift_stream(spark, str(input_dir), state, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert last_applied_batch_id(state) == 0
    want = {r.bin: r.cnt for r in spark.read.parquet(state).collect()}

    shutil.rmtree(tmp_path / "ckpt")
    q = run_drift_stream(spark, str(input_dir), state, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = {r.bin: r.cnt for r in spark.read.parquet(state).collect()}
    assert got == want, "redelivered batch was double-counted"


def test_quantile_report_off_stream_state_matches_batch_sketch(spark, tmp_path):
    # Stream all totalprice values through the histogram state at the
    # quantile sketch's bin width; the quantile report off the state
    # must equal the registry query's estimate columns exactly (same
    # counts, same shared interpolation helper).
    from date_warehouse___airline_project_spark.plans import REGISTRY, load_all
    from date_warehouse___airline_project_spark.plans.sketches import (
        _QS_BINW,
        _QS_MAXBIN,
    )
    from date_warehouse___airline_project_spark.sources.catalog import load_table
    from date_warehouse___airline_project_spark.streaming.drift_stream import (
        quantile_report,
        run_drift_stream,
    )

    load_all()
    sf = "/root/testdata/sf0.001"
    vals = [
        str(r.o_totalprice)
        for r in load_table(spark, sf, "orders").select("o_totalprice").collect()
    ]
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    half = len(vals) // 2
    for i, chunk in enumerate((vals[:half], vals[half:])):
        (input_dir / f"b{i}.txt").write_text("\n".join(chunk))
        q = run_drift_stream(
            spark,
            str(input_dir),
            str(tmp_path / "state"),
            str(tmp_path / "ckpt"),
            binw=_QS_BINW,
            nbins=_QS_MAXBIN + 1,
        )
        q.awaitTermination(120)

    got = {
        r.p: round(r.est_q, 6)
        for r in quantile_report(
            spark, str(tmp_path / "state"), [0.5, 0.9, 0.99], _QS_BINW
        ).collect()
    }
    want = {
        r.p: r.est_quantile
        for r in REGISTRY["quantile_sketch_totalprice"].fn(spark, sf).collect()
    }
    assert got == want


def test_cms_estimate_report_matches_batch_sketch(spark, tmp_path):
    # Frequency estimates read off the stream-maintained cell table must
    # equal the batch CMS query's estimates for the same keys on the
    # same data (the fold already proves state == batch cells; this pins
    # the probe read path).
    from date_warehouse___airline_project_spark.plans import REGISTRY, load_all
    from date_warehouse___airline_project_spark.sources.catalog import load_table
    from date_warehouse___airline_project_spark.streaming.sketch_stream import (
        cms_estimate_report,
        run_cms_stream,
    )

    load_all()
    sf = "/root/testdata/sf0.001"
    users = [
        str(r.user_id)
        for r in load_table(spark, sf, "events").select("user_id").collect()
    ]
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    half = len(users) // 2
    for i, chunk in enumerate((users[:half], users[half:])):
        (input_dir / f"b{i}.txt").write_text("\n".join(chunk))
        q = run_cms_stream(
            spark, str(input_dir), str(tmp_path / "state"), str(tmp_path / "ckpt")
        )
        q.awaitTermination(120)

    want = {
        r.user_id: r.cms_estimate
        for r in REGISTRY["cms_frequency_sketch"].fn(spark, sf).collect()
    }
    keys = spark.createDataFrame([(u,) for u in want], "user_id long")
    got = {
        r.user_id: r.cms_estimate
        for r in cms_estimate_report(
            spark, str(tmp_path / "state"), keys, "user_id"
        ).collect()
    }
    assert got == want


def test_hll_estimate_report_matches_batch_sketch(spark, tmp_path):
    # The distinct-count estimate read off the stream-maintained
    # register table must equal the batch query's estimate on the same
    # keys (shared estimator helper; the fold already proves register
    # equality).
    from date_warehouse___airline_project_spark.plans import REGISTRY, load_all
    from date_warehouse___airline_project_spark.sources.catalog import load_table
    from date_warehouse___airline_project_spark.streaming.sketch_stream import (
        hll_estimate_report,
        run_hll_stream,
    )

    load_all()
    sf = "/root/testdata/sf0.001"
    keys = [
        str(r.o_custkey)
        for r in load_table(spark, sf, "orders").select("o_custkey").collect()
    ]
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    half = len(keys) // 2
    for i, chunk in enumerate((keys[:half], keys[half:])):
        (input_dir / f"b{i}.txt").write_text("\n".join(chunk))
        q = run_hll_stream(
            spark,
            str(input_dir),
            str(tmp_path / "state"),
            str(tmp_path / "ckpt"),
            key_col="o_custkey",
        )
        q.awaitTermination(120)

    got = hll_estimate_report(spark, str(tmp_path / "state")).collect()[0]
    want = REGISTRY["hll_distinct_sketch"].fn(spark, sf).collect()[0]
    assert got.n_registers_set == want.n_registers_set
    assert abs(got.hll_estimate - want.hll_estimate) < 1e-9


def test_bloom_membership_report_matches_batch_probe(spark, tmp_path):
    # Membership probes off the stream-maintained bit set: definite
    # negatives are exact (keys never streamed with no colliding bits),
    # and every streamed key must report maybe_member = true.
    from date_warehouse___airline_project_spark.streaming.sketch_stream import (
        bloom_bits,
        bloom_membership_report,
        run_bloom_stream,
    )

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    members = [str(1000 + i) for i in range(80)]
    (input_dir / "b1.txt").write_text("\n".join(members))
    q = run_bloom_stream(
        spark, str(input_dir), str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    probe_keys = spark.createDataFrame(
        [(1000 + i,) for i in range(80)] + [(5000 + i,) for i in range(40)],
        "user_id long",
    )
    got = {
        r.user_id: r.maybe_member
        for r in bloom_membership_report(
            spark, str(tmp_path / "state"), probe_keys, "user_id"
        ).collect()
    }
    assert all(got[1000 + i] for i in range(80)), "streamed keys must hit"
    # cross-check the read path against a batch-built filter: identical
    # bit set -> identical verdicts for every probe key
    batch_bits = {
        r.bit
        for r in bloom_bits(
            spark.createDataFrame([(int(m),) for m in members], "user_id long"),
            "user_id",
        ).collect()
    }
    state_bits = {
        r.bit for r in spark.read.parquet(str(tmp_path / "state")).collect()
    }
    assert state_bits == batch_bits


# ---------------------------------------------------------------------------
# streaming SCD2 dimension maintenance (CDC-fed warehouse path)
# ---------------------------------------------------------------------------

_SCD2_T1, _SCD2_T2 = "1995-01-01 00:00:00", "1998-06-01 00:00:00"


def _scd2_batches(spark):
    """The two deterministic customer batches of the certified batch query
    (plans/warehouse_queries.py::scd2_dim_two_batches), each with an
    event-time column for the stream to derive its batch timestamp from."""
    c = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    b1 = c.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.lit(_SCD2_T1).alias("event_ts"),
    )
    b2 = c.select(
        F.col("c_custkey").alias("custkey"),
        F.when(F.col("c_custkey") % 7 == 0, "MACHINERY")
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
        F.lit(_SCD2_T2).alias("event_ts"),
    ).unionByName(
        c.filter(F.col("c_custkey") % 97 == 0).select(
            (F.col("c_custkey") + 10_000_000).alias("custkey"),
            F.lit("NEWSEGMENT").alias("segment"),
            F.lit(_SCD2_T2).alias("event_ts"),
        )
    )
    return b1, b2


def _dim_rows(df):
    return {
        (
            r.custkey,
            r.segment,
            str(r._valid_from),
            str(r._valid_to),
            r._is_current,
        )
        for r in df.collect()
    }


def test_scd2_stream_equals_batch(spark, tmp_path):
    # Two micro-batches through the streaming maintenance loop must land
    # the EXACT dimension the batch operator produces for the same two
    # batches (stream-equals-batch for the warehouse path, SURVEY §7.6).
    from date_warehouse___airline_project_spark.operators.scd2 import (
        scd2_init,
        scd2_merge,
    )
    from date_warehouse___airline_project_spark.streaming.scd2_stream import (
        run_scd2_stream,
    )

    b1, b2 = _scd2_batches(spark)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    dim_dir = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")
    schema = "custkey LONG, segment STRING, event_ts STRING"

    for n, b in enumerate((b1, b2)):
        b.coalesce(1).write.mode("overwrite").parquet(str(in_dir / f"b{n}"))
        updates = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(str(in_dir))
        )
        q = run_scd2_stream(
            updates, dim_dir, ckpt, ["custkey"], ["segment"], "event_ts"
        )
        q.awaitTermination(120)

    want = scd2_merge(
        scd2_init(b1.drop("event_ts"), _SCD2_T1),
        b2.drop("event_ts"),
        ["custkey"],
        ["segment"],
        _SCD2_T2,
    )
    got = spark.read.parquet(dim_dir)
    assert _dim_rows(got) == _dim_rows(want)
    # at most one current row per key (SCD2 invariant)
    cur = got.filter("_is_current").groupBy("custkey").count().filter("count > 1")
    assert cur.count() == 0


def test_scd2_stream_replay_and_crash_recovery(spark, tmp_path):
    from date_warehouse___airline_project_spark.streaming.scd2_stream import (
        apply_scd2_batch,
    )

    b1, b2 = _scd2_batches(spark)
    dim_dir = str(tmp_path / "dim")
    apply_scd2_batch(spark, dim_dir, b1, 0, ["custkey"], ["segment"], "event_ts")
    apply_scd2_batch(spark, dim_dir, b2, 1, ["custkey"], ["segment"], "event_ts")
    before = _dim_rows(spark.read.parquet(dim_dir))

    # (a) redelivered batch id: guard must skip, state byte-identical
    apply_scd2_batch(spark, dim_dir, b2, 1, ["custkey"], ["segment"], "event_ts")
    assert _dim_rows(spark.read.parquet(dim_dir)) == before

    # (b) crash window mid-swap: live dir renamed aside, redelivery must
    # restore the backup and then skip via the recorded batch id
    os.rename(dim_dir, dim_dir + ".old-deadbeef")
    apply_scd2_batch(spark, dim_dir, b2, 1, ["custkey"], ["segment"], "event_ts")
    assert _dim_rows(spark.read.parquet(dim_dir)) == before
    assert not os.path.exists(dim_dir + ".old-deadbeef")

    # (c) same update rows under a NEW batch id: SCD2 no-op semantics —
    # nothing changed, nothing closed, no duplicate versions
    apply_scd2_batch(spark, dim_dir, b2, 2, ["custkey"], ["segment"], "event_ts")
    assert _dim_rows(spark.read.parquet(dim_dir)) == before


# ---------------------------------------------------------------------------
# streaming IVF index maintenance
# ---------------------------------------------------------------------------


def _ivf_fixture(spark, tmp_path, name):
    from date_warehouse___airline_project_spark.operators.similarity import (
        save_ivf_index,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / name)
    save_ivf_index(e, path, centroid_mod=25, sample_mod=4, iters=1)
    new = e.filter("vec_id % 3 = 1").selectExpr(
        "vec_id + 1000000 AS vec_id", "embedding"
    )
    return e, path, new


def test_ivf_stream_equals_batch(spark, tmp_path):
    # Feeding the appends through the streaming maintenance loop must land
    # the EXACT drift report the batch append produces for the same rows.
    from date_warehouse___airline_project_spark.operators.similarity import (
        append_to_ivf_index,
        ivf_cell_drift,
        save_ivf_index,
    )
    from date_warehouse___airline_project_spark.streaming.ivf_stream import (
        ivf_cell_drift_streamed,
        run_ivf_append_stream,
    )

    e, batch_path, new = _ivf_fixture(spark, tmp_path, "ivf_batch")
    append_to_ivf_index(new, batch_path)

    stream_path = str(tmp_path / "ivf_stream")
    save_ivf_index(e, stream_path, centroid_mod=25, sample_mod=4, iters=1)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # two micro-batches, split deterministically
    new.filter("vec_id % 2 = 0").coalesce(1).write.parquet(str(in_dir / "b0"))
    new.filter("vec_id % 2 = 1").coalesce(1).write.parquet(str(in_dir / "b1"))
    feed = (
        spark.readStream.schema("vec_id LONG, embedding ARRAY<FLOAT>")
        .option("recursiveFileLookup", "true")
        .parquet(str(in_dir))
    )
    q = run_ivf_append_stream(feed, stream_path, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    want = [tuple(r) for r in ivf_cell_drift(spark, batch_path).collect()]
    got = [tuple(r) for r in ivf_cell_drift_streamed(spark, stream_path).collect()]
    assert got == want
    assert any(r[3] > 0 for r in got)  # appends actually landed


def test_ivf_stream_replay_and_crash_recovery(spark, tmp_path):
    import os

    from date_warehouse___airline_project_spark.streaming.ivf_stream import (
        apply_ivf_append_batch,
        ivf_cell_drift_streamed,
        recover_appends,
    )

    _, path, new = _ivf_fixture(spark, tmp_path, "ivf")
    apply_ivf_append_batch(spark, path, new, 0)
    before = [tuple(r) for r in ivf_cell_drift_streamed(spark, path).collect()]

    # redelivered batch id: byte-for-byte no-op (directory presence guard)
    apply_ivf_append_batch(spark, path, new, 0)
    assert [tuple(r) for r in ivf_cell_drift_streamed(spark, path).collect()] == before

    # crash mid-write: an orphaned .tmp dir is swept and never read
    orphan = f"{path}/appends/.tmp-crashed"
    os.makedirs(orphan)
    with open(f"{orphan}/junk", "w") as f:
        f.write("partial")
    recover_appends(path)
    assert not os.path.exists(orphan)
    assert [tuple(r) for r in ivf_cell_drift_streamed(spark, path).collect()] == before

    # a NEW batch id applies on top exactly once
    extra = new.limit(7).selectExpr("vec_id + 5000000 AS vec_id", "embedding")
    apply_ivf_append_batch(spark, path, extra, 1)
    after = {r["centroid_id"]: r for r in ivf_cell_drift_streamed(spark, path).collect()}
    assert sum(r["n_current"] for r in after.values()) == sum(
        r[2] for r in before
    ) + 7


def test_ivf_compaction_fold_equals_rebuild(spark, tmp_path):
    # Folding appends/batch=* into the base assignments must preserve the
    # (id, centroid_id) relation row-for-row and leave the drift report
    # bit-identical (n_train is a training baseline, not refreshed).
    import os

    from date_warehouse___airline_project_spark.streaming.ivf_stream import (
        apply_ivf_append_batch,
        compact_ivf_appends,
        ivf_assignments_with_appends,
        ivf_cell_drift_streamed,
    )

    _, path, new = _ivf_fixture(spark, tmp_path, "ivf_cmp")
    apply_ivf_append_batch(spark, path, new, 0)
    extra = new.limit(7).selectExpr("vec_id + 5000000 AS vec_id", "embedding")
    apply_ivf_append_batch(spark, path, extra, 1)

    rel_before = sorted(
        tuple(r) for r in ivf_assignments_with_appends(spark, path).collect()
    )
    drift_before = [tuple(r) for r in ivf_cell_drift_streamed(spark, path).collect()]

    assert compact_ivf_appends(spark, path) == 2
    assert not any(
        n.startswith("batch=") for n in os.listdir(f"{path}/appends")
    )
    # no leftover protocol artifacts
    assert not any(n.startswith(".compact") for n in os.listdir(path))
    rel_after = sorted(
        tuple(r) for r in ivf_assignments_with_appends(spark, path).collect()
    )
    assert rel_after == rel_before
    assert [
        tuple(r) for r in ivf_cell_drift_streamed(spark, path).collect()
    ] == drift_before
    # re-run with nothing to fold: no-op
    assert compact_ivf_appends(spark, path) == 0


def test_ivf_compaction_crash_recovery(spark, tmp_path):
    import json
    import os
    import shutil

    from date_warehouse___airline_project_spark.streaming.ivf_stream import (
        _COMPACT_MARKER,
        apply_ivf_append_batch,
        ivf_assignments_with_appends,
        recover_compaction,
    )

    _, path, new = _ivf_fixture(spark, tmp_path, "ivf_crash")
    apply_ivf_append_batch(spark, path, new, 0)
    rel = sorted(tuple(r) for r in ivf_assignments_with_appends(spark, path).collect())

    # (a) crash BEFORE the marker: orphaned tmp rolled back, appends intact
    orphan = f"{path}/.compact-tmp-deadbeef"
    os.makedirs(orphan)
    with open(f"{orphan}/junk", "w") as f:
        f.write("partial")
    recover_compaction(path)
    assert not os.path.exists(orphan)
    assert os.path.isdir(f"{path}/appends/batch=0")
    assert sorted(
        tuple(r) for r in ivf_assignments_with_appends(spark, path).collect()
    ) == rel

    # (b) crash AFTER the marker (merged tmp complete, live not yet
    # swapped): recovery must roll FORWARD — swap merged live, delete the
    # folded batch dir, clear the marker. Build the committed state by
    # hand, exactly what compact_ivf_appends does before its final step.
    base = spark.read.parquet(f"{path}/assignments")
    appended = spark.read.parquet(f"{path}/appends/batch=0").select(*base.columns)
    tmp = f"{path}/.compact-tmp-cafe01"
    (
        base.unionByName(appended)
        .repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(tmp)
    )
    with open(f"{path}/{_COMPACT_MARKER}", "w") as f:
        json.dump({"token": "cafe01", "batches": ["batch=0"]}, f)
    recover_compaction(path)
    assert not os.path.exists(f"{path}/{_COMPACT_MARKER}")
    assert not os.path.exists(f"{path}/appends/batch=0")
    assert sorted(
        tuple(r) for r in ivf_assignments_with_appends(spark, path).collect()
    ) == rel

    # (c) crash BETWEEN the two renames (live moved aside, tmp not yet
    # live): roll-forward completes from either side. Rebuild that state.
    shutil.copytree(f"{path}/assignments", tmp)
    os.rename(f"{path}/assignments", f"{path}/.compact-old-cafe01")
    with open(f"{path}/{_COMPACT_MARKER}", "w") as f:
        json.dump({"token": "cafe01", "batches": []}, f)
    recover_compaction(path)
    assert os.path.isdir(f"{path}/assignments")
    assert not any(n.startswith(".compact") for n in os.listdir(path))
    assert sorted(
        tuple(r) for r in ivf_assignments_with_appends(spark, path).collect()
    ) == rel


def test_ivf_stream_rejects_remote_paths(spark):
    # The commit protocol is driver-local os.rename; a remote path would
    # silently drop appends from reads, so it must fail FAST instead.
    import pytest

    from date_warehouse___airline_project_spark.streaming.ivf_stream import (
        _require_local_path,
        recover_appends,
    )

    with pytest.raises(ValueError, match="remote filesystem"):
        recover_appends("s3://bucket/ivf")
    with pytest.raises(ValueError, match="remote filesystem"):
        _require_local_path("hdfs://namenode/ivf", spark)
    assert _require_local_path("file:///tmp/ivf_x") == "/tmp/ivf_x"
    assert _require_local_path("/tmp/ivf_x", spark) == "/tmp/ivf_x"


def test_incremental_paragraph_dedup_stream_equals_batch(spark, tmp_path):
    """Feeding the corpus through the paragraph-dedup stream in doc_id
    order must reproduce doc_paragraph_dedup's per-doc ledger exactly:
    kept paragraphs per doc from the accepted outputs, totals from the
    shared segmentation."""
    import json

    import pyspark.sql.functions as F

    from date_warehouse___airline_project_spark.plans.dedup import (
        doc_paragraph_dedup,
    )
    from date_warehouse___airline_project_spark.streaming.dedup_stream import (
        paragraph_fingerprints,
        run_incremental_paragraph_dedup_stream,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    rows = sorted(
        ((r["doc_id"], r["text"]) for r in docs.collect()), key=lambda x: x[0]
    )
    mid = rows[len(rows) // 2][0]

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")

    def jl(batch):
        return "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in batch)

    # two micro-batches in doc_id order (keep-first order = arrival order)
    (input_dir / "b1.jsonl").write_text(jl([r for r in rows if r[0] < mid]))
    q = run_incremental_paragraph_dedup_stream(
        spark, str(input_dir), state, out, str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)
    (input_dir / "b2.jsonl").write_text(jl([r for r in rows if r[0] >= mid]))
    q = run_incremental_paragraph_dedup_stream(
        spark, str(input_dir), state, out, str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)

    kept = (
        spark.read.parquet(out)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_kept"))
    )
    total = paragraph_fingerprints(docs).groupBy("doc_id").agg(
        F.count("*").alias("n_paragraphs")
    )
    got = {
        r["doc_id"]: (
            r["n_paragraphs"],
            r["n_kept"],
            r["n_paragraphs"] - r["n_kept"],
            round(r["n_kept"] / r["n_paragraphs"], 6),
        )
        for r in total.join(kept, "doc_id", "left")
        .na.fill({"n_kept": 0})
        .collect()
    }
    want = {
        r["doc_id"]: (
            r["n_paragraphs"],
            r["n_kept"],
            r["n_removed"],
            r["surviving_ratio"],
        )
        for r in doc_paragraph_dedup(spark, sf).collect()
    }
    assert got == want


def test_incremental_paragraph_dedup_stream_redelivery(spark, tmp_path):
    """Replaying batch 0 against a state that already holds its paragraph
    fingerprints must not clobber the accepted output (whole-batch guard),
    and the state stays at its post-batch size."""
    import json

    from date_warehouse___airline_project_spark.streaming.dedup_stream import (
        run_incremental_paragraph_dedup_stream,
    )
    from date_warehouse___airline_project_spark.streaming.state_table import (
        last_applied_batch_id,
    )

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    body = " ".join(f"w{i}" for i in range(32))  # 2 paragraph blocks
    (input_dir / "b1.jsonl").write_text(
        "\n".join(
            json.dumps({"doc_id": i, "text": t})
            for i, t in [(1, body), (2, body), (3, "unique words only here")]
        )
    )
    q = run_incremental_paragraph_dedup_stream(
        spark, str(input_dir), state, out, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert last_applied_batch_id(state) == 0
    before = sorted(
        (r["doc_id"], r["para_idx"], r["pfp"])
        for r in spark.read.parquet(f"{out}/batch=0").collect()
    )
    # doc 2 duplicates doc 1's paragraphs wholesale: only doc 1's copies kept
    assert {d for d, _, _ in before} == {1, 3}
    n_state = spark.read.parquet(state).count()

    shutil.rmtree(tmp_path / "ckpt")  # forces redelivery of batch 0
    q = run_incremental_paragraph_dedup_stream(
        spark, str(input_dir), state, out, str(tmp_path / "ckpt2")
    )
    q.awaitTermination(120)
    after = sorted(
        (r["doc_id"], r["para_idx"], r["pfp"])
        for r in spark.read.parquet(f"{out}/batch=0").collect()
    )
    assert after == before, "redelivery clobbered the accepted output"
    assert spark.read.parquet(state).count() == n_state


def test_ivf_takedown_removes_listed_ids(spark, tmp_path):
    """Takedown over the persisted index: removed ids vanish from the
    assignment relation AND from search results, survivors' assignments
    are untouched row-for-row, appends are folded first so the takedown
    covers streamed vectors too, and a re-run is a no-op."""
    import os

    import pyspark.sql.functions as F

    from date_warehouse___airline_project_spark.operators.similarity import (
        ivf_topk_indexed,
    )
    from date_warehouse___airline_project_spark.streaming.ivf_stream import (
        apply_ivf_append_batch,
        ivf_assignments_with_appends,
        remove_from_ivf_index,
    )

    e, path, new = _ivf_fixture(spark, tmp_path, "ivf_takedown")
    apply_ivf_append_batch(spark, path, new, 0)
    before = {
        r["vec_id"]: r["centroid_id"]
        for r in ivf_assignments_with_appends(spark, path).collect()
    }
    # list includes a base id, an appended id, and an absent id
    listed = [7, 1000001, 99999999]
    td = spark.createDataFrame([(i,) for i in listed], "vec_id bigint")
    removed = remove_from_ivf_index(spark, path, td)
    assert removed == sum(1 for i in listed if i in before)
    after = {
        r["vec_id"]: r["centroid_id"]
        for r in spark.read.parquet(f"{path}/assignments").collect()
    }
    assert set(after) == set(before) - set(listed)
    assert all(after[i] == before[i] for i in after)  # survivors untouched
    assert not any(n.startswith(".compact") for n in os.listdir(path))
    assert not any(
        n.startswith("batch=") for n in os.listdir(f"{path}/appends")
    )
    # search no longer returns the removed ids
    hits = ivf_topk_indexed(e, path, query_id=0, k=10, nprobe=2)
    assert not {r["vec_id"] for r in hits.collect()} & set(listed)
    # idempotent: nothing left to remove
    assert remove_from_ivf_index(spark, path, td) == 0
    # drift report still runs (n_current drop is the takedown signal)
    from date_warehouse___airline_project_spark.operators.similarity import (
        ivf_cell_drift,
    )

    drift = ivf_cell_drift(spark, path)
    assert drift.filter(F.col("n_current") < F.col("n_train")).count() >= 0


def test_release_stream_two_batches_equal_full(spark, tmp_path):
    """Two sequential ingest batches folded into the persisted release
    state must reproduce the full-corpus release manifest EXACTLY; a
    redelivered batch is a no-op; compaction folds the deltas without
    changing the manifest."""
    import os

    import pyspark.sql.functions as F

    from date_warehouse___airline_project_spark.plans.training_data import (
        _docs,
        doc_release_manifest,
        write_release_state,
    )
    from date_warehouse___airline_project_spark.streaming.release_stream import (
        apply_release_batch,
        compact_release_state,
        release_manifest_from_state,
    )

    sf = "/root/testdata/sf0.001"
    d = _docs(spark, sf)
    mx = d.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
    t1, t2 = int(mx) * 8 // 10, int(mx) * 9 // 10
    path = str(tmp_path / "relstream")
    write_release_state(d.filter(F.col("doc_id") < t1), path)
    b0 = d.filter((F.col("doc_id") >= t1) & (F.col("doc_id") < t2))
    b1 = d.filter(F.col("doc_id") >= t2)
    apply_release_batch(spark, path, b0, 0)
    apply_release_batch(spark, path, b1, 1)

    want = [tuple(r) for r in doc_release_manifest(spark, sf).collect()]
    got = [tuple(r) for r in release_manifest_from_state(spark, path).collect()]
    assert got == want

    # redelivered micro-batch: byte-for-byte no-op
    apply_release_batch(spark, path, b1, 1)
    assert [
        tuple(r) for r in release_manifest_from_state(spark, path).collect()
    ] == want

    # compaction folds both deltas, manifest bit-identical, no artifacts
    assert compact_release_state(spark, path) == 2
    assert not any(
        n.startswith("batch=") for n in os.listdir(f"{path}/batches")
    )
    assert not any(n.startswith(".release") for n in os.listdir(path))
    assert [
        tuple(r) for r in release_manifest_from_state(spark, path).collect()
    ] == want
    assert compact_release_state(spark, path) == 0


def test_release_stream_runner_and_crash_recovery(spark, tmp_path):
    """The foreachBatch runner lands the same manifest as the batch fold;
    orphaned tmp dirs from a crash mid-write are swept and never read."""
    import os

    import pyspark.sql.functions as F

    from date_warehouse___airline_project_spark.plans.training_data import (
        _docs,
        doc_release_manifest,
        write_release_state,
    )
    from date_warehouse___airline_project_spark.streaming.release_stream import (
        apply_release_batch,
        recover_release_compaction,
        release_manifest_from_state,
        run_release_maintenance_stream,
    )

    sf = "/root/testdata/sf0.001"
    d = _docs(spark, sf)
    mx = d.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
    t = int(mx) * 9 // 10
    path = str(tmp_path / "relstream2")
    write_release_state(d.filter(F.col("doc_id") < t), path)

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    d.filter(F.col("doc_id") >= t).coalesce(1).write.parquet(str(in_dir / "b0"))
    feed = (
        spark.readStream.schema(d.schema)
        .option("recursiveFileLookup", "true")
        .parquet(str(in_dir))
    )
    q = run_release_maintenance_stream(feed, path, str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    want = [tuple(r) for r in doc_release_manifest(spark, sf).collect()]
    assert [
        tuple(r) for r in release_manifest_from_state(spark, path).collect()
    ] == want

    # an EMPTY batch is a pure no-op: no delta dir (its fileless relation
    # writes would wedge later schema inference), no sweep, no state change
    apply_release_batch(spark, path, d.filter(F.col("doc_id") < 0), 99)
    assert not os.path.isdir(f"{path}/batches/batch=99")
    # crash mid-write: orphaned batch tmp is swept by the next NON-empty
    # apply (which lands batch=99 and removes the orphan)
    orphan = f"{path}/batches/.tmp-crashed"
    os.makedirs(orphan)
    with open(f"{orphan}/junk", "w") as f:
        f.write("partial")
    extra = spark.createDataFrame(
        [(int(mx) + 10, "web", "brand new post-stream doc zyxxyz")],
        "doc_id long, source string, text string",
    )
    apply_release_batch(spark, path, extra, 99)
    assert os.path.isdir(f"{path}/batches/batch=99")
    assert not os.path.exists(orphan)
    # markerless compaction tmp: invisible to readers (roll-forward-only
    # recovery), swept by a MAINTAINER entry point
    orphan2 = f"{path}/.release-tmp-deadbeef"
    os.makedirs(orphan2)
    before = [
        tuple(r) for r in release_manifest_from_state(spark, path).collect()
    ]
    assert os.path.exists(orphan2)  # the reader did NOT sweep it
    recover_release_compaction(path)  # maintainer form sweeps
    assert not os.path.exists(orphan2)
    assert [
        tuple(r) for r in release_manifest_from_state(spark, path).collect()
    ] == before


def test_ivf_takedown_emptying_index_keeps_it_readable(spark, tmp_path):
    """A takedown covering every vector must leave a readable EMPTY
    assignments table (a partitioned write of zero rows would leave no
    part files), and further operations stay well-defined."""
    from date_warehouse___airline_project_spark.streaming.ivf_stream import (
        remove_from_ivf_index,
    )

    e, path, _ = _ivf_fixture(spark, tmp_path, "ivf_empty_takedown")
    all_ids = e.select("vec_id")
    n = all_ids.count()
    assert remove_from_ivf_index(spark, path, all_ids) == n
    left = spark.read.parquet(f"{path}/assignments")
    assert left.count() == 0
    assert set(left.columns) >= {"vec_id", "centroid_id"}
    assert remove_from_ivf_index(spark, path, all_ids) == 0


def test_release_reader_recovers_interrupted_compaction(spark, tmp_path):
    """The crash window the review caught: compaction committed its marker
    and swapped the merged base live, but crashed before deleting the
    folded batch dirs. A reader that unions base + batches without
    recovering first would serve every folded doc TWICE; the reader must
    roll the committed compaction forward before reading."""
    import json
    import os
    import shutil

    import pyspark.sql.functions as F

    from date_warehouse___airline_project_spark.plans.training_data import (
        _docs,
        doc_release_manifest,
        write_release_state,
    )
    from date_warehouse___airline_project_spark.streaming.release_stream import (
        _REL_MARKER,
        apply_release_batch,
        compact_release_state,
        release_manifest_from_state,
    )

    sf = "/root/testdata/sf0.001"
    d = _docs(spark, sf)
    mx = d.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
    t = int(mx) * 9 // 10
    path = str(tmp_path / "relcrash")
    write_release_state(d.filter(F.col("doc_id") < t), path)
    apply_release_batch(spark, path, d.filter(F.col("doc_id") >= t), 0)
    want = [tuple(r) for r in doc_release_manifest(spark, sf).collect()]

    # stage the crash: keep a copy of the batch delta, compact (which
    # folds it into base and deletes it), then restore the delta and the
    # committed marker — exactly the post-swap pre-cleanup on-disk state
    saved = str(tmp_path / "saved_batch")
    shutil.copytree(f"{path}/batches/batch=0", saved)
    assert compact_release_state(spark, path) == 1
    shutil.copytree(saved, f"{path}/batches/batch=0")
    with open(f"{path}/{_REL_MARKER}", "w") as f:
        json.dump({"token": "deadbf", "batches": ["batch=0"]}, f)

    got = [tuple(r) for r in release_manifest_from_state(spark, path).collect()]
    assert got == want  # no double-counted batch docs
    assert not os.path.exists(f"{path}/batches/batch=0")
    assert not os.path.exists(f"{path}/{_REL_MARKER}")


def _ivfpq_fixture(spark, tmp_path, name):
    """Small persisted IVF-PQ index over the sf0.001 embeddings, with a
    shifted-id append batch carrying the index's payload column."""
    from date_warehouse___airline_project_spark.operators.similarity import (
        save_ivfpq_index,
    )
    from date_warehouse___airline_project_spark.plans.similarity import (
        _pq_cents_trained,
    )
    from date_warehouse___airline_project_spark.sources.catalog import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / name)
    save_ivfpq_index(
        e, path, _pq_cents_trained(e), payload_cols=("label",)
    )
    new = e.filter("vec_id % 3 = 1").selectExpr(
        "vec_id + 1000000 AS vec_id", "embedding", "label"
    )
    return e, path, new


def test_ivfpq_index_lifecycle_covers_codes(spark, tmp_path):
    """The PQ code table IS the assignments relation, so appends,
    compaction, and takedown must all keep it complete and consistent:
    appended rows carry frozen-codebook codes identical to a from-scratch
    rebuild over the union corpus; compaction preserves the relation
    row-for-row; takedown deletes the listed rows' codes with them."""
    import os

    from date_warehouse___airline_project_spark.operators.similarity import (
        append_to_ivf_index,
        ivfpq_topk_indexed,
    )
    from date_warehouse___airline_project_spark.streaming.ivf_stream import (
        apply_ivf_append_batch,
        compact_ivf_appends,
        ivf_assignments_with_appends,
        remove_from_ivf_index,
    )

    e, path, new = _ivfpq_fixture(spark, tmp_path, "ivfpq")
    asg = spark.read.parquet(f"{path}/assignments")
    assert set(asg.columns) == {"vec_id", "label", "codes", "centroid_id"}
    n0 = asg.count()
    assert asg.filter("codes IS NULL OR size(codes) = 0").count() == 0

    # --- batch append: every appended row carries frozen-codebook codes.
    # The appended vectors are byte-copies of existing ones under shifted
    # ids, so frozen-codebook assignment must give each appended row
    # EXACTLY its source row's (codes, centroid_id) — the source rows
    # being certified by the oracle-backed build.
    append_to_ivf_index(new, path)
    after = spark.read.parquet(f"{path}/assignments")
    assert after.count() == n0 + new.count()
    key = lambda df: sorted(
        (r["vec_id"], r["label"], tuple(r["codes"]), r["centroid_id"])
        for r in df.collect()
    )
    appended = after.filter("vec_id >= 1000000").selectExpr(
        "vec_id - 1000000 AS vec_id", "label", "codes", "centroid_id"
    )
    sources = after.filter(
        "vec_id < 1000000 AND vec_id % 3 = 1"
    )
    assert key(appended) == key(sources)

    # --- streaming micro-batch append rides the same schema
    new2 = e.filter("vec_id % 5 = 2").selectExpr(
        "vec_id + 2000000 AS vec_id", "embedding", "label"
    )
    apply_ivf_append_batch(spark, path, new2, 0)
    with_appends = ivf_assignments_with_appends(spark, path)
    assert set(with_appends.columns) == {"vec_id", "label", "codes", "centroid_id"}
    rel = key(with_appends)

    # --- compaction folds the batch dir, preserving rows + codes exactly
    assert compact_ivf_appends(spark, path) == 1
    assert not os.path.isdir(f"{path}/appends/batch=0")
    assert key(spark.read.parquet(f"{path}/assignments")) == rel

    # --- takedown deletes the listed rows' codes with them, and search
    # off the persisted codes never returns a removed id
    victims = [r["vec_id"] for r in ivfpq_topk_indexed(
        e, path, query_id=0, k=3, nprobe=2
    ).collect()]
    td = spark.createDataFrame([(v,) for v in victims], "vec_id bigint")
    assert remove_from_ivf_index(spark, path, td) == len(victims)
    left = spark.read.parquet(f"{path}/assignments")
    assert left.filter(F.col("vec_id").isin(victims)).count() == 0
    hits = ivfpq_topk_indexed(e, path, query_id=0, k=10, nprobe=2).collect()
    assert not set(victims) & {r["vec_id"] for r in hits}
    assert len(hits) == 10


def test_takedown_stream_equals_batch_ivf(spark, tmp_path):
    """Streaming the takedown list in two micro-batches must land the
    exact post-takedown index the one-shot batch removal produces, and a
    redelivered batch id must be skipped by the progress guard."""
    from date_warehouse___airline_project_spark.streaming.ivf_stream import (
        remove_from_ivf_index,
    )
    from date_warehouse___airline_project_spark.streaming.takedown_stream import (
        apply_ivf_takedown_batch,
        run_ivf_takedown_stream,
    )

    _, batch_path, _ = _ivf_fixture(spark, tmp_path, "td_batch")
    _, stream_path, _ = _ivf_fixture(spark, tmp_path, "td_stream")
    td_ids = sorted(
        r["vec_id"]
        for r in spark.read.parquet(f"{batch_path}/assignments")
        .filter("vec_id % 7 = 3")
        .select("vec_id")
        .collect()
    )  # materialize: the removal rewrites the files a lazy td would re-read
    td = spark.createDataFrame([(v,) for v in td_ids], "vec_id long")
    n = remove_from_ivf_index(spark, batch_path, td)
    assert n > 0

    in_dir = tmp_path / "td_in"
    in_dir.mkdir()
    td.filter("vec_id % 2 = 0").coalesce(1).write.parquet(str(in_dir / "b0"))
    td.filter("vec_id % 2 = 1").coalesce(1).write.parquet(str(in_dir / "b1"))
    feed = (
        spark.readStream.schema("vec_id LONG")
        .option("recursiveFileLookup", "true")
        .parquet(str(in_dir))
    )
    q = run_ivf_takedown_stream(feed, stream_path, str(tmp_path / "td_ckpt"))
    q.awaitTermination(120)

    key = lambda p: sorted(
        tuple(r) for r in spark.read.parquet(f"{p}/assignments").collect()
    )
    assert key(stream_path) == key(batch_path)

    # redelivered batch: idempotent no-op (0 removed — already gone)
    assert apply_ivf_takedown_batch(spark, stream_path, td, 0) == 0
    assert key(stream_path) == key(batch_path)
    # a NEW batch id applies exactly once
    more_ids = [
        r["vec_id"]
        for r in spark.read.parquet(f"{stream_path}/assignments")
        .filter("vec_id % 11 = 5")
        .collect()
    ]
    more = spark.createDataFrame([(v,) for v in more_ids], "vec_id long")
    got = apply_ivf_takedown_batch(spark, stream_path, more, 99)
    assert got == len(more_ids) > 0


def test_takedown_stream_equals_batch_shards(spark, tmp_path):
    """Same contract over the written release shards: two streamed
    micro-batches == one batch id-list takedown, and the id-list path
    itself ties out with the mod-predicate path it generalizes."""
    from date_warehouse___airline_project_spark.plans.training_data import (
        apply_takedown_to_shards,
        write_release_shards,
    )
    from date_warehouse___airline_project_spark.streaming.takedown_stream import (
        apply_shard_takedown_batch,
        run_shard_takedown_stream,
    )

    sf = "/root/testdata/sf0.001"
    batch_out = str(tmp_path / "rel_batch")
    stream_out = str(tmp_path / "rel_stream")
    mod_out = str(tmp_path / "rel_mod")
    for out in (batch_out, stream_out, mod_out):
        write_release_shards(spark, sf, out)

    from date_warehouse___airline_project_spark.functions.hashing import hash56
    td_ids = sorted(
        r["doc_id"]
        for r in spark.read.parquet(batch_out)
        .filter(hash56(F.col("doc_id")) % 17 == 0)
        .select("doc_id")
        .collect()
    )  # materialize: the takedown rewrites the files a lazy td would re-read
    assert td_ids
    td = spark.createDataFrame([(v,) for v in td_ids], "doc_id long")

    # id-list batch path == mod-predicate batch path for the same set
    changed_ids = apply_takedown_to_shards(spark, batch_out, takedown_ids=td)
    changed_mod = apply_takedown_to_shards(spark, mod_out, takedown_mod=17)
    assert changed_ids == changed_mod
    key = lambda p: sorted(tuple(r) for r in spark.read.parquet(p).collect())
    assert key(batch_out) == key(mod_out)

    # stream in two micro-batches == the one-shot batch takedown
    in_dir = tmp_path / "rel_in"
    in_dir.mkdir()
    td.filter("doc_id % 2 = 0").coalesce(1).write.parquet(str(in_dir / "b0"))
    td.filter("doc_id % 2 = 1").coalesce(1).write.parquet(str(in_dir / "b1"))
    feed = (
        spark.readStream.schema("doc_id LONG")
        .option("recursiveFileLookup", "true")
        .parquet(str(in_dir))
    )
    q = run_shard_takedown_stream(feed, stream_out, str(tmp_path / "rel_ckpt"))
    q.awaitTermination(120)
    assert key(stream_out) == key(batch_out)

    # redelivered batch: idempotent no-op (no shard rewritten)
    assert apply_shard_takedown_batch(spark, stream_out, td, 0) == []
    assert key(stream_out) == key(batch_out)


def test_release_out_of_order_batch_rejected(spark, tmp_path):
    """A late-arriving LOWER doc_id (backfill / replayed partition) must
    be rejected LOUDLY: the keep-min fold is exact only under append-only
    doc_ids, and folding the batch would silently ship a wrong canonical.
    The guard bound must also survive compaction (batch watermarks fold
    into the base file before the batch dirs are deleted)."""
    import pytest

    from date_warehouse___airline_project_spark.plans.training_data import (
        incremental_release_assignment,
        write_release_state,
    )
    from date_warehouse___airline_project_spark.streaming.release_stream import (
        apply_release_batch,
        compact_release_state,
        streamed_watermark,
    )
    from date_warehouse___airline_project_spark.sources.catalog import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    state = str(tmp_path / "rel_state")
    write_release_state(d.filter("doc_id < 300"), state)
    wm0 = streamed_watermark(state)
    assert 0 <= wm0 < 300

    # batch-side fold: a batch overlapping the state must raise
    with pytest.raises(ValueError, match="out-of-order ingest batch"):
        incremental_release_assignment(
            spark, state, d.filter("doc_id >= 250 AND doc_id < 350")
        )

    # streaming side: in-order batch folds; watermark advances with it
    apply_release_batch(spark, state, d.filter("doc_id >= 300 AND doc_id < 400"), 0)
    assert streamed_watermark(state) > wm0

    # an out-of-order micro-batch (doc_id <= watermark) must raise and
    # must NOT land a batch dir
    import os

    with pytest.raises(ValueError, match="out-of-order ingest batch"):
        apply_release_batch(
            spark, state, d.filter("doc_id >= 350 AND doc_id < 420"), 1
        )
    assert not os.path.isdir(os.path.join(state, "batches", "batch=1"))

    # the bound survives compaction: fold batch=0 into base, then the
    # same late batch is still rejected off the base watermark alone
    assert compact_release_state(spark, state) == 1
    with pytest.raises(ValueError, match="out-of-order ingest batch"):
        apply_release_batch(
            spark, state, d.filter("doc_id >= 350 AND doc_id < 420"), 2
        )

    # and a genuinely newer batch still folds fine post-compaction
    apply_release_batch(spark, state, d.filter("doc_id >= 400 AND doc_id < 450"), 3)
    assert streamed_watermark(state) >= 449 or streamed_watermark(state) > 400


def test_guard_append_only_primitive(spark, tmp_path):
    """The shared watermark/guard primitive: monotone watermark file,
    empty batches pass through, and an id at/below the watermark raises."""
    import pytest

    from date_warehouse___airline_project_spark.streaming.state_table import (
        guard_append_only,
        read_watermark,
        write_watermark,
    )

    wm = str(tmp_path / "wm")
    assert read_watermark(wm) == -1
    b = spark.createDataFrame([(10,), (11,)], "doc_id long")
    assert guard_append_only(b, read_watermark(wm)) == 11
    write_watermark(wm, 11)
    assert read_watermark(wm) == 11
    # empty batch: no-op, returns the existing watermark
    empty = spark.createDataFrame([], "doc_id long")
    assert guard_append_only(empty, 11) == 11
    # equal id is a violation too (ids are unique, so equality = replayed
    # row outside the batch-id guard = out of order)
    with pytest.raises(ValueError, match="out-of-order ingest batch"):
        guard_append_only(spark.createDataFrame([(11,)], "doc_id long"), 11)
    with pytest.raises(ValueError, match="out-of-order ingest batch"):
        guard_append_only(spark.createDataFrame([(5,), (99,)], "doc_id long"), 11)


def test_release_state_takedown_prevents_resurrection(spark, tmp_path):
    """Takedown must stick against the STATE, not just the shipped files:
    without apply_takedown_to_release_state, v1_docs re-ships removed
    docs at the next fold; with it, the docs leave every future manifest,
    a later batch carrying a byte-identical duplicate stays excluded
    (fingerprints deliberately retained), and the rewrite is idempotent."""
    from date_warehouse___airline_project_spark.plans.training_data import (
        write_release_state,
    )
    from date_warehouse___airline_project_spark.sources.catalog import load_table
    from date_warehouse___airline_project_spark.streaming.release_stream import (
        apply_release_batch,
        apply_takedown_to_release_state,
        release_manifest_from_state,
        release_state_rel,
    )

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    state = str(tmp_path / "state")
    write_release_state(d.filter("doc_id < 400"), state)

    v1 = release_state_rel(spark, state, "v1_docs")
    victims = [r["doc_id"] for r in v1.orderBy("doc_id").limit(5).collect()]
    victim_texts = {
        r["doc_id"]: r["text"]
        for r in v1.filter(F.col("doc_id").isin(victims)).collect()
    }
    td = spark.createDataFrame([(v,) for v in victims], "doc_id long")
    n_fps = release_state_rel(spark, state, "doc_fps").count()

    assert apply_takedown_to_release_state(spark, state, td) == len(victims)
    after = release_state_rel(spark, state, "v1_docs")
    assert after.filter(F.col("doc_id").isin(victims)).count() == 0
    # fingerprints retained: the takedown must block re-admission
    assert release_state_rel(spark, state, "doc_fps").count() == n_fps
    # idempotent
    assert apply_takedown_to_release_state(spark, state, td) == 0

    # a later IN-ORDER batch duplicating a removed doc's exact text must
    # stay excluded (fp hit), and no removed id appears in the manifest
    dup = spark.createDataFrame(
        [(900001, "web", victim_texts[victims[0]])], "doc_id long, source string, text string"
    )
    apply_release_batch(spark, state, dup, 0)
    man_ids = {
        r["doc_id"]
        for r in release_state_rel(spark, state, "v1_docs").select("doc_id").collect()
    }
    assert not set(victims) & man_ids
    assert 900001 not in man_ids  # duplicate of forgotten content blocked
    assert release_manifest_from_state(spark, state).count() >= 0  # readable


def test_ivf_takedown_tombstones_block_reingest(spark, tmp_path):
    """An index takedown must STICK: re-ingesting a removed vector id
    through either append path (batch or streaming micro-batch) must not
    resurrect it, and tombstones survive compaction. Non-tombstoned rows
    in the same batch still land."""
    from date_warehouse___airline_project_spark.operators.similarity import (
        append_to_ivf_index,
    )
    from date_warehouse___airline_project_spark.streaming.ivf_stream import (
        apply_ivf_append_batch,
        compact_ivf_appends,
        ivf_assignments_with_appends,
        remove_from_ivf_index,
    )

    e, path, new = _ivf_fixture(spark, tmp_path, "ivf_tomb")
    victims = [
        r["vec_id"]
        for r in spark.read.parquet(f"{path}/assignments")
        .filter("vec_id % 13 = 2")
        .limit(6)
        .collect()
    ]
    td = spark.createDataFrame([(v,) for v in victims], "vec_id long")
    assert remove_from_ivf_index(spark, path, td) == len(victims)

    # batch re-ingest of removed ids (+ genuinely new rows) — removed ids
    # stay out, new rows land
    reingest = e.filter(F.col("vec_id").isin(victims)).select(
        "vec_id", "embedding"
    ).unionByName(e.limit(4).selectExpr("vec_id + 7000000 AS vec_id", "embedding"))
    n_before = spark.read.parquet(f"{path}/assignments").count()
    append_to_ivf_index(reingest.select("vec_id", "embedding"), path)
    asg = spark.read.parquet(f"{path}/assignments")
    assert asg.filter(F.col("vec_id").isin(victims)).count() == 0
    assert asg.count() == n_before + 4

    # streaming micro-batch of ONLY removed ids: filtered to empty, no
    # batch dir lands, appends root stays readable
    import os

    apply_ivf_append_batch(
        spark, path, e.filter(F.col("vec_id").isin(victims)).select("vec_id", "embedding"), 41
    )
    assert not os.path.isdir(f"{path}/appends/batch=41")
    # a mixed micro-batch keeps only the non-tombstoned rows
    apply_ivf_append_batch(
        spark,
        path,
        e.filter(F.col("vec_id").isin(victims)).select("vec_id", "embedding").unionByName(
            e.limit(3).selectExpr("vec_id + 8000000 AS vec_id", "embedding")
        ),
        42,
    )
    rel = ivf_assignments_with_appends(spark, path)
    assert rel.filter(F.col("vec_id").isin(victims)).count() == 0
    assert rel.filter("vec_id >= 8000000").count() == 3
    # tombstones survive compaction (separate dir, untouched by the fold)
    assert compact_ivf_appends(spark, path) == 1
    assert spark.read.parquet(f"{path}/tombstones").count() == len(victims)
    append_to_ivf_index(
        e.filter(F.col("vec_id").isin(victims)).select("vec_id", "embedding"), path
    )
    assert spark.read.parquet(f"{path}/assignments").filter(
        F.col("vec_id").isin(victims)
    ).count() == 0


def test_release_stream_replay_after_compaction_not_wedged(spark, tmp_path):
    """A checkpoint reset replays a batch whose batch dir compaction
    already deleted: the watermark guard must treat the no-novel-content
    replay as a harmless skip (no wedge, no state change), while a true
    backfill — sub-watermark ids with NEW content — still raises."""
    import pytest

    from date_warehouse___airline_project_spark.plans.training_data import (
        write_release_state,
    )
    from date_warehouse___airline_project_spark.sources.catalog import load_table
    from date_warehouse___airline_project_spark.streaming.release_stream import (
        apply_release_batch,
        compact_release_state,
        release_state_rel,
    )

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    state = str(tmp_path / "state")
    write_release_state(d.filter("doc_id < 300"), state)
    b0 = d.filter("doc_id >= 300 AND doc_id < 400")
    apply_release_batch(spark, state, b0, 0)
    assert compact_release_state(spark, state) == 1  # batch dir gone

    before = sorted(
        r["doc_id"]
        for r in release_state_rel(spark, state, "v1_docs").select("doc_id").collect()
    )
    # replay of b0 under a fresh checkpoint (batch id restarts at 0):
    # sub-watermark ids but zero novel content -> clean skip
    apply_release_batch(spark, state, b0, 0)
    import os

    assert not os.path.isdir(os.path.join(state, "batches", "batch=0"))
    after = sorted(
        r["doc_id"]
        for r in release_state_rel(spark, state, "v1_docs").select("doc_id").collect()
    )
    assert after == before
    # a true backfill (sub-watermark ids, NEW text) still raises
    backfill = spark.createDataFrame(
        [(150, "web", "entirely novel backfill content xyzzy")],
        "doc_id long, source string, text string",
    )
    with pytest.raises(ValueError, match="out-of-order ingest batch"):
        apply_release_batch(spark, state, backfill, 1)


def test_ivf_append_after_emptied_index_restores_partitioned_layout(spark, tmp_path):
    """Appending to an index a takedown fully emptied must not mix the
    plain empty table with centroid_id= subdirs (unreadable layout):
    the append overwrites back to partitioned form and every reader
    works. Repeated takedowns also keep the tombstone set a single
    deduplicated table."""
    import os

    from date_warehouse___airline_project_spark.operators.similarity import (
        append_to_ivf_index,
        ivf_topk_indexed,
    )
    from date_warehouse___airline_project_spark.streaming.ivf_stream import (
        remove_from_ivf_index,
    )

    e, path, new = _ivf_fixture(spark, tmp_path, "ivf_emptied")
    all_ids = spark.read.parquet(f"{path}/assignments").select("vec_id")
    all_ids = spark.createDataFrame(
        [(r["vec_id"],) for r in all_ids.collect()], "vec_id long"
    )
    n = remove_from_ivf_index(spark, path, all_ids)
    assert n > 0
    # re-run: idempotent, and the tombstone set stays ONE table
    assert remove_from_ivf_index(spark, path, all_ids) == 0
    tparts = [
        f for f in os.listdir(f"{path}/tombstones") if f.endswith(".parquet")
    ]
    assert len(tparts) == 1
    assert spark.read.parquet(f"{path}/tombstones").count() == all_ids.count()

    # append fresh (non-tombstoned) vectors into the emptied index
    append_to_ivf_index(new.select("vec_id", "embedding"), path)
    asg = spark.read.parquet(f"{path}/assignments")  # must not raise
    assert asg.count() == new.count()
    assert any(
        d.startswith("centroid_id=") for d in os.listdir(f"{path}/assignments")
    )
    hits = ivf_topk_indexed(e, path, query_id=0, k=5, nprobe=25)
    assert hits.count() <= 5


def test_tombstone_swap_crash_recovery(spark, tmp_path):
    """A crash between the two tombstone renames strands the ENTIRE
    accumulated set in ``.tombstones-old-*`` with no live dir. Every
    tombstone consumer must roll that back before trusting the set —
    otherwise previously taken-down ids silently resurrect through
    re-ingest, and a re-run of the takedown only re-tombstones the
    current batch, not the lost prior ids."""
    from date_warehouse___airline_project_spark.operators.similarity import (
        append_to_ivf_index,
    )
    from date_warehouse___airline_project_spark.streaming.ivf_stream import (
        apply_ivf_append_batch,
        ivf_assignments_with_appends,
        recover_tombstones,
        remove_from_ivf_index,
    )

    e, path, new = _ivf_fixture(spark, tmp_path, "ivf_tomb_crash")
    victims = [
        r["vec_id"]
        for r in spark.read.parquet(f"{path}/assignments")
        .filter("vec_id % 11 = 3")
        .limit(5)
        .collect()
    ]
    td = spark.createDataFrame([(v,) for v in victims], "vec_id long")
    assert remove_from_ivf_index(spark, path, td) == len(victims)
    n_tomb = spark.read.parquet(f"{path}/tombstones").count()

    # simulate the crash window: live set renamed aside, replacement never
    # renamed in; plus an orphaned half-written tmp from the same crash
    os.rename(f"{path}/tombstones", f"{path}/.tombstones-old-deadbeef")
    os.makedirs(f"{path}/.tombstones-tmp-cafe0001")
    (tmp_path / "ivf_tomb_crash" / ".tombstones-tmp-cafe0001" / "junk").write_text("x")

    # the streaming append path repairs first — victims stay out, the
    # all-blocked batch lands nothing
    apply_ivf_append_batch(
        spark,
        path,
        e.filter(F.col("vec_id").isin(victims)).select("vec_id", "embedding"),
        57,
    )
    assert os.path.isdir(f"{path}/tombstones")
    assert not os.path.isdir(f"{path}/.tombstones-old-deadbeef")
    # the append path runs READER-form recovery: the stranded set is
    # restored, but a (possibly in-flight) tmp is NOT swept from there
    assert os.path.isdir(f"{path}/.tombstones-tmp-cafe0001")
    recover_tombstones(path)  # maintainer form sweeps orphans
    assert not os.path.isdir(f"{path}/.tombstones-tmp-cafe0001")
    assert not os.path.isdir(f"{path}/appends/batch=57")
    assert spark.read.parquet(f"{path}/tombstones").count() == n_tomb
    assert (
        ivf_assignments_with_appends(spark, path)
        .filter(F.col("vec_id").isin(victims))
        .count()
        == 0
    )

    # same crash before the BATCH append path (index_batch_rows) — repaired
    os.rename(f"{path}/tombstones", f"{path}/.tombstones-old-feedc0de")
    append_to_ivf_index(
        e.filter(F.col("vec_id").isin(victims)).select("vec_id", "embedding"), path
    )
    assert os.path.isdir(f"{path}/tombstones")
    assert (
        spark.read.parquet(f"{path}/assignments")
        .filter(F.col("vec_id").isin(victims))
        .count()
        == 0
    )

    # and a follow-up takedown MERGES with the recovered prior set instead
    # of re-tombstoning only its own batch
    extra = [
        r["vec_id"]
        for r in spark.read.parquet(f"{path}/assignments")
        .filter(~F.col("vec_id").isin(victims))
        .limit(2)
        .collect()
    ]
    remove_from_ivf_index(
        spark, path, spark.createDataFrame([(v,) for v in extra], "vec_id long")
    )
    tomb = {r["vec_id"] for r in spark.read.parquet(f"{path}/tombstones").collect()}
    assert set(victims) <= tomb and set(extra) <= tomb

    # post-swap debris (live dir present AND an old backup): swept, set kept
    os.makedirs(f"{path}/.tombstones-old-11112222")
    recover_tombstones(path)
    assert not os.path.isdir(f"{path}/.tombstones-old-11112222")
    assert spark.read.parquet(f"{path}/tombstones").count() == len(tomb)


def test_dedup_stream_watermark_catches_up_on_redelivery(spark, tmp_path):
    """Crash between the state fold and the watermark write: the
    redelivered batch is skipped by the batch-id guard BEFORE the
    watermark logic runs, so without catch-up the watermark stays below
    the folded batch's max doc_id forever — and a later out-of-order
    batch whose ids fall in that gap would pass guard_append_only and
    fold silently (the exact wrong-canonical case the guard rejects)."""
    from date_warehouse___airline_project_spark.streaming.dedup_stream import (
        run_incremental_dedup_stream,
    )
    from date_warehouse___airline_project_spark.streaming.state_table import (
        read_watermark,
        write_watermark,
    )

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    (input_dir / "b1.jsonl").write_text(
        "\n".join(
            json.dumps({"doc_id": i, "text": t})
            for i, t in [(10, "alpha beta"), (20, "gamma delta")]
        )
    )
    q = run_incremental_dedup_stream(
        spark, str(input_dir), state, out, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    wm_file = f"{state}.max_doc_id"
    assert read_watermark(wm_file) == 20

    # simulate the lost watermark write (crash after fold, before write),
    # then force redelivery of batch 0 under a fresh checkpoint
    write_watermark(wm_file, 5)
    # fresh-checkpoint coalescing: a NEW novel doc (id 30) rides the
    # replayed batch 0 — the catch-up must advance only over PROCESSED
    # content (ids 10/20), never over the never-folded doc, or its
    # legitimate re-feed would be blocked forever
    (input_dir / "b1b.jsonl").write_text(
        json.dumps({"doc_id": 30, "text": "never folded content qqq"})
    )
    q = run_incremental_dedup_stream(
        spark, str(input_dir), state, out, str(tmp_path / "ckpt2")
    )
    q.awaitTermination(120)
    # the batch-id-skip path caught the watermark up to the folded max
    # (20), NOT the coalesced never-folded id (30)
    assert read_watermark(wm_file) == 20
    # ... so the silently-skipped doc 30 is still re-feedable: continuing
    # the SAME checkpoint, the new file arrives as batch 1 and folds
    # normally (guard passes because the watermark stayed at 20)
    (input_dir / "b1c.jsonl").write_text(
        json.dumps({"doc_id": 30, "text": "never folded content qqq"})
    )
    q = run_incremental_dedup_stream(
        spark, str(input_dir), state, out, str(tmp_path / "ckpt2")
    )
    q.awaitTermination(120)
    assert read_watermark(wm_file) == 30
    assert spark.read.parquet(state).count() == 3

    # a gap-id batch (5 < 15 <= 20, novel content) is now rejected loudly
    (input_dir / "b2.jsonl").write_text(
        json.dumps({"doc_id": 15, "text": "entirely novel xyzzy"})
    )
    q = run_incremental_dedup_stream(
        spark, str(input_dir), state, out, str(tmp_path / "ckpt2")
    )
    with pytest.raises(Exception, match="out-of-order ingest batch"):
        q.awaitTermination(120)
    # ... and the state did NOT fold the gap batch
    assert spark.read.parquet(state).count() == 3


def test_backfill_state_rebase_equals_rewrite(spark, tmp_path):
    """Rebasing the persisted release state onto the corrected corpus
    (apply_backfill_to_release_state) must equal a from-scratch
    write_release_state over that corpus in all four relations, fold the
    batch dirs away, advance the watermark, and leave the state ready for
    normal incremental folds. A markerless tmp from a crashed rebase
    rolls back clean."""
    from date_warehouse___airline_project_spark.functions.hashing import hash56
    from date_warehouse___airline_project_spark.plans.training_data import (
        read_ingest_watermark,
        write_release_state,
    )
    from date_warehouse___airline_project_spark.sources.catalog import load_table
    from date_warehouse___airline_project_spark.streaming.release_stream import (
        apply_backfill_to_release_state,
        apply_release_batch,
        recover_release_compaction,
        release_state_rel,
    )

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    late = d.filter((F.col("doc_id") < 400) & (hash56(F.col("doc_id")) % 31 == 7))
    assert late.count() > 0
    early = d.filter((F.col("doc_id") < 400) & (hash56(F.col("doc_id")) % 31 != 7))
    state = str(tmp_path / "state")
    write_release_state(early, state)
    # one committed streamed batch rides on top of the base state
    apply_release_batch(spark, state, d.filter("doc_id >= 400 AND doc_id < 450"), 0)
    assert os.path.isdir(os.path.join(state, "batches", "batch=0"))

    corrected = d.filter("doc_id < 450")  # early ∪ batch ∪ late
    apply_backfill_to_release_state(spark, state, corrected)

    fresh = str(tmp_path / "fresh")
    write_release_state(corrected, fresh)
    for name, cols in (
        ("doc_fps", ["fp"]),
        ("para_fps", ["pfp"]),
        ("gram_fps", ["gfp"]),
        ("v1_docs", ["doc_id", "source", "n_tok", "text"]),
    ):
        a = sorted(map(tuple, spark.read.parquet(f"{state}/{name}").select(*cols).collect()))
        b = sorted(map(tuple, spark.read.parquet(f"{fresh}/{name}").select(*cols).collect()))
        assert a == b, f"rebased {name} != from-scratch rewrite"
    # batch dirs folded away in the same commit; watermark covers corrected
    assert not any(
        n.startswith("batch=")
        for n in (os.listdir(os.path.join(state, "batches"))
                  if os.path.isdir(os.path.join(state, "batches")) else [])
    )
    assert read_ingest_watermark(state) == read_ingest_watermark(fresh)

    # normal incremental folds resume off the corrected corpus
    apply_release_batch(spark, state, d.filter("doc_id >= 450 AND doc_id < 500"), 1)
    apply_release_batch(spark, fresh, d.filter("doc_id >= 450 AND doc_id < 500"), 1)
    a = sorted(r["doc_id"] for r in release_state_rel(spark, state, "v1_docs").collect())
    b = sorted(r["doc_id"] for r in release_state_rel(spark, fresh, "v1_docs").collect())
    assert a == b

    # a PARTIAL corrected corpus is rejected loudly, state untouched
    with pytest.raises(ValueError, match="COMPLETE corrected corpus"):
        apply_backfill_to_release_state(spark, state, d.filter("doc_id < 100"))
    assert sorted(
        r["doc_id"] for r in release_state_rel(spark, state, "v1_docs").collect()
    ) == a

    # a crashed rebase that never reached its marker rolls back clean
    os.makedirs(os.path.join(state, ".release-tmp-deadbeef", "v1_docs"))
    recover_release_compaction(state)
    assert not os.path.isdir(os.path.join(state, ".release-tmp-deadbeef"))
    after = sorted(r["doc_id"] for r in release_state_rel(spark, state, "v1_docs").collect())
    assert after == a


def test_rebuild_ivf_index_retrain_and_swap(spark, tmp_path):
    """The drift signal finally has a consumer: rebuild_ivf_index retrains
    off the index's CURRENT rows (appends in, taken-down rows out), lands
    bit-for-bit on a from-scratch save over the same row set, resets the
    drift report to zero, carries the tombstone set across the swap (a
    replayed ingest still cannot resurrect), and a crash at the swap
    point rolls back — including through the reader's self-heal path."""
    from date_warehouse___airline_project_spark.operators.similarity import (
        append_to_ivf_index,
        ivf_cell_drift,
        save_ivfpq_index,
    )
    from date_warehouse___airline_project_spark.streaming.ivf_stream import (
        ivf_assignments_with_appends,
        rebuild_ivf_index,
        recover_rebuild,
        remove_from_ivf_index,
    )

    e, path, new = _ivfpq_fixture(spark, tmp_path, "ivfpq_rb")
    append_to_ivf_index(new, path)
    victims = [
        r["vec_id"]
        for r in spark.read.parquet(f"{path}/assignments")
        .filter("vec_id % 7 = 3")
        .limit(4)
        .collect()
    ]
    td = spark.createDataFrame([(v,) for v in victims], "vec_id long")
    assert remove_from_ivf_index(spark, path, td) == len(victims)
    assert ivf_cell_drift(spark, path).filter("n_added != 0").count() > 0

    src = e.unionByName(new)  # covers every live id
    # a partial source must raise, not silently shrink the index
    with pytest.raises(ValueError, match="live ids"):
        rebuild_ivf_index(spark, path, e.filter("vec_id % 2 = 0"))
    n = rebuild_ivf_index(spark, path, src)
    asg = spark.read.parquet(f"{path}/assignments")
    assert asg.count() == n
    assert asg.filter(F.col("vec_id").isin(victims)).count() == 0
    # drift baseline reset: 0 added, no retrain flags
    assert (
        ivf_cell_drift(spark, path)
        .filter("n_added != 0 OR retrain_flag != 0")
        .count()
        == 0
    )

    # bit-equal to a fresh save over the same current rows with the same
    # (frozen) sub-quantizers
    cur = src.join(asg.select("vec_id"), "vec_id", "semi")
    fresh = str(tmp_path / "ivfpq_fresh")
    save_ivfpq_index(
        cur, fresh, spark.read.parquet(f"{path}/pq_codebook"),
        payload_cols=("label",),
    )
    key = lambda df: sorted(
        (r["vec_id"], r["label"], tuple(r["codes"]), r["centroid_id"])
        for r in df.collect()
    )
    assert key(asg) == key(spark.read.parquet(f"{fresh}/assignments"))
    assert sorted(
        (r["_cid"], tuple(r["_cvec"]))
        for r in spark.read.parquet(f"{path}/codebook").collect()
    ) == sorted(
        (r["_cid"], tuple(r["_cvec"]))
        for r in spark.read.parquet(f"{fresh}/codebook").collect()
    )
    assert sorted(
        map(tuple, spark.read.parquet(f"{path}/cell_stats").collect())
    ) == sorted(map(tuple, spark.read.parquet(f"{fresh}/cell_stats").collect()))

    # tombstones carried across the swap: re-ingest stays blocked
    assert spark.read.parquet(f"{path}/tombstones").count() == len(victims)
    append_to_ivf_index(
        src.filter(F.col("vec_id").isin(victims)).select(
            "vec_id", "embedding", "label"
        ),
        path,
    )
    assert (
        spark.read.parquet(f"{path}/assignments")
        .filter(F.col("vec_id").isin(victims))
        .count()
        == 0
    )

    # crash at the swap point: live gone, backup present — the reader's
    # self-heal restores it; orphaned tmp builds are swept
    before = key(spark.read.parquet(f"{path}/assignments"))
    os.rename(path, f"{path}.rebuild-old-deadbeef")
    os.makedirs(f"{path}.rebuild-tmp-cafe01")
    rel = ivf_assignments_with_appends(spark, path)  # self-heals via recover
    assert key(rel) == before
    assert os.path.isdir(path)
    assert not os.path.isdir(f"{path}.rebuild-old-deadbeef")
    # reader form leaves the (possibly in-flight) tmp; maintainer sweeps
    assert os.path.isdir(f"{path}.rebuild-tmp-cafe01")
    recover_rebuild(path)
    assert not os.path.isdir(f"{path}.rebuild-tmp-cafe01")
    # post-swap debris (live present AND a stale backup): swept
    os.makedirs(f"{path}.rebuild-old-11112222")
    recover_rebuild(path)
    assert not os.path.isdir(f"{path}.rebuild-old-11112222")
    assert key(spark.read.parquet(f"{path}/assignments")) == before


def test_tombstone_fold_at_compaction_is_optin(spark, tmp_path):
    """The tombstone set grows forever BY DEFAULT (replay protection);
    compact_ivf_appends(fold_tombstones=True) is the explicit operator
    assertion that no replay can re-deliver the removed ids, and drops
    them in the compaction pass. After the fold the set is empty, its
    file is gone from the accounting, and — documented semantics — a
    re-ingest of the folded ids IS re-admitted."""
    from date_warehouse___airline_project_spark.operators.similarity import (
        append_to_ivf_index,
    )
    from date_warehouse___airline_project_spark.streaming.ivf_stream import (
        apply_ivf_append_batch,
        compact_ivf_appends,
        remove_from_ivf_index,
    )

    e, path, new = _ivf_fixture(spark, tmp_path, "ivf_fold")
    victims = [
        r["vec_id"]
        for r in spark.read.parquet(f"{path}/assignments")
        .filter("vec_id % 9 = 4")
        .limit(5)
        .collect()
    ]
    td = spark.createDataFrame([(v,) for v in victims], "vec_id long")
    assert remove_from_ivf_index(spark, path, td) == len(victims)
    # default compaction keeps the set (re-verifying the resurrection
    # guard is pinned elsewhere; here just the retention)
    apply_ivf_append_batch(spark, path, new.limit(3), 7)
    assert compact_ivf_appends(spark, path) == 1
    assert spark.read.parquet(f"{path}/tombstones").count() == len(victims)

    # opt-in fold: the set empties (all tombstoned rows are physically
    # gone from the compacted assignments)
    apply_ivf_append_batch(spark, path, new.limit(5), 8)
    assert compact_ivf_appends(spark, path, fold_tombstones=True) == 1
    assert spark.read.parquet(f"{path}/tombstones").count() == 0
    # fold is idempotent / safe with no appends pending
    assert compact_ivf_appends(spark, path, fold_tombstones=True) == 0

    # documented consequence: a re-ingest of folded ids IS re-admitted
    append_to_ivf_index(
        e.filter(F.col("vec_id").isin(victims)).select("vec_id", "embedding"),
        path,
    )
    assert (
        spark.read.parquet(f"{path}/assignments")
        .filter(F.col("vec_id").isin(victims))
        .count()
        == len(victims)
    )


def test_maintain_ivf_index_policy_loop(spark, tmp_path):
    """The drift policy: below the retrain threshold maintenance only
    compacts (codebook untouched); once a cell trips the flag it
    rebuilds, the drift baseline resets, and the next call is a no-op
    again."""
    from date_warehouse___airline_project_spark.operators.similarity import (
        ivf_cell_drift,
    )
    from date_warehouse___airline_project_spark.streaming.ivf_stream import (
        apply_ivf_append_batch,
        maintain_ivf_index,
    )

    e, path, new = _ivf_fixture(spark, tmp_path, "ivf_policy")
    cb_before = sorted(
        (r["_cid"], tuple(r["_cvec"]))
        for r in spark.read.parquet(f"{path}/codebook").collect()
    )
    src = e.select("vec_id", "embedding").unionByName(new)
    # tiny append (~2% of the corpus): below the 25% threshold everywhere
    apply_ivf_append_batch(spark, path, new.limit(8), 0)
    assert maintain_ivf_index(spark, path, src) is False
    assert not os.path.isdir(f"{path}/appends/batch=0")  # compacted anyway
    assert cb_before == sorted(
        (r["_cid"], tuple(r["_cvec"]))
        for r in spark.read.parquet(f"{path}/codebook").collect()
    )
    # a corpus-third append trips the flag → rebuild, baseline resets
    # (only the ids batch 0 didn't already land — ingest is append-only)
    applied = spark.read.parquet(f"{path}/assignments").select("vec_id")
    apply_ivf_append_batch(spark, path, new.join(applied, "vec_id", "left_anti"), 1)
    assert maintain_ivf_index(spark, path, src) is True
    assert (
        ivf_cell_drift(spark, path)
        .filter("n_added != 0 OR retrain_flag != 0")
        .count()
        == 0
    )
    # steady state again: no-op
    assert maintain_ivf_index(spark, path, src) is False


def test_ivf_applied_ledger_survives_compaction(spark, tmp_path):
    """A batch folded away by compaction must stay idempotent on
    redelivery: the _applied_batches ledger is the witness the deleted
    dir can no longer provide. A redelivery carrying NEVER-indexed ids
    (fresh-checkpoint coalescing) raises instead of silently dropping
    them."""
    import pytest as _pytest

    from date_warehouse___airline_project_spark.streaming.ivf_stream import (
        apply_ivf_append_batch,
        compact_ivf_appends,
        ivf_assignments_with_appends,
        read_applied_batches,
        rebuild_ivf_index,
    )

    e, path, new = _ivf_fixture(spark, tmp_path, "ivf_ledger")
    b0 = new.filter("vec_id % 2 = 0")
    apply_ivf_append_batch(spark, path, b0, 0)
    assert compact_ivf_appends(spark, path) == 1
    assert not os.path.isdir(f"{path}/appends/batch=0")
    assert read_applied_batches(path) == {0}
    n = spark.read.parquet(f"{path}/assignments").count()

    # crash-redelivery of the folded batch: ledger skips it, zero dupes
    apply_ivf_append_batch(spark, path, b0, 0)
    assert not os.path.isdir(f"{path}/appends/batch=0")
    assert spark.read.parquet(f"{path}/assignments").count() == n
    rel = ivf_assignments_with_appends(spark, path)
    assert rel.count() == rel.select("vec_id").distinct().count()

    # redelivery with coalesced NEW ids raises loudly
    b0_plus = b0.unionByName(
        new.filter("vec_id % 2 = 1").limit(3).selectExpr(
            "vec_id + 4000000 AS vec_id", "embedding"
        )
    )
    with _pytest.raises(ValueError, match="never-indexed"):
        apply_ivf_append_batch(spark, path, b0_plus, 0)

    # the ledger survives a rebuild too (old tree dies with the swap)
    b1 = new.filter("vec_id % 2 = 1")
    apply_ivf_append_batch(spark, path, b1, 1)
    src = e.select("vec_id", "embedding").unionByName(new)
    rebuild_ivf_index(spark, path, src)
    assert read_applied_batches(path) >= {0, 1}
    n2 = spark.read.parquet(f"{path}/assignments").count()
    apply_ivf_append_batch(spark, path, b1, 1)  # redelivery post-rebuild
    assert spark.read.parquet(f"{path}/assignments").count() == n2
    assert not os.path.isdir(f"{path}/appends/batch=1")


def test_ivf_takedown_race_with_inflight_append(spark, tmp_path):
    """An append batch filtered against the PRE-takedown tombstone set can
    land AFTER the takedown's rewrite (the in-flight race). The removed
    ids must never be SERVED (reader anti-joins appends against
    tombstones) and the next compaction must drop them PHYSICALLY."""
    from date_warehouse___airline_project_spark.operators.similarity import (
        index_batch_rows,
    )
    from date_warehouse___airline_project_spark.streaming.ivf_stream import (
        compact_ivf_appends,
        ivf_assignments_with_appends,
        remove_from_ivf_index,
    )

    e, path, new = _ivf_fixture(spark, tmp_path, "ivf_race")
    victims = [
        r["vec_id"]
        for r in spark.read.parquet(f"{path}/assignments")
        .filter("vec_id % 5 = 2")
        .limit(4)
        .collect()
    ]
    # the in-flight batch: rows assembled BEFORE the takedown (so the
    # tombstone filter inside index_batch_rows sees no tombstones), with
    # fresh ids alongside the victims
    stale_rows = index_batch_rows(
        spark,
        path,
        e.filter(F.col("vec_id").isin(victims))
        .select("vec_id", "embedding")
        .unionByName(
            e.limit(2).selectExpr("vec_id + 5000000 AS vec_id", "embedding")
        ),
    ).collect()
    td = spark.createDataFrame([(v,) for v in victims], "vec_id long")
    assert remove_from_ivf_index(spark, path, td) == len(victims)
    # ... and now the pre-assembled batch lands (the stream's os.rename)
    sdf = spark.createDataFrame(
        stale_rows, ivf_assignments_with_appends(spark, path).schema
    )
    (
        sdf.repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(f"{path}/appends/batch=9")
    )

    # never served: the reader filters the stale append rows
    rel = ivf_assignments_with_appends(spark, path)
    assert rel.filter(F.col("vec_id").isin(victims)).count() == 0
    assert rel.filter("vec_id >= 5000000").count() == 2
    # physically dropped at the next fold; the fresh rows survive
    assert compact_ivf_appends(spark, path) == 1
    base = spark.read.parquet(f"{path}/assignments")
    assert base.filter(F.col("vec_id").isin(victims)).count() == 0
    assert base.filter("vec_id >= 5000000").count() == 2
    # with no live rows left, the opt-in fold can now drop the ids
    assert compact_ivf_appends(spark, path, fold_tombstones=True) == 0
    assert spark.read.parquet(f"{path}/tombstones").count() == 0


def test_release_stream_allduplicate_batch_keeps_state_readable(spark, tmp_path):
    """A fresh-id batch whose every doc duplicates state content folds to
    EMPTY para/gram/v1 deltas — fileless dirs that must not wedge later
    reads or compaction (they are skipped, not schema-inferred)."""
    from date_warehouse___airline_project_spark.plans.training_data import (
        write_release_state,
    )
    from date_warehouse___airline_project_spark.sources.catalog import load_table
    from date_warehouse___airline_project_spark.streaming.release_stream import (
        apply_release_batch,
        compact_release_state,
        release_manifest_from_state,
        release_state_rel,
    )

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    state = str(tmp_path / "state")
    write_release_state(d.filter("doc_id < 300"), state)
    before = [
        tuple(r) for r in release_manifest_from_state(spark, state).collect()
    ]
    # fresh ids, duplicate content: passes the watermark guard, dedups
    # away entirely
    mirror = d.filter("doc_id < 50").selectExpr(
        "doc_id + 1000 AS doc_id", "text", "lang", "source", "n_chars"
    )
    apply_release_batch(spark, state, mirror, 0)
    assert os.path.isdir(os.path.join(state, "batches", "batch=0"))
    # every reader keeps working across the fileless sub-deltas
    for name in ("doc_fps", "para_fps", "gram_fps", "v1_docs"):
        release_state_rel(spark, state, name).count()
    after = [
        tuple(r) for r in release_manifest_from_state(spark, state).collect()
    ]
    assert after == before
    # compaction folds the batch without tripping on fileless dirs
    assert compact_release_state(spark, state) == 1
    assert [
        tuple(r) for r in release_manifest_from_state(spark, state).collect()
    ] == before
    # an EMPTY batch is a pure no-op (no fileless delta dir at all)
    apply_release_batch(spark, state, d.filter("doc_id < 0"), 1)
    assert not os.path.isdir(os.path.join(state, "batches", "batch=1"))


def test_dedup_stream_replay_tolerant_after_checkpoint_resplit(spark, tmp_path):
    """A checkpoint reset can RE-SPLIT old files into more batches than
    the original run: the later batches carry ids above last_applied but
    below the watermark — pure replay that must skip cleanly (the
    release stream's tolerance rule), while novel sub-watermark content
    still raises."""
    from date_warehouse___airline_project_spark.streaming.dedup_stream import (
        run_incremental_dedup_stream,
    )
    from date_warehouse___airline_project_spark.streaming.state_table import (
        read_watermark,
    )

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    (input_dir / "b1.jsonl").write_text(
        json.dumps({"doc_id": 10, "text": "alpha beta"})
    )
    (input_dir / "b2.jsonl").write_text(
        json.dumps({"doc_id": 20, "text": "gamma delta"})
    )
    # original run: ONE batch covering both files -> last_applied = 0
    q = run_incremental_dedup_stream(
        spark, str(input_dir), state, out, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert read_watermark(f"{state}.max_doc_id") == 20
    # checkpoint reset + per-file batches: batch 0 skips by id guard,
    # batch 1 (id > last_applied, content <= watermark) is PURE REPLAY
    # and must skip instead of wedging the stream
    q = run_incremental_dedup_stream(
        spark, str(input_dir), state, out, str(tmp_path / "ckpt2"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    assert spark.read.parquet(state).count() == 2
    # novel content keeps flowing afterwards on the same checkpoint
    (input_dir / "b3.jsonl").write_text(
        json.dumps({"doc_id": 30, "text": "epsilon zeta"})
    )
    q = run_incremental_dedup_stream(
        spark, str(input_dir), state, out, str(tmp_path / "ckpt2"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    assert spark.read.parquet(state).count() == 3
    assert read_watermark(f"{state}.max_doc_id") == 30


def test_paragraph_dedup_stream_replay_tolerant_after_resplit(spark, tmp_path):
    """Paragraph-stream twin of the whole-doc re-split tolerance: a
    replayed batch under a NEW batch id (checkpoint reset re-split)
    skips when every doc's every paragraph fingerprint is in state;
    novel paragraphs keep flowing afterwards."""
    from date_warehouse___airline_project_spark.streaming.dedup_stream import (
        run_incremental_paragraph_dedup_stream,
    )
    from date_warehouse___airline_project_spark.streaming.state_table import (
        read_watermark,
    )

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    t1 = " ".join(f"alpha{i}" for i in range(40))
    t2 = " ".join(f"beta{i}" for i in range(40))
    (input_dir / "b1.jsonl").write_text(json.dumps({"doc_id": 10, "text": t1}))
    (input_dir / "b2.jsonl").write_text(json.dumps({"doc_id": 20, "text": t2}))
    q = run_incremental_paragraph_dedup_stream(
        spark, str(input_dir), state, out, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    n_state = spark.read.parquet(state).count()
    assert read_watermark(f"{state}.max_doc_id") == 20
    # checkpoint reset + per-file batches: batch 1 is pure replay under a
    # new id — must skip, not wedge
    q = run_incremental_paragraph_dedup_stream(
        spark, str(input_dir), state, out, str(tmp_path / "ckpt2"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    assert spark.read.parquet(state).count() == n_state
    # novel paragraphs keep flowing on the same checkpoint
    t3 = " ".join(f"gamma{i}" for i in range(40))
    (input_dir / "b3.jsonl").write_text(json.dumps({"doc_id": 30, "text": t3}))
    q = run_incremental_paragraph_dedup_stream(
        spark, str(input_dir), state, out, str(tmp_path / "ckpt2"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    assert spark.read.parquet(state).count() > n_state
    assert read_watermark(f"{state}.max_doc_id") == 30


def test_fold_tombstones_keeps_ids_live_in_unfolded_appends(spark, tmp_path):
    """ADVICE r10: a stale in-flight append carrying tombstoned rows can
    sit in an un-folded appends/batch=* dir while fold_tombstones runs
    (compact_ivf_appends folds only its pinned listing — batches landing
    after it are untouched). The fold must treat RAW append rows as
    'physically present' and KEEP those ids: dropping them would let the
    reader's anti-join serve the resurrected vectors and the next
    compaction fold them into the base permanently."""
    from date_warehouse___airline_project_spark.operators.similarity import (
        index_batch_rows,
    )
    from date_warehouse___airline_project_spark.streaming.ivf_stream import (
        _fold_tombstone_set,
        compact_ivf_appends,
        ivf_assignments_with_appends,
        remove_from_ivf_index,
    )

    e, path, new = _ivf_fixture(spark, tmp_path, "ivf_foldrace")
    victims = [
        r["vec_id"]
        for r in spark.read.parquet(f"{path}/assignments")
        .filter("vec_id % 5 = 2")
        .limit(3)
        .collect()
    ]
    # assemble the in-flight batch BEFORE the takedown (pre-takedown
    # tombstone view), land it AFTER — the exact race the reader guards
    stale_rows = index_batch_rows(
        spark, path, e.filter(F.col("vec_id").isin(victims))
    ).collect()
    td = spark.createDataFrame([(v,) for v in victims], "vec_id long")
    assert remove_from_ivf_index(spark, path, td) == len(victims)
    sdf = spark.createDataFrame(
        stale_rows, ivf_assignments_with_appends(spark, path).schema
    )
    (
        sdf.repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(f"{path}/appends/batch=9")
    )
    # the fold runs with the stale batch dir present (landed after the
    # compaction's listing): it must DROP nothing — every tombstoned id
    # still has physical rows in the raw appends
    assert _fold_tombstone_set(spark, path) == 0
    tombs = {r["vec_id"] for r in spark.read.parquet(f"{path}/tombstones").collect()}
    assert tombs == set(victims)
    # reader still filters the resurrected rows
    rel = ivf_assignments_with_appends(spark, path)
    assert rel.filter(F.col("vec_id").isin(victims)).count() == 0
    # a real compaction drops them physically; only THEN may the fold run
    assert compact_ivf_appends(spark, path, fold_tombstones=True) == 1
    assert spark.read.parquet(f"{path}/tombstones").count() == 0
    base = spark.read.parquet(f"{path}/assignments")
    assert base.filter(F.col("vec_id").isin(victims)).count() == 0


def test_append_batch_preserves_inflight_tombstone_tmp(spark, tmp_path):
    """ADVICE r10: apply_ivf_append_batch deliberately runs reader-form
    recovery (sweep_orphans=False) so a concurrent takedown's in-flight
    .tombstones-tmp-* survives — and index_batch_rows' internal recovery
    must thread the same form instead of sweeping what the caller
    preserved (a swept tmp turns the takedown's commit rename into a
    FileNotFoundError)."""
    import os

    from date_warehouse___airline_project_spark.streaming.ivf_stream import (
        apply_ivf_append_batch,
    )

    e, path, new = _ivf_fixture(spark, tmp_path, "ivf_tmppreserve")
    inflight = os.path.join(path, ".tombstones-tmp-inflight1")
    os.makedirs(inflight)
    with open(os.path.join(inflight, "part-00000.parquet"), "wb") as f:
        f.write(b"stub")
    apply_ivf_append_batch(spark, path, new.limit(4), batch_id=0)
    # the append landed AND the takedown's in-flight write survived
    assert os.path.isdir(f"{path}/appends/batch=0")
    assert os.path.isdir(inflight)


def test_paragraph_dedup_replay_tolerates_empty_doc(spark, tmp_path):
    """ADVICE r10: a pure re-split replay batch containing an empty /
    whitespace-only doc (zero paragraph fingerprints) must still pass
    the ALL-paragraphs-processed witness — zero-paragraph docs
    contribute nothing to any fold and count as processed; excluding
    them wedged the stream on the out-of-order error forever. A genuine
    sub-watermark backfill whose paragraphs byte-duplicate folded
    content still raises (keeper attribution: lower doc_id would be
    crowned by a batch recompute)."""
    from date_warehouse___airline_project_spark.streaming.dedup_stream import (
        run_incremental_paragraph_dedup_stream,
    )
    from date_warehouse___airline_project_spark.streaming.state_table import (
        read_watermark,
    )

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    t1 = " ".join(f"alpha{i}" for i in range(40))
    (input_dir / "b1.jsonl").write_text(json.dumps({"doc_id": 10, "text": t1}))
    (input_dir / "b2.jsonl").write_text(json.dumps({"doc_id": 20, "text": "   "}))
    q = run_incremental_paragraph_dedup_stream(
        spark, str(input_dir), state, out, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert read_watermark(f"{state}.max_doc_id") == 20
    n_state = spark.read.parquet(state).count()
    # checkpoint reset + per-file batches: the empty doc arrives alone
    # under a new batch id with doc_id == watermark — pure replay, must
    # skip cleanly instead of failing the ALL-paragraphs witness
    q = run_incremental_paragraph_dedup_stream(
        spark, str(input_dir), state, out, str(tmp_path / "ckpt2"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    assert spark.read.parquet(state).count() == n_state
    # novel content keeps flowing on the same checkpoint
    t3 = " ".join(f"gamma{i}" for i in range(40))
    (input_dir / "b3.jsonl").write_text(json.dumps({"doc_id": 30, "text": t3}))
    q = run_incremental_paragraph_dedup_stream(
        spark, str(input_dir), state, out, str(tmp_path / "ckpt2"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    assert read_watermark(f"{state}.max_doc_id") == 30
    # a genuine backfill duplicating doc 10's paragraphs at a LOWER id is
    # NOT a replay — keeper attribution rejects it loudly
    (input_dir / "b4.jsonl").write_text(json.dumps({"doc_id": 5, "text": t1}))
    q = run_incremental_paragraph_dedup_stream(
        spark, str(input_dir), state, out, str(tmp_path / "ckpt2"),
        max_files_per_trigger=1,
    )
    with pytest.raises(Exception, match="out-of-order ingest batch"):
        q.awaitTermination(120)


def test_dedup_stream_backfill_duplicating_content_raises(spark, tmp_path):
    """ADVICE r10: the replay-tolerance witness must be (doc_id, fp)
    attribution, not content alone — a genuine sub-watermark backfill
    whose doc byte-duplicates already-folded content would be crowned
    keeper by a keep-min batch recompute (lower doc_id), so silently
    skipping it diverges stream from recompute. With keeper doc_ids
    recovered from the per-batch output dirs, such a backfill raises;
    true replays (keeper itself or deduped-away higher ids) still skip
    (covered by the re-split tolerance test)."""
    from date_warehouse___airline_project_spark.streaming.dedup_stream import (
        run_incremental_dedup_stream,
    )
    from date_warehouse___airline_project_spark.streaming.state_table import (
        read_watermark,
    )

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    (input_dir / "b1.jsonl").write_text(
        "\n".join(
            json.dumps({"doc_id": i, "text": t})
            for i, t in [(10, "alpha beta"), (20, "gamma delta")]
        )
    )
    q = run_incremental_dedup_stream(
        spark, str(input_dir), state, out, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert read_watermark(f"{state}.max_doc_id") == 20
    # doc 5 byte-duplicates folded content at a LOWER doc_id: a keep-min
    # recompute would crown 5 as keeper — this must raise, not skip
    (input_dir / "b2.jsonl").write_text(
        json.dumps({"doc_id": 5, "text": "gamma delta"})
    )
    q = run_incremental_dedup_stream(
        spark, str(input_dir), state, out, str(tmp_path / "ckpt")
    )
    with pytest.raises(Exception, match="out-of-order ingest batch"):
        q.awaitTermination(120)
    # state unchanged — the divergent backfill folded nothing
    assert spark.read.parquet(state).count() == 2


def test_second_maintainer_raises_while_lease_held(spark, tmp_path):
    """r11: single-maintainer discipline is ENFORCED, not assumed — every
    mutator of a persisted artifact acquires the sibling maintainer
    lease, so a concurrently-running second mutator raises
    MaintainerLeaseHeldError instead of having its in-flight tmp dirs
    read as crash debris (silent state corruption, the one failure class
    the crash protocol could not cover)."""
    import os

    from date_warehouse___airline_project_spark.streaming.ivf_stream import (
        apply_ivf_append_batch,
        compact_ivf_appends,
        maintain_ivf_index,
        rebuild_ivf_index,
        remove_from_ivf_index,
    )
    from date_warehouse___airline_project_spark.streaming.state_table import (
        MaintainerLeaseHeldError,
        acquire_maintainer_lease,
        release_maintainer_lease,
    )

    e, path, new = _ivf_fixture(spark, tmp_path, "ivf_lease")
    holder = acquire_maintainer_lease(path, owner="maintainer-A")
    td = spark.createDataFrame([(1,)], "vec_id long")
    for mutate in (
        lambda: compact_ivf_appends(spark, path),
        lambda: remove_from_ivf_index(spark, path, td),
        lambda: apply_ivf_append_batch(spark, path, new.limit(2), 0),
        lambda: rebuild_ivf_index(spark, path, e),
        lambda: maintain_ivf_index(spark, path, e),
    ):
        with pytest.raises(MaintainerLeaseHeldError, match="maintained by"):
            mutate()
    # the holder itself can mutate (reentrant threading of its lease) ...
    assert compact_ivf_appends(spark, path, lease=holder) == 0
    release_maintainer_lease(holder)
    # ... and after release any process may acquire again
    apply_ivf_append_batch(spark, path, new.limit(2), 0)
    assert os.path.isdir(f"{path}/appends/batch=0")
    # the lease is a SIBLING file: a whole-tree rebuild swap must not
    # drop an in-flight holder's lease
    holder = acquire_maintainer_lease(path, owner="maintainer-A")
    rebuild_ivf_index(
        spark,
        path,
        e.select("vec_id", "embedding").unionByName(new.limit(2)),
        lease=holder,
    )
    assert os.path.exists(path.rstrip("/") + ".maintainer-lease")
    release_maintainer_lease(holder)


def test_stale_lease_takeover_fences_zombie(spark, tmp_path):
    """r11: a maintainer that stops heartbeating past stale_after_s is
    presumed dead and taken over (fence bump); if it was merely stalled,
    every one of its commit checkpoints re-verifies the lease and raises
    MaintainerFencedError instead of renaming stale state live."""
    import json
    import os
    import time

    from date_warehouse___airline_project_spark.streaming.state_table import (
        MaintainerFencedError,
        acquire_maintainer_lease,
        heartbeat_maintainer_lease,
        read_maintainer_fence,
        release_maintainer_lease,
        verify_maintainer_lease,
        write_commit_marker,
    )

    art = str(tmp_path / "artifact")
    os.makedirs(art)
    zombie = acquire_maintainer_lease(art, owner="zombie")
    f0 = read_maintainer_fence(art)
    assert zombie["fence"] == f0
    # a LIVE lease cannot be taken over ...
    from date_warehouse___airline_project_spark.streaming.state_table import (
        MaintainerLeaseHeldError,
    )

    with pytest.raises(MaintainerLeaseHeldError):
        acquire_maintainer_lease(art, owner="contender")
    # ... heartbeats keep it live
    heartbeat_maintainer_lease(zombie)
    # now it goes stale (tiny stale_after for the test) and is taken over
    time.sleep(0.2)
    new = acquire_maintainer_lease(art, stale_after_s=0.1, owner="successor")
    assert new["fence"] == f0 + 1
    # the zombie is fenced at every checkpoint:
    with pytest.raises(MaintainerFencedError, match="fenced out"):
        verify_maintainer_lease(zombie)
    with pytest.raises(MaintainerFencedError):
        heartbeat_maintainer_lease(zombie)
    with pytest.raises(MaintainerFencedError):
        write_commit_marker(art, "x.commit", {"token": "t1"}, lease=zombie)
    assert not os.path.exists(os.path.join(art, "x.commit"))
    # zombie release is a no-op — the successor's lease survives
    release_maintainer_lease(zombie)
    verify_maintainer_lease(new)
    # the successor's commits carry its fence generation in the marker
    write_commit_marker(art, "x.commit", {"token": "t2"}, lease=new)
    with open(os.path.join(art, "x.commit")) as f:
        assert json.load(f)["fence"] == new["fence"]
    release_maintainer_lease(new)


def test_release_state_mutators_respect_lease(spark, tmp_path):
    """r11: the release-state artifact's mutators (stream fold,
    compaction, takedown, backfill) and the shard rewriters acquire the
    same per-artifact lease."""
    from date_warehouse___airline_project_spark.plans.training_data import (
        write_release_state,
    )
    from date_warehouse___airline_project_spark.sources.catalog import load_table
    from date_warehouse___airline_project_spark.streaming.release_stream import (
        apply_release_batch,
        apply_takedown_to_release_state,
        compact_release_state,
    )
    from date_warehouse___airline_project_spark.streaming.state_table import (
        MaintainerLeaseHeldError,
        acquire_maintainer_lease,
        release_maintainer_lease,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    old = docs.filter("doc_id % 3 != 2")
    path = str(tmp_path / "relstate")
    write_release_state(old, path)
    holder = acquire_maintainer_lease(path, owner="maintainer-A")
    batch = docs.filter("doc_id % 3 = 2").limit(5)
    td = spark.createDataFrame([(1,)], "doc_id long")
    for mutate in (
        lambda: compact_release_state(spark, path),
        lambda: apply_takedown_to_release_state(spark, path, td),
        lambda: apply_release_batch(spark, path, batch, 0),
    ):
        with pytest.raises(MaintainerLeaseHeldError, match="maintained by"):
            mutate()
    # reads stay lease-free: a held lease never blocks a reader
    from date_warehouse___airline_project_spark.streaming.release_stream import (
        release_state_rel,
    )

    assert release_state_rel(spark, path, "v1_docs").count() > 0
    release_maintainer_lease(holder)
    assert compact_release_state(spark, path) == 0


def test_maintain_ivf_index_pq_health_policy(spark, tmp_path):
    """r11: the PQ quantizer-health signal finally has a consumer — the
    coarse-drift dual. Below both thresholds maintain_ivf_index is a
    no-op; when a subspace degrades (here: a takedown strands most of
    the codebook dead), the rebuild retrains the sub-quantizers and the
    swapped-in index is bit-equal to a fresh save_ivfpq_index over the
    current rows with the same deterministic training; the next tick
    reads the reset signal and does nothing."""
    from date_warehouse___airline_project_spark.operators.similarity import (
        save_ivfpq_index,
        train_pq_cents,
    )
    from date_warehouse___airline_project_spark.streaming.ivf_stream import (
        ivf_pq_code_health,
        maintain_ivf_index,
        remove_from_ivf_index,
    )

    e2 = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    path = str(tmp_path / "pq_idx")
    cents0 = train_pq_cents(e2, n_sub=8, sub_dim=8, n_codes=16)
    save_ivfpq_index(e2, path, cents0, centroid_mod=25, sample_mod=4, iters=1)
    policy = dict(
        retrain_threshold=1e9,  # isolate the PQ signal from coarse drift
        centroid_mod=25,
        sample_mod=4,
        iters=1,
        pq_max_dead_frac=0.25,
        pq_max_imbalance=1e9,
        pq_sample_mod=4,
        pq_iters=1,
    )
    # healthy: freshly trained SQs over their own corpus — no rebuild
    assert maintain_ivf_index(spark, path, e2, **policy) is False
    # degrade: take down all but 20 vectors — most codes go dead
    remove_from_ivf_index(spark, path, e2.filter("vec_id >= 8"))
    health = ivf_pq_code_health(spark, path, max_dead_frac=0.25)
    assert health.filter("retrain_flag = 1").count() > 0
    # the policy consumes the signal: rebuild with RETRAINED SQs
    assert maintain_ivf_index(spark, path, e2, **policy) is True
    # bit-equality: the maintained index == a fresh save over current rows
    cur = e2.filter("vec_id < 8")
    fresh = str(tmp_path / "pq_fresh")
    save_ivfpq_index(
        cur,
        fresh,
        train_pq_cents(cur, n_sub=8, sub_dim=8, n_codes=16),
        centroid_mod=25,
        sample_mod=4,
        iters=1,
    )
    for rel in ("assignments", "pq_codebook", "codebook", "cell_stats"):
        a = spark.read.parquet(f"{path}/{rel}")
        b = spark.read.parquet(f"{fresh}/{rel}").select(*a.columns)
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty(), rel
    # signal reset: the retrained codebook has no dead codes — next tick idles
    assert ivf_pq_code_health(spark, path, max_dead_frac=0.25).filter(
        "retrain_flag = 1"
    ).isEmpty()
    assert maintain_ivf_index(spark, path, e2, **policy) is False


def test_cross_artifact_reconciliation_and_heal(spark, tmp_path):
    """r11: one ingest feed fans into two persisted artifacts (release
    state, ANN index); a crash BETWEEN their folds leaves them silently
    divergent while every per-artifact invariant holds. The
    reconciliation report must flag each divergence class and the heal
    tick must drive the report back to zero."""
    from date_warehouse___airline_project_spark.operators.similarity import (
        append_to_ivf_index,
        save_ivf_index,
    )
    from date_warehouse___airline_project_spark.plans.training_data import (
        write_release_state,
    )
    from date_warehouse___airline_project_spark.sources.catalog import load_table
    from date_warehouse___airline_project_spark.streaming.ivf_stream import (
        ivf_assignments_with_appends,
        remove_from_ivf_index,
    )
    from date_warehouse___airline_project_spark.streaming.reconcile import (
        heal_release_index,
        reconcile_release_index,
    )
    from date_warehouse___airline_project_spark.streaming.release_stream import (
        apply_release_batch,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    e2 = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    rpath = str(tmp_path / "relstate")
    ipath = str(tmp_path / "annidx")
    write_release_state(docs.filter("doc_id < 400"), rpath)
    released = spark.read.parquet(f"{rpath}/v1_docs").select("doc_id")
    # the index serves the released corpus: one feed, two artifacts
    save_ivf_index(
        e2.join(released, e2.vec_id == released.doc_id, "semi"), ipath
    )

    def report() -> dict:
        return {
            r["check"]: r["n"]
            for r in reconcile_release_index(spark, rpath, ipath).collect()
        }

    base = report()
    for check in (
        "batches_release_only", "batches_index_only", "released_not_indexed",
        "indexed_not_released", "index_ahead_of_release",
        "release_ahead_of_index", "takedown_skew",
    ):
        assert base[check] == 0, (check, base)
    assert base["release_watermark"] == 399
    # --- crash A: release folds micro-batch 0, index append is lost ---
    apply_release_batch(spark, rpath, docs.filter("doc_id >= 400"), 0)
    # --- crash B: a takedown reached the index, not the release ---
    victims = [r["doc_id"] for r in released.limit(3).collect()]
    remove_from_ivf_index(
        spark, ipath, spark.createDataFrame([(v,) for v in victims], "vec_id long")
    )
    # --- crash C: the index ingested a doc the release deduped away ---
    dropped = (
        docs.filter("doc_id < 400")
        .join(released, "doc_id", "left_anti")
        .limit(1)
        .collect()
    )
    assert dropped, "funnel dropped no doc < 400 — pick another prefix"
    extra_id = dropped[0]["doc_id"]
    append_to_ivf_index(e2.filter(F.col("vec_id") == extra_id), ipath)

    diverged = report()
    assert diverged["batches_release_only"] == 1
    assert diverged["release_ahead_of_index"] > 0  # batch-0 released docs
    assert diverged["takedown_skew"] == 3
    assert diverged["indexed_not_released"] == 1
    # --- the maintenance tick heals every definitive divergence ---
    healed = heal_release_index(spark, rpath, ipath, e2)
    assert healed["released_not_indexed"] > 0
    assert healed["takedown_skew"] == 3
    assert healed["indexed_not_released"] == 1
    assert healed["batches_release_only"] == 1
    after = report()
    for check in (
        "batches_release_only", "batches_index_only", "released_not_indexed",
        "indexed_not_released", "index_ahead_of_release",
        "release_ahead_of_index", "takedown_skew",
    ):
        assert after[check] == 0, (check, after)
    # spot-check the content: batch-0 releases are live in the index,
    # the takedown victims are gone from the release, the dedup-dropped
    # doc is out of the index (and tombstoned against replay)
    live = ivf_assignments_with_appends(spark, ipath)
    new_released = _released_over(spark, rpath).filter("id >= 400")
    assert (
        new_released.join(live, new_released.id == live.vec_id, "left_anti")
        .isEmpty()
    )
    assert live.filter(F.col("vec_id") == extra_id).isEmpty()
    assert (
        spark.read.parquet(f"{rpath}/v1_docs")
        .filter(F.col("doc_id").isin(victims))
        .isEmpty()
    )
    # idempotent: a second tick heals nothing
    assert all(v == 0 for v in heal_release_index(spark, rpath, ipath, e2).values())


def _released_over(spark, rpath):
    from date_warehouse___airline_project_spark.streaming.reconcile import (
        _released_ids,
    )

    return _released_ids(spark, rpath)


def test_lease_crash_mid_acquire_is_taken_over(spark, tmp_path):
    """r11 self-review: an acquirer that crashes between the O_EXCL create
    and the json write leaves an unreadable lease file — it must still go
    STALE and be taken over, not wedge acquisition forever."""
    import os
    import time

    from date_warehouse___airline_project_spark.streaming.state_table import (
        MaintainerLeaseHeldError,
        acquire_maintainer_lease,
        release_maintainer_lease,
    )

    art = str(tmp_path / "artifact")
    os.makedirs(art)
    lf = art + ".maintainer-lease"
    with open(lf, "w", encoding="ascii"):
        pass  # the half-written (empty) lease of a crashed acquirer
    # while young it blocks (holder unknown — conservative) ...
    with pytest.raises(MaintainerLeaseHeldError):
        acquire_maintainer_lease(art, stale_after_s=600)
    # ... but once stale it is taken over like any dead holder's lease
    past = time.time() - 60
    os.utime(lf, (past, past))
    lease = acquire_maintainer_lease(art, stale_after_s=1.0)
    assert lease["fence"] >= 1
    release_maintainer_lease(lease)


def test_applied_batches_ledger_is_fenced(spark, tmp_path):
    """r11 self-review: the applied-batches ledger is a read-modify-write;
    a fenced zombie's merge would clobber the new holder's entries (ids
    with deleted dirs drop out -> duplicate re-appends on redelivery).
    With a lease passed, the replace is verified and the zombie raises."""
    import os
    import time

    from date_warehouse___airline_project_spark.streaming.ivf_stream import (
        read_applied_batches,
        record_applied_batches,
    )
    from date_warehouse___airline_project_spark.streaming.state_table import (
        MaintainerFencedError,
        acquire_maintainer_lease,
        release_maintainer_lease,
    )

    art = str(tmp_path / "artifact")
    os.makedirs(art)
    zombie = acquire_maintainer_lease(art, owner="zombie")
    time.sleep(0.2)
    new = acquire_maintainer_lease(art, stale_after_s=0.1, owner="successor")
    record_applied_batches(art, ["batch=7"], lease=new)
    with pytest.raises(MaintainerFencedError):
        record_applied_batches(art, ["batch=9"], lease=zombie)
    assert read_applied_batches(art) == {7}
    release_maintainer_lease(new)


def test_pq_health_never_flags_an_empty_index(spark, tmp_path):
    """r11 self-review: an emptied index reads every code as dead, but
    there is nothing to retrain from — flagging it would send
    maintain_ivf_index into a rebuild that wedges on the empty corpus."""
    from date_warehouse___airline_project_spark.operators.similarity import (
        save_ivfpq_index,
        train_pq_cents,
    )
    from date_warehouse___airline_project_spark.streaming.ivf_stream import (
        ivf_pq_code_health,
        maintain_ivf_index,
        remove_from_ivf_index,
    )

    e2 = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    path = str(tmp_path / "pq_idx")
    save_ivfpq_index(
        e2, path, train_pq_cents(e2, 8, 8, 16), centroid_mod=25, sample_mod=4,
        iters=1,
    )
    remove_from_ivf_index(spark, path, e2.select("vec_id"))
    health = ivf_pq_code_health(spark, path, max_dead_frac=0.01)
    assert health.filter("retrain_flag = 1").isEmpty()
    assert (
        maintain_ivf_index(
            spark, path, e2, retrain_threshold=1e9, pq_max_dead_frac=0.01
        )
        is False
    )


def test_dual_stream_crash_between_folds_heals_by_redelivery(
    spark, tmp_path, monkeypatch
):
    """r11: the dual-artifact ingest stream folds each micro-batch into
    the release state THEN the ANN index; the checkpoint commits only
    after both, so a crash between the folds redelivers the whole batch —
    the release side skips (byte-for-byte redelivery) and the index side
    applies. The in-flight divergence the reconciliation report shows
    after the crash heals by redelivery alone, no heal tick needed."""
    import json as _json

    from date_warehouse___airline_project_spark.operators.similarity import (
        save_ivf_index,
    )
    from date_warehouse___airline_project_spark.plans.training_data import (
        write_release_state,
    )
    from date_warehouse___airline_project_spark.sources.catalog import load_table
    from date_warehouse___airline_project_spark.streaming import ivf_stream
    from date_warehouse___airline_project_spark.streaming.ivf_stream import (
        ivf_assignments_with_appends,
    )
    from date_warehouse___airline_project_spark.streaming.reconcile import (
        reconcile_release_index,
        run_dual_maintenance_stream,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    e2 = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    rpath = str(tmp_path / "relstate")
    ipath = str(tmp_path / "annidx")
    write_release_state(docs.filter("doc_id < 400"), rpath)
    released0 = spark.read.parquet(f"{rpath}/v1_docs").select("doc_id")
    save_ivf_index(
        e2.join(released0, e2.vec_id == released0.doc_id, "semi"), ipath
    )

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    feed = (
        docs.filter("doc_id >= 400 AND doc_id < 410")
        .join(e2, docs.doc_id == e2.vec_id)
        .select("doc_id", "source", "text", "embedding")
        .collect()
    )
    (input_dir / "b1.jsonl").write_text(
        "\n".join(
            _json.dumps(
                {
                    "doc_id": r["doc_id"],
                    "source": r["source"],
                    "text": r["text"],
                    "embedding": [float(x) for x in r["embedding"]],
                }
            )
            for r in feed
        )
    )
    schema = "doc_id LONG, source STRING, text STRING, embedding ARRAY<FLOAT>"
    raw = (
        spark.readStream.format("text")
        .load(str(input_dir))
        .select(F.from_json("value", schema).alias("_r"))
        .select("_r.doc_id", "_r.source", "_r.text", "_r.embedding")
        .where(F.col("doc_id").isNotNull())
    )

    # crash INJECTED between the two folds: release folds, index does not
    real_append = ivf_stream.apply_ivf_append_batch

    def boom(*a, **kw):
        raise RuntimeError("injected crash between the artifact folds")

    monkeypatch.setattr(ivf_stream, "apply_ivf_append_batch", boom)
    q = run_dual_maintenance_stream(
        raw, rpath, ipath, str(tmp_path / "ckpt")
    )
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(120)

    def report() -> dict:
        return {
            r["check"]: r["n"]
            for r in reconcile_release_index(spark, rpath, ipath).collect()
        }

    mid = report()
    assert mid["batches_release_only"] == 1
    assert mid["release_ahead_of_index"] > 0  # in-flight, not loss
    assert mid["released_not_indexed"] == 0

    # restart WITHOUT the fault on the SAME checkpoint: the batch
    # redelivers, the release fold skips, the index fold applies
    monkeypatch.setattr(ivf_stream, "apply_ivf_append_batch", real_append)
    q = run_dual_maintenance_stream(
        raw, rpath, ipath, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    after = report()
    assert after["batches_release_only"] == 0
    assert after["release_ahead_of_index"] == 0
    assert after["released_not_indexed"] == 0
    assert after["indexed_not_released"] == 0
    # the batch's released docs are live in the index; unreleased
    # (deduped-away) batch docs were never indexed
    from date_warehouse___airline_project_spark.streaming.reconcile import (
        _released_ids,
    )

    n_new_released = _released_ids(spark, rpath).filter("id >= 400").count()
    assert n_new_released > 0
    live = ivf_assignments_with_appends(spark, ipath)
    assert live.filter("vec_id >= 400").count() == n_new_released


def test_lease_state_machine_properties(spark, tmp_path):
    """r11: property test over random acquire/heartbeat/stale-takeover/
    release interleavings — invariants: at most ONE lease verifies at any
    instant; the fencing counter is strictly monotone across takeovers
    and re-acquisitions; a superseded lease never verifies again."""
    import os
    import random
    import time

    from date_warehouse___airline_project_spark.streaming.state_table import (
        MaintainerFencedError,
        MaintainerLeaseHeldError,
        acquire_maintainer_lease,
        heartbeat_maintainer_lease,
        read_maintainer_fence,
        release_maintainer_lease,
        verify_maintainer_lease,
    )

    rng = random.Random(11)
    art = str(tmp_path / "artifact")
    os.makedirs(art)
    live: list = []  # leases this test believes COULD be live (<= 1)
    dead: list = []  # superseded/released leases — must never verify
    fences: list = [read_maintainer_fence(art)]
    for _ in range(60):
        op = rng.choice(("acquire", "takeover", "heartbeat", "release"))
        if op == "acquire":
            try:
                lease = acquire_maintainer_lease(art, stale_after_s=600)
                live.append(lease)
                fences.append(lease["fence"])
            except MaintainerLeaseHeldError:
                assert live, "acquire blocked with no live holder"
        elif op == "takeover":
            # the current holder (if any) stops heartbeating and goes
            # stale; a contender takes over
            time.sleep(0.15)
            lease = acquire_maintainer_lease(art, stale_after_s=0.1)
            dead.extend(live)
            live = [lease]
            fences.append(lease["fence"])
        elif op == "heartbeat" and live:
            heartbeat_maintainer_lease(live[0])
        elif op == "release" and live:
            release_maintainer_lease(live.pop())
        # invariants after every step
        assert len(live) <= 1
        if live:
            verify_maintainer_lease(live[0])
        for z in dead:
            with pytest.raises(MaintainerFencedError):
                verify_maintainer_lease(z)
        assert fences == sorted(fences), "fence regressed"
    assert read_maintainer_fence(art) == fences[-1]


def test_dual_stream_crash_after_both_folds_redelivers_cleanly(
    spark, tmp_path, monkeypatch
):
    """r11: the third crash position — BOTH folds applied, checkpoint
    commit lost (fault injected after the index fold). The redelivered
    batch must no-op on both sides (release dir guard + index dir/ledger
    guard), leaving a zero reconciliation report and no duplicates."""
    import json as _json

    from date_warehouse___airline_project_spark.operators.similarity import (
        save_ivf_index,
    )
    from date_warehouse___airline_project_spark.plans.training_data import (
        write_release_state,
    )
    from date_warehouse___airline_project_spark.sources.catalog import load_table
    from date_warehouse___airline_project_spark.streaming import ivf_stream
    from date_warehouse___airline_project_spark.streaming.ivf_stream import (
        ivf_assignments_with_appends,
    )
    from date_warehouse___airline_project_spark.streaming.reconcile import (
        _released_ids,
        reconcile_release_index,
        run_dual_maintenance_stream,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    e2 = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    rpath = str(tmp_path / "relstate")
    ipath = str(tmp_path / "annidx")
    write_release_state(docs.filter("doc_id < 400"), rpath)
    released0 = spark.read.parquet(f"{rpath}/v1_docs").select("doc_id")
    save_ivf_index(
        e2.join(released0, e2.vec_id == released0.doc_id, "semi"), ipath
    )
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    feed = (
        docs.filter("doc_id >= 400 AND doc_id < 406")
        .join(e2, docs.doc_id == e2.vec_id)
        .select("doc_id", "source", "text", "embedding")
        .collect()
    )
    (input_dir / "b1.jsonl").write_text(
        "\n".join(
            _json.dumps(
                {
                    "doc_id": r["doc_id"],
                    "source": r["source"],
                    "text": r["text"],
                    "embedding": [float(x) for x in r["embedding"]],
                }
            )
            for r in feed
        )
    )
    schema = "doc_id LONG, source STRING, text STRING, embedding ARRAY<FLOAT>"
    raw = (
        spark.readStream.format("text")
        .load(str(input_dir))
        .select(F.from_json("value", schema).alias("_r"))
        .select("_r.doc_id", "_r.source", "_r.text", "_r.embedding")
        .where(F.col("doc_id").isNotNull())
    )
    # crash AFTER both folds (checkpoint never commits)
    real_append = ivf_stream.apply_ivf_append_batch

    def late_boom(*a, **kw):
        real_append(*a, **kw)
        raise RuntimeError("injected crash after both folds")

    monkeypatch.setattr(ivf_stream, "apply_ivf_append_batch", late_boom)
    q = run_dual_maintenance_stream(raw, rpath, ipath, str(tmp_path / "ckpt"))
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(120)
    monkeypatch.setattr(ivf_stream, "apply_ivf_append_batch", real_append)
    q = run_dual_maintenance_stream(raw, rpath, ipath, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    rep = {
        r["check"]: r["n"]
        for r in reconcile_release_index(spark, rpath, ipath).collect()
    }
    for check in (
        "batches_release_only", "batches_index_only", "released_not_indexed",
        "indexed_not_released", "index_ahead_of_release",
        "release_ahead_of_index", "takedown_skew",
    ):
        assert rep[check] == 0, (check, rep)
    # no duplicates: exactly one assignment row per released batch id
    n_new = _released_ids(spark, rpath).filter("id >= 400").count()
    live = ivf_assignments_with_appends(spark, ipath)
    assert live.filter("vec_id >= 400").count() == n_new
    assert (
        live.filter("vec_id >= 400").groupBy("vec_id").count()
        .filter("count > 1").isEmpty()
    )


def test_owning_scope_heartbeats_through_long_phase(spark, tmp_path):
    """r11: the owning maintainer_lease scope runs a background heartbeat
    thread — the driver loop is blocked inside Spark actions during a
    long phase and cannot heartbeat itself, and without the thread a
    slow-but-alive maintainer's mtime would age past a contender's
    stale_after mid-write (wasted work even though fencing voids it)."""
    import os
    import time

    from date_warehouse___airline_project_spark.streaming.state_table import (
        MaintainerLeaseHeldError,
        acquire_maintainer_lease,
        maintainer_lease,
        release_maintainer_lease,
        verify_maintainer_lease,
    )

    art = str(tmp_path / "artifact")
    os.makedirs(art)
    with maintainer_lease(art, stale_after_s=3.0) as lease:
        time.sleep(2.5)  # "long phase": > a 2.0 s stale bound, no manual beat
        with pytest.raises(MaintainerLeaseHeldError):
            acquire_maintainer_lease(art, stale_after_s=2.0)
        verify_maintainer_lease(lease)  # still ours, never taken over
    # scope exit stops the thread and releases — acquirable again
    l2 = acquire_maintainer_lease(art, stale_after_s=2.0)
    release_maintainer_lease(l2)


def test_kafka_log_batch_roundtrip(spark, tmp_path):
    """r11: the Kafka-semantics log source (public Python Data Source
    API) — producer round-trip through the batch reader with the REAL
    source's schema: key/value binary, per-partition monotone offsets,
    keyed messages stay on one partition (Kafka's per-key ordering)."""
    from date_warehouse___airline_project_spark.sources.kafka_log import (
        KafkaLogProducer,
        register_kafka_log_source,
    )

    root = str(tmp_path / "log")
    prod = KafkaLogProducer(root, n_partitions=2)
    for i in range(6):
        prod.send("requests", json.dumps({"i": i}), key=f"K{i % 3}")
    register_kafka_log_source(spark)
    df = (
        spark.read.format("kafkalog")
        .option("path", root)
        .option("subscribe", "requests")
        .load()
    )
    assert [f.name for f in df.schema.fields] == [
        "key", "value", "topic", "partition", "offset", "timestamp",
        "timestampType",
    ]
    rows = df.collect()
    assert len(rows) == 6
    assert {bytes(r["key"]).decode() for r in rows} == {"K0", "K1", "K2"}
    # per-partition offsets are 0..n-1 (monotone, gapless)
    by_p: dict = {}
    for r in rows:
        by_p.setdefault(r["partition"], []).append(r["offset"])
    for offs in by_p.values():
        assert sorted(offs) == list(range(len(offs)))
    # keyed ordering: one key never spans partitions
    keyed: dict = {}
    for r in rows:
        keyed.setdefault(bytes(r["key"]).decode(), set()).add(r["partition"])
    assert all(len(ps) == 1 for ps in keyed.values())


def test_kafka_log_partition_number_names_its_file(spark, tmp_path):
    """With 10 or more partitions the partition ``send`` returns, the
    ``p<N>.jsonl`` it wrote and the reader's ``partition`` column agree
    (a name sort would order p10 before p2)."""
    from date_warehouse___airline_project_spark.sources.kafka_log import (
        KafkaLogProducer,
        register_kafka_log_source,
    )

    root = str(tmp_path / "log")
    prod = KafkaLogProducer(root, 12)
    p, offset = prod.send("t", "x", key="K")
    prod.close()
    tdir = os.path.join(root, "t")
    written = [n for n in os.listdir(tdir) if os.path.getsize(os.path.join(tdir, n))]
    assert written == [f"p{p}.jsonl"]
    register_kafka_log_source(spark)
    rows = (
        spark.read.format("kafkalog")
        .option("path", root)
        .option("subscribe", "t")
        .load()
        .collect()
    )
    assert [(r["partition"], r["offset"]) for r in rows] == [(p, offset)]


def test_eligibility_stream_over_kafka_log_source(spark, tmp_path, flights_df):
    """r11: S10 EXECUTED — the eligibility worker pipeline consumes a
    Kafka-shaped topic end-to-end (subscribe/startingOffsets options,
    offset checkpointing, at-least-once resume) via the log-backed
    source; the downstream plan is byte-identical to the real
    connector's. A second run on the same checkpoint after producing
    more messages consumes ONLY the new offsets; the results round-trip
    back onto a response topic through the keyed producer sink."""
    from date_warehouse___airline_project_spark.sources.kafka_log import (
        KafkaLogProducer,
        register_kafka_log_source,
    )
    from date_warehouse___airline_project_spark.streaming.eligibility_stream import (
        kafka_log_messages_source,
        kafka_log_results_sink,
        run_eligibility_stream,
    )

    root = str(tmp_path / "log")
    audit, results, ckpt = (
        str(tmp_path / d) for d in ("audit", "results", "ckpt")
    )
    prod = KafkaLogProducer(root, n_partitions=2)
    prod.send("requests", _msg("eligibility_check", "P1", "AA100"), key="P1")
    prod.send("requests", _msg("eligibility_check", "P2", "BB200"), key="P2")
    prod.send("requests", _msg("other_event", "P6", "AA100"), key="P6")
    src = kafka_log_messages_source(spark, root, "requests")
    q = run_eligibility_stream(
        spark, "unused", flights_df, audit, results, ckpt, source=src
    )
    q.awaitTermination(120)
    assert spark.read.parquet(audit).count() == 3
    res = {r.passenger_id: r for r in spark.read.parquet(results).collect()}
    assert set(res) == {"P1", "P2"}
    assert res["P1"].eligible and res["P1"].reason == "delay_threshold_met"

    # produce MORE, resume the SAME checkpoint: only new offsets consumed
    prod.send("requests", _msg("eligibility_check", "P5", "ZZ999"), key="P5")
    src = kafka_log_messages_source(spark, root, "requests")
    q = run_eligibility_stream(
        spark, "unused", flights_df, audit, results, ckpt, source=src
    )
    q.awaitTermination(120)
    assert spark.read.parquet(audit).count() == 4  # +1, no re-reads
    res = {r.passenger_id: r for r in spark.read.parquet(results).collect()}
    assert set(res) == {"P1", "P2", "P5"}
    assert res["P5"].reason == "flight_not_found"

    # producer side (S9 executed): stream the stored results back onto a
    # response topic through the keyed sink, then consume the topic
    res_df = spark.read.parquet(results)
    res_stream = spark.readStream.schema(res_df.schema).parquet(results)
    qs = (
        kafka_log_results_sink(
            res_stream, root, "responses", str(tmp_path / "sink_ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    qs.awaitTermination(120)
    register_kafka_log_source(spark)
    echoed = (
        spark.read.format("kafkalog")
        .option("path", root)
        .option("subscribe", "responses")
        .load()
        .select(
            F.col("key").cast("string").alias("k"),
            F.col("value").cast("string").alias("v"),
        )
        .collect()
    )
    assert len(echoed) == 3
    for r in echoed:
        assert json.loads(r["v"])["passenger_id"] == r["k"] and r["k"] in res


def test_full_reference_dataflow_outbox_to_kafka_to_worker(
    spark, tmp_path, flights_df
):
    """r11 capstone: the reference's ENTIRE dataflow executed under Spark
    with offset semantics at both hops — INSERTs on the outbox table →
    change feed → producer onto a Kafka-shaped topic (keyed on
    passengerId) → consumer worker (subscribe/earliest) → audit +
    verdicts. Both hops checkpoint independently (the watcher's and the
    worker's consumer positions, exactly the reference deployment);
    appending more outbox rows and re-running both stages consumes ONLY
    the new events end-to-end."""
    from date_warehouse___airline_project_spark.sources.kafka_log import (
        kafka_log_values_sink,
    )
    from date_warehouse___airline_project_spark.streaming.eligibility_stream import (
        kafka_log_messages_source,
        run_eligibility_stream,
    )
    from date_warehouse___airline_project_spark.streaming.outbox import (
        OUTBOX_SCHEMA,
        outbox_change_feed,
        outbox_to_kafka_values,
    )

    outbox = str(tmp_path / "outbox")
    root = str(tmp_path / "log")
    audit, results = str(tmp_path / "audit"), str(tmp_path / "results")
    wk_ckpt, prod_ckpt = str(tmp_path / "wk_ckpt"), str(tmp_path / "prod_ckpt")
    spark.createDataFrame(
        [_outbox_row(1, "eligibility_check", "P1", "AA100"),
         _outbox_row(2, "eligibility_check", "P2", "BB200"),
         _outbox_row(3, "other_event", "P6", "AA100")],
        OUTBOX_SCHEMA,
    ).write.mode("append").parquet(outbox)

    def run_producer_stage() -> None:
        vals = outbox_to_kafka_values(
            outbox_change_feed(spark, outbox)
        ).withColumn(
            "pid",
            F.get_json_object("value", "$.payload.passengerId"),
        )
        q = (
            kafka_log_values_sink(vals, root, "requests", prod_ckpt, key_col="pid")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def run_worker_stage() -> None:
        src = kafka_log_messages_source(spark, root, "requests")
        q = run_eligibility_stream(
            spark, "unused", flights_df, audit, results, wk_ckpt, source=src
        )
        q.awaitTermination(120)

    run_producer_stage()
    run_worker_stage()
    assert spark.read.parquet(audit).count() == 3
    res = {r.passenger_id: r for r in spark.read.parquet(results).collect()}
    assert set(res) == {"P1", "P2"}
    assert res["P1"].eligible and res["P1"].reason == "delay_threshold_met"

    # more INSERTs land on the outbox; both stages resume their own
    # checkpoints and only the new events flow through the whole chain
    spark.createDataFrame(
        [_outbox_row(4, "eligibility_check", "P5", "ZZ999")], OUTBOX_SCHEMA
    ).write.mode("append").parquet(outbox)
    run_producer_stage()
    run_worker_stage()
    assert spark.read.parquet(audit).count() == 4
    res = {r.passenger_id: r for r in spark.read.parquet(results).collect()}
    assert set(res) == {"P1", "P2", "P5"}
    assert res["P5"].reason == "flight_not_found"


def _eligibility_over_kafka_log(spark, tmp_path, flights_df, messages):
    """Send ``messages`` (pid, type, flight) keyed on the passenger to the
    kafkalog topic under ``tmp_path`` and run the eligibility stream over
    it to the end of the topic. Returns the (audit, results, checkpoint)
    directories."""
    from date_warehouse___airline_project_spark.sources.kafka_log import KafkaLogProducer
    from date_warehouse___airline_project_spark.streaming.eligibility_stream import (
        kafka_log_messages_source,
    )

    root = str(tmp_path / "log")
    dirs = tuple(str(tmp_path / d) for d in ("audit", "results", "ckpt"))
    prod = KafkaLogProducer(root, n_partitions=2)
    for pid, mtype, flight in messages:
        prod.send("requests", _msg(mtype, pid, flight), key=pid)
    prod.close()
    src = kafka_log_messages_source(spark, root, "requests")
    run_eligibility_stream(spark, "unused", flights_df, *dirs, source=src).awaitTermination(120)
    return dirs


def test_eligibility_stream_replayed_batch_writes_once(spark, tmp_path, flights_df):
    """A micro-batch the checkpoint replays (its offsets logged, its commit
    lost in a crash) re-reads the same offsets through
    ``readBetweenOffsets`` and replaces its audit and results parts: no
    message is audited or answered twice."""
    msgs = [("P1", "eligibility_check", "AA100"), ("P2", "eligibility_check", "BB200"),
            ("P6", "other_event", "AA100")]
    audit, results, ckpt = _eligibility_over_kafka_log(spark, tmp_path, flights_df, msgs)
    before = sorted(map(tuple, spark.read.parquet(results).drop("processed_at").collect()))
    assert spark.read.parquet(audit).count() == 3 and len(before) == 2

    os.remove(os.path.join(ckpt, "commits", "0"))
    os.remove(os.path.join(ckpt, "commits", ".0.crc"))
    _eligibility_over_kafka_log(spark, tmp_path, flights_df, [])  # restart, nothing new
    assert os.path.exists(os.path.join(ckpt, "commits", "0"))  # batch 0 ran again
    assert spark.read.parquet(audit).count() == 3
    after = sorted(map(tuple, spark.read.parquet(results).drop("processed_at").collect()))
    assert after == before


AUDIT_SCHEMA = "batch_id int, raw_value string, type string, processed_at timestamp"
RESULTS_SCHEMA = (
    "passenger_id string, first_name string, last_name string, flight_number string, "
    "requested_at string, delay_minutes bigint, eligible boolean, reason string, "
    "processed_at timestamp"
)


def test_eligibility_stream_output_schemas(spark, tmp_path, flights_df):
    """The audit and results parts read through Spark with the schemas
    Spark's own appends gave them, also in a directory that already holds
    a Spark-written part; audit and verdicts of one batch carry the same
    micro-batch ``processed_at``."""
    import datetime

    from pyspark.sql.types import _parse_datatype_string

    audit_t, results_t = (_parse_datatype_string(s) for s in (AUDIT_SCHEMA, RESULTS_SCHEMA))
    then = datetime.datetime(2026, 1, 1, 12, 0)
    # one part in the format the Spark appends wrote before
    spark.createDataFrame([(7, "{}", None, then)], audit_t).write.parquet(
        str(tmp_path / "audit"))
    spark.createDataFrame(
        [("P0", "Ada", "Lovelace", "AA100", "2026-01-01", 180, True,
          "delay_threshold_met", then)], results_t,
    ).write.parquet(str(tmp_path / "results"))

    msgs = [("P1", "eligibility_check", "AA100"), ("P5", "eligibility_check", "ZZ999"),
            ("P6", "other_event", "AA100")]
    audit, results, _ = _eligibility_over_kafka_log(spark, tmp_path, flights_df, msgs)
    aud, res = spark.read.parquet(audit), spark.read.parquet(results)
    assert aud.schema.simpleString() == audit_t.simpleString()
    assert res.schema.simpleString() == results_t.simpleString()
    assert aud.count() == 4 and res.count() == 3
    new = aud.filter(F.col("batch_id") == 0)
    stamps = {r.processed_at for r in new.collect()}
    stamps |= {r.processed_at for r in res.filter(F.col("passenger_id") != "P0").collect()}
    assert len(stamps) == 1 and then not in stamps
    assert {r.passenger_id: r.delay_minutes for r in res.collect()} == {
        "P0": 180, "P1": 180, "P5": None}


def test_eligibility_stream_verdicts_equal_batch_form(spark, tmp_path, flights_df):
    """The stream answers the messages exactly as the batch
    ``check_eligibility`` answers the same requests, the latest of
    AA100's two flight rows included."""
    from date_warehouse___airline_project_spark.pipelines import check_eligibility
    from date_warehouse___airline_project_spark.streaming import parse_messages

    msgs = [("P1", "eligibility_check", "AA100"), ("P2", "eligibility_check", "BB200"),
            ("P3", "eligibility_check", "CC300"), ("P4", "eligibility_check", "DD400"),
            ("P5", "eligibility_check", "ZZ999"), ("P6", "other_event", "AA100")]
    _, results, _ = _eligibility_over_kafka_log(spark, tmp_path, flights_df, msgs)
    values = spark.createDataFrame([(_msg(t, p, f),) for p, t, f in msgs], ["value"])
    requests = (
        parse_messages(values)
        .filter(F.col("type") == "eligibility_check")
        .drop("raw_value", "type")
    )
    want = check_eligibility(requests, flights_df).drop("processed_at")
    got = spark.read.parquet(results).select(*want.columns)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert {r.passenger_id: r.delay_minutes for r in got.collect()}["P1"] == 180


def _kafka_log_eligibility_query(spark, tmp_path, flights_df, root):
    """A continuously triggered eligibility stream over the kafkalog topic
    ``requests`` under ``root``, with its outputs under ``tmp_path``."""
    from date_warehouse___airline_project_spark.streaming.eligibility_stream import (
        kafka_log_messages_source,
    )

    return run_eligibility_stream(
        spark, "unused", flights_df,
        *(str(tmp_path / d) for d in ("audit", "results", "ckpt")),
        available_now=False, source=kafka_log_messages_source(spark, root, "requests"),
    )


def _drain_listener_bus(spark) -> None:
    """Wait until every posted Spark event has reached its listeners: job
    counts and query-termination callbacks are delivered asynchronously."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)


def test_eligibility_stream_batch_runs_two_jobs(spark, tmp_path, flights_df):
    """The latest-flight side is reduced once, when the query starts: after
    the first micro-batch, no batch launches more than two Spark jobs under
    the stream's job group (the broadcast of the flight snapshot and the
    batch's one action). The flights are read from parquet, as deployed:
    its size statistics let the planner broadcast the snapshot."""
    from date_warehouse___airline_project_spark.sources.kafka_log import KafkaLogProducer

    flights_df.write.parquet(str(tmp_path / "flights"))
    root = str(tmp_path / "log")
    prod = KafkaLogProducer(root, n_partitions=2)
    prod.send("requests", _msg("eligibility_check", "P0", "AA100"), key="P0")
    q = _kafka_log_eligibility_query(
        spark, tmp_path, spark.read.parquet(str(tmp_path / "flights")), root)
    tracker = spark.sparkContext.statusTracker()

    def jobs() -> int:
        _drain_listener_bus(spark)
        return len(tracker.getJobIdsForGroup(str(q.runId)))

    per_batch = []
    try:
        q.processAllAvailable()
        for i, flight in enumerate(("BB200", "ZZ999", "AA100"), start=1):
            before = jobs()
            prod.send("requests", _msg("eligibility_check", f"P{i}", flight), key=f"P{i}")
            q.processAllAvailable()
            per_batch.append(jobs() - before)
        batch_ids = [p.batchId for p in q.recentProgress if p.numInputRows > 0]
    finally:
        q.stop()
        prod.close()
    assert batch_ids == [0, 1, 2, 3]
    assert max(per_batch) <= 2, per_batch


def test_eligibility_stream_releases_its_flight_snapshot(spark, tmp_path, flights_df):
    """The flight snapshot holds blocks while the query runs and none once
    it is stopped, and its listener unregisters; a restart on the same
    checkpoint materializes the snapshot again, keeps the earlier verdicts
    and answers only the new message."""
    from date_warehouse___airline_project_spark.sources.kafka_log import KafkaLogProducer

    jsc = spark.sparkContext._jsc.sc()
    stored_before = {i.id() for i in jsc.getRDDStorageInfo()}
    listeners_before = len(spark._jsparkSession.streams().listListeners())
    root = str(tmp_path / "log")
    prod = KafkaLogProducer(root, n_partitions=2)

    def serve(pid: str, flight: str) -> list:
        prod.send("requests", _msg("eligibility_check", pid, flight), key=pid)
        q = _kafka_log_eligibility_query(spark, tmp_path, flights_df, root)
        try:
            q.processAllAvailable()
            held = {i.id() for i in jsc.getRDDStorageInfo()} - stored_before
        finally:
            q.stop()
        _drain_listener_bus(spark)
        assert held, "the snapshot was not stored while the query ran"
        assert not {i.id() for i in jsc.getRDDStorageInfo()} & held
        assert len(spark._jsparkSession.streams().listListeners()) == listeners_before
        rows = spark.read.parquet(str(tmp_path / "results")).drop("processed_at")
        return sorted(map(tuple, rows.collect()))

    try:
        first = serve("P1", "AA100")
        second = serve("P2", "BB200")
    finally:
        prod.close()
    assert len(first) == 1 and first[0][0] == "P1"
    assert [r for r in second if r[0] == "P1"] == first
    assert [(r[0], r[-1]) for r in second] == [
        ("P1", "delay_threshold_met"), ("P2", "delay_below_threshold")]


def test_kafka_log_stream_starting_offsets_latest(spark, tmp_path):
    """``startingOffsets=latest`` skips what the topic held at the start;
    each message sent after it is read once, with its partition offset."""
    from date_warehouse___airline_project_spark.sources.kafka_log import (
        KafkaLogProducer,
        register_kafka_log_source,
    )

    root = str(tmp_path / "log")
    prod = KafkaLogProducer(root, n_partitions=2)
    prod.send("requests", "old-0")
    prod.send("requests", "old-1")
    register_kafka_log_source(spark)
    q = (
        spark.readStream.format("kafkalog")
        .option("path", root)
        .option("subscribe", "requests")
        .option("startingOffsets", "latest")
        .load()
        .select(F.col("value").cast("string").alias("v"), "partition", "offset")
        .writeStream.format("memory")
        .queryName("kafkalog_latest")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        for i in range(3):
            prod.send("requests", f"new-{i}")
        q.processAllAvailable()
        q.processAllAvailable()  # nothing new: nothing read again
        got = sorted(map(tuple, spark.table("kafkalog_latest").collect()))
    finally:
        q.stop()
        prod.close()
    # unkeyed sends round-robin: old-0 p0@0, old-1 p1@0, new-0 p0@1, ...
    assert got == [("new-0", 0, 1), ("new-1", 1, 1), ("new-2", 0, 2)]
