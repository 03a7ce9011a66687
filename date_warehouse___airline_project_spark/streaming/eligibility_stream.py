"""Streaming insurance-eligibility pipeline.

Reference dataflow (SURVEY §3.3): INSERT on ``outbox`` → Realtime watcher
(supabaseWatcher.js:36-63) → Kafka producer → consumer worker
(kafkaworker.js:41-150) which audit-logs every message, dispatches on
``type == 'eligibility_check'``, looks up the latest flight row, computes
delay/eligibility with a six-value reasons enum, and appends
``eligibility_results``.

Spark-first collapse: ONE streaming query, its plan built once.

  at start: latest flight row per flight_number, materialized once
  readStream (Kafka values; the kafkalog source reads them on the driver)
    → from_json with raw-string fallback (kafkaworker.js:47-52 JSON.parse
      try/catch re-expressed as a null-check coalesce — F-J2)
    → stream-static left join vs that snapshot → verdict columns, one row
      per message (``processed_at`` is the micro-batch timestamp)
    → foreachBatch, one Spark action (``toArrow``) per micro-batch, then
      pyarrow on the driver:
        audit part      (every message, kafka_messages shape — ST2/ST5)
        results part    (type == 'eligibility_check', eligibility_results
                         shape)

foreachBatch is used (rather than two independent sinks) because the
reference's worker performs BOTH side effects per message batch. Each
part is one parquet file whose name is fixed by the checkpoint and the
batch id, written under a hidden name and renamed into place
(``sources.sinks.write_parquet_file``). A micro-batch the checkpoint
replays after a crash re-reads the same offsets and replaces its parts
rather than adding rows, so replay is idempotent at batch granularity —
an uplift over the reference's at-least-once consumer. The parts are
message-sized, like the relation ``kafka_log_values_sink`` collects; with
the real connector ``maxOffsetsPerTrigger`` bounds a backlog.

The verdict logic is ``pipelines.eligibility.join_verdicts``, the same
function the batch ``check_eligibility`` runs, so correctness tests on
the batch form certify the streaming form. The flights side is reduced
by ``latest_flights`` and materialized (an eager ``localCheckpoint``)
once, when the query starts, so a micro-batch runs only its message side
plus the broadcast of the snapshot. The snapshot's blocks are released
when the query terminates (stopped, failed, or done with its
``availableNow`` backlog).

Snapshot semantics: ``spark.read.parquet`` fixes its file listing when
the DataFrame is created, so the stream never saw files added to the
flights table after the call; it now also serves those files' content as
of the start. Restarting the query re-materializes the snapshot, and a
batch replayed on restart replaces its own parts (below), so a replay
answers from the new snapshot without duplicating rows.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQueryListener

from ..operators.text_dedup import _release_blocks
from ..pipelines.eligibility import join_verdicts, latest_flights
from ..sources.sinks import write_parquet_file

# kafkaworker.js:67-70 message envelope: {type, payload:{passengerId,
# firstName, lastName, flightNumber}, requested_at}
MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField(
            "payload",
            T.StructType(
                [
                    T.StructField("passengerId", T.StringType()),
                    T.StructField("firstName", T.StringType()),
                    T.StructField("lastName", T.StringType()),
                    T.StructField("flightNumber", T.StringType()),
                ]
            ),
        ),
        T.StructField("requested_at", T.StringType()),
    ]
)

# the audit part's columns (kafka_messages shape); the results part takes
# the verdict rows' columns other than the message's raw value and type
_AUDIT_COLUMNS = ["batch_id", "raw_value", "type", "processed_at"]

_QUERY_NAME = "eligibility_stream"


def parse_messages(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """JSON parse with raw fallback: unparseable payloads survive as
    ``raw`` with null type (they are audited but never dispatched)."""
    parsed = F.from_json(F.col(value_col), MESSAGE_SCHEMA)
    return raw.select(
        F.col(value_col).alias("raw_value"),
        # from_json yields a null struct on malformed input → type stays null
        parsed.alias("msg"),
    ).select(
        "raw_value",
        F.col("msg.type").alias("type"),
        F.col("msg.payload.passengerId").alias("passenger_id"),
        F.col("msg.payload.firstName").alias("first_name"),
        F.col("msg.payload.lastName").alias("last_name"),
        F.col("msg.payload.flightNumber").alias("flight_number"),
        F.col("msg.requested_at").alias("requested_at"),
    )


def kafka_source_options(
    bootstrap_servers: str, topic: str, starting_offsets: str = "earliest"
) -> dict[str, str]:
    """The EXACT consumer option set the reference worker subscribes with
    (kafkaworker.js:28-44): one ``subscribe`` topic (not assign/pattern),
    earliest offsets so a restarted worker drains the backlog. Kept as a
    pure dict so the contract test can pin it without the connector jar —
    dropping the jar onto the classpath makes the deployment config-only.
    """
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }


def kafka_sink_options(
    bootstrap_servers: str, topic: str, checkpoint_dir: str
) -> dict[str, str]:
    """Producer option set (kafkaProducer.js:36-44) — same pin rationale."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
        "checkpointLocation": checkpoint_dir,
    }


def kafka_messages_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka consumer source (kafkaworker.js:28-44): topic → raw value lines.

    Emits the same single-column ``value: string`` shape as the drop-dir
    stand-in, so ``parse_messages`` and everything downstream are shared
    verbatim between the two deployments. Requires the
    ``spark-sql-kafka-0-10`` connector on the classpath (standard on any
    Spark cluster; absent in this container, where resolution raises and
    tests skip — the construction path itself is exercised either way).
    """
    return (
        spark.readStream.format("kafka")
        .options(**kafka_source_options(bootstrap_servers, topic, starting_offsets))
        .load()
        .select(F.col("value").cast("string").alias("value"))
    )


def kafka_log_messages_source(
    spark: SparkSession,
    log_root: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """The Kafka consumer PLAN, executable in this container: identical
    option names (``subscribe``, ``startingOffsets``), identical output
    schema, identical downstream ``value`` cast — served by the in-repo
    Kafka-semantics log source (``sources/kafka_log.py``, public Python
    Data Source API) instead of the absent connector jar. Swapping in a
    real broker changes ONLY ``format`` + ``kafka.bootstrap.servers``;
    everything from the ``.select`` down is the same bytes. This is the
    execution test the option-contract pin could not give: offsets,
    checkpoint resume, and at-least-once replay all actually run."""
    from ..sources.kafka_log import register_kafka_log_source

    register_kafka_log_source(spark)
    return (
        spark.readStream.format("kafkalog")
        .option("path", log_root)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
        .select(F.col("value").cast("string").alias("value"))
    )


def kafka_log_results_sink(
    results: DataFrame, log_root: str, topic: str, checkpoint_dir: str
):
    """Producer side against the log-backed topic: each result row
    becomes one JSON-envelope message (same ``to_json(struct(*))`` value
    shape as ``kafka_results_sink``), sent keyed on passenger_id so a
    partition preserves per-passenger order — Kafka's keyed-ordering
    contract. foreachBatch + driver-side send is the stand-in's
    transport (results are verdict-sized); the real sink is the
    ``format("kafka")`` writer with the same value column."""
    from ..sources.kafka_log import kafka_log_values_sink

    vals = results.select(
        F.col("passenger_id"),
        F.to_json(F.struct(*results.columns)).alias("value"),
    )
    return kafka_log_values_sink(
        vals, log_root, topic, checkpoint_dir, key_col="passenger_id"
    )


def kafka_results_sink(
    results: DataFrame, bootstrap_servers: str, topic: str, checkpoint_dir: str
):
    """Kafka producer sink (kafkaProducer.js:36-44): each result row becomes
    one JSON-envelope message on ``topic``. Returns the DataStreamWriter
    (caller ``.start()``s it)."""
    return (
        results.select(F.to_json(F.struct(*results.columns)).alias("value"))
        .writeStream.format("kafka")
        .options(**kafka_sink_options(bootstrap_servers, topic, checkpoint_dir))
    )


def run_eligibility_stream(
    spark: SparkSession,
    input_dir: str,
    flights: DataFrame,
    audit_dir: str,
    results_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    source: DataFrame | None = None,
):
    """Start the collapsed watcher+worker query over a line-JSON drop dir.

    ``input_dir`` stands in for the Kafka topic; pass ``source=
    kafka_messages_source(...)`` to run the identical plan off a real
    topic — the source emits the same ``value: string`` shape, so the rest
    of the pipeline is unchanged. Returns the StreamingQuery handle.

    The latest row per flight of ``flights`` is computed and materialized
    here, once; every micro-batch joins that snapshot (see the module
    docstring for what this fixes), and its blocks are released when the
    query terminates.
    """
    raw = source if source is not None else spark.readStream.format("text").load(input_dir)
    # Not persist(): AQE does not coalesce a cached plan's partitions in
    # this session, so the window's 32 shuffle partitions would each be a
    # task of every batch's broadcast job; the checkpoint keeps the
    # partitions AQE coalesced.
    latest = latest_flights(flights).localCheckpoint(eager=True)
    rows = join_verdicts(parse_messages(raw, "value"), latest)
    result_columns = [c for c in rows.columns if c not in ("raw_value", "type")]
    # parts are named per checkpoint, so two queries sharing an output
    # directory never replace each other's batches
    tag = hashlib.sha1(os.path.abspath(checkpoint_dir).encode()).hexdigest()[:8]

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        tbl = batch_df.withColumn("batch_id", F.lit(batch_id)).toArrow()
        # toArrow labels timestamps with the session time zone; the parts
        # are labelled UTC whatever the session's zone
        at = tbl.schema.get_field_index("processed_at")
        tbl = tbl.set_column(
            at, "processed_at", tbl["processed_at"].cast(pa.timestamp("us", tz="UTC"))
        )
        name = f"part-{batch_id:05d}-{tag}.snappy.parquet"
        # ST2/ST5: the audit part lands before the verdicts
        write_parquet_file(tbl.select(_AUDIT_COLUMNS), audit_dir, name)
        # F-J4 dispatch: only eligibility_check messages get a verdict row
        checks = tbl.filter(pc.equal(tbl["type"], "eligibility_check"))
        write_parquet_file(checks.select(result_columns), results_dir, name)

    writer = (
        rows.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(_QUERY_NAME)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    releaser = _ReleaseOnTermination(spark, latest)
    spark.streams.addListener(releaser)
    try:
        return writer.start()
    except BaseException:
        releaser.release()
        raise


class _ReleaseOnTermination(StreamingQueryListener):
    """Releases the flight snapshot of one eligibility query when that
    query terminates, then unregisters itself.

    The query is recognised by its start event: Spark delivers
    ``onQueryStarted`` synchronously, on the query's own thread, before
    ``start()`` returns, and no two active queries of a session share a
    name, so the first start named ``_QUERY_NAME`` after registration is
    this listener's query. Termination events arrive later, from the
    listener bus."""

    def __init__(self, spark: SparkSession, snapshot: DataFrame) -> None:
        self._spark, self._snapshot = spark, snapshot
        self._run_id = None

    def release(self) -> None:
        self._spark.streams.removeListener(self)
        _release_blocks(self._snapshot)

    def onQueryStarted(self, event) -> None:
        if self._run_id is None and event.name == _QUERY_NAME:
            self._run_id = event.runId

    def onQueryProgress(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        if event.runId == self._run_id:
            self.release()
