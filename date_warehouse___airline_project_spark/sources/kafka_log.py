"""Kafka-semantics topic log + a PySpark Python Data Source over it.

The container carries no Kafka connector jar (SCALE.md env note), so the
repo's Kafka surface was an OPTION CONTRACT (the exact consumer/producer
option dicts the reference uses — ``streaming/eligibility_stream.py``)
plus a drop-dir stand-in running the identical downstream plan. This
module closes most of the remaining gap with the PUBLIC Python Data
Source API (``pyspark.sql.datasource``, Spark 4): a file-backed topic
log with Kafka's read protocol —

  * topics with N append-only partitions, per-partition MONOTONE offsets,
  * the REAL Kafka source's option names (``subscribe``,
    ``startingOffsets`` earliest|latest) and its exact output schema
    (``key``/``value`` binary, ``topic``, ``partition``, ``offset``,
    ``timestamp``, ``timestampType``),
  * replayable offset-range reads (``readBetweenOffsets(start, end)``),
    so Structured Streaming checkpoints resume mid-topic and a crashed
    micro-batch is re-read bit-identically — the at-least-once consumer
    contract the reference worker assumes (kafkaworker.js:28-44).

Everything downstream (``.select(col("value").cast("string"))`` → parse
→ dispatch) is byte-identical to the real connector's plan; swapping in
a broker changes ONLY ``format("kafkalog")`` → ``format("kafka")`` plus
``kafka.bootstrap.servers``. What a real broker still adds that this
cannot: network transport, consumer groups/rebalancing, broker-side
retention — the protocol surface Spark's source consumes is covered.

The log is driver-local by design (same ``os`` commit discipline as the
streaming state tables): one JSONL file per partition, offset == line
number, appends are single ``write()`` calls of one line (atomic for
this size on POSIX). At 100 TB you run a broker; this is the seam's
executable contract, not a broker.

Because the log is driver-local, the streaming reader is a
``SimpleDataSourceStreamReader``: the driver-side source process reads a
micro-batch's new lines while it plans the batch's end offset and hands
them to the engine with the plan, so a batch runs no executor Python task
for its source. Only recovery, replaying a batch from the checkpoint's
offset log, reads through ``readBetweenOffsets`` in an executor task. The
batch reader keeps one input partition per topic partition.

Every read of a partition file, the producer's offset count included, goes
through one line scanner (``_complete_lines``), which stops before a line
not yet terminated by its newline: a torn tail (a line being written, or
one a crashed writer left) is not part of the log. A fresh producer cuts such a
tail off before its first append, so its next line starts on a line
boundary.
"""

from __future__ import annotations

import datetime
import json
import os
import time
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

_SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset long, timestamp timestamp, timestampType int"
)


def _partition_files(root: str, topic: str) -> list[str]:
    tdir = os.path.join(root, topic)
    if not os.path.isdir(tdir):
        return []
    # ordered by partition number: a name sort puts p10 before p2
    parts = {
        int(n[1:-6]): n
        for n in os.listdir(tdir)
        if n.startswith("p") and n.endswith(".jsonl") and n[1:-6].isdigit()
    }
    return [os.path.join(tdir, parts[p]) for p in sorted(parts)]


def _complete_lines(f) -> Iterator[bytes]:
    """The lines of an open partition file up to the last complete one."""
    for line in iter(f.readline, b""):
        if not line.endswith(b"\n"):
            return  # a line still being written, or left torn by a crash
        yield line


def _scan(
    path: str,
    topic: str,
    p: int,
    start: int | None = None,
    end: int | None = None,
) -> tuple[list[tuple], int]:
    """Rows of partition ``p`` at offsets [start, end) and the offset
    after the last complete line scanned. ``end=None`` scans to the last
    complete line; ``start=None`` only counts."""
    rows, offset = [], 0
    with open(path, "rb") as f:
        for line in _complete_lines(f):
            if end is not None and offset >= end:
                break
            if start is not None and offset >= start:
                rows.append(_record(line, topic, p, offset))
            offset += 1
    return rows, offset


def _cut_torn_tail(path: str) -> int:
    """Truncate ``path`` after its last complete line; return the number
    of complete lines, the partition's next offset."""
    n = size = 0
    with open(path, "rb+") as f:
        for line in _complete_lines(f):
            n, size = n + 1, size + len(line)
        f.truncate(size)
    return n


class KafkaLogProducer:
    """Producer half of the contract (kafkaProducer.js:36-44): append one
    message per ``send`` to the key-chosen partition, returning
    (partition, offset). Keyed messages land deterministically (same key
    → same partition, Kafka's ordering guarantee per key); unkeyed
    messages round-robin on the topic's total count."""

    def __init__(self, root: str, n_partitions: int = 2) -> None:
        self.root, self.n = root, n_partitions
        self._offsets: dict[tuple[str, int], int] = {}  # next offset cache
        self._files: dict[str, list[str]] = {}  # topic -> partition files
        self._handles: dict[str, object] = {}  # path -> open append handle

    def _ensure_topic(self, topic: str) -> None:
        tdir = os.path.join(self.root, topic)
        os.makedirs(tdir, exist_ok=True)
        for p in range(self.n):
            f = os.path.join(tdir, f"p{p}.jsonl")
            if not os.path.exists(f):
                open(f, "a", encoding="utf-8").close()

    def _topic_files(self, topic: str) -> list[str]:
        # topic layout is fixed after _ensure_topic, so the makedirs +
        # listdir round per send was pure overhead — a 2000-message
        # produce loop spent ~80% of its wall in it (optimization guide
        # §1: measure, then cut the per-item constant)
        files = self._files.get(topic)
        if files is None:
            self._ensure_topic(topic)
            files = _partition_files(self.root, topic)
            self._files[topic] = files
        return files

    def _append_line(self, path: str, line: str) -> None:
        # one open append handle per partition file, flushed per send so
        # every message is on disk before send() returns (the same
        # visibility an open/write/close cycle gave readers and crash
        # recovery — only the open/close per message is gone)
        h = self._handles.get(path)
        if h is None:
            h = open(path, "a", encoding="utf-8")
            self._handles[path] = h
        h.write(line)
        h.flush()

    def close(self) -> None:
        """Release the cached append handles (idempotent). The producer
        stays usable after close — handles reopen lazily."""
        while self._handles:
            _, h = self._handles.popitem()
            h.close()

    def _next_offset(self, topic: str, p: int, path: str) -> int:
        # cached per producer instance (a second producer would re-count
        # from the file — single-writer per topic, the Kafka-partition
        # leader discipline); counting per send would be O(n^2). The
        # first count also cuts off a torn tail a crashed writer left,
        # which the next append would otherwise extend into a bad line.
        key = (topic, p)
        if key not in self._offsets:
            self._offsets[key] = _cut_torn_tail(path)
        return self._offsets[key]

    def send(
        self, topic: str, value: str, key: str | None = None
    ) -> tuple[int, int]:
        files = self._topic_files(topic)
        if key is not None:
            p = int.from_bytes(key.encode("utf-8")[:8], "big") % len(files)
        else:
            p = sum(
                self._next_offset(topic, i, f) for i, f in enumerate(files)
            ) % len(files)
        path = files[p]
        offset = self._next_offset(topic, p, path)
        rec = {"key": key, "value": value, "ts": int(time.time() * 1000)}
        self._append_line(path, json.dumps(rec) + "\n")
        self._offsets[(topic, p)] = offset + 1
        return p, offset


class _OffsetRange(InputPartition):
    def __init__(
        self, path: str, topic: str, partition: int, start: int, end: int
    ) -> None:
        self.path, self.topic = path, topic
        self.partition, self.start, self.end = partition, start, end


def _record(line: str | bytes, topic: str, partition: int, offset: int) -> tuple:
    """One log line as a row of the Kafka source's schema."""
    rec = json.loads(line)
    key = rec.get("key")
    return (
        key.encode("utf-8") if key is not None else None,
        rec["value"].encode("utf-8"),
        topic,
        partition,
        offset,
        datetime.datetime.fromtimestamp(rec["ts"] / 1000.0),
        0,  # CreateTime, the Kafka default
    )


class KafkaLogBatchReader(DataSourceReader):
    """Batch form: the whole retained topic (Kafka's batch source with
    default earliest→latest range) — one input partition per topic
    partition, so parallelism mirrors the topic layout."""

    def __init__(self, root: str, topic: str) -> None:
        self.root, self.topic = root, topic

    def partitions(self) -> Sequence[InputPartition]:
        return [
            _OffsetRange(f, self.topic, p, 0, _scan(f, self.topic, p)[1])
            for p, f in enumerate(_partition_files(self.root, self.topic))
        ]

    def read(self, partition: _OffsetRange) -> Iterator[tuple]:
        p = partition
        return iter(_scan(p.path, p.topic, p.partition, p.start, p.end)[0])


class KafkaLogSimpleStreamReader(SimpleDataSourceStreamReader):
    """Streaming form, read on the driver. Offsets are ``{partition(str):
    next_offset}`` maps (JSON-serialized into the checkpoint by the
    engine), advancing monotonically per partition — Kafka's offset
    contract. ``commit`` is a no-op: the log is the retention store and
    the checkpoint owns consumer progress (exactly the real source's
    division of labor)."""

    def __init__(self, root: str, topic: str, starting_offsets: str) -> None:
        self.root, self.topic = root, topic
        self.starting = starting_offsets

    def initialOffset(self) -> dict:
        files = _partition_files(self.root, self.topic)
        if self.starting == "latest":
            return {str(p): _scan(f, self.topic, p)[1] for p, f in enumerate(files)}
        return {str(p): 0 for p in range(len(files))}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        rows, end = [], {}
        for p, f in enumerate(_partition_files(self.root, self.topic)):
            got, end[str(p)] = _scan(f, self.topic, p, int(start.get(str(p), 0)))
            rows += got
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        rows = []
        for p, f in enumerate(_partition_files(self.root, self.topic)):
            s = int(start.get(str(p), 0))
            rows += _scan(f, self.topic, p, s, int(end.get(str(p), s)))[0]
        return iter(rows)

    def commit(self, end: dict) -> None:
        pass  # checkpoint owns progress; the log is retention


class KafkaLogDataSource(DataSource):
    """``format("kafkalog")`` — options mirror the real source's names:
    ``path`` (log root — the stand-in for ``kafka.bootstrap.servers``),
    ``subscribe`` (one topic, the reference worker's mode), and
    ``startingOffsets`` earliest|latest."""

    @classmethod
    def name(cls) -> str:
        return "kafkalog"

    def schema(self) -> str:
        return _SCHEMA

    def _conf(self) -> tuple[str, str, str]:
        root = self.options.get("path")
        topic = self.options.get("subscribe")
        if not root or not topic:
            raise ValueError(
                "kafkalog requires options path=<log root> and "
                "subscribe=<topic> (the real source's subscribe mode)"
            )
        return root, topic, self.options.get("startingoffsets", "earliest")

    def reader(self, schema) -> KafkaLogBatchReader:
        root, topic, _ = self._conf()
        return KafkaLogBatchReader(root, topic)

    def simpleStreamReader(self, schema) -> KafkaLogSimpleStreamReader:
        root, topic, starting = self._conf()
        return KafkaLogSimpleStreamReader(root, topic, starting)


def register_kafka_log_source(spark) -> None:
    """Idempotent registration of the ``kafkalog`` format on a session."""
    spark.dataSource.register(KafkaLogDataSource)


def kafka_log_values_sink(
    values,
    log_root: str,
    topic: str,
    checkpoint_dir: str,
    key_col: str | None = None,
):
    """Producer sink for a streaming relation carrying a ``value`` column
    (+ optionally ``key_col``): each micro-batch's rows are sent to
    ``topic`` in a deterministic order, keyed when a key column is given
    (per-key partition ordering, Kafka's contract). foreachBatch +
    driver-side send is this stand-in's transport — the real sink is
    ``format("kafka")`` over the same value column — so it suits
    message-sized relations (outbox envelopes, verdicts), not corpus
    rewrites. Returns the DataStreamWriter (caller ``.start()``s)."""

    def send_batch(batch_df, batch_id: int) -> None:
        producer = KafkaLogProducer(log_root)
        cols = ["value"] + ([key_col] if key_col else [])
        for r in batch_df.select(*cols).orderBy(*cols).collect():
            producer.send(
                topic, r["value"], key=r[key_col] if key_col else None
            )
        producer.close()

    return values.writeStream.foreachBatch(send_batch).option(
        "checkpointLocation", checkpoint_dir
    )
