"""Structured Streaming subsystem (SURVEY §2.12, §3.3).

The reference's streaming stack is outbox CDC → Kafka → consumer worker →
results table → realtime push, spread over three processes
(supabaseWatcher.js, kafkaProducer.js, kafkaworker.js). Here the same
shapes collapse into single fault-tolerant Structured Streaming queries:

  eligibility_stream   message stream → parse (raw fallback) →
                       stream-static join vs the latest-flight snapshot
                       materialized at start → verdict exprs →
                       foreachBatch {one toArrow; audit part; type filter
                       → results part}
  windows              watermarked tumbling/sliding/session aggregations
                       (the late-data semantics the reference lacks)
  file_ingest          drop-directory CSV ingest (the uploads/incoming
                       pattern) as a file-source stream

Kafka itself is connector config (``readStream.format("kafka")``); tests
drive the identical plans through file sources, which is the supported
local-mode harness. Every query checkpoints; foreachBatch writes are
idempotent per (batch_id) — the exactly-once uplift over the reference's
at-least-once worker (SURVEY §2.12 ST5).

Every ``run_*`` maintenance stream (and ``stream_csv_dir``) has one
lifecycle, written once in ``state_table.py``:

  1. recover: a stream that owns a state dir repairs an interrupted
     swap (``sources/merge_target.py::ParquetMergeTarget.recover``, or
     the artifact's marker-commit recovery) before the query starts, so
     readers of that dir see it whole even if no batch runs;
  2. read: the source stream — a text drop dir, a JSON-lines doc dir
     (``read_json_lines``) or a caller-supplied streaming DataFrame;
  3. fold: ``process_batch(batch_df, batch_id)`` applies the batch's
     effects, each guarded by a batch id or idempotent by construction;
  4. start: ``start_foreach_batch`` checkpoints the query, names it if
     it has a name, and drains the backlog with ``availableNow`` (only
     ``run_eligibility_stream`` can run continuously instead).

The mergeable-state streams (rollup, drift, CMS, HLL, Bloom, grouped
HLL) are one call each to ``state_table.run_fold_stream``; the two
incremental dedup streams share ``dedup_stream._run_dedup_stream``.
"""

from .eligibility_stream import (  # noqa: F401
    MESSAGE_SCHEMA,
    parse_messages,
    run_eligibility_stream,
)
from .file_ingest import stream_csv_dir  # noqa: F401
from .outbox import (  # noqa: F401
    OUTBOX_SCHEMA,
    outbox_change_feed,
    outbox_to_kafka_values,
)
from .rollup import (  # noqa: F401
    combine_rollups,
    rollup_cells,
    run_rollup_stream,
)
from .stateful import running_user_totals  # noqa: F401
from .windows import (  # noqa: F401
    sessionized_user_activity,
    stream_stream_followup_join,
    windowed_event_counts,
)
