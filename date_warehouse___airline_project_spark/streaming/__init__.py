"""Structured Streaming subsystem (SURVEY §2.12, §3.3).

The reference's streaming stack is outbox CDC → Kafka → consumer worker →
results table → realtime push, spread over three processes
(supabaseWatcher.js, kafkaProducer.js, kafkaworker.js). Here the same
shapes collapse into single fault-tolerant Structured Streaming queries:

  eligibility_stream   message stream → parse (raw fallback) →
                       stream-static join vs flights → verdict exprs →
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
from .stateful import running_user_totals, running_user_totals_tws  # noqa: F401
from .windows import (  # noqa: F401
    sessionized_user_activity,
    stream_stream_followup_join,
    windowed_event_counts,
)
