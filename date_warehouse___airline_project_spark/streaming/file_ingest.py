"""Drop-directory CSV ingest as a file-source stream (SURVEY §2.1 S13).

The reference ingests uploads via multer into ``uploads/`` and batch-cleans
each file (server.js:23,118-128; the ``datapipeline/uploads/incoming/``
naming convention). The streaming equivalent watches a directory and runs
the SAME cleaning pipeline per micro-batch via foreachBatch — new files are
discovered incrementally and processed exactly once per checkpoint.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .state_table import start_foreach_batch


def csv_string_schema(columns: list[str]) -> T.StructType:
    """All-string schema from sanitized header names (S2 semantics)."""
    from ..functions.strings import header_sanitize

    return T.StructType([T.StructField(header_sanitize(c), T.StringType()) for c in columns])


def stream_csv_dir(
    spark: SparkSession,
    input_dir: str,
    columns: list[str],
    process: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Watch ``input_dir`` for CSVs and run ``process(batch_df, batch_id)``
    per micro-batch. ``maxFilesPerTrigger`` bounds batch size for steady
    backpressure on large drops."""
    reader = (
        spark.readStream.format("csv")
        .option("header", True)
        .schema(csv_string_schema(columns))
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return start_foreach_batch(reader.load(input_dir), process, checkpoint_dir, "csv_ingest")
