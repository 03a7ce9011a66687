"""SparkSession factory.

Local testing runs a single JVM (``local[N]``); production target is a
multi-executor cluster reading ~100 TB. Every config here is chosen to be
correct for both: AQE handles runtime re-planning (partition coalescing,
skew joins), shuffle partitions default to 32 whatever the core count
(an upper bound AQE coalesces down; overridable via
``SPARK_GRAFT_SHUFFLE_PARTITIONS`` for cluster runs), and the session
timezone is pinned UTC so results are reproducible (and comparable to
the DuckDB oracle, whose timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")


def get_spark(app_name: str = "date_warehouse_spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Scale notes (100 TB / 1000-executor design intent):
      - AQE on: runtime partition coalescing + skew-join splitting means the
        static ``shuffle.partitions`` only needs to be an upper bound.
      - ``maxPartitionBytes`` left at the 128 MB default: at 100 TB that is
        ~800k input splits, the right granularity for dynamic allocation.
      - Arrow enabled: every Pandas-UDF path (fuzzy scoring, multimodal
        decode) transfers columnar batches, not pickled rows.
      - Broadcast threshold stays at the 10 MB default; the star-schema dims
        (region/nation/supplier/part at any SF, airline/airport dims in the
        reference model) are broadcast explicitly where known-small.
    """
    master = master or f"local[{_DEFAULT_CPUS}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", _DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # The driver testdata stores naive timestamp[us]; with NTZ inference
        # (Spark 4 default) those read as TIMESTAMP_NTZ, which watermarks and
        # event-time windows reject. Read them as session-zone (UTC) TIMESTAMP,
        # matching the DuckDB oracle's UTC-naive timestamps.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def session_tmpdir(prefix: str) -> str:
    """``tempfile.mkdtemp`` with atexit cleanup. Session-memoized artifact
    dirs (persisted IVF indexes, release state) must outlive any single
    query but not the process — an unregistered mkdtemp leaks a corpus
    copy into /tmp per bench/pytest session."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d
