"""End-to-end ``clean_file`` driver — the reference's main ETL entry point
(SURVEY §3.1: upload → extract → dispatch-by-type → clean → upsert staging
+ quarantine CSV + run logs) in one process.

What disappears vs the reference: the Node→Python child process, the 2 s
PostgREST schema-cache sleep, and the per-call REST round-trips.

The cleaning plan (CSV scan, ffill repair, dedup windows) runs ONCE per
call: the cleaner's one relation, tagged with ``quarantine_reason``, is
materialized by an eager ``localCheckpoint``; the row counts (one
``groupBy`` on whether the reason is null), the staging upsert (the rows
with no reason) and the quarantine export (the others) all read that
checkpoint. Left lazy, every one of those actions re-ran the
whole cleaning plan. ``rows_in`` stays a separate count of the CSV, so
``rows_in == rows_clean + rows_quarantined`` is a real check. The run logs
are written without Spark (``sinks.append_log``).

Staging table names mirror server.js:33-39 (including the multi-source
fact name for travel-agency transactions).
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.split import REASON_COL
from ..operators.text_dedup import _release_blocks
from ..sources.csv import read_csv_all_string
from ..sources.merge_target import ParquetMergeTarget
from ..sources.sinks import append_log, safe_upsert, write_quarantine_csv
from .cleaners import (
    clean_airlines,
    clean_airlinesales,
    clean_airports,
    clean_flights,
    clean_passengers,
    clean_transactions,
)

# server.js:33-39 staging map
STAGING_TABLES = {
    "airlines": "staging_airlines",
    "airports": "staging_airports",
    "flights": "staging_flights",
    "passengers": "staging_passengers",
    "transactions": "staging_facttravelagencysales_source2_agency",
    "airlinesales": "staging_airline_sales",
}

UPSERT_KEYS = {
    "airlines": ["airlinekey"],
    "airports": ["airportkey"],
    "flights": ["flightkey"],
    "passengers": ["passengerkey"],
    "transactions": ["transactionid"],
    "airlinesales": ["transactionid"],
}


def _now() -> str:
    return datetime.now(timezone.utc).isoformat()


def _staging(spark: SparkSession, root: str, name: str, fallback_cols: list[str]) -> DataFrame:
    """Load a staging table if it exists, else an empty frame with the
    expected key column (lets flights clean before dims are loaded —
    everything quarantines as invalid-prefix/airport, same as the
    reference's empty-dim behavior). Read through the merge target, so
    a table stranded by a crash inside its swap is restored first."""
    table = ParquetMergeTarget(spark, os.path.join(root, name))
    if table.exists():
        return table.read()
    schema = ", ".join(f"{c} string" for c in fallback_cols)
    return spark.createDataFrame([], schema)


def clean_file(
    spark: SparkSession,
    file_path: str,
    file_type: str,
    staging_root: str,
    quarantine_dir: str,
    log_root: str | None = None,
) -> dict:
    """Run the full clean pipeline for one uploaded CSV; returns the run
    summary (the JSON the reference's endpoint replies with)."""
    if file_type not in STAGING_TABLES:
        raise ValueError(f"unknown file_type {file_type!r}; expected {sorted(STAGING_TABLES)}")
    t0 = time.time()
    steps: list[dict] = []

    def log_step(name: str, status: str, **details) -> None:
        steps.append(
            {"step_name": name, "ts": _now(), "status": status, "details": repr(details)}
        )

    df = read_csv_all_string(spark, file_path)
    rows_in = df.count()
    log_step("EXTRACT", "SUCCESS", rows=rows_in)

    if file_type == "airlines":
        cleaned = clean_airlines(df)
    elif file_type == "airports":
        cleaned = clean_airports(df)
    elif file_type == "flights":
        airlines = _staging(spark, staging_root, STAGING_TABLES["airlines"], ["airlinekey"])
        airports = _staging(spark, staging_root, STAGING_TABLES["airports"], ["airportkey"])
        cleaned = clean_flights(df, airlines, airports)
    elif file_type == "passengers":
        cleaned = clean_passengers(df)
    elif file_type == "transactions":
        cleaned = clean_transactions(df)
    else:
        cleaned = clean_airlinesales(df)

    # One materialized relation feeds every consumer below. Not persist():
    # AQE does not coalesce a cached plan's partitions in this session
    # (canChangeCachedPlanOutputPartitioning is off), so a 300-row upload
    # would be cached as 32 partitions (one task each per read) where the
    # checkpoint holds one.
    tagged = cleaned.localCheckpoint(eager=True)
    is_clean = F.col(REASON_COL).isNull()
    try:
        counts = dict(tagged.groupBy(is_clean).count().collect())
        rows_clean, rows_quar = counts.get(True, 0), counts.get(False, 0)

        staging_table = STAGING_TABLES[file_type]
        outcome = safe_upsert(
            tagged.filter(is_clean).drop(REASON_COL),
            os.path.join(staging_root, staging_table),
            UPSERT_KEYS[file_type],
        )
        log_step("LOAD_STAGING", "SUCCESS", outcome=outcome, rows=rows_clean)

        quar_path = os.path.join(quarantine_dir, f"quarantined_{file_type}.csv")
        # the cleaned columns, then the reason: the order is part of the
        # CSV's bytes
        write_quarantine_csv(tagged.filter(~is_clean), quar_path)
        log_step("QUARANTINE_EXPORT", "SUCCESS", rows=rows_quar)
    finally:
        _release_blocks(tagged)

    summary = {
        "status": "success",
        "file": os.path.basename(file_path),
        "file_type": file_type,
        "staging_table": staging_table,
        "rows_in": rows_in,
        "rows_clean": rows_clean,
        "rows_quarantined": rows_quar,
        "quarantine_csv": quar_path,
        "elapsed_sec": round(time.time() - t0, 3),
    }
    if log_root:
        append_log(
            os.path.join(log_root, "etl_file_logs"),
            [
                {
                    "file_name": summary["file"],
                    "file_size": os.path.getsize(file_path),
                    "upload_time": _now(),
                    "status": "processed",
                    "message": f"clean={rows_clean} quarantined={rows_quar}",
                }
            ],
        )
        append_log(os.path.join(log_root, "etl_process_logs"), steps)
    return summary
