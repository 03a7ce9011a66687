"""Insurance-eligibility check — batch form (SURVEY §3.2; reference
server.js:212-303, kafkaworker.js:67-126).

Given a requests DataFrame (passenger_id, first_name, last_name,
flight_number) and the operational flights table (flight_number,
scheduled_departure, actual_departure):

  * latest flight row per flight_number (ORDER BY scheduled_departure DESC
    LIMIT 1 — expressed as the rank-limited window, which Spark executes
    as a per-partition group-limit, not a global sort)
  * delay = round((actual − scheduled)/60 s) minutes
  * eligible ⇔ delay ≥ 120
  * full reasons enum: delay_threshold_met | delay_below_threshold |
    flight_not_found | invalid_time_format | missing_time_data

Two steps, so each execution mode pays the reduction once:

  * ``latest_flights`` reduces the flights table to its latest row per
    flight (a shuffle on flight_number);
  * ``join_verdicts`` left-joins requests to that reduced relation and
    derives the verdict columns.

``check_eligibility`` is the batch form, the two steps in one plan. The
streaming form (streaming/eligibility_stream.py) runs ``latest_flights``
once when the query starts, materializes it, and stream-static joins
every micro-batch through the same ``join_verdicts``, so tests of the
batch form certify the verdict logic of both modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.dates import delay_minutes
from ..operators.topk import latest_per_key

ELIGIBILITY_THRESHOLD_MIN = 120


def latest_flights(flights: DataFrame) -> DataFrame:
    """Most recent row per flight_number by scheduled_departure."""
    return latest_per_key(
        flights,
        ["flight_number"],
        [F.desc("scheduled_departure"), F.desc("actual_departure")],
    )


def check_eligibility(requests: DataFrame, flights: DataFrame) -> DataFrame:
    """Verdicts of ``requests`` against the latest row of each flight."""
    return join_verdicts(requests, latest_flights(flights))


def join_verdicts(requests: DataFrame, latest: DataFrame) -> DataFrame:
    """Left join requests → ``latest`` (one row per flight_number, as
    ``latest_flights`` returns); verdict columns per the enum."""
    fl = latest.select(
        F.col("flight_number").alias("_fl_number"),
        F.col("scheduled_departure").try_cast("timestamp").alias("_sched"),
        F.col("actual_departure").try_cast("timestamp").alias("_actual"),
        # raw strings kept to distinguish invalid-format from missing
        F.col("scheduled_departure").cast("string").alias("_sched_raw"),
        F.col("actual_departure").cast("string").alias("_actual_raw"),
    )
    joined = requests.join(
        fl, requests["flight_number"] == fl["_fl_number"], "left"
    )

    delay = delay_minutes(F.col("_sched"), F.col("_actual"))
    missing_data = F.col("_sched_raw").isNull() | F.col("_actual_raw").isNull()
    invalid_fmt = (~missing_data) & (F.col("_sched").isNull() | F.col("_actual").isNull())

    reason = (
        F.when(F.col("_fl_number").isNull(), "flight_not_found")
        .when(missing_data, "missing_time_data")
        .when(invalid_fmt, "invalid_time_format")
        .when(delay >= ELIGIBILITY_THRESHOLD_MIN, "delay_threshold_met")
        .otherwise("delay_below_threshold")
    )
    eligible = F.when(reason == "delay_threshold_met", True).otherwise(False)

    return joined.select(
        *[requests[c] for c in requests.columns],
        F.when(reason.isin("delay_threshold_met", "delay_below_threshold"), delay).alias(
            "delay_minutes"
        ),
        eligible.alias("eligible"),
        reason.alias("reason"),
        F.current_timestamp().alias("processed_at"),
    )
