"""Golden tests for the six cleaning pipelines against FIXTURES.md-shaped
dirty inputs (reference behavior: cleaning.py:314-764)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from date_warehouse___airline_project_spark.pipelines import (
    check_eligibility,
    clean_airlines,
    clean_airlinesales,
    clean_airports,
    clean_flights,
    clean_passengers,
    clean_transactions,
)


TXN_COLS = ["TransactionID", "TransactionDate", "PassengerID", "FlightID",
            "TicketPrice", "Taxes", "BaggageFees", "TotalAmount"]
PAX_COLS = ["PassengerKey", "FullName", "Email", "LoyaltyStatus"]


def df_of(spark, cols, rows):
    return spark.createDataFrame(rows, cols).coalesce(1)


def split(tagged):
    """(clean, quarantine) of a cleaner's relation: the rows with no
    reason, without the reason column, and the rest."""
    reason = F.col("quarantine_reason")
    return tagged.filter(reason.isNull()).drop(reason), tagged.filter(reason.isNotNull())


def test_clean_airlines(spark):
    cols = ["AirlineKey", "AirlineName", "Alliance"]
    rows = [
        ("aa ", "american  airlines", "oneworld"),     # normalize case/space/enum
        ("DL", "Delta Air Lines", "sky team"),          # map variant
        ("VS", "Virgin Atlantic", "junk"),              # forced fix → SkyTeam
        ("AZ", "ITA Airways", "SkyTeam"),               # forced fix → None
        ("AA", "American Airlines", "Oneworld"),        # dup key → quarantine
        ("TOOLONG", "X Air", ""),                       # bad key
        ("B6", None, None),                             # name defaults to key
    ]
    clean, quar = split(clean_airlines(df_of(spark, cols, rows)))
    c = {r["airlinekey"]: r for r in clean.collect()}
    assert set(c) == {"AA", "DL", "VS", "AZ", "B6"}
    assert c["AA"]["airlinename"] == "American Airlines"
    assert c["AA"]["alliance"] == "Oneworld"
    assert c["DL"]["alliance"] == "SkyTeam"
    assert c["VS"]["alliance"] == "SkyTeam"
    assert c["AZ"]["alliance"] == "None"
    assert c["B6"]["airlinename"] == "B6"
    q = {r["quarantine_reason"] for r in quar.collect()}
    assert q == {"duplicate_airlinekey", "invalid_airlinekey"}


def test_clean_airports_passthrough(spark):
    cols = ["AirportKey", "AirportName"]
    rows = [("JFK", "Kennedy"), ("JK", "Typo")]
    clean, quar = split(clean_airports(df_of(spark, cols, rows)))
    assert clean.count() == 2 and quar.count() == 0
    assert clean.columns == ["airportkey", "airportname"]


def test_clean_flights(spark):
    airlines = df_of(spark, ["airlinekey"], [("AA",), ("DL",), ("UA",)])
    airports = df_of(spark, ["airportkey"], [("JFK",), ("LAX",), ("SFO",), ("ORD",)])
    cols = ["FlightKey", "OriginAirportKey", "DestinationAirportKey", "AircraftType"]
    rows = [
        ("AA100", "JFK", "LAX", "boeing  737"),   # clean
        ("AA101", "JK", "ORD", "A320"),           # JK → JFK hard fix
        # JFQ: fuzzy score vs JFK is 66.7 < 85 — stays, and passes the
        # regex-only airport validation (reference semantics: fuzzy at 85
        # can never fix a 1-char typo in a 3-letter code, hence its JK
        # hardcode; validation is regex-only, cleaning.py:441-442)
        ("AA102", "JFQ", "LAX", "A320"),
        ("XX999", "SFO", "ORD", "A321"),          # bad prefix, no close airline → quarantine
        ("AA103", "LAX", "LAX", "A320"),          # origin == dest → quarantine
        ("AA100", "SFO", "ORD", "B757"),          # dup flightkey → quarantine
    ]
    clean, quar = split(clean_flights(df_of(spark, cols, rows), airlines, airports))
    c = {r["flightkey"]: r for r in clean.collect()}
    assert set(c) == {"AA100", "AA101", "AA102"}
    assert c["AA101"]["originairportkey"] == "JFK"
    assert c["AA102"]["originairportkey"] == "JFQ"
    assert c["AA100"]["aircrafttype"] == "Boeing 737"
    reasons = sorted(r["quarantine_reason"] for r in quar.collect())
    assert reasons == ["duplicate_flightkey", "invalid_airline_prefix",
                       "origin_equals_destination"]


def test_clean_passengers(spark):
    cols = PAX_COLS
    rows = [
        ("P00101", "ada  lovelace", "ada.lovelace00101@example.com", "gold!"),
        ("P00102", "Grace Hopper", "GRACE.HOPPER@EXAMPLE.COM", "SILVER"),
        ("P00103", "Plato", "plato@example.com", "Bronze"),           # one word → quarantine
        ("P00104", "Alan Turing", "alan@gmail.com", "Platinum"),      # domain → quarantine
        ("P00105", "Ada Lovelace", "ada.lovelace@example.com", "gold"),  # dup subset → quarantine
    ]
    clean, quar = split(clean_passengers(df_of(spark, cols, rows)))
    c = {r["passengerkey"]: r for r in clean.collect()}
    assert set(c) == {"P00101", "P00102"}
    # key digits (00101 and 101) removed from email, title-cased name, enum fixed
    assert c["P00101"]["email"] == "ada.lovelace@example.com"
    assert c["P00101"]["fullname"] == "Ada Lovelace"
    assert c["P00101"]["loyaltystatus"] == "Gold"
    reasons = sorted(r["quarantine_reason"] for r in quar.collect())
    assert reasons == ["duplicate_passenger", "invalid_email", "invalid_fullname"]


def test_clean_transactions(spark):
    cols = TXN_COLS
    rows = [
        ("40001", "2023-01-10", "P00101", "AA100", "$1,540.00", "$154.00", "$40.00", "$1,734.00"),
        ("4AN",   "01/18/2023", "P00102", "DL200", "500.00", "50.00", "0.00", "550.00"),   # id repaired → 40002
        ("40010", "20-Jan-23",  "P00103", "UA300", "300", "30", "10", "340"),
        ("40010", "2023-02-01", "P00104", "AA101", "100", "10", "0", "110"),               # dup id → quarantine
        ("40020", "garbage",    "P00105", "AA102", "100", "10", "0", "110"),               # bad date → quarantine
        ("40021", "2023-03-01", "P90001", "AA103", "100", "10", "0", "110"),               # out-of-range pax → quarantine
        ("40022", "2023-03-02", "P00106", "",      "100", "10", "0", "110"),               # empty flight → quarantine
    ]
    clean, quar = split(clean_transactions(df_of(spark, cols, rows)))
    c = {r["transactionid"]: r for r in clean.collect()}
    assert set(c) == {"40001", "40002", "40010"}
    assert c["40001"]["ticketprice"] == 1540.00
    assert c["40001"]["transactiondate"] == "2023-01-10"
    assert c["40002"]["transactiondate"] == "2023-01-18"
    assert c["40010"]["transactiondate"] == "2023-01-20"
    reasons = sorted(r["quarantine_reason"] for r in quar.collect())
    assert reasons == ["duplicate_transactionid", "invalid_flightid",
                       "invalid_passengerid", "unparseable_date"]


def test_clean_airlinesales(spark):
    cols = ["TransactionID", "TicketPrice"]
    rows = [("T1", "$99.50"), ("T1", "100"), (None, "50")]
    clean, quar = split(clean_airlinesales(df_of(spark, cols, rows)))
    c = clean.collect()
    assert len(c) == 1 and c[0]["ticketprice"] == 99.50
    assert quar.count() == 2


def test_eligibility_reasons_enum(spark):
    flights = df_of(
        spark,
        ["flight_number", "scheduled_departure", "actual_departure"],
        [
            ("AA100", "2026-01-01 10:00:00", "2026-01-01 12:00:00"),  # 120 → eligible
            ("AA100", "2025-12-01 10:00:00", "2025-12-01 10:05:00"),  # older row ignored
            ("DL200", "2026-01-01 10:00:00", "2026-01-01 10:30:00"),  # 30 → not eligible
            ("UA300", "2026-01-01 10:00:00", None),                   # missing_time_data
            ("BA400", "not a time", "also bad"),                      # invalid_time_format
        ],
    )
    requests = df_of(
        spark,
        ["passenger_id", "first_name", "last_name", "flight_number"],
        [
            ("P1", "Ada", "Lovelace", "AA100"),
            ("P2", "Alan", "Turing", "DL200"),
            ("P3", "Grace", "Hopper", "ZZ999"),
            ("P4", "Edsger", "Dijkstra", "UA300"),
            ("P5", "Barbara", "Liskov", "BA400"),
        ],
    )
    got = {r["passenger_id"]: r for r in check_eligibility(requests, flights).collect()}
    assert got["P1"]["reason"] == "delay_threshold_met" and got["P1"]["eligible"] is True
    assert got["P1"]["delay_minutes"] == 120
    assert got["P2"]["reason"] == "delay_below_threshold" and got["P2"]["eligible"] is False
    assert got["P3"]["reason"] == "flight_not_found"
    assert got["P4"]["reason"] == "missing_time_data"
    assert got["P5"]["reason"] == "invalid_time_format"


@pytest.mark.parametrize("n_parts", [1, 4])
def test_transactions_partition_invariance(spark, n_parts):
    """clean ∪ quarantine == input regardless of partitioning."""
    cols = TXN_COLS
    rows = [
        (str(40000 + i), "2023-01-10", f"P0{i:04d}", "AA100", "10", "1", "0", "11")
        for i in range(1, 30)
    ]
    df = spark.createDataFrame(rows, cols).repartition(n_parts)
    clean, quar = split(clean_transactions(df))
    assert clean.count() + quar.count() == len(rows)


@pytest.mark.parametrize(
    "cleaner, cols, row, reason",
    [
        # a null key fails the key's regex; the name defaults to the key
        (clean_airlines, ["AirlineKey", "AirlineName", "Alliance"],
         (None, "Some Air", "oneworld"), "invalid_airlinekey"),
        # no numeric id before the first row: ffill leaves its id null
        (clean_transactions, TXN_COLS,
         ("4AN", "2023-01-10", "P00101", "AA100", "10", "1", "0", "11"),
         "invalid_transactionid"),
        (clean_passengers, PAX_COLS,
         ("P00101", None, "ada@example.com", "Gold"), "invalid_fullname"),
        (clean_passengers, PAX_COLS,
         ("P00102", "Grace Hopper", None, "Gold"), "invalid_email"),
    ],
    ids=["airline_null_key", "transaction_unfilled_id", "passenger_null_name",
         "passenger_null_email"],
)
def test_null_check_quarantines_under_its_rule(spark, cleaner, cols, row, reason):
    """A check that evaluates to null fails, and names the row's reason:
    no row is quarantined with an empty reason."""
    schema = ", ".join(f"{c} string" for c in cols)
    [got] = cleaner(spark.createDataFrame([row], schema)).collect()
    assert got["quarantine_reason"] == reason
