"""The six cleaning pipelines (SURVEY §3.1; reference cleaning.py:314-764).

Each takes an all-string DataFrame (see sources/csv.py) and returns one
relation: the cleaned columns plus ``quarantine_reason``, null on clean
rows. Every check, the keep-first duplicate checks included, is stated
once, in the cleaner's ordered ``(reason, predicate)`` rule list
(operators/split.py). Column names are the lower-cased forms the
reference produces. No collects, no Python UDFs:
every rule is a Column expression; the only driver-side data is the
bounded per-partition boundary fold inside ffill_repair_ids.

Validation regexes / enum sets / fix-up maps are the reference's observed
behavior (file:line cited per pipeline), not copied code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.dates import to_standard_date
from ..functions.math_fns import parse_money
from ..functions.strings import (
    capitalize_first,
    collapse_whitespace,
    digits_only,
    prefix_alnum,
    strip_non_alpha,
    title_case,
)
from ..operators.dedup import first_per_key
from ..operators.fuzzy import fuzzy_correct
from ..operators.order import INGEST_COL, ffill_repair_ids, with_ingest_order
from ..operators.split import with_quarantine_reason

ALLIANCES = ("Oneworld", "SkyTeam", "Star Alliance", "None")
LOYALTY = ("Bronze", "Silver", "Gold", "Platinum")

# alliance normalization map (cleaning.py:348-358) — includes the
# stringly-typed 'nan' → 'None' the reference depends on.
ALLIANCE_MAP = {
    "oneworld": "Oneworld",
    "one world": "Oneworld",
    "skyteam": "SkyTeam",
    "sky team": "SkyTeam",
    "star alliance": "Star Alliance",
    "staralliance": "Star Alliance",
    "none": "None",
    "nan": "None",
    "": "None",
}


def _lower_cols(df: DataFrame) -> DataFrame:
    return df.withColumnsRenamed({c: c.lower() for c in df.columns})


def _map_lookup(col, mapping: dict[str, str], default):
    expr = default
    for k, v in mapping.items():
        expr = F.when(col == k, v).otherwise(expr)
    return expr


def clean_airlines(df: DataFrame) -> DataFrame:
    """Airlines dim cleaner (cleaning.py:314-393).

    normalize key (trim+upper) and name (title, collapse); default name to
    key when missing (cleaning.py:328-330); alliance enum normalize + the
    two forced fixes (VS→SkyTeam, AZ→None, cleaning.py:368-377); validate
    key ^[A-Z0-9]{2,3}$ and name charset; dedup by key keep-first.
    """
    df = with_ingest_order(_lower_cols(df))
    if "airlinename" not in df.columns:
        df = df.withColumn("airlinename", F.col("airlinekey"))
    if "alliance" not in df.columns:
        df = df.withColumn("alliance", F.lit("None"))

    df = (
        df.withColumn("airlinekey", F.upper(F.trim("airlinekey")))
        .withColumn(
            "airlinename",
            F.coalesce(title_case("airlinename"), F.upper(F.trim("airlinekey"))),
        )
        .withColumn(
            "alliance",
            _map_lookup(
                F.lower(F.trim(F.coalesce(F.col("alliance"), F.lit("nan")))),
                ALLIANCE_MAP,
                F.lit(None).cast("string"),
            ),
        )
        # out-of-enum → 'None' (cleaning.py:359-365)
        .withColumn(
            "alliance",
            F.when(F.col("alliance").isin(*ALLIANCES), F.col("alliance")).otherwise("None"),
        )
        # forced per-airline fixes (cleaning.py:368-377)
        .withColumn(
            "alliance",
            F.when(F.col("airlinekey") == "VS", "SkyTeam")
            .when(F.col("airlinekey") == "AZ", "None")
            .otherwise(F.col("alliance")),
        )
    )

    return with_quarantine_reason(df, [
        ("invalid_airlinekey", F.col("airlinekey").rlike("^[A-Z0-9]{2,3}$")),
        ("invalid_airlinename", F.col("airlinename").rlike(r"^[A-Za-z0-9\s\.\-\&]+$")),
        ("duplicate_airlinekey", first_per_key(["airlinekey"])),
    ]).drop(INGEST_COL)


def clean_airports(df: DataFrame) -> DataFrame:
    """Airports cleaner — pass-through per the reference (cleaning.py:514-518):
    no rules, so every row's reason is null."""
    return with_quarantine_reason(_lower_cols(df), [])


def clean_flights(
    df: DataFrame, airlines_dim: DataFrame, airports_dim: DataFrame
) -> DataFrame:
    """Flights cleaner (cleaning.py:399-452).

    upper keys; hard fix JK→JFK (cleaning.py:404); fuzzy-correct origin/
    destination against the airports dim and the flightkey's 2-char prefix
    against the airlines dim (threshold 85); title aircraft type; validate
    flightkey ^[A-Za-z0-9]{2}\\d+$, 3-letter airports, origin ≠ dest;
    dedup by flightkey keep-first. Dims are broadcast inside fuzzy_correct.
    """
    df = with_ingest_order(_lower_cols(df))
    for c in ("flightkey", "originairportkey", "destinationairportkey"):
        df = df.withColumn(c, F.upper(F.trim(c)))
    # the one hard-coded fix fuzzy missed in the reference
    for c in ("originairportkey", "destinationairportkey"):
        df = df.withColumn(c, F.when(F.col(c) == "JK", "JFK").otherwise(F.col(c)))
    if "aircrafttype" in df.columns:
        df = df.withColumn("aircrafttype", title_case("aircrafttype"))

    df = fuzzy_correct(df, "originairportkey", airports_dim, "airportkey")
    df = fuzzy_correct(df, "destinationairportkey", airports_dim, "airportkey")

    # prefix repair: correct the airline prefix of the flight key
    df = df.withColumn("_prefix", prefix_alnum("flightkey", 2)).withColumn(
        "_fnum", F.regexp_extract("flightkey", r"^[A-Za-z0-9]{2}(\d+)$", 1)
    )
    df = fuzzy_correct(df, "_prefix", airlines_dim, "airlinekey")
    df = df.withColumn(
        "flightkey",
        F.when(
            (F.col("_fnum") != "") & F.col("_prefix").isNotNull(),
            F.concat(F.col("_prefix"), F.col("_fnum")),
        ).otherwise(F.col("flightkey")),
    ).drop("_prefix", "_fnum", "_prefix_fuzzy_score")

    # dim-membership check (J1): prefix must be a real airline after repair
    prefix_ok = (
        airlines_dim.select(F.upper(F.trim(F.col("airlinekey"))).alias("_ok_prefix"))
        .distinct()
        .withColumn("_prefix_ok", F.lit(True))
    )
    df = df.withColumn("_prefix2", prefix_alnum("flightkey", 2)).join(
        F.broadcast(prefix_ok), F.col("_prefix2") == F.col("_ok_prefix"), "left"
    ).drop("_ok_prefix")

    return with_quarantine_reason(df, [
        ("invalid_flightkey", F.col("flightkey").rlike(r"^[A-Za-z0-9]{2}\d+$")),
        # true, or null where the left join found no airline
        ("invalid_airline_prefix", F.col("_prefix_ok")),
        ("invalid_origin", F.col("originairportkey").rlike("^[A-Za-z]{3}$")),
        ("invalid_destination", F.col("destinationairportkey").rlike("^[A-Za-z]{3}$")),
        ("origin_equals_destination",
         F.col("originairportkey") != F.col("destinationairportkey")),
        ("duplicate_flightkey", first_per_key(["flightkey"])),
    ]).drop(INGEST_COL, "_prefix2", "_prefix_ok",
            "originairportkey_fuzzy_score", "destinationairportkey_fuzzy_score")


def clean_passengers(df: DataFrame) -> DataFrame:
    """Passengers cleaner (cleaning.py:458-508).

    title fullname; lower email and strip the passenger key's digits (with
    and without leading zeros, cleaning.py:298-308); loyalty → strip
    non-alpha + capitalize; validate fullname ≥2 words, example.com email,
    loyalty enum; dedup on (fullname, email, loyaltystatus) keep-first.
    """
    df = with_ingest_order(_lower_cols(df))
    key_digits = digits_only(F.col("passengerkey"))
    key_digits_nolead = F.regexp_replace(key_digits, "^0+", "")
    email = F.lower(F.trim("email"))
    email = F.replace(email, key_digits, F.lit(""))
    email = F.when(
        key_digits_nolead != "", F.replace(email, key_digits_nolead, F.lit(""))
    ).otherwise(email)

    df = (
        df.withColumn("fullname", title_case("fullname"))
        .withColumn("email", email)
        .withColumn("loyaltystatus", capitalize_first(strip_non_alpha(F.col("loyaltystatus"))))
    )

    return with_quarantine_reason(df, [
        ("missing_passengerkey", F.col("passengerkey").isNotNull()),
        ("invalid_fullname", F.col("fullname").rlike(r"^[A-Za-z]+(\s+[A-Za-z]+)+$")),
        ("invalid_email",
         F.col("email").rlike(r"^[a-z0-9]+([._][a-z0-9]+)*@example\.com$")),
        ("invalid_loyaltystatus", F.col("loyaltystatus").isin(*LOYALTY)),
        ("duplicate_passenger", first_per_key(["fullname", "email", "loyaltystatus"])),
    ]).drop(INGEST_COL)


MONEY_COLS = ("ticketprice", "taxes", "baggagefees", "totalamount")


def clean_transactions(df: DataFrame) -> DataFrame:
    """Travel-agency sales cleaner (cleaning.py:538-614) — the main slice.

    ffill+1 repair of non-numeric transaction ids (order-dependent, done
    with the two-pass partition-local algorithm); money parse/round/clip;
    multi-format date → ISO; regex validation of all id columns; exact-row
    and by-id dedup keep-first.
    """
    df = with_ingest_order(_lower_cols(df))
    df = ffill_repair_ids(df, "transactionid", valid_regex="^[0-9]+$")

    for c in MONEY_COLS:
        if c in df.columns:
            df = df.withColumn(c, parse_money(F.col(c)))
    df = df.withColumn("transactiondate", F.date_format(
        to_standard_date("transactiondate"), "yyyy-MM-dd"))

    exact_keys = [c for c in df.columns if c != INGEST_COL]
    return with_quarantine_reason(df, [
        ("invalid_transactionid", F.col("transactionid").rlike(r"^4\d{4}$")),
        ("unparseable_date", F.col("transactiondate").isNotNull()),
        ("invalid_passengerid", F.col("passengerid").rlike(r"^P[0-8]\d{4}$")),
        ("invalid_flightid", F.col("flightid").rlike(r"^[A-Z]{1,2}\d{1,5}$")),
        ("duplicate_row", first_per_key(exact_keys)),
        ("duplicate_transactionid", first_per_key(["transactionid"])),
    ]).drop(INGEST_COL)


def clean_airlinesales(df: DataFrame) -> DataFrame:
    """Airline-direct sales cleaner (cleaning.py:737-764): money parse on
    ticketprice, non-null unique transactionid keep-first."""
    df = with_ingest_order(_lower_cols(df))
    if "ticketprice" in df.columns:
        df = df.withColumn("ticketprice", parse_money(F.col("ticketprice")))
    return with_quarantine_reason(df, [
        ("missing_transactionid", F.col("transactionid").isNotNull()),
        ("duplicate_transactionid", first_per_key(["transactionid"])),
    ]).drop(INGEST_COL)
