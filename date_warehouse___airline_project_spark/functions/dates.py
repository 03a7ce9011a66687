"""Date/time expressions.

Parity targets (reference): multi-format parse functions.py:9-29 /
cleaning.py:579-591; age functions.py:32-38; business days
functions.py:41-49; range overlap functions.py:52-54; delay minutes
server.js:281-282; duration functions.py:145-174.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# The reference's accepted formats (functions.py:21) plus the two extras its
# transactions cleaner handles (ISO-with-month-name variants, cleaning.py:579-591).
DATE_FORMATS = (
    "yyyy-MM-dd",
    "dd/MM/yyyy",
    "MM/dd/yyyy",
    "yyyy/MM/dd",
    "dd-MM-yyyy",
    "d-MMM-yy",
    "yyyy/MMM/dd",
)


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def to_standard_date(col: Column | str, formats: tuple[str, ...] = DATE_FORMATS) -> Column:
    """Multi-format parse → DateType (null when no format matches).

    try_to_date per format, first hit wins — same precedence as the
    reference's sequential try-parse. Ambiguous strings (01/02/2023)
    resolve to the earliest listed format, matching the reference's
    format-list order.
    """
    c = F.trim(_c(col))
    return F.coalesce(*[F.try_to_date(c, fmt) for fmt in formats])


def age_years(dob: Column | str, as_of: Column | None = None) -> Column:
    """Whole years between dob and as_of with birthday adjustment."""
    ref = as_of if as_of is not None else F.current_date()
    return F.floor(F.months_between(ref, _c(dob)) / 12).cast("int")


def date_range_overlap(s1: Column, e1: Column, s2: Column, e2: Column) -> Column:
    return (s1 <= e2) & (s2 <= e1)


def add_business_days(start: Column | str, n: int) -> Column:
    """Date n business days after start, skipping Sat/Sun.

    Native expression: generate the next ``2n+4`` calendar days, drop
    weekends, take the nth. No UDF, fully codegen'd.
    """
    c = _c(start).cast("date")
    span = F.sequence(F.date_add(c, 1), F.date_add(c, 2 * n + 4))
    weekdays = F.filter(span, lambda d: ~F.dayofweek(d).isin(1, 7))
    return F.element_at(weekdays, n)


def delay_minutes(scheduled: Column | str, actual: Column | str) -> Column:
    """round((actual - scheduled) / 60s) in minutes; null-safe."""
    s, a = _c(scheduled), _c(actual)
    return F.round((a.cast("double") - s.cast("double")) / 60).cast("long")


def flight_duration_hours(dep: Column | str, arr: Column | str) -> Column:
    """(arr-dep) hours; null when arr <= dep (invalid, per reference)."""
    d, a = _c(dep), _c(arr)
    hours = (a.cast("double") - d.cast("double")) / 3600
    return F.when(a > d, F.round(hours, 2))
