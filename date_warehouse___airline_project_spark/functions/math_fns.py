"""Numeric expressions.

Parity targets (reference): to-numeric coercion cleaning.py:566,574;
round/clip cleaning.py:576; haversine functions.py:93-108; currency
conversion functions.py:261-280; amount consistency functions.py:283-299;
refund functions.py:315-317; range check functions.py:339-349.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MONEY_CAP = 99999999.99  # DECIMAL(10,2) ceiling the reference clips to


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def to_numeric(col: Column | str) -> Column:
    """pd.to_numeric(errors='coerce') semantics: invalid → null."""
    return _c(col).try_cast("double")


def clip_money(col: Column | str, cap: float = MONEY_CAP) -> Column:
    """round(2) then clip to the DECIMAL(10,2) ceiling (null-propagating —
    Spark's ``least`` would otherwise swallow the null and return the cap)."""
    c = _c(col)
    return F.when(c.isNotNull(), F.least(F.round(c, 2), F.lit(cap)))


def parse_money(col: Column | str) -> Column:
    """'$1,540.00' → 1540.00 (strip symbols, coerce, round, clip)."""
    from .strings import strip_currency

    return clip_money(to_numeric(strip_currency(col)))


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance, R=6371 km."""
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) ** 2
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlon / 2) ** 2
    )
    return 2 * 6371.0 * F.atan2(F.sqrt(a), F.sqrt(1 - a))


def convert_currency(amount: Column, from_rate: Column, to_rate: Column) -> Column:
    """Convert via USD with per-currency USD rates (rates joined from a
    broadcast rates table — never a driver-side dict lookup)."""
    return amount / from_rate * to_rate


def amount_consistent(
    base: Column, taxes: Column, fees: Column, total: Column, tol: float = 0.01
) -> Column:
    return F.abs(base + taxes + fees - total) <= tol


def refund_amount(total: Column, penalty_pct: Column) -> Column:
    return F.greatest(F.lit(0.0), total * (1 - penalty_pct / 100))


def in_numeric_range(col: Column | str, lo: float, hi: float) -> Column:
    """Numeric-coercible and within [lo, hi]; non-numeric → false."""
    v = to_numeric(col)
    return v.isNotNull() & v.between(lo, hi)
