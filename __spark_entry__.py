"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()`` /
``oracle_sql()`` expose every implemented operator from SURVEY.md §2 via
the package's plan registry (date_warehouse___airline_project_spark/plans/).

Certification bookkeeping is MECHANICAL (no hand-maintained lists):

  * a query is driver-certified iff it has a green row in any
    CORRECTNESS_r{N}.json next to this file — the driver's own output is
    the source of truth;
  * EXCEPT queries named in tools/recert_list.json: their plan or oracle
    fingerprint changed since the green row was recorded (tools/recert.py
    diffs sha256(normalized analyzed plan + oracle + fn source) against
    the committed tools/plan_hashes.json each round), so the old row
    certifies behavior that no longer exists and they re-enter the window.

The driver hash-checks the FIRST ``DRIVER_WINDOW`` (50) entries of
``queries()`` each round, so ordering is: re-certifications first, then
never-certified queries in registry order, then the certified remainder
ORDERED OLDEST-GREEN-FIRST (still registered, still bench'd). The
oldest-first tail bounds certification age: the window's spare slots
re-oracle the stalest greens every round (a query whose transitive source never changes would
otherwise stay green forever on one ancient row — an engine-version bump
could invalidate all of them with no signal), and a query re-certified
this round moves to the back of the rotation automatically because its
last-green round is now current.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from date_warehouse___airline_project_spark import plans

plans.load_all()

_HERE = os.path.dirname(os.path.abspath(__file__))
SMOKE_SF_DIR = "/root/testdata/sf0.001"
# The driver hash-checks this many leading entries of ``queries()``.
DRIVER_WINDOW = 50


def _round_num(path: str) -> int:
    """Round number of a CORRECTNESS_r{N}.json path (numeric, not
    lexicographic — r100 must sort after r99)."""
    import re

    m = re.search(r"_r(\d+)\.json$", path)
    return int(m.group(1)) if m else -1


def _driver_green_rounds() -> dict[str, int]:
    """``{name: last_green_round}`` for names whose MOST RECENT driver row
    is green (latest round wins) — the per-query certification age, read
    mechanically from the driver's own CORRECTNESS files.

    Green = no error, row counts match, and the value hash matches when an
    oracle was available (``hash_match`` is None for rows-only checks).
    A later red row revokes an earlier green one — a flaky or
    data-dependent regression must re-enter the window, not stay
    certified on the strength of a stale pass."""
    latest: dict[str, dict] = {}
    rounds: dict[str, int] = {}
    for path in sorted(
        glob.glob(os.path.join(_HERE, "CORRECTNESS_r*.json")), key=_round_num
    ):
        with open(path) as f:
            rows = json.load(f)
        latest.update(rows)
        for name in rows:
            rounds[name] = _round_num(path)
    return {
        name: rounds[name]
        for name, r in latest.items()
        if r.get("err") is None
        and r.get("rows_match")
        and r.get("hash_match") is not False
    }


def _recert_list() -> list[str]:
    """Queries whose fingerprint drifted since their last green row (see
    tools/recert.py); they are stale-certified and re-enter the window."""
    path = os.path.join(_HERE, "tools", "recert_list.json")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        data = json.load(f)
    # legacy list form or current {name: resolving_round} map
    return list(data)


def _ordered_names() -> list[str]:
    names = list(plans.REGISTRY)
    green_rounds = _driver_green_rounds()
    recert = [n for n in _recert_list() if n in plans.REGISTRY]
    certified = (set(green_rounds) - set(recert)) & set(names)
    fresh = [n for n in names if n not in certified and n not in recert]
    # oldest-certified first: the window's spare slots re-oracle the
    # stalest greens each round (bounded cert age); registry order
    # tiebreaks equal rounds deterministically
    reg_pos = {n: i for i, n in enumerate(names)}
    done = sorted(certified, key=lambda n: (green_rounds[n], reg_pos[n]))
    return recert + fresh + done


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shaped pricing summary) on sf0.001."""
    return plans.REGISTRY["q1_pricing_summary"].fn(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: plans.REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: plans.REGISTRY[name].oracle
        for name in _ordered_names()
        if plans.REGISTRY[name].oracle is not None
    }
