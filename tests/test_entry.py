"""Driver-contract smoke tests: entry(), queries(), oracle_sql()."""

from __future__ import annotations

import duckdb
import pytest

from conftest import SF_SMOKE


def test_entry_runs(spark):
    import __spark_entry__ as mod

    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_queries_and_oracles_aligned():
    import __spark_entry__ as mod

    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert qs, "no queries registered"
    assert set(oracles) <= set(qs)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMOKE}/{t}.parquet')")
    return con


def test_all_queries_match_oracle_smoke(spark, duck):
    """Full oracle sweep at sf0.001 — the same comparison the driver runs."""
    import __spark_entry__ as mod
    from tools.oracle_check import compare

    qs = mod.queries()
    oracles = mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        sdf = fn(spark, SF_SMOKE).toPandas()
        if name not in oracles:
            assert len(sdf) >= 0
            continue
        odf = duck.sql(oracles[name]).df()
        problems = compare(name, sdf, odf)
        if problems:
            failures.append((name, problems))
    assert not failures, failures


def test_compare_flags_int_vs_float_dtype_class(duck):
    """Regression for the r02 driver-hash failures (doc_sequence_packing
    et al.): DuckDB SUM(BIGINT)->HUGEINT comes back float64, values equal
    numerically, but the driver's canonical hash formats 1234 vs 1234.0
    differently. compare() must flag the dtype-class mismatch instead of
    passing on numeric equality — proven against the literal pre-fix
    oracle shape (uncast SUM over a BIGINT column)."""
    import pandas as pd

    from tools.oracle_check import compare, dtype_class

    prefix_oracle = duck.sql(
        """
        SELECT source,
               COUNT(*) AS n_docs,
               SUM(CAST(LENGTH(regexp_extract_all(text, '\\S+')) AS BIGINT))
                   AS pack_tokens
        FROM documents GROUP BY source ORDER BY source
        """
    ).df()
    assert dtype_class(prefix_oracle["pack_tokens"]) == "float"  # the landmine
    spark_shaped = prefix_oracle.copy()
    spark_shaped["pack_tokens"] = spark_shaped["pack_tokens"].astype("int64")
    problems = compare("pre_fix_packing", spark_shaped, prefix_oracle)
    assert any("dtype class differs" in p for p in problems), problems
    # and the CAST fix clears it
    fixed = prefix_oracle.copy()
    fixed["pack_tokens"] = fixed["pack_tokens"].astype("int64")
    assert compare("post_fix_packing", spark_shaped, fixed) == []


def test_window_composition_is_mechanical():
    """Ordering invariants of the derived (not hand-maintained) window:
    re-certs lead, never-certified queries follow in registry order,
    and the certified remainder rotates OLDEST-GREEN-FIRST (bounded
    certification age — the window's spare slots re-oracle the stalest
    greens each round). Uncertified queries beyond the driver's 50-query
    window are NOT driver-checked this round (they carry only local
    sf0.001/sf0.01 verification); the staged-overflow checks below
    assert they provably DRAIN — each overflow entry must be one the
    next driver run can resolve — rather than pretending they all fit."""
    import __spark_entry__ as m

    names = set(m.plans.REGISTRY)
    recert = m._recert_list()
    assert all(n in names for n in recert), "recert_list has unknown names"
    ordered = list(m.queries())
    assert ordered[: len(recert)] == recert
    green_rounds = m._driver_green_rounds()
    certified = (set(green_rounds) - set(recert)) & names
    uncert = [n for n in ordered if n not in certified]
    # uncertified queries form a contiguous prefix ...
    assert ordered[: len(uncert)] == uncert
    # ... and any overflow beyond the 50-query window provably DRAINS.
    # (The r11 form of this check — overflow ⊆ recert ∪ never-green —
    # was a tautology: uncert is DEFINED as that union. Replaced per the
    # r11 ADVICE with the live invariant.) A recert entry drains iff its
    # resolving_round exceeds the query's last green round: carry_over()
    # removes an entry as soon as a driver green lands in a round >= its
    # resolving_round, so an entry with resolving_round <= last-green is
    # one a recert re-run would have already dropped — a stale entry
    # that would occupy window slots forever without ever resolving.
    # Never-green names need no round bookkeeping (any future green
    # certifies them). Both kinds sit at the FRONT of the ordering
    # (contiguous-prefix assert above), so overflow rolls into the next
    # round's window mechanically as the backlog drains.
    import json as _json
    import os as _os

    recert_path = _os.path.join(_os.path.dirname(m.__file__), "tools", "recert_list.json")
    with open(recert_path) as f:
        recert_rounds = _json.load(f)
    if isinstance(recert_rounds, list):  # legacy list form: no round info
        recert_rounds = {}
    stale = [
        n
        for n, rnd in recert_rounds.items()
        if n in green_rounds and rnd <= green_rounds[n]
    ]
    assert stale == [], (
        f"recert entries already resolved by a driver green in a round >= "
        f"their resolving_round — run tools/recert.py to drain them: {stale}"
    )
    assert len(uncert) <= 85, (
        f"{len(uncert)} uncertified queries — runaway recert growth: "
        f"{uncert[50:]}"
    )
    # certified tail is monotone in last-green round (oldest first)
    tail_rounds = [green_rounds[n] for n in ordered[len(uncert):]]
    assert tail_rounds == sorted(tail_rounds)


def test_recert_backlog_fits_the_window():
    """Certification debt is a per-round budget: every name in
    tools/recert_list.json must fit the driver's window, or some
    fingerprint-moved query ships certified only by local sweeps."""
    import __spark_entry__ as m

    backlog = m._recert_list()
    assert len(backlog) <= m.DRIVER_WINDOW, (
        f"{len(backlog)} names to re-certify against a "
        f"{m.DRIVER_WINDOW}-query window"
    )


def test_recert_diff_flags_doctored_fingerprint():
    """A behavior change MUST re-enter the window: doctoring one stored
    hash makes diff() (and therefore recert_list) pick the query up."""
    import json

    from tools import recert

    with open(recert.HASHES_PATH) as f:
        stored = json.load(f)
    stored.pop(recert.VERSION_KEY, None)  # metadata, not a query
    assert stored, "plan_hashes.json missing or empty"
    victim = sorted(stored)[0]
    doctored = dict(stored)
    doctored[victim] = "0" * 64
    assert victim in recert.diff(stored, doctored)
    assert recert.diff(stored, dict(stored)) == []


def test_recert_carry_over_semantics():
    """Names stay listed until a green row lands in a round >= the one
    that resolves them; greened names drop; deregistered names drop; a
    green row that PREDATES the listing does NOT drop the entry (the
    re-run-after-rebaseline hazard); legacy list-form input upgrades."""
    from tools import recert

    out = recert.carry_over(
        old_recert={
            "stale_a": 5,  # never green -> stays
            "regreened_b": 5,  # green in r5 -> drops
            "gone_c": 5,  # deregistered -> drops
            "pregreen_e": 5,  # green only in r4 (< 5) -> STAYS
        },
        changed=["new_d"],
        greens={4: {"pregreen_e", "stale_a"}, 5: {"regreened_b"}},
        registry={"stale_a", "regreened_b", "new_d", "pregreen_e"},
        entry_round=6,
    )
    assert out == {"new_d": 6, "pregreen_e": 5, "stale_a": 5}

    # legacy list form: every entry adopts entry_round
    out2 = recert.carry_over(
        old_recert=["stale_a"],
        changed=[],
        greens={4: {"stale_a"}},
        registry={"stale_a"},
        entry_round=5,
    )
    assert out2 == {"stale_a": 5}


def test_plan_hashes_cover_registry():
    """Every registry query has a committed fingerprint (a new query with
    no baseline can never be flagged as drifted later)."""
    import json

    import __spark_entry__ as m
    from tools import recert

    with open(recert.HASHES_PATH) as f:
        stored = json.load(f)
    missing = sorted(set(m.plans.REGISTRY) - set(stored))
    assert missing == [], f"queries without fingerprint baseline: {missing}"
    bad = sorted(n for n, h in stored.items() if h.startswith("ERROR:"))
    assert bad == [], f"fingerprint errors committed: {bad}"


def test_fingerprints_deterministic_across_fresh_sessions():
    """Two FRESH interpreter+Spark sessions must produce identical
    fingerprints (the normalizers exist exactly for session-varying state:
    expression IDs, HOF lambda counters, /tmp paths, LogicalRDD ids).
    Enforces the determinism contract recert.py's baseline diffing rests
    on, over a representative trio: a relational plan, a HOF-lambda-heavy
    plan, and a driver-side-fold plan (LocalRelation + Python sources)."""
    import subprocess
    import sys as _sys

    prog = r"""
import json, sys
sys.path.insert(0, "/root/repo")
from tools import recert
from date_warehouse___airline_project_spark import plans
from date_warehouse___airline_project_spark.session import get_spark
import os
os.environ["SPARK_GRAFT_PLAN_FINGERPRINT"] = str(os.getpid())
plans.load_all()
spark = get_spark("fp_determinism")
spark.conf.set("spark.sql.debug.maxToStringFields", "100000")
names = ["q1_pricing_summary", "simhash_dupes", "emb_mmr_diverse_topk"]
out = {n: recert.fingerprint_one(spark, plans.REGISTRY[n]) for n in names}
print("FPJSON:" + json.dumps(out, sort_keys=True))
"""

    def run_once() -> str:
        res = subprocess.run(
            [_sys.executable, "-c", prog],
            capture_output=True,
            text=True,
            timeout=600,
        )
        lines = [l for l in res.stdout.splitlines() if l.startswith("FPJSON:")]
        assert lines, f"fingerprint subprocess failed:\n{res.stderr[-2000:]}"
        return lines[-1]

    assert run_once() == run_once()


def test_fn_source_walk_resolves_function_local_imports():
    """v3 regression: a helper reached ONLY through a function-local
    import (``def q(...): from ..ops import helper``) must enter the
    fingerprint's source closure. The v2 global-name walk missed these —
    an edit to greedy_keep (reached only via local imports in
    doc_neardup_greedy_keep and the curation-v2 lane) fingerprinted as
    "0 changed" and would have silently stayed certified."""
    from date_warehouse___airline_project_spark import plans
    from tools import recert

    plans.load_all()
    src = recert._fn_sources(plans.REGISTRY["doc_neardup_greedy_keep"].fn)
    assert "def greedy_keep" in src
    assert "def sig_jaccard_pairs" in src
    v2acct = recert._fn_sources(plans.REGISTRY["doc_curation_accounting_v2"].fn)
    # the whole composed lane, two modules deep, all locally imported
    for helper in ("def batch_curate_v2", "def neardup_filter", "def gopher_gate"):
        assert helper in v2acct, helper
