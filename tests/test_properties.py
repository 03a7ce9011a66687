"""Property-based tests (Hypothesis) for the cleaning layer — SURVEY §5.4:

  * partition property: clean ∪ quarantine == input, disjoint, for every
    cleaner on arbitrary dirty input; no clean row fails a check (a null
    check included) and every quarantined row names the rule it failed
  * idempotence: re-cleaning already-clean rows quarantines nothing and
    changes nothing
  * money parsing: round-trips well-formed currency strings, nulls garbage
  * date parsing: every supported format normalizes to the same ISO day;
    garbage → null

One Spark job per example batch (examples are whole row-lists, so each
property runs a handful of jobs, not hundreds).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from date_warehouse___airline_project_spark.functions.dates import to_standard_date
from date_warehouse___airline_project_spark.functions.math_fns import parse_money
from date_warehouse___airline_project_spark.pipelines.cleaners import (
    clean_airlines,
    clean_transactions,
)

SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def split(tagged):
    """(clean, quarantine) of a cleaner's relation: the rows with no
    reason, without the reason column, and the rest."""
    reason = F.col("quarantine_reason")
    return tagged.filter(reason.isNull()).drop(reason), tagged.filter(reason.isNotNull())


def reasons(quar) -> set:
    return {r[0] for r in quar.select("quarantine_reason").distinct().collect()}


dirty_text = st.one_of(
    st.text(
        alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd", "Zs"), max_codepoint=127),
        max_size=12,
    ),
    st.just(""),
    st.none(),
    st.sampled_from(["AA", "JFK", "4A", "40001", "None", "nan", "Star Alliance"]),
)


@given(
    rows=st.lists(st.tuples(dirty_text, dirty_text, dirty_text), min_size=1, max_size=25)
)
@example(rows=[(None, "Some Air", "oneworld")])  # a null key, nothing else wrong
@settings(**SETTINGS)
def test_airlines_cleaner_partitions_input(spark, rows):
    df = spark.createDataFrame(
        rows, "airlinekey string, airlinename string, alliance string"
    )
    n = df.count()
    clean, quar = split(clean_airlines(df))
    nc, nq = clean.count(), quar.count()
    assert nc + nq == n  # partition: nothing lost, nothing duplicated
    # every clean row satisfies the declared invariants; a null is a violation
    ok = F.col("airlinekey").rlike("^[A-Z0-9]{2,3}$") & F.col("alliance").isin(
        "Oneworld", "SkyTeam", "Star Alliance", "None"
    )
    assert clean.filter(~F.coalesce(ok, F.lit(False))).count() == 0
    # every quarantined row names the rule it failed
    assert reasons(quar) <= {
        "invalid_airlinekey", "invalid_airlinename", "duplicate_airlinekey"
    }


def valid_or_dirty(*valid: str):
    """Values that pass the column's check mixed with dirty ones, so a row
    can fail on one null field alone."""
    return st.one_of(st.sampled_from(valid), dirty_text)


@given(
    rows=st.lists(
        st.tuples(
            valid_or_dirty("40001", "40002", "4AN"),
            valid_or_dirty("2023-01-10", "01/18/2023"),
            valid_or_dirty("P00101", "P00102"),
            valid_or_dirty("AA100", "DL200"),
            valid_or_dirty("$1,540.00", "10"),
        ),
        min_size=1,
        max_size=25,
    )
)
# no numeric id before the first row, so ffill leaves its id null
@example(rows=[("4AN", "2023-01-10", "P00101", "AA100", "10")])
@settings(**SETTINGS)
def test_transactions_cleaner_partitions_input(spark, rows):
    cols = ["transactionid", "transactiondate", "passengerid", "flightid", "ticketprice"]
    df = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in cols))
    n = df.count()
    clean, quar = split(clean_transactions(df))
    assert clean.count() + quar.count() == n
    assert set(clean.columns) == set(cols)
    assert set(quar.columns) == set(cols) | {"quarantine_reason"}
    # every clean row passes every check; a null is a failure
    ok = (
        F.col("transactionid").rlike(r"^4\d{4}$")
        & F.col("transactiondate").isNotNull()
        & F.col("passengerid").rlike(r"^P[0-8]\d{4}$")
        & F.col("flightid").rlike(r"^[A-Z]{1,2}\d{1,5}$")
    )
    assert clean.filter(~F.coalesce(ok, F.lit(False))).count() == 0
    # every quarantined row names the rule it failed
    assert reasons(quar) <= {
        "invalid_transactionid", "unparseable_date", "invalid_passengerid",
        "invalid_flightid", "duplicate_row", "duplicate_transactionid",
    }


def test_airlines_cleaner_idempotent_on_clean_rows(spark):
    rows = [("AA", "American Airlines", "Oneworld"), ("LH", "Lufthansa", "Star Alliance")]
    df = spark.createDataFrame(rows, ["airlinekey", "airlinename", "alliance"])
    clean1, quar1 = split(clean_airlines(df))
    assert quar1.count() == 0
    clean2, quar2 = split(clean_airlines(clean1))
    assert quar2.count() == 0
    assert sorted(map(tuple, clean1.collect())) == sorted(map(tuple, clean2.collect()))


@given(
    amounts=st.lists(
        st.decimals(min_value=0, max_value=99999, places=2).map(lambda d: f"${d:,}"),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_parse_money_roundtrip(spark, amounts):
    df = spark.createDataFrame([(a,) for a in amounts], ["m"])
    out = df.select(parse_money(F.col("m")).alias("v")).collect()
    want = [float(a.replace("$", "").replace(",", "")) for a in amounts]
    assert [r.v for r in out] == pytest.approx(want)


def test_parse_money_nulls_garbage(spark):
    df = spark.createDataFrame([("abc",), ("",), ("$",), ("1.2.3",)], ["m"])
    assert [r.v for r in df.select(parse_money(F.col("m")).alias("v")).collect()] == [
        None,
        None,
        None,
        None,
    ]


@given(
    days=st.lists(
        # 4-digit years only: Spark's strict yyyy pattern rejects 3-digit
        # years, and the reference's format list assumes modern dates
        st.dates(min_value=__import__("datetime").date(1000, 1, 1)),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_multi_format_dates_agree(spark, days):
    fmts = ["%Y-%m-%d", "%d/%m/%Y", "%Y/%m/%d", "%d-%m-%Y"]
    rows = [tuple(d.strftime(f) for f in fmts) + ("garbage",) for d in days]
    df = spark.createDataFrame(rows, ["f1", "f2", "f3", "f4", "junk"])
    out = df.select(
        *[F.date_format(to_standard_date(c), "yyyy-MM-dd").alias(c) for c in ("f1", "f2", "f3", "f4")],
        to_standard_date("junk").alias("junk"),
    ).collect()
    for d, r in zip(days, out):
        iso = d.strftime("%Y-%m-%d")
        assert r.f1 == iso
        # dd/MM and dd-MM formats are ambiguous for day ≤ 12 (the parser
        # tries ISO-like formats first, like the reference); all four must
        # at least parse to SOME valid day
        assert r.f2 is not None and r.f3 == iso and r.f4 is not None
        assert r.junk is None


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(
                whitelist_categories=("Lu", "Ll", "Nd", "Zs"), max_codepoint=127
            ),
            max_size=400,
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(**SETTINGS)
def test_sliding_chunk_invariants(spark, texts):
    """doc_sliding_chunks invariants on arbitrary text: n_chunks is exactly
    ceil-by-stride of the token count, every doc with >=1 token appears
    exactly once, and a single-chunk doc has first_hash == last_hash."""
    import math

    from date_warehouse___airline_project_spark.plans import REGISTRY, load_all

    load_all()
    rows = [(i * 7, t) for i, t in enumerate(texts)]  # ids satisfy %7==0
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df = df.withColumn("lang", F.lit("en")).withColumn("source", F.lit("t")).withColumn(
        "n_chars", F.length("text")
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "embeddings"):
            src = f"/root/testdata/sf0.001/{t}.parquet"
            os.symlink(src, os.path.join(d, f"{t}.parquet"))
        out = {r.doc_id: r for r in REGISTRY["doc_sliding_chunks"].fn(spark, d).collect()}

    for i, t in enumerate(texts):
        toks = t.split()
        doc_id = i * 7
        if not toks:
            assert doc_id not in out
            continue
        r = out[doc_id]
        assert r.n_tokens == len(toks)
        assert r.n_chunks == (len(toks) - 1) // 25 + 1
        if r.n_chunks == 1:
            assert r.first_chunk_hash == r.last_chunk_hash


@given(
    obs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),      # user (maps to %10==3)
            st.integers(min_value=0, max_value=20),     # day offset
            st.floats(min_value=-100, max_value=100, allow_nan=False),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_gapfill_ffill_invariants(spark, obs):
    """timeseries_gapfill_ffill invariants: the calendar is dense per user
    (min..max day, no holes), every observed day keeps an observed value,
    and filled_value equals the latest observed value at or before the day."""
    import datetime
    import os
    import tempfile

    from date_warehouse___airline_project_spark.plans import REGISTRY, load_all

    load_all()
    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        (i, base + datetime.timedelta(days=day), 3 + 10 * u, "view", float(v), "{}")
        for i, (u, day, v) in enumerate(obs)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "documents", "embeddings"):
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet", os.path.join(d, f"{t}.parquet"))
        got = REGISTRY["timeseries_gapfill_ffill"].fn(spark, d).collect()

    # reference model: last value of the max-event_id event per (user, day)
    daily = {}
    for i, (u, day, v) in enumerate(obs):
        key = (3 + 10 * u, day)
        if key not in daily or i > daily[key][0]:
            daily[key] = (i, float(v))
    by_user = {}
    for r in got:
        by_user.setdefault(r.user_id, []).append(r)
    users = {3 + 10 * u for u, _, _ in obs}
    assert set(by_user) == users
    for uid, rows_u in by_user.items():
        days = [datetime.date.fromisoformat(r.day) for r in rows_u]
        assert days == sorted(days)
        assert (days[-1] - days[0]).days + 1 == len(days)  # dense, no holes
        last = None
        for r, day in zip(rows_u, days):
            off = (day - base.date()).days
            if (uid, off) in daily:
                assert r.observed and r.filled_value == daily[(uid, off)][1]
                last = daily[(uid, off)][1]
            else:
                assert not r.observed and r.filled_value == last


@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                whitelist_categories=("Lu", "Ll", "Nd", "Zs"), max_codepoint=127
            ),
            min_size=1,
            max_size=20,
        ),
        min_size=1,
        max_size=6,
        unique=True,
    )
)
@settings(**SETTINGS)
def test_wratio_bounds_and_dominance(values):
    """WRatio invariants on arbitrary ASCII strings: scores are within
    [0, 100]; an exact dim member always scores 100; and wratio never
    scores BELOW the plain levenshtein ratio for the same pair (it is a
    max over components that includes the base ratio)."""
    from date_warehouse___airline_project_spark.operators.fuzzy import (
        _py_sim,
        _py_wratio,
    )

    for va in values:
        for vb in values:
            # the plan's upper(trim(...)) — Spark's trim strips spaces only
            a, b = va.strip(" ").upper(), vb.strip(" ").upper()
            w, base = _py_wratio(a, b), _py_sim(a, b)
            assert -1e-9 <= w <= 100 + 1e-9, (va, vb, w)
            assert w >= base - 1e-9, (va, vb, w, base)
            if va.strip().upper() == vb.strip().upper():
                assert abs(w - 100.0) < 1e-9


def test_pareto_frontier_exactness_properties(spark):
    # Soundness: no frontier point is dominated by another frontier point.
    # Completeness: every non-frontier point is dominated by some frontier
    # point (newer-or-equal date AND cheaper-or-equal price, not identical).
    import date_warehouse___airline_project_spark.plans as plans

    plans.load_all()
    sf = "/root/testdata/sf0.001"
    front = plans.REGISTRY["pareto_frontier_orders"].fn(spark, sf).collect()
    fr = [(r.order_date, r.price, r.o_orderkey) for r in front]
    assert fr, "frontier must be non-empty on a non-empty table"

    def dominates(a, b):
        # a dominates b: a is newer-or-equal AND cheaper-or-equal, and
        # strictly better on at least one axis (key breaks exact ties)
        return (
            a[0] >= b[0]
            and a[1] <= b[1]
            and (a[0] > b[0] or a[1] < b[1] or a[2] < b[2])
        )

    for i, a in enumerate(fr):
        for j, b in enumerate(fr):
            if i != j:
                assert not dominates(a, b), (a, b)

    from pyspark.sql import functions as F

    allpts = [
        (r.d, float(r.p), r.k)
        for r in spark.read.parquet(f"{sf}/orders.parquet")
        .select(
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
            F.col("o_orderkey").alias("k"),
        )
        .collect()
    ]
    fset = set(fr)
    for p in allpts:
        if p in fset:
            continue
        assert any(dominates(f, p) for f in fr), p


def test_weighted_sample_prefers_heavy_docs(spark):
    # The min-of-w-hashes draw must bias toward high-weight docs: the
    # sample's mean token weight should clearly exceed the corpus mean
    # (ratio of expectations ~ E[w^2]/E[w]^2 > 1 for non-degenerate w).
    import date_warehouse___airline_project_spark.plans as plans
    from pyspark.sql import functions as F

    plans.load_all()
    sf = "/root/testdata/sf0.01"
    sample = plans.REGISTRY["doc_weighted_sample_topk"].fn(spark, sf).collect()
    assert len(sample) == 100
    sample_mean = sum(r.weight for r in sample) / len(sample)
    corpus_mean = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select(
            F.greatest(
                F.size(F.regexp_extract_all("text", F.lit(r"\S+"), F.lit(0))),
                F.lit(1),
            ).alias("w")
        )
        .agg(F.avg("w"))
        .collect()[0][0]
    )
    assert sample_mean > corpus_mean * 1.05, (sample_mean, corpus_mean)


def test_float_sensitive_queries_invariant_to_shuffle_partitioning(spark):
    # The decimal-exact-sum claims (Lloyd means, regression sums) promise
    # results identical under ANY partitioning/merge order. Pin it: run at
    # 32 and at 7 shuffle partitions with caches cleared and diff rows
    # exactly (floats bit-compared via repr).
    import date_warehouse___airline_project_spark.plans as plans
    from date_warehouse___airline_project_spark.operators import similarity as sim
    from date_warehouse___airline_project_spark.operators.text_dedup import (
        clear_derived_cache,
    )

    plans.load_all()
    sf = "/root/testdata/sf0.001"
    names = ["emb_ivf_trained_topk", "linear_regression_exact", "emb_semdedup_prune"]

    def run_all():
        clear_derived_cache()
        while sim._KMEANS_MEMO:
            _, df = sim._KMEANS_MEMO.popitem()
            df.unpersist()
        return {
            n: [tuple(map(repr, r)) for r in plans.REGISTRY[n].fn(spark, sf).collect()]
            for n in names
        }

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        at32 = run_all()
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        at7 = run_all()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    for n in names:
        assert at32[n] == at7[n], n


@given(
    st.floats(min_value=0.01, max_value=0.99),
    st.floats(min_value=0.01, max_value=0.99),
    st.integers(min_value=1, max_value=8),
    st.integers(min_value=1, max_value=8),
)
def test_lsh_collision_curve_properties(s1, s2, bands, rows):
    from date_warehouse___airline_project_spark.functions.lsh_tuning import (
        collision_probability,
        curve_midpoint,
    )

    # monotone in similarity
    lo, hi = sorted([s1, s2])
    assert collision_probability(lo, bands, rows) <= collision_probability(
        hi, bands, rows
    ) + 1e-12
    # the exact 0.5-crossing s = (1 - 0.5^(1/b))^(1/r) really crosses 0.5;
    # curve_midpoint is the textbook approximation of it (loose at b=1)
    exact = (1.0 - 0.5 ** (1.0 / bands)) ** (1.0 / rows)
    assert abs(collision_probability(exact, bands, rows) - 0.5) < 1e-9
    if bands >= 2:
        assert abs(curve_midpoint(bands, rows) - exact) < 0.35


def test_lsh_params_factors_and_recall_bias():
    from date_warehouse___airline_project_spark.functions.lsh_tuning import (
        curve_midpoint,
        lsh_params,
    )

    b, r = lsh_params(0.5, 16)
    assert b * r == 16
    # chosen curve sits at-or-below the threshold (recall bias)
    assert curve_midpoint(b, r) <= 0.5


# ---------------------------------------------------------------------------
# ffill carry-map repair: partitioning-invariance (SURVEY §7 determinism)
# ---------------------------------------------------------------------------

def _ffill_reference(ids: list[str | None]) -> list[str | None]:
    """Single-pass Python oracle of the reference semantics
    (cleaning.py:554-570): invalid id -> last valid numeric id so far + 1,
    null if no valid id seen yet."""
    out, last = [], None
    for v in ids:
        if v is not None and v.isdigit():
            out.append(v)
            last = int(v)
        else:
            out.append(str(last + 1) if last is not None else None)
    return out


@given(
    ids=st.lists(
        st.one_of(
            st.integers(min_value=0, max_value=99999).map(str),
            st.sampled_from(["4AN", "", "x", "None"]),
            st.none(),
        ),
        min_size=1,
        max_size=60,
    ),
    nparts=st.sampled_from([1, 7, 32]),
)
@settings(**SETTINGS)
def test_ffill_repair_partitioning_invariant(spark, ids, nparts):
    # The two-pass carry-map ffill must produce the single-partition
    # reference answer under ADVERSARIAL physical partitioning: more
    # partitions than rows (empty partitions), partitions that contain
    # only invalid ids, and a leading run with no valid id yet. Ingest
    # order is pre-assigned, then the data is range-partitioned on it
    # (the operator's contract: partition index order == ingest order,
    # exactly what monotonically_increasing_id gives a file scan).
    from date_warehouse___airline_project_spark.operators.order import (
        INGEST_COL,
        ffill_repair_ids,
    )

    rows = [(i, v) for i, v in enumerate(ids)]
    df = spark.createDataFrame(rows, f"{INGEST_COL} long, tid string")
    df = df.repartitionByRange(nparts, F.col(INGEST_COL))
    got = {
        r[INGEST_COL]: r["tid"]
        for r in ffill_repair_ids(df, "tid").collect()
    }
    want = _ffill_reference([v if v is None else str(v) for v in ids])
    assert [got[i] for i in range(len(ids))] == want


def test_ffill_repair_all_invalid_and_empty_partitions(spark):
    # Deterministic pinned case: partition 0 all-invalid (carry stays
    # null -> stays null), a valid id appears mid-stream, later
    # all-invalid partitions carry the LAST valid id across several
    # partition boundaries, and nparts > rows leaves empty partitions.
    from date_warehouse___airline_project_spark.operators.order import (
        INGEST_COL,
        ffill_repair_ids,
    )

    ids = ["x", None, "100", "bad", "", "7", "y", "z", "q"]
    df = spark.createDataFrame(
        list(enumerate(ids)), f"{INGEST_COL} long, tid string"
    ).repartitionByRange(32, F.col(INGEST_COL))
    got = {r[INGEST_COL]: r["tid"] for r in ffill_repair_ids(df, "tid").collect()}
    assert [got[i] for i in range(len(ids))] == [
        None, None, "100", "101", "101", "7", "8", "8", "8"
    ]


# ---------------------------------------------------------------------------
# greedy_keep: fixpoint equals the sequential greedy reference
# ---------------------------------------------------------------------------

def _greedy_reference(n_nodes: int, edges: list[tuple[int, int]]) -> set[int]:
    """Sequential greedy-by-id MIS: process ids ascending, keep iff no
    smaller kept neighbor — the definitionally-correct (but inherently
    serial) form the distributed fixpoint must reproduce."""
    nbrs: dict[int, set[int]] = {}
    for a, b in edges:
        nbrs.setdefault(b, set()).add(a)
        nbrs.setdefault(a, set()).add(b)
    kept: set[int] = set()
    for v in range(n_nodes):
        if not any(u < v and u in kept for u in nbrs.get(v, ())):
            kept.add(v)
    return kept


@given(
    edge_picks=st.lists(
        st.tuples(st.integers(0, 19), st.integers(0, 19)), max_size=40
    ),
)
@settings(**SETTINGS)
def test_greedy_keep_matches_sequential_reference(spark, edge_picks):
    # Random graphs over 20 nodes, including chains and odd cycles — the
    # shapes where parallel-round resolution could diverge from the
    # sequential rule if the fixpoint conditions were wrong.
    from date_warehouse___airline_project_spark.operators.text_dedup import (
        greedy_keep,
    )

    n = 20
    edges = sorted({(min(a, b), max(a, b)) for a, b in edge_picks if a != b})
    universe = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        edges or [(-1, -2)], "doc_a long, doc_b long"
    )
    if not edges:
        pairs = pairs.limit(0)
    got = {
        r.doc_id
        for r in greedy_keep(universe, pairs, "doc_id").filter(F.col("kept")).collect()
    }
    assert got == _greedy_reference(n, edges)


def test_greedy_keep_deep_chain(spark):
    # A 12-long path 0-1-2-...-11 needs 12 dependency rounds in the worst
    # case framing; greedy keeps the even nodes. Pins that the fixpoint
    # survives chains far deeper than clique-like near-dup graphs (and
    # that the oracle's 16 unrolled rounds has margin).
    from date_warehouse___airline_project_spark.operators.text_dedup import (
        greedy_keep,
    )

    n = 12
    edges = [(i, i + 1) for i in range(n - 1)]
    universe = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r.doc_id
        for r in greedy_keep(universe, pairs, "doc_id").filter(F.col("kept")).collect()
    }
    assert got == {i for i in range(n) if i % 2 == 0}


# ---------------------------------------------------------------------------
# Mining / statistics invariants (R33–R43)
# ---------------------------------------------------------------------------

money = st.floats(min_value=1.0, max_value=500000.0, allow_nan=False, allow_infinity=False)


@given(vals=st.lists(money, min_size=5, max_size=60))
@settings(**SETTINGS)
def test_histogram_quantile_within_one_bin_of_exact(spark, vals):
    # The equi-width histogram's interpolated quantile can never be more
    # than one bin width away from the exact percentile_disc value.
    from date_warehouse___airline_project_spark.plans.sketches import (
        histogram_quantiles,
    )

    binw = 2000.0
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    counts = (
        df.select(F.floor(F.col("v") / binw).cast("bigint").alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    est = {
        r.p: r.est_q
        for r in histogram_quantiles(spark, counts, [0.5, 0.9], binw).collect()
    }
    exact = df.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)").alias("e50"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY v)").alias("e90"),
    ).collect()[0]
    assert abs(est[0.5] - exact.e50) <= binw
    assert abs(est[0.9] - exact.e90) <= binw


@given(vals=st.lists(money, min_size=1, max_size=40), splits=st.integers(1, 4))
@settings(**SETTINGS)
def test_histogram_merge_is_order_and_split_invariant(spark, vals, splits):
    # Folding the stream's histogram state over ANY partition of the
    # input equals the single-pass histogram — the mergeability claim
    # behind both the drift monitor and the quantile sketch.
    from date_warehouse___airline_project_spark.streaming.drift_stream import (
        merge_bins,
        psi_bin_counts,
    )

    whole = {
        r.bin: r.cnt
        for r in psi_bin_counts(
            spark.createDataFrame([(v,) for v in vals], "v double"), "v"
        ).collect()
    }
    size = max(1, len(vals) // splits)
    chunks = [vals[i : i + size] for i in range(0, len(vals), size)]
    state = None
    for chunk in reversed(chunks):  # order must not matter
        batch = psi_bin_counts(
            spark.createDataFrame([(v,) for v in chunk], "v double"), "v"
        )
        state = batch if state is None else merge_bins(state, batch)
    folded = {r.bin: r.cnt for r in state.collect()}
    assert folded == whole


def test_snapshot_diff_counts_are_consistent(spark):
    # added + changed + unchanged = |new|; removed + changed + unchanged
    # = |old| — the reconciliation identity on the real table.
    from date_warehouse___airline_project_spark.plans import REGISTRY, load_all

    load_all()
    sf = "/root/testdata/sf0.001"
    rows = {
        r.change_type: r.n
        for r in REGISTRY["orders_snapshot_diff"].fn(spark, sf).collect()
    }
    from date_warehouse___airline_project_spark.sources.catalog import load_table

    o = load_table(spark, sf, "orders")
    n_old = o.filter(F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp")).count()
    n_new_kept = o.filter(
        (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderkey") % 101 != 0)
    ).count()
    n_inserted = o.filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-09-01").cast("timestamp"))
    ).count()
    assert rows.get("removed", 0) + rows.get("changed", 0) + rows.get("unchanged", 0) == n_old
    assert rows.get("added", 0) == n_inserted
    assert rows.get("changed", 0) + rows.get("unchanged", 0) == n_new_kept


def test_ewma_of_constant_series_is_the_constant(spark):
    # EWMA is a convex combination: a constant daily series must smooth
    # to itself (up to the per-term 6-decimal rounding, which drifts the
    # weighted sum by at most ~1e-4 over the 28-term horizon).
    from date_warehouse___airline_project_spark.plans.mining import (
        ewma_daily_revenue,
    )
    import datetime

    rows = [
        (datetime.datetime(1995, 1, 1) + datetime.timedelta(days=i), 100.0)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "o_orderdate timestamp, o_totalprice double")
    import date_warehouse___airline_project_spark.plans.mining as mining
    import date_warehouse___airline_project_spark.sources.catalog as catalog

    # run the registry plan against the synthetic table via a monkeypatched loader
    orig = mining.load_table
    mining.load_table = lambda s, d, n: df if n == "orders" else orig(s, d, n)
    try:
        out = ewma_daily_revenue(spark, "unused").collect()
    finally:
        mining.load_table = orig
    assert all(abs(r.ewma_28d - 100.0) < 1e-3 for r in out)


# ---------------------------------------------------------------------------
# incremental-release equality theorem (plans/training_data.py): under the
# append-only doc_id invariant, folding any suffix batch against the
# persisted prefix state reproduces the full-corpus release EXACTLY. The
# tiny vocabulary forces heavy exact/paragraph/span collisions — the
# regime where keeper semantics could diverge if the fold were wrong.
# ---------------------------------------------------------------------------

_REL_WORDS = ["aa", "bb", "cc", "dd"]

_rel_doc = st.lists(
    st.sampled_from(_REL_WORDS), min_size=0, max_size=40
).map(" ".join)


@given(
    texts=st.lists(_rel_doc, min_size=4, max_size=18),
    split_frac=st.sampled_from([0.3, 0.5, 0.8]),
)
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_incremental_release_equals_full_property(spark, texts, split_frac, tmp_path_factory):
    from date_warehouse___airline_project_spark.plans.training_data import (
        _assignment_of,
        _release_docs,
        _release_manifest_of,
        incremental_release_manifest,
        write_release_state,
    )

    rows = [(i, t, "src%d" % (i % 3)) for i, t in enumerate(texts)]
    d = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    t = max(1, int(len(rows) * split_frac))
    state = str(tmp_path_factory.mktemp("relprop"))
    write_release_state(d.filter(F.col("doc_id") < t), state)
    inc = incremental_release_manifest(
        spark, state, d.filter(F.col("doc_id") >= t)
    )
    full = _release_manifest_of(_assignment_of(_release_docs(d)))
    assert sorted(tuple(r) for r in inc.collect()) == sorted(
        tuple(r) for r in full.collect()
    )
