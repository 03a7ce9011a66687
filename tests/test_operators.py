"""Unit tests for the reusable operators (split/dedup/order/fuzzy/scd2/topk)."""

from __future__ import annotations

from pyspark.sql import functions as F

from date_warehouse___airline_project_spark.operators import (
    dedup_keep_first,
    duplicate_groups,
    ffill_repair_ids,
    fuzzy_correct,
    latest_per_key,
    scd2_merge,
    with_ingest_order,
    with_quarantine_reason,
)
from date_warehouse___airline_project_spark.operators.scd2 import scd2_init


def test_validity_split_partitions_input(spark):
    # the reason is the FIRST rule whose predicate is not true — a null
    # predicate counts as a failure — and null when every rule holds
    df = spark.createDataFrame(
        [("a", 1), ("b", None), ("c", 3), ("d", -4)], ["k", "v"]
    )
    tagged = with_quarantine_reason(df, [
        ("null_v", F.col("v").isNotNull()),
        ("negative_v", F.col("v") >= 0),
    ])
    assert tagged.columns == ["k", "v", "quarantine_reason"]
    got = {r["k"]: r["quarantine_reason"] for r in tagged.collect()}
    assert got == {"a": None, "b": "null_v", "c": None, "d": "negative_v"}
    # a null predicate fails its own rule
    only = with_quarantine_reason(df, [("negative_v", F.col("v") >= 0)])
    assert only.filter("k = 'b'").first()["quarantine_reason"] == "negative_v"
    # no rules: every row is clean
    assert with_quarantine_reason(df, []).filter("quarantine_reason IS NULL").count() == 4


def test_dedup_keep_first_in_ingest_order(spark):
    df = with_ingest_order(
        spark.createDataFrame(
            [("k1", "first"), ("k1", "second"), ("k2", "only")], ["k", "tag"]
        ).coalesce(1)
    )
    kept, dupes = dedup_keep_first(df, ["k"])
    assert {(r["k"], r["tag"]) for r in kept.collect()} == {("k1", "first"), ("k2", "only")}
    assert [(r["k"], r["tag"]) for r in dupes.collect()] == [("k1", "second")]


def test_duplicate_groups(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], ["k", "id"]
    )
    got = duplicate_groups(df, ["k"], "id").collect()
    assert len(got) == 1 and got[0]["k"] == "a" and got[0]["ids"] == [1, 2]


def test_ffill_repair_ids_matches_reference_semantics(spark):
    # 40001, BAD→40002, 40007, BAD→40008, BAD→40008 (consecutive invalids
    # share the carried id+1, pandas ffill semantics)
    rows = [("40001",), ("4AN",), ("40007",), ("4G4",), ("4GW",)]
    df = spark.createDataFrame(rows, ["transactionid"]).coalesce(1)
    got = [r["transactionid"] for r in
           ffill_repair_ids(df, "transactionid").orderBy("_ingest_order").collect()]
    assert got == ["40001", "40002", "40007", "40008", "40008"]


def test_ffill_repair_crosses_partitions(spark):
    rows = [(str(40000 + i),) for i in range(1, 9)]
    rows[6] = ("XXX",)  # row 7 invalid → previous valid is 40006 → 40007
    df = spark.createDataFrame(rows, ["transactionid"]).repartition(4)
    df = df.orderBy("transactionid")  # deterministic-ish spread
    out = ffill_repair_ids(df, "transactionid")
    vals = [r["transactionid"] for r in out.collect()]
    assert "XXX" not in vals
    assert all(v is not None and v.isdigit() for v in vals)


def test_ffill_repair_all_invalid_partition_gets_carry(spark):
    # Partition 1 contains ONLY invalid ids: its carry-in must come from
    # partition 0's last valid id, exercising the broadcast {pid: carry}
    # path for pids absent from the valid-rows aggregate.
    import pyspark.sql.functions as F_

    p0 = spark.createDataFrame([("100",), ("BAD",)], ["id"]).coalesce(1)
    p1 = spark.createDataFrame([("XXX",), ("YYY",)], ["id"]).coalesce(1)
    df = p0.unionAll(p1)  # union of two 1-partition dfs → pids 0 and 1
    out = ffill_repair_ids(df, "id").orderBy("_ingest_order").collect()
    assert [r["id"] for r in out] == ["100", "101", "101", "101"]


def test_ffill_repair_plan_uses_broadcast_carry(spark):
    # The carry-in map must enter the plan as a broadcast-joined relation,
    # not an O(#partitions) CaseWhen chain (Catalyst analysis blows up at
    # ~1e5 input splits otherwise).
    df = spark.createDataFrame([(str(i),) for i in range(20)], ["id"]).repartition(8)
    out = ffill_repair_ids(df, "id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_ffill_repair_one_partition_builds_without_a_job(spark, tmp_path):
    # A one-partition input (a small CSV upload) has no carry-in to
    # compute, so building the repaired relation runs no Spark job.
    path = tmp_path / "sales.csv"
    path.write_text("transactionid\n40001\n4AN\n40007\n4G4\n4GW\n")
    df = spark.read.option("header", True).csv(str(path))
    sc = spark.sparkContext
    sc.setJobGroup("ffill-one-partition", "build")
    try:
        out = ffill_repair_ids(df, "transactionid")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    assert len(sc.statusTracker().getJobIdsForGroup("ffill-one-partition")) == 0
    got = [r["transactionid"] for r in out.orderBy("_ingest_order").collect()]
    assert got == ["40001", "40002", "40007", "40008", "40008"]


def test_fuzzy_correct(spark):
    dim = spark.createDataFrame([("JFK",), ("LAX",), ("SFO",)], ["airportkey"])
    df = spark.createDataFrame([("JFX",), ("LAX",), ("ZZZ",)], ["code"])
    out = {r["code"] for r in fuzzy_correct(df, "code", dim, "airportkey", 60).collect()}
    assert "JFK" in out      # JFX → JFK (score 66.7 ≥ 60)
    assert "LAX" in out      # exact kept
    assert "ZZZ" in out      # nothing close enough → unchanged


def test_fuzzy_wratio_partial_ratio_divergence(spark):
    # The reference scores with fuzzywuzzy WRatio (cleaning.py:262-295),
    # which blends partial_ratio: a short dim code embedded in a longer
    # dirty value still matches. Pinned divergence case — plain levenshtein
    # ratio leaves "LAX INTERNATIONAL" unchanged (score 17.6 < 85), wratio
    # corrects it via the substring window (0.9 * 100 = 90 ≥ 85).
    dim = spark.createDataFrame([("LAX",), ("JFK",), ("SFO",)], ["airportkey"])
    df = spark.createDataFrame([("LAX INTERNATIONAL",), ("JFK",)], ["code"])

    lev = {r["code"] for r in fuzzy_correct(df, "code", dim, "airportkey", 85).collect()}
    assert "LAX INTERNATIONAL" in lev  # unchanged: no component reaches 85

    out = fuzzy_correct(df, "code", dim, "airportkey", 85, scorer="wratio")
    got = {r["code"]: r["code_fuzzy_score"] for r in out.collect()}
    assert set(got) == {"LAX", "JFK"}
    assert got["LAX"] == 90.0  # 0.9 * perfect partial window
    assert got["JFK"] == 100.0  # exact member still scores 100


def test_fuzzy_wratio_long_string_regime(spark):
    # Public WRatio drops the partial scale from 0.9 to 0.6 when one string
    # is >8x the other ("much much shorter" regime): a dim code embedded in
    # a very long dirty string scores 60 < 85 and stays UNCHANGED — the
    # reference leaves it for quarantine (cleaning.py:267). Just under the
    # regime boundary the 0.9 scale still corrects it.
    dim = spark.createDataFrame([("LAX",), ("JFK",)], ["airportkey"])
    df = spark.createDataFrame(
        [("LAX INTERNATIONAL AIRPORT",), ("LAX INTERNATIONAL",)], ["code"]
    )
    out = fuzzy_correct(df, "code", dim, "airportkey", 85, scorer="wratio")
    got = {r["code"]: r["code_fuzzy_score"] for r in out.collect()}
    # 25 chars / 3 = 8.33 > 8 → 0.6 * 100 = 60 < 85: unchanged, null score
    assert got["LAX INTERNATIONAL AIRPORT"] is None
    # 17 / 3 = 5.67 ≤ 8 → 0.9 * 100 = 90 ≥ 85: corrected
    assert "LAX" in got and got["LAX"] == 90.0


def _public_wratio(s1: str, s2: str) -> float:
    """Executable model of PUBLIC fuzzywuzzy WRatio (fuzz.py), built on
    stdlib difflib (fuzzywuzzy's SequenceMatcher backend): full_process →
    ratio / partial_ratio / token_sort / token_set blend with the 1.5
    try-partial gate and the 0.9/0.6 partial-scale regimes."""
    import difflib
    import re

    def full_process(s):
        return re.sub(r"(?ui)\W", " ", s).lower().strip()

    def ratio(a, b):
        return int(round(100 * difflib.SequenceMatcher(None, a, b).ratio()))

    def partial_ratio(a, b):
        shorter, longer = (a, b) if len(a) <= len(b) else (b, a)
        if not shorter:
            return 0
        blocks = difflib.SequenceMatcher(None, shorter, longer).get_matching_blocks()
        scores = []
        for blk in blocks:
            start = max(blk[1] - blk[0], 0)
            window = longer[start : start + len(shorter)]
            r = difflib.SequenceMatcher(None, shorter, window).ratio()
            if r > 0.995:
                return 100
            scores.append(r)
        return int(round(100 * max(scores)))

    def tsort(s):
        return " ".join(sorted(s.split()))

    def token_set(a, b, partial):
        ta, tb = set(a.split()), set(b.split())
        sect = " ".join(sorted(ta & tb))
        c1 = (sect + " " + " ".join(sorted(ta - tb))).strip()
        c2 = (sect + " " + " ".join(sorted(tb - ta))).strip()
        fn = partial_ratio if partial else ratio
        return max(fn(sect, c1), fn(sect, c2), fn(c1, c2))

    p1, p2 = full_process(s1), full_process(s2)
    if not p1 or not p2:
        return 0.0
    base = ratio(p1, p2)
    len_ratio = max(len(p1), len(p2)) / min(len(p1), len(p2))
    unbase, pscale = 0.95, (0.9 if len_ratio <= 8 else 0.6)
    if len_ratio >= 1.5:
        return max(
            base,
            partial_ratio(p1, p2) * pscale,
            partial_ratio(tsort(p1), tsort(p2)) * unbase * pscale,
            token_set(p1, p2, True) * unbase * pscale,
        )
    return max(
        base,
        ratio(tsort(p1), tsort(p2)) * unbase,
        token_set(p1, p2, False) * unbase,
    )


# (dirty, candidate) pairs shaped like the reference's dim-code correction.
_WRATIO_CORPUS = [
    # exact members
    ("BUILDING", "BUILDING"), ("AUTOMOBILE", "AUTOMOBILE"), ("JFK", "JFK"),
    ("HOUSEHOLD", "HOUSEHOLD"), ("MACHINERY", "MACHINERY"),
    # single deletion — base ratio carries it
    ("BULDING", "BUILDING"), ("AUTOMOBLE", "AUTOMOBILE"),
    ("FURNITUE", "FURNITURE"), ("MACHINRY", "MACHINERY"),
    ("HOUSEHLD", "HOUSEHOLD"), ("DELIVR", "DELIVER"),
    # single substitution
    ("BUILDINX", "BUILDING"), ("AUTOMOBILF", "AUTOMOBILE"),
    ("FURNITURA", "FURNITURE"), ("MACHINERX", "MACHINERY"),
    # short codes: too little signal, both leave unchanged
    ("JFX", "JFK"), ("LAS", "LAX"), ("SFX", "SFO"), ("QQQ", "JFK"),
    ("ZZZZZZZZ", "BUILDING"), ("XXXXX", "LAX"),
    # suffix noise — partial window carries it
    ("BUILDING DEPT", "BUILDING"), ("FURNITURE DIV", "FURNITURE"),
    ("MACHINERY GROUP", "MACHINERY"), ("HOUSEHOLD UNIT", "HOUSEHOLD"),
    ("AUTOMOBILE SECTION", "AUTOMOBILE"),
    # prefix noise
    ("DEPT BUILDING", "BUILDING"), ("THE FURNITURE", "FURNITURE"),
    # embedded code, moderate length ratio (0.9 regime)
    ("LAX INTERNATIONAL", "LAX"), ("JFK AIRPORT TERM", "JFK"),
    ("SFO BAY AREA HUB", "SFO"),
    # embedded code, extreme length ratio (> 8 → 0.6 regime, unchanged)
    ("LAX INTERNATIONAL AIRPORT", "LAX"),
    ("JFK INTERNATIONAL AIRPORT NY", "JFK"),
    ("SFO SAN FRANCISCO INTERNATIONAL", "SFO"),
    # token reorder — token_sort carries it
    ("SMITH JOHN", "JOHN SMITH"), ("DEPT BUILDING MAIN", "MAIN BUILDING DEPT"),
    ("AREA BAY SFO", "SFO BAY AREA"),
    # doubled char
    ("BUILDINNG", "BUILDING"), ("FURNIITURE", "FURNITURE"),
    ("AUTOMOOBILE", "AUTOMOBILE"),
    # two edits on a long word — near the threshold
    ("BULDNG", "BUILDING"), ("AUTMOBLE", "AUTOMOBILE"),
    ("FURNTRE", "FURNITURE"), ("MCHNERY", "MACHINERY"),
    # case/space normalization
    ("building", "BUILDING"), ("  BUILDING  ", "BUILDING"),
    ("furniture", "FURNITURE"),
    # unrelated words
    ("BUILDING", "FURNITURE"), ("AUTOMOBILE", "HOUSEHOLD"),
    ("MACHINERY", "AUTOMOBILE"),
]

# Pairs where levenshtein-similarity and difflib's 2M/T ratio legitimately
# land on opposite sides of 85 — enumerated, not hidden. Two deletions on
# an 8-10 char word is the canonical case: levenshtein charges 2/len
# (75-80), difflib's 2M/T credits the 6-8 matching chars twice (86-89).
_WRATIO_KNOWN_DIVERGENT: set[tuple[str, str]] = {
    ("BULDNG", "BUILDING"),
    ("AUTMOBLE", "AUTOMOBILE"),
    ("FURNTRE", "FURNITURE"),
    ("MCHNERY", "MACHINERY"),
}


def test_fuzzy_wratio_threshold_parity_corpus():
    # The native scorer is levenshtein-based, public WRatio is
    # difflib-based — exact score parity is impossible, but for the
    # dim-correction corpus both must fall on the SAME SIDE of the 85
    # correction threshold; divergences must be pinned, not silent.
    from date_warehouse___airline_project_spark.operators.fuzzy import _py_wratio

    mismatches = []
    for dirty, cand in _WRATIO_CORPUS:
        # the plan's upper(trim(...)) — Spark's trim strips spaces only
        native = _py_wratio(dirty.strip(" ").upper(), cand.strip(" ").upper())
        expect = _public_wratio(dirty, cand) >= 85
        got = native >= 85
        key = (dirty, cand)
        if (expect != got) != (key in _WRATIO_KNOWN_DIVERGENT):
            mismatches.append((key, round(_public_wratio(*key), 1), round(native, 1)))
    assert not mismatches, f"(pair, public, native): {mismatches}"


def test_fuzzy_wratio_kernel_equals_oracle_sql():
    # fuzzy_correct(scorer="wratio") scores pairs in a Python kernel
    # (_py_wratio); the fuzzy_wratio_correction oracle scores them with
    # its own DuckDB SQL. The two must be BIT-equal — the oracle rounds to
    # 6 dp, so any drift would flip rounded scores. Checked over the full
    # parity corpus (exact members, deletions, substitutions, suffix/
    # prefix noise, both partial regimes, token reorders, whitespace).
    import duckdb

    from date_warehouse___airline_project_spark.operators.fuzzy import _py_wratio
    from date_warehouse___airline_project_spark.plans.function_battery import (
        _WRATIO_SCORING_CTES,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE corpus (i INTEGER, dirty VARCHAR, cand VARCHAR)")
    con.executemany(
        "INSERT INTO corpus VALUES (?, ?, ?)",
        [(i, d, c) for i, (d, c) in enumerate(_WRATIO_CORPUS)],
    )
    rows = con.sql(
        f"""
        WITH pre AS (
          SELECT i AS c_custkey, dirty AS dirty_seg, cand AS seg,
                 upper(trim(dirty)) AS a, upper(trim(cand)) AS b
          FROM corpus),
        {_WRATIO_SCORING_CTES}
        SELECT p.dirty_seg, p.seg, p.a, p.b, s.score
        FROM scored s JOIN pre p USING (c_custkey)
        ORDER BY c_custkey
        """
    ).fetchall()
    assert len(rows) == len(_WRATIO_CORPUS)
    diffs = [
        (dirty, cand, score, _py_wratio(a, b))
        for dirty, cand, a, b, score in rows
        if _py_wratio(a, b) != score
    ]
    assert not diffs, f"(dirty, cand, oracle, python): {diffs}"


def test_fuzzy_wratio_short_strings_no_partial(spark):
    # Below the 1.5 length-ratio gate WRatio is max(base, 0.95*token_sort):
    # "JFX" vs "JFK" scores 66.7 either way — wratio must not inflate it.
    dim = spark.createDataFrame([("JFK",)], ["airportkey"])
    df = spark.createDataFrame([("JFX",)], ["code"])
    out = fuzzy_correct(df, "code", dim, "airportkey", 60, scorer="wratio").collect()
    assert out[0]["code"] == "JFK"
    assert abs(out[0]["code_fuzzy_score"] - 100 * (1 - 1 / 3)) < 1e-9


def test_latest_per_key(spark):
    df = spark.createDataFrame(
        [("f1", 1, "old"), ("f1", 2, "new"), ("f2", 5, "only")], ["k", "ts", "tag"]
    )
    got = {(r["k"], r["tag"]) for r in latest_per_key(df, ["k"], [F.desc("ts")]).collect()}
    assert got == {("f1", "new"), ("f2", "only")}


def test_scd2_merge_invariants(spark):
    b1 = spark.createDataFrame(
        [("BK1", "confirmed", 100.0), ("BK2", "pending", 50.0)],
        ["booking_reference", "status", "amount"],
    )
    dim = scd2_init(b1, "2026-01-01 00:00:00")

    # re-running the same batch is a no-op
    again = scd2_merge(dim, b1, ["booking_reference"], ["status", "amount"],
                       "2026-01-02 00:00:00")
    assert again.count() == 2
    assert again.filter(F.col("_is_current")).count() == 2

    # changed attribute closes old version and opens a new one
    b2 = spark.createDataFrame(
        [("BK1", "cancelled", 100.0), ("BK3", "confirmed", 75.0)],
        ["booking_reference", "status", "amount"],
    )
    merged = scd2_merge(dim, b2, ["booking_reference"], ["status", "amount"],
                        "2026-02-01 00:00:00")
    assert merged.count() == 4  # BK1 old+new, BK2, BK3
    cur = merged.filter(F.col("_is_current"))
    assert cur.count() == 3
    bk1 = merged.filter(F.col("booking_reference") == "BK1").orderBy("_valid_from").collect()
    assert [r["_is_current"] for r in bk1] == [False, True]
    assert bk1[0]["_valid_to"] is not None and bk1[1]["_valid_to"] is None
    # at most one current row per key
    per_key = cur.groupBy("booking_reference").count().agg(F.max("count")).first()[0]
    assert per_key == 1


def test_asof_join_backward(spark):
    from date_warehouse___airline_project_spark.operators.asof import asof_join_backward
    from datetime import datetime

    def t(s):
        return datetime.fromisoformat(s)

    left = spark.createDataFrame(
        [
            (1, 10, t("2020-01-05 00:00:00")),   # after two right rows → latest wins
            (2, 10, t("2020-01-02 00:00:00")),   # exact-ts tie → match taken (>= semantics)
            (3, 10, t("2020-01-01 00:00:00")),   # before any right row → null
            (4, 99, t("2020-06-01 00:00:00")),   # key with no right rows → null
        ],
        ["id", "k", "ts"],
    )
    right = spark.createDataFrame(
        [
            (100, 10, t("2020-01-02 00:00:00"), "a"),
            (101, 10, t("2020-01-04 00:00:00"), "b"),
        ],
        ["rid", "k", "rts", "tag"],
    )
    out = asof_join_backward(
        left, right, on=["k"], left_ts="ts", right_ts="rts",
        payload_cols=["rid", "tag"], right_tiebreak=["rid"],
    )
    got = {r["id"]: (r["rid_matched"], r["tag_matched"]) for r in out.collect()}
    assert got == {
        1: (101, "b"),
        2: (100, "a"),
        3: (None, None),
        4: (None, None),
    }
    # every left row survives exactly once (LEFT asof semantics)
    assert out.count() == 4


def test_salted_join_matches_plain_join(spark):
    from date_warehouse___airline_project_spark.operators.skew import salted_join
    from pyspark.sql import functions as F

    # Heavily skewed big side: 900 rows of key 1, a few of keys 2..4.
    big = spark.createDataFrame(
        [(1, i) for i in range(900)] + [(k, i) for k in (2, 3, 4) for i in range(5)],
        "k int, v int",
    )
    small = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, tag string")

    salted = salted_join(big, small, on=["k"], n_salts=4, salt_src=F.col("v"))
    plain = big.join(small, on=["k"])

    assert salted.columns == plain.columns
    got = sorted(tuple(r) for r in salted.collect())
    want = sorted(tuple(r) for r in plain.collect())
    assert got == want

    # The physical plan must join on (k, salt) with the exploded small side.
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode" in plan or "explode" in plan.lower()

    # Salt spreads the hot key across all 4 buckets.
    spread = (
        big.withColumn("__salt", F.pmod(F.col("v"), F.lit(4)))
        .filter(F.col("k") == 1)
        .select("__salt")
        .distinct()
        .count()
    )
    assert spread == 4


def test_salted_join_left_outer_keeps_unmatched(spark):
    from date_warehouse___airline_project_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, 1), (9, 2)], "k int, v int")
    small = spark.createDataFrame([(1, "a")], "k int, tag string")
    out = salted_join(big, small, on=["k"], n_salts=3, how="left")
    rows = {(r.k, r.v, r.tag) for r in out.collect()}
    assert rows == {(1, 1, "a"), (9, 2, None)}


def _duckdb_moment_cells(df, d: int, scale: float) -> dict:
    """``SUM(ROUND(x_i * x_j * scale))`` per (i, j) in DuckDB over the same
    rows — the oracle's moment-cell formulation (a null factor makes the
    product null, which SUM skips; a cell with no non-null product is
    NULL)."""
    import duckdb

    con = duckdb.connect()
    con.register("emb_t", df.toArrow())
    rows = con.sql(
        f"""
        WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS emb FROM emb_t)
        SELECT i.i, j.j,
               CAST(SUM(CAST(ROUND(emb[i.i + 1] * emb[j.j + 1] * {scale}, 0)
                             AS BIGINT)) AS BIGINT) AS s2
        FROM e,
             UNNEST(GENERATE_SERIES(0, {d - 1})) AS i(i),
             UNNEST(GENERATE_SERIES(0, {d - 1})) AS j(j)
        GROUP BY i.i, j.j
        """
    ).fetchall()
    return {(i, j): s2 for i, j, s2 in rows}


def _moment_cells(df, **kw) -> dict:
    from date_warehouse___airline_project_spark.operators.similarity import (
        pca_moment_cells,
    )

    return {(r["i"], r["j"]): r["s2"] for r in pca_moment_cells(df, **kw).collect()}


def test_pca_moment_cells_matches_duckdb(spark):
    """Each scaled product is rounded half away from zero to int64 and the
    cells merge by plain integer addition, so no float-accumulation order
    can leak in: the cells equal DuckDB's, all 64 x 64 of them, on the
    real embeddings table."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = _moment_cells(e)
    assert len(got) == 64 * 64
    assert got == _duckdb_moment_cells(e, 64, 1e8)


def test_pca_moment_cells_null_products_match_duckdb(spark):
    """A null element or a null vector contributes no product to a cell,
    as SQL SUM skips nulls: Arrow hands null elements over as NaN, which
    must neither be summed as garbage nor crash the outer product."""
    schema = "vec_id long, embedding array<double>"
    for rows, want in (
        ([(1, [0.5, None]), (2, [0.25, 0.75])],
         {(0, 0): 25 + 6, (0, 1): 19, (1, 0): 19, (1, 1): 56}),
        ([(1, None), (2, [0.25, 0.75])],
         {(0, 0): 6, (0, 1): 19, (1, 0): 19, (1, 1): 56}),
        ([(1, [None, 0.5])], {(0, 0): None, (0, 1): None, (1, 0): None, (1, 1): 25}),
    ):
        df = spark.createDataFrame(rows, schema)
        got = _moment_cells(df, d=2, scale=100.0)
        assert got == _duckdb_moment_cells(df, 2, 100.0) == want, rows


def test_pca_moment_rounding_edge(spark):
    """Half-away-from-zero edge: the fraction is compared exactly (no
    floor(x+0.5) absorption), so values that sit just under .5 after
    scaling stay down and exact .5 goes away from zero, including
    negatives."""
    rows = [
        (1, [0.5, -0.5]),        # products: 0.25, -0.25, 0.25 -> .5 ties at scale 2
        (2, [0.75, 0.25]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = _moment_cells(df, d=2, scale=2.0)
    # row1: [0.25*2=0.5 -> 1, -0.5 -> -1]; row2: [1.125->1.0... ]
    # 0.5625*2=1.125 -> 1; 0.1875*2=0.375 -> 0; 0.0625*2=0.125 -> 0
    assert got[(0, 0)] == 1 + 1, got   # 0.5->1 plus 1.125->1
    assert got[(0, 1)] == -1 + 0, got  # -0.5 -> -1 (away from zero)
    assert got[(1, 1)] == 1 + 0, got   # 0.5->1, 0.125->0


def _duckdb_distance_profile(e, cents) -> list[tuple]:
    """The distance profile in DuckDB over the same rows: own cell by
    dot/|c| desc, cid asc; raw 1 - dp/(|e||c|) distances; zero-norm
    centroids excluded. Sorted (vec_id, cid, a_dist, b_dist) tuples."""
    import duckdb

    con = duckdb.connect()
    con.register("emb_t", e.select("vec_id", "embedding").toArrow())
    con.register("cents_t", cents.select("_cid", "_cvec").toArrow())
    return sorted(
        con.sql(
            """
            WITH c AS (
              SELECT _cid, CAST(_cvec AS DOUBLE[]) AS cv FROM cents_t),
            cn AS (
              SELECT _cid, cv, sqrt(list_dot_product(cv, cv)) AS cnorm FROM c),
            v AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM emb_t),
            s AS (
              SELECT v.vec_id, cn._cid AS cid, cn.cnorm,
                     list_dot_product(v.ev, cn.cv) AS dp,
                     sqrt(list_dot_product(v.ev, v.ev)) AS enorm
              FROM v, cn WHERE cn.cnorm > 0),
            r AS (
              SELECT vec_id, cid, 1.0 - dp / (enorm * cnorm) AS dist,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY dp / cnorm DESC, cid) AS rn
              FROM s)
            SELECT vec_id,
                   max(cid) FILTER (WHERE rn = 1),
                   max(dist) FILTER (WHERE rn = 1),
                   min(dist) FILTER (WHERE rn <> 1)
            FROM r GROUP BY vec_id
            """
        ).fetchall()
    )


def test_distance_profile_matches_duckdb(spark):
    """The Arrow distance profile vs DuckDB over the same rows: raw
    (unrounded) doubles for own-cell assignment and a/b distances must be
    BIT-identical (sequential-over-dims folds, product-then-divide cosine,
    first-max == rank desc / cid asc)."""
    from date_warehouse___airline_project_spark.operators.similarity import (
        centroid_distance_profile,
        kmeans_lloyd,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = kmeans_lloyd(e, centroid_mod=25, sample_mod=4, iters=2)
    got = sorted(tuple(r) for r in centroid_distance_profile(e, cents).collect())
    assert got == _duckdb_distance_profile(e, cents)
    assert len(got) == e.count()


def test_ivf_cell_drift_empty_training_cell(spark, tmp_path):
    """A centroid with ZERO training assignments (no cell_stats row) that
    gains appended vectors must still appear in the drift report with
    n_train=0, added_frac null, retrain_flag=1 — the maximally-drifted
    cell is exactly the one a stats-side left join would drop."""
    from date_warehouse___airline_project_spark.operators.similarity import (
        ivf_cell_drift,
    )

    path = str(tmp_path / "ivf")
    spark.createDataFrame(
        [(0, 3)], "centroid_id long, n_train long"
    ).write.parquet(f"{path}/cell_stats")
    spark.createDataFrame(
        [(10, 0), (11, 0), (12, 0), (20, 1), (21, 1)],
        "vec_id long, centroid_id long",
    ).write.partitionBy("centroid_id").parquet(f"{path}/assignments")
    got = {r["centroid_id"]: r for r in ivf_cell_drift(spark, path).collect()}
    assert got[0]["n_train"] == 3 and got[0]["n_added"] == 0
    assert got[0]["retrain_flag"] == 0 and got[0]["added_frac"] == 0.0
    assert got[1]["n_train"] == 0 and got[1]["n_current"] == 2
    assert got[1]["n_added"] == 2
    assert got[1]["added_frac"] is None  # 2/0 is not a fraction
    assert got[1]["retrain_flag"] == 1


def test_distance_profile_degenerate_inputs(spark):
    """Degenerate inputs: a single surviving centroid yields b_dist NULL
    (not +inf), and a zero-norm data vector yields NULL distances (not
    NaN) — as DuckDB's MIN over no rows and 0/0 do."""
    import math

    from date_warehouse___airline_project_spark.operators.similarity import (
        centroid_distance_profile,
    )

    e = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    one_cent = spark.createDataFrame(
        [(0, [1.0, 1.0])], "_cid long, _cvec array<double>"
    )
    two_cents = spark.createDataFrame(
        [(0, [1.0, 1.0]), (1, [-1.0, 1.0])], "_cid long, _cvec array<double>"
    )
    for cents in (one_cent, two_cents):
        rows = {
            r["vec_id"]: r
            for r in centroid_distance_profile(e, cents).collect()
        }
        # zero-norm vector: both distances null, never NaN
        assert rows[2]["a_dist"] is None, rows[2]
        assert rows[2]["b_dist"] is None, rows[2]
        if cents is one_cent:
            assert rows[1]["b_dist"] is None, rows[1]
        else:
            assert rows[1]["b_dist"] is not None
            assert not math.isnan(rows[1]["b_dist"])
        assert sorted(tuple(r) for r in rows.values()) == _duckdb_distance_profile(
            e, cents
        )