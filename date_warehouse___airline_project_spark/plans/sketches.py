"""Deterministic sketch structures — Bloom membership and Count-Min
frequency — built and probed entirely relationally.

Probabilistic sketches are the 100 TB substitute for exact structures that
don't fit (membership sets, per-key frequency maps). Production Spark has
runtime bloom-filter injection (pin-tested in tests/test_plans.py); these
queries implement the USER-level sketch lifecycle — build → (broadcast)
→ probe → error accounting — with md5-derived hash families instead of
RNG-seeded ones, so:

  * the sketch content is identical on every engine and every run
    (the DuckDB oracle rebuilds the exact same bit set / cell counts),
  * every output is an integer or an exact count, so the comparison is
    bit-exact with no float-ordering caveats.

Scale shapes: the built sketch is a tiny relation (≤ m bits / d×w cells) —
the probe side joins against it broadcast; build is one explode (k or d
rows per key) + one distinct/aggregate. No all-pairs anywhere, and the
probe never shuffles the big side.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .registry import query

_HASH_SQL = "CAST(CONCAT('0x', SUBSTR(MD5({c}), 1, 14)) AS BIGINT)"


from ..functions.hashing import seeded_bucket


# ---------------------------------------------------------------------------
# Bloom membership sketch
# ---------------------------------------------------------------------------

_BLOOM_M, _BLOOM_K = 4096, 3

_BLOOM_ORACLE = f"""
    WITH build_keys AS (
      SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 400000),
    seeds AS (SELECT UNNEST(range(0, {_BLOOM_K})) AS j),
    build_bits AS (
      SELECT DISTINCT {_HASH_SQL.format(c="CONCAT(CAST(j AS VARCHAR), ':', CAST(k AS VARCHAR))")}
                      % {_BLOOM_M} AS bit
      FROM build_keys, seeds),
    probe AS (SELECT c_custkey AS k FROM customer),
    probe_hits AS (
      SELECT p.k,
             SUM(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
      FROM probe p
      CROSS JOIN seeds s
      LEFT JOIN build_bits b
        ON {_HASH_SQL.format(c="CONCAT(CAST(s.j AS VARCHAR), ':', CAST(p.k AS VARCHAR))")}
           % {_BLOOM_M} = b.bit
      GROUP BY p.k),
    maybe AS (SELECT k FROM probe_hits WHERE n_hit = {_BLOOM_K}),
    truth AS (SELECT DISTINCT k FROM build_keys)
    SELECT (SELECT COUNT(*) FROM build_keys)  AS n_keys_built,
           (SELECT COUNT(*) FROM build_bits)  AS n_bits_set,
           (SELECT COUNT(*) FROM maybe)       AS n_maybe,
           (SELECT COUNT(*) FROM maybe m JOIN truth t ON m.k = t.k)
               AS n_true_members,
           (SELECT COUNT(*) FROM maybe m LEFT JOIN truth t ON m.k = t.k
             WHERE t.k IS NULL) AS n_false_positives
"""


@query(
    "bloom_membership_sketch",
    oracle=_BLOOM_ORACLE,
    doc=f"Bloom-filter membership lifecycle: build an m={_BLOOM_M}, "
    f"k={_BLOOM_K} filter over big-spender custkeys (md5 hash family — "
    f"deterministic, engine-portable), probe every customer against the "
    f"broadcast bit set, and account exactly for true members vs false "
    f"positives. The sketch relation is <= m rows, so the probe join "
    f"broadcasts at any scale; no row of the probe side ever shuffles.",
)
def bloom_membership_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    seeds = F.array(*[F.lit(j) for j in range(_BLOOM_K)])

    def bit(j_col, key_col):
        return seeded_bucket(key_col, j_col, _BLOOM_M)

    build_keys = (
        o.filter(F.col("o_totalprice") > 400000).select(F.col("o_custkey").alias("k")).distinct()
    )
    build_bits = (
        build_keys.select(F.explode(seeds).alias("j"), "k")
        .select(bit(F.col("j"), F.col("k")).alias("bit"))
        .distinct()
    )
    probe = c.select(F.col("c_custkey").alias("k"))
    probe_bits = probe.select("k", F.explode(seeds).alias("j")).select(
        "k", bit(F.col("j"), F.col("k")).alias("bit")
    )
    hits = (
        probe_bits.join(F.broadcast(build_bits.withColumn("_found", F.lit(1))), "bit", "left")
        .groupBy("k")
        .agg(F.sum(F.coalesce(F.col("_found"), F.lit(0))).alias("n_hit"))
    )
    maybe = hits.filter(F.col("n_hit") == _BLOOM_K).select("k")
    # single lazy plan: three scalar aggregates cross-joined (each side is
    # one row) — no driver-side counts, one job at action time
    maybe_stats = (
        maybe.join(build_keys.withColumn("_t", F.lit(1)), "k", "left")
        .agg(
            F.count("*").alias("n_maybe"),
            F.coalesce(F.sum("_t"), F.lit(0)).alias("n_true_members"),
        )
    )
    return (
        build_keys.agg(F.count("*").alias("n_keys_built"))
        .crossJoin(build_bits.agg(F.count("*").alias("n_bits_set")))
        .crossJoin(maybe_stats)
        .select(
            "n_keys_built",
            "n_bits_set",
            "n_maybe",
            "n_true_members",
            (F.col("n_maybe") - F.col("n_true_members")).alias("n_false_positives"),
        )
    )


# ---------------------------------------------------------------------------
# Count-Min frequency sketch
# ---------------------------------------------------------------------------

_CMS_D, _CMS_W = 3, 256

_CMS_ORACLE = f"""
    WITH rows_ AS (SELECT user_id FROM events),
    seeds AS (SELECT UNNEST(range(0, {_CMS_D})) AS d),
    cells AS (
      SELECT s.d,
             {_HASH_SQL.format(c="CONCAT(CAST(s.d AS VARCHAR), ':', CAST(r.user_id AS VARCHAR))")}
                 % {_CMS_W} AS cell,
             COUNT(*) AS cnt
      FROM rows_ r CROSS JOIN seeds s
      GROUP BY s.d, cell),
    exact AS (
      SELECT user_id, COUNT(*) AS exact_count
      FROM rows_ GROUP BY user_id
      ORDER BY exact_count DESC, user_id LIMIT 5),
    est AS (
      SELECT e.user_id, e.exact_count, MIN(c.cnt) AS cms_estimate
      FROM exact e
      CROSS JOIN seeds s
      JOIN cells c
        ON c.d = s.d
       AND c.cell = {_HASH_SQL.format(c="CONCAT(CAST(s.d AS VARCHAR), ':', CAST(e.user_id AS VARCHAR))")}
                    % {_CMS_W}
      GROUP BY e.user_id, e.exact_count)
    SELECT user_id, exact_count, cms_estimate,
           cms_estimate - exact_count AS overcount
    FROM est
    ORDER BY exact_count DESC, user_id
"""


@query(
    "cms_frequency_sketch",
    oracle=_CMS_ORACLE,
    doc=f"Count-Min frequency sketch (d={_CMS_D} x w={_CMS_W}, md5 hash "
    f"family): one explode+aggregate builds the cell counts (map-side "
    f"partial agg absorbs the heavy hitters), the top-5 exact users probe "
    f"their d cells broadcast and take the min. Integer arithmetic "
    f"end-to-end — the oracle rebuilds the identical sketch; the "
    f"CMS >= exact overcount invariant is visible in the output.",
)
def cms_frequency_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id")
    seeds = F.array(*[F.lit(d) for d in range(_CMS_D)])

    def cell(d_col, key_col):
        return seeded_bucket(key_col, d_col, _CMS_W)

    cells = (
        ev.select("user_id", F.explode(seeds).alias("d"))
        .groupBy("d", cell(F.col("d"), F.col("user_id")).alias("cell"))
        .agg(F.count("*").alias("cnt"))
    )
    exact = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("exact_count"))
        .orderBy(F.desc("exact_count"), "user_id")
        .limit(5)
    )
    probe = exact.select("user_id", "exact_count", F.explode(seeds).alias("d")).select(
        "user_id", "exact_count", "d", cell(F.col("d"), F.col("user_id")).alias("cell")
    )
    return (
        probe.join(F.broadcast(cells), ["d", "cell"])
        .groupBy("user_id", "exact_count")
        .agg(F.min("cnt").alias("cms_estimate"))
        .select(
            "user_id",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count")).alias("overcount"),
        )
        .orderBy(F.desc("exact_count"), "user_id")
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch
# ---------------------------------------------------------------------------

_HLL_M = 64  # registers (p = 6); alpha_64 = 0.709 (Flajolet et al. 2007)

def hll_registers(
    rows: DataFrame, key_col: str, group_cols: Sequence[str] = ()
) -> DataFrame:
    """(*group_cols, idx, r) HLL registers — MAX rank per register, one
    register set per group (a single set without ``group_cols``).

    Mergeable by construction: registers(A ∪ B) = per-idx MAX of
    registers(A) and registers(B) (pinned in tests/test_functions.py),
    which is what makes HLL state a per-partition partial aggregate and
    a valid streaming state-table fold (state_table.fold_into_state with
    a keyed MAX merge).
    """
    from ..functions.hashing import hash56

    spark = rows.sparkSession
    lbv = spark.createDataFrame(
        [(j, 1 << j) for j in range(50)], "j int, lowbit long"
    )
    parts = rows.select(*group_cols, hash56(F.col(key_col)).alias("hv")).select(
        *group_cols,
        (F.col("hv") % _HLL_M).alias("idx"),
        F.expr(f"hv div {_HLL_M}").alias("rest"),
    )
    rk = (
        parts.join(
            F.broadcast(lbv), F.expr("rest & (-rest)") == F.col("lowbit"), "left"
        )
        .select(
            *group_cols,
            "idx",
            F.when(F.col("rest") == 0, F.lit(51)).otherwise(F.col("j") + 1).alias("rank"),
        )
    )
    return rk.groupBy(*group_cols, "idx").agg(F.max("rank").alias("r"))



_HLL_ORACLE = f"""
    WITH h AS (
      SELECT {_HASH_SQL.format(c="CAST(o_custkey AS VARCHAR)")} AS hv,
             o_custkey
      FROM orders),
    parts AS (SELECT hv % {_HLL_M} AS idx, hv // {_HLL_M} AS rest FROM h),
    lb AS (SELECT UNNEST(range(0, 50)) AS j),
    lbv AS (SELECT j, CAST(1 AS BIGINT) << j AS lowbit FROM lb),
    rk AS (
      SELECT p.idx,
             CASE WHEN p.rest = 0 THEN 51 ELSE r.j + 1 END AS rank
      FROM parts p
      LEFT JOIN lbv r ON (p.rest & (-p.rest)) = r.lowbit),
    regs AS (SELECT idx, MAX(rank) AS r FROM rk GROUP BY idx),
    summary AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_registers_set,
             CAST(SUM(r) AS BIGINT) AS sum_ranks,
             CAST(SUM(CAST(1 AS BIGINT) << (51 - r)) AS BIGINT) AS s_scaled
      FROM regs),
    exact AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact
      FROM orders),
    est AS (
      SELECT s.*, e.*,
             0.709 * {_HLL_M} * {_HLL_M}
               / (CAST(s.s_scaled AS DOUBLE) / CAST(CAST(1 AS BIGINT) << 51 AS DOUBLE)
                  + ({_HLL_M} - s.n_registers_set)) AS e_raw
      FROM summary s, exact e)
    SELECT n_rows, n_exact, n_registers_set, sum_ranks, s_scaled,
           ROUND(CASE WHEN e_raw <= 2.5 * {_HLL_M}
                       AND n_registers_set < {_HLL_M}
                      THEN {_HLL_M} * LN(CAST({_HLL_M} AS DOUBLE)
                                         / ({_HLL_M} - n_registers_set))
                      ELSE e_raw END, 4) AS hll_estimate,
           ROUND(ABS(CASE WHEN e_raw <= 2.5 * {_HLL_M}
                           AND n_registers_set < {_HLL_M}
                          THEN {_HLL_M} * LN(CAST({_HLL_M} AS DOUBLE)
                                             / ({_HLL_M} - n_registers_set))
                          ELSE e_raw END - n_exact)
                 / n_exact, 4) AS rel_error
    FROM est
"""


def hll_estimate_summary(regs: DataFrame) -> DataFrame:
    """1-row (n_registers_set, sum_ranks, s_scaled, _corrected) from an
    (idx, r) register relation — the small-range-corrected HLL
    estimator. ``_corrected`` is the UNROUNDED estimate so callers pin
    their own output rounding. Shared verbatim by the batch registry
    query below and the streaming register state's read path
    (``streaming/sketch_stream.py::hll_estimate_report``)."""
    summary = regs.agg(
        F.count("*").cast("bigint").alias("n_registers_set"),
        F.sum("r").cast("bigint").alias("sum_ranks"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 51 - r)")).cast("bigint").alias("s_scaled"),
    )
    est = summary.withColumn(
        "e_raw",
        F.lit(0.709 * _HLL_M * _HLL_M)
        / (
            F.col("s_scaled").cast("double") / F.lit(float(1 << 51))
            + (F.lit(_HLL_M) - F.col("n_registers_set"))
        ),
    )
    small = (F.col("e_raw") <= 2.5 * _HLL_M) & (F.col("n_registers_set") < _HLL_M)
    corrected = F.when(
        small,
        F.lit(_HLL_M)
        * F.log(F.lit(float(_HLL_M)) / (F.lit(_HLL_M) - F.col("n_registers_set"))),
    ).otherwise(F.col("e_raw"))
    return est.select(
        "n_registers_set", "sum_ranks", "s_scaled", corrected.alias("_corrected")
    )



@query(
    "hll_distinct_sketch",
    oracle=_HLL_ORACLE,
    doc=f"HyperLogLog distinct-count lifecycle over orders.o_custkey: "
    f"m={_HLL_M} registers, register index = hash56 % m, rank = trailing "
    f"zeros of the remaining 50 bits + 1 (lowbit isolated with h & -h and "
    f"mapped through a broadcast power-of-two table — no float log in the "
    f"register path, so register contents are integer-exact and "
    f"engine-portable). One column scan -> one {_HLL_M}-row groupBy (the "
    f"whole shuffle is <= m rows after the map-side partial MAX); the "
    f"harmonic sum is carried as an exact integer (sum of 2^(51-r)) and "
    f"only the final estimate goes through float division. Mergeable "
    f"across partitions/streams by construction (register-wise MAX).",
)
def hll_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    regs = hll_registers(o, "o_custkey")
    exact = o.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.count_distinct("o_custkey").cast("bigint").alias("n_exact"),
    )
    est = hll_estimate_summary(regs).crossJoin(exact)
    corrected = F.col("_corrected")
    return est.select(
        "n_rows",
        "n_exact",
        "n_registers_set",
        "sum_ranks",
        "s_scaled",
        F.round(corrected, 4).alias("hll_estimate"),
        F.round(F.abs(corrected - F.col("n_exact")) / F.col("n_exact"), 4).alias(
            "rel_error"
        ),
    )


# ---------------------------------------------------------------------------
# Incremental dedup: Bloom prefilter + exact verify
# ---------------------------------------------------------------------------

_INC_M, _INC_K = 8192, 3

# Same normalized-prefix fingerprint as doc_fingerprint_dupes (plans/text.py)
# so the synthetic corpus's boilerplate dups are visible to the dedup.
_FP_SQL = (
    "MD5(SUBSTR(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g'), 1, 64))"
)

_INC_ORACLE = f"""
    WITH fp AS (SELECT doc_id, {_FP_SQL} AS fp FROM documents),
    corpus AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 5 <> 0),
    batch AS (SELECT doc_id, fp FROM fp WHERE doc_id % 5 = 0),
    seeds AS (SELECT UNNEST(range(0, {_INC_K})) AS j),
    bits AS (
      SELECT DISTINCT
             {_HASH_SQL.format(c="CONCAT(CAST(j AS VARCHAR), ':', fp)")}
             % {_INC_M} AS bit
      FROM corpus, seeds),
    probe AS (
      SELECT b.doc_id, b.fp,
             SUM(CASE WHEN t.bit IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
      FROM batch b CROSS JOIN seeds s
      LEFT JOIN bits t
        ON {_HASH_SQL.format(c="CONCAT(CAST(s.j AS VARCHAR), ':', b.fp)")}
           % {_INC_M} = t.bit
      GROUP BY b.doc_id, b.fp)
    SELECT p.doc_id,
           CASE WHEN p.n_hit = {_INC_K} THEN 1 ELSE 0 END AS bloom_candidate,
           CASE WHEN p.n_hit = {_INC_K}
                 AND EXISTS (SELECT 1 FROM corpus c WHERE c.fp = p.fp)
                THEN 1 ELSE 0 END AS is_dup
    FROM probe p
    ORDER BY doc_id
"""


@query(
    "incremental_dedup_bloom",
    oracle=_INC_ORACLE,
    doc=f"Incremental corpus dedup — the arriving-batch-vs-100 TB-corpus "
    f"shape: an m={_INC_M}, k={_INC_K} Bloom filter built over the EXISTING "
    f"corpus's content fingerprints is the only corpus artifact the batch "
    f"ever probes (<= m rows, broadcast); batch docs whose k bits all hit "
    f"are candidates, and ONLY candidates are exact-verified — the verify "
    f"semi-joins the corpus against the BROADCAST candidate fingerprint "
    f"set, so the corpus side never shuffles and false positives are "
    f"removed exactly (output equals a plain anti-join, which is the "
    f"oracle). Per-doc verdicts expose the FP accounting: bloom_candidate=1 "
    f"with is_dup=0 is a Bloom false positive.",
)
def incremental_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    fp = F.md5(
        F.substring(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), 1, 64)
    )
    fps = d.select("doc_id", fp.alias("fp"))
    corpus = fps.filter(F.col("doc_id") % 5 != 0).select("fp").distinct()
    batch = fps.filter(F.col("doc_id") % 5 == 0)
    seeds = F.array(*[F.lit(j) for j in range(_INC_K)])

    bits = (
        corpus.select(F.explode(seeds).alias("j"), "fp")
        .select(seeded_bucket(F.col("fp"), F.col("j"), _INC_M).alias("bit"))
        .distinct()
    )
    probe_bits = batch.select("doc_id", "fp", F.explode(seeds).alias("j")).select(
        "doc_id", "fp", seeded_bucket(F.col("fp"), F.col("j"), _INC_M).alias("bit")
    )
    cand = (
        probe_bits.join(
            F.broadcast(bits.withColumn("_found", F.lit(1))), "bit", "left"
        )
        .groupBy("doc_id", "fp")
        .agg(F.sum(F.coalesce(F.col("_found"), F.lit(0))).alias("n_hit"))
        .withColumn(
            "bloom_candidate",
            F.when(F.col("n_hit") == _INC_K, F.lit(1)).otherwise(F.lit(0)),
        )
    )
    # Exact verify of candidates only: the corpus is scanned once against the
    # BROADCAST candidate fingerprints (left-semi) — at 100 TB the big side
    # never shuffles; the surviving dup fingerprints are themselves tiny and
    # broadcast back onto the per-doc verdicts.
    dup_fps = corpus.join(
        F.broadcast(
            cand.filter(F.col("bloom_candidate") == 1).select("fp").distinct()
        ),
        "fp",
        "left_semi",
    ).withColumn("_dup", F.lit(1))
    return (
        cand.join(F.broadcast(dup_fps), "fp", "left")
        .select(
            "doc_id",
            "bloom_candidate",
            F.when(
                (F.col("bloom_candidate") == 1) & F.col("_dup").isNotNull(),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("is_dup"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Grouped HyperLogLog: per-key distinct estimates (daily uniques)
# ---------------------------------------------------------------------------

_GHLL_ORACLE = f"""
    WITH h AS (
      SELECT STRFTIME(date_trunc('day', ts), '%Y-%m-%d') AS day,
             {_HASH_SQL.format(c="CAST(user_id AS VARCHAR)")} AS hv,
             user_id
      FROM events),
    parts AS (SELECT day, hv % {_HLL_M} AS idx, hv // {_HLL_M} AS rest FROM h),
    lb AS (SELECT UNNEST(range(0, 50)) AS j),
    lbv AS (SELECT j, CAST(1 AS BIGINT) << j AS lowbit FROM lb),
    rk AS (
      SELECT p.day, p.idx,
             CASE WHEN p.rest = 0 THEN 51 ELSE r.j + 1 END AS rank
      FROM parts p
      LEFT JOIN lbv r ON (p.rest & (-p.rest)) = r.lowbit),
    regs AS (SELECT day, idx, MAX(rank) AS r FROM rk GROUP BY day, idx),
    summary AS (
      SELECT day,
             CAST(COUNT(*) AS BIGINT) AS n_registers_set,
             CAST(SUM(CAST(1 AS BIGINT) << (51 - r)) AS BIGINT) AS s_scaled
      FROM regs GROUP BY day),
    exact AS (
      SELECT STRFTIME(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events GROUP BY day),
    est AS (
      SELECT s.day, s.n_registers_set, s.s_scaled, e.n_exact,
             0.709 * {_HLL_M} * {_HLL_M}
               / (CAST(s.s_scaled AS DOUBLE) / CAST(CAST(1 AS BIGINT) << 51 AS DOUBLE)
                  + ({_HLL_M} - s.n_registers_set)) AS e_raw
      FROM summary s JOIN exact e ON s.day = e.day)
    SELECT day, n_exact, n_registers_set, s_scaled,
           ROUND(CASE WHEN e_raw <= 2.5 * {_HLL_M}
                       AND n_registers_set < {_HLL_M}
                      THEN {_HLL_M} * LN(CAST({_HLL_M} AS DOUBLE)
                                         / ({_HLL_M} - n_registers_set))
                      ELSE e_raw END, 4) AS hll_estimate
    FROM est
    ORDER BY day
"""


@query(
    "hll_grouped_daily_uniques",
    oracle=_GHLL_ORACLE,
    doc=f"Grouped HyperLogLog — daily unique users, the dashboard shape: "
    f"the register computation of hll_distinct_sketch keyed by day, so "
    f"the shuffle is <= groups x m rows after the map-side partial MAX "
    f"(never per-event). Each group's {_HLL_M}-register state is "
    f"independently mergeable (register-wise MAX), which is exactly what "
    f"lets daily sketches roll up to weekly/monthly uniques WITHOUT "
    f"rescanning events — the property COUNT(DISTINCT) loses. The exact "
    f"count rides along per group to expose the estimation error.",
)
def hll_grouped_daily_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day")
    regs = hll_registers(ev.select(day, "user_id"), "user_id", ["day"])
    summary = regs.groupBy("day").agg(
        F.count("*").cast("bigint").alias("n_registers_set"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 51 - r)"))
        .cast("bigint")
        .alias("s_scaled"),
    )
    exact = ev.groupBy(day).agg(
        F.count_distinct("user_id").cast("bigint").alias("n_exact")
    )
    est = summary.join(exact, "day").withColumn(
        "e_raw",
        F.lit(0.709 * _HLL_M * _HLL_M)
        / (
            F.col("s_scaled").cast("double") / F.lit(float(1 << 51))
            + (F.lit(_HLL_M) - F.col("n_registers_set"))
        ),
    )
    small = (F.col("e_raw") <= 2.5 * _HLL_M) & (F.col("n_registers_set") < _HLL_M)
    corrected = F.when(
        small,
        F.lit(_HLL_M)
        * F.log(F.lit(float(_HLL_M)) / (F.lit(_HLL_M) - F.col("n_registers_set"))),
    ).otherwise(F.col("e_raw"))
    return est.select(
        "day",
        "n_exact",
        "n_registers_set",
        "s_scaled",
        F.round(corrected, 4).alias("hll_estimate"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# CMS-pruned heavy hitters with exact verification
# ---------------------------------------------------------------------------

_HH_T = 75

_HH_ORACLE = f"""
    WITH rows_ AS (SELECT user_id FROM events),
    seeds AS (SELECT UNNEST(range(0, {_CMS_D})) AS d),
    cells AS (
      SELECT s.d,
             {_HASH_SQL.format(c="CONCAT(CAST(s.d AS VARCHAR), ':', CAST(r.user_id AS VARCHAR))")}
                 % {_CMS_W} AS cell,
             COUNT(*) AS cnt
      FROM rows_ r CROSS JOIN seeds s
      GROUP BY s.d, cell),
    keys AS (SELECT DISTINCT user_id FROM rows_),
    est AS (
      SELECT k.user_id, MIN(c.cnt) AS cms_estimate
      FROM keys k CROSS JOIN seeds s
      JOIN cells c
        ON c.d = s.d
       AND c.cell = {_HASH_SQL.format(c="CONCAT(CAST(s.d AS VARCHAR), ':', CAST(k.user_id AS VARCHAR))")}
                    % {_CMS_W}
      GROUP BY k.user_id),
    cand AS (SELECT user_id, cms_estimate FROM est WHERE cms_estimate >= {_HH_T}),
    verified AS (
      SELECT r.user_id, COUNT(*) AS exact_count
      FROM rows_ r JOIN cand c ON r.user_id = c.user_id
      GROUP BY r.user_id)
    SELECT v.user_id, v.exact_count, c.cms_estimate
    FROM verified v JOIN cand c ON v.user_id = c.user_id
    WHERE v.exact_count >= {_HH_T}
    ORDER BY v.exact_count DESC, v.user_id
"""


@query(
    "cms_heavy_hitters_verified",
    oracle=_HH_ORACLE,
    doc=f"Exact heavy hitters (count >= {_HH_T}) found the sketch-pruned "
    f"way: CMS estimates never UNDER-count, so keys whose d-cell minimum "
    f"clears the threshold are a SUPERSET of the true heavy hitters — the "
    f"exact counting pass then runs only over that candidate set "
    f"(broadcast semi-join; the full stream is re-scanned but only "
    f"candidate keys are aggregated) and trims the sketch's false "
    f"positives. Result is provably exact, the same prune-then-verify "
    f"contract as incremental_dedup_bloom. At 100 TB the d x w cell "
    f"relation and the candidate set both broadcast; no per-key state "
    f"beyond the sketch until a key is already a candidate.",
)
def cms_heavy_hitters_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id")
    seeds = F.array(*[F.lit(d) for d in range(_CMS_D)])

    def cell(d_col, key_col):
        return seeded_bucket(key_col, d_col, _CMS_W)

    cells = (
        ev.select("user_id", F.explode(seeds).alias("d"))
        .groupBy("d", cell(F.col("d"), F.col("user_id")).alias("cell"))
        .agg(F.count("*").alias("cnt"))
    )
    keys = ev.distinct()
    est = (
        keys.select("user_id", F.explode(seeds).alias("d"))
        .select("user_id", "d", cell(F.col("d"), F.col("user_id")).alias("cell"))
        .join(F.broadcast(cells), ["d", "cell"])
        .groupBy("user_id")
        .agg(F.min("cnt").alias("cms_estimate"))
    )
    cand = est.filter(F.col("cms_estimate") >= _HH_T)
    verified = (
        ev.join(F.broadcast(cand.select("user_id")), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count("*").alias("exact_count"))
    )
    return (
        verified.join(F.broadcast(cand), "user_id")
        .filter(F.col("exact_count") >= _HH_T)
        .select("user_id", "exact_count", "cms_estimate")
        .orderBy(F.desc("exact_count"), "user_id")
    )


# ---------------------------------------------------------------------------
# HLL set algebra: union by register-MAX merge, intersection by
# inclusion-exclusion over the merged sketch
# ---------------------------------------------------------------------------

_ALG_A, _ALG_B = "purchase", "click"


def _hll_regs_sql(tag: str, seg: str) -> str:
    """CTE chain computing the (idx, r) registers of one event segment —
    the SQL replica of ``hll_registers`` (same hash, same rank trick)."""
    hv = _HASH_SQL.format(c="CAST(user_id AS VARCHAR)")
    return f"""
    {tag}_h AS (
      SELECT {hv} AS hv FROM events
      WHERE event_type = '{seg}' AND user_id IS NOT NULL),
    {tag}_p AS (SELECT hv % {_HLL_M} AS idx, hv // {_HLL_M} AS rest FROM {tag}_h),
    {tag}_rk AS (
      SELECT p.idx,
             CASE WHEN p.rest = 0 THEN 51 ELSE r.j + 1 END AS rank
      FROM {tag}_p p
      LEFT JOIN lbv r ON (p.rest & (-p.rest)) = r.lowbit),
    {tag}_regs AS (SELECT idx, MAX(rank) AS r FROM {tag}_rk GROUP BY idx)"""


def _hll_est_sql(tag: str) -> str:
    """CTE computing the corrected HLL estimate of ``{tag}_regs`` —
    the SQL replica of the estimator in ``hll_distinct_sketch``."""
    m = _HLL_M
    raw = (
        f"0.709 * {m} * {m} / (CAST(s_{tag} AS DOUBLE) "
        f"/ CAST(CAST(1 AS BIGINT) << 51 AS DOUBLE) + ({m} - nset_{tag}))"
    )
    lc = f"{m} * LN(CAST({m} AS DOUBLE) / ({m} - nset_{tag}))"
    return f"""
    {tag}_sum AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nset_{tag},
             CAST(SUM(CAST(1 AS BIGINT) << (51 - r)) AS BIGINT) AS s_{tag}
      FROM {tag}_regs),
    {tag}_est AS (
      SELECT CASE WHEN ({raw}) <= 2.5 * {m} AND nset_{tag} < {m}
                  THEN {lc} ELSE {raw} END AS est_{tag}
      FROM {tag}_sum)"""


_HLL_ALG_ORACLE = f"""
    WITH lb AS (SELECT UNNEST(range(0, 50)) AS j),
    lbv AS (SELECT j, CAST(1 AS BIGINT) << j AS lowbit FROM lb),
    {_hll_regs_sql("a", _ALG_A)},
    {_hll_regs_sql("b", _ALG_B)},
    u_regs AS (
      SELECT idx, MAX(r) AS r FROM (
        SELECT * FROM a_regs UNION ALL SELECT * FROM b_regs)
      GROUP BY idx),
    {_hll_est_sql("a")},
    {_hll_est_sql("b")},
    {_hll_est_sql("u")},
    exact AS (
      SELECT CAST(COUNT(DISTINCT CASE WHEN event_type = '{_ALG_A}'
                                      THEN user_id END) AS BIGINT) AS n_exact_a,
             CAST(COUNT(DISTINCT CASE WHEN event_type = '{_ALG_B}'
                                      THEN user_id END) AS BIGINT) AS n_exact_b
      FROM events WHERE user_id IS NOT NULL),
    inter AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_inter FROM (
        SELECT DISTINCT user_id FROM events
        WHERE event_type = '{_ALG_A}' AND user_id IS NOT NULL
        INTERSECT
        SELECT DISTINCT user_id FROM events
        WHERE event_type = '{_ALG_B}' AND user_id IS NOT NULL))
    SELECT e.n_exact_a, e.n_exact_b, i.n_exact_inter,
           ROUND(a.est_a, 4) AS est_a,
           ROUND(b.est_b, 4) AS est_b,
           ROUND(u.est_u, 4) AS est_union,
           ROUND(GREATEST(a.est_a + b.est_b - u.est_u, 0.0), 4) AS est_inter,
           ROUND(ABS(GREATEST(a.est_a + b.est_b - u.est_u, 0.0) - i.n_exact_inter)
                 / GREATEST(i.n_exact_inter, 1), 4) AS rel_err_inter
    FROM a_est a, b_est b, u_est u, exact e, inter i
"""


@query(
    "hll_set_algebra",
    oracle=_HLL_ALG_ORACLE,
    doc=f"HLL sketch ALGEBRA, the property that makes sketches useful as "
    f"stored state at 100 TB: the union of two segments' sketches is the "
    f"register-wise MAX of their m={_HLL_M}-row register relations (the "
    f"same keyed-MAX fold the streaming sketch state table applies), and "
    f"the intersection estimate is inclusion-exclusion over the three "
    f"estimates — so segment overlap is answerable from per-segment "
    f"sketches alone, without rescanning either side. Registers stay "
    f"integer-exact end to end (rank via lowbit + broadcast power table, "
    f"harmonic sum as exact integer); each segment costs one scan and a "
    f"<= m-row shuffle, the merge touches only 2m rows, and the exact "
    f"intersection (one distinct + semi-join) rides along purely as the "
    f"error accounting.",
)
def hll_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    a_rows = ev.filter(F.col("event_type") == _ALG_A).select("user_id")
    b_rows = ev.filter(F.col("event_type") == _ALG_B).select("user_id")
    ra = hll_registers(a_rows, "user_id")
    rb = hll_registers(b_rows, "user_id")
    ru = ra.unionByName(rb).groupBy("idx").agg(F.max("r").alias("r"))

    def summary(regs: DataFrame, tag: str) -> DataFrame:
        return regs.agg(
            F.count("*").cast("bigint").alias(f"nset_{tag}"),
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 51 - r)"))
            .cast("bigint")
            .alias(f"s_{tag}"),
        )

    def est(tag: str):
        e_raw = F.lit(0.709 * _HLL_M * _HLL_M) / (
            F.col(f"s_{tag}").cast("double") / F.lit(float(1 << 51))
            + (F.lit(_HLL_M) - F.col(f"nset_{tag}"))
        )
        small = (e_raw <= 2.5 * _HLL_M) & (F.col(f"nset_{tag}") < _HLL_M)
        return F.when(
            small,
            F.lit(_HLL_M)
            * F.log(F.lit(float(_HLL_M)) / (F.lit(_HLL_M) - F.col(f"nset_{tag}"))),
        ).otherwise(e_raw)

    exact = ev.agg(
        F.count_distinct(
            F.when(F.col("event_type") == _ALG_A, F.col("user_id"))
        )
        .cast("bigint")
        .alias("n_exact_a"),
        F.count_distinct(
            F.when(F.col("event_type") == _ALG_B, F.col("user_id"))
        )
        .cast("bigint")
        .alias("n_exact_b"),
    )
    inter = (
        a_rows.distinct()
        .join(b_rows.distinct(), "user_id", "left_semi")
        .agg(F.count("*").cast("bigint").alias("n_exact_inter"))
    )
    one = (
        summary(ra, "a")
        .crossJoin(summary(rb, "b"))
        .crossJoin(summary(ru, "u"))
        .crossJoin(exact)
        .crossJoin(inter)
        .withColumn("est_a_raw", est("a"))
        .withColumn("est_b_raw", est("b"))
        .withColumn("est_u_raw", est("u"))
    )
    est_inter = F.greatest(
        F.col("est_a_raw") + F.col("est_b_raw") - F.col("est_u_raw"), F.lit(0.0)
    )
    return one.select(
        "n_exact_a",
        "n_exact_b",
        "n_exact_inter",
        F.round("est_a_raw", 4).alias("est_a"),
        F.round("est_b_raw", 4).alias("est_b"),
        F.round("est_u_raw", 4).alias("est_union"),
        F.round(est_inter, 4).alias("est_inter"),
        F.round(
            F.abs(est_inter - F.col("n_exact_inter"))
            / F.greatest(F.col("n_exact_inter"), F.lit(1).cast("bigint")),
            4,
        ).alias("rel_err_inter"),
    )


# ---------------------------------------------------------------------------
# CMS merge algebra: per-shard sketches combine by cell-wise SUM
# ---------------------------------------------------------------------------

_CMS_CELL_SQL = (
    _HASH_SQL.format(
        c="CONCAT(CAST({d} AS VARCHAR), ':', CAST({k} AS VARCHAR))"
    )
    + f" % {_CMS_W}"
)

_CMS_MERGE_ORACLE = f"""
    WITH rows_ AS (
      SELECT STRFTIME(date_trunc('day', ts), '%Y-%m-%d') AS day, user_id
      FROM events),
    seeds AS (SELECT UNNEST(range(0, {_CMS_D})) AS d),
    shard_cells AS (
      SELECT r.day, s.d,
             {_CMS_CELL_SQL.format(d="s.d", k="r.user_id")} AS cell,
             COUNT(*) AS cnt
      FROM rows_ r CROSS JOIN seeds s
      GROUP BY r.day, s.d, cell),
    merged AS (
      SELECT d, cell, CAST(SUM(cnt) AS BIGINT) AS cnt
      FROM shard_cells GROUP BY d, cell),
    direct AS (
      SELECT s.d,
             {_CMS_CELL_SQL.format(d="s.d", k="r.user_id")} AS cell,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM rows_ r CROSS JOIN seeds s
      GROUP BY s.d, cell),
    exact AS (
      SELECT user_id, COUNT(*) AS exact_count
      FROM rows_ GROUP BY user_id
      ORDER BY exact_count DESC, user_id LIMIT 5),
    probe AS (
      SELECT e.user_id, e.exact_count, s.d,
             {_CMS_CELL_SQL.format(d="s.d", k="e.user_id")} AS cell
      FROM exact e CROSS JOIN seeds s)
    SELECT p.user_id, p.exact_count,
           CAST(MIN(m.cnt) AS BIGINT) AS cms_merged,
           CAST(MIN(dd.cnt) AS BIGINT) AS cms_direct,
           MIN(m.cnt) = MIN(dd.cnt) AS merge_identical,
           CAST(MIN(m.cnt) - p.exact_count AS BIGINT) AS overcount
    FROM probe p
    JOIN merged m ON m.d = p.d AND m.cell = p.cell
    JOIN direct dd ON dd.d = p.d AND dd.cell = p.cell
    GROUP BY p.user_id, p.exact_count
    ORDER BY p.exact_count DESC, p.user_id
"""


@query(
    "cms_merge_shards",
    oracle=_CMS_MERGE_ORACLE,
    doc=f"Count-Min sketch MERGE algebra (the additive counterpart of "
    f"hll_set_algebra's MAX): per-day shard sketches (d={_CMS_D} x "
    f"w={_CMS_W}) combine by cell-wise SUM, and because counts are "
    f"additive the merged sketch is IDENTICAL to the sketch built over "
    f"the whole relation — the property that lets 100 TB of daily "
    f"partitions keep tiny per-partition sketches and answer corpus-wide "
    f"frequency probes from a {_CMS_D * _CMS_W}-cell merge, no rescan. "
    f"The query probes the top-5 exact users against BOTH the merged and "
    f"the directly-built sketch and emits the identity as a column; all "
    f"integer arithmetic, oracle rebuilds both sketches bit-for-bit.",
)
def cms_merge_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
        "user_id",
    )
    seeds = F.array(*[F.lit(d) for d in range(_CMS_D)])

    def cell(d_col, key_col):
        return seeded_bucket(key_col, d_col, _CMS_W)

    keyed = ev.select("day", "user_id", F.explode(seeds).alias("d")).select(
        "day", "user_id", "d", cell(F.col("d"), F.col("user_id")).alias("cell")
    )
    shard_cells = keyed.groupBy("day", "d", "cell").agg(F.count("*").alias("cnt"))
    merged = (
        shard_cells.groupBy("d", "cell").agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    direct = (
        keyed.groupBy("d", "cell").agg(F.count("*").cast("bigint").alias("cnt"))
    )
    exact = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("exact_count"))
        .orderBy(F.desc("exact_count"), "user_id")
        .limit(5)
    )
    probe = exact.select("user_id", "exact_count", F.explode(seeds).alias("d")).select(
        "user_id", "exact_count", "d", cell(F.col("d"), F.col("user_id")).alias("cell")
    )
    return (
        probe.join(F.broadcast(merged.withColumnRenamed("cnt", "m_cnt")), ["d", "cell"])
        .join(F.broadcast(direct.withColumnRenamed("cnt", "d_cnt")), ["d", "cell"])
        .groupBy("user_id", "exact_count")
        .agg(
            F.min("m_cnt").cast("bigint").alias("cms_merged"),
            F.min("d_cnt").cast("bigint").alias("cms_direct"),
        )
        .select(
            "user_id",
            "exact_count",
            "cms_merged",
            "cms_direct",
            (F.col("cms_merged") == F.col("cms_direct")).alias("merge_identical"),
            (F.col("cms_merged") - F.col("exact_count"))
            .cast("bigint")
            .alias("overcount"),
        )
        .orderBy(F.desc("exact_count"), "user_id")
    )


# ---------------------------------------------------------------------------
# Mergeable equi-width histogram as a quantile sketch
# ---------------------------------------------------------------------------

_QS_BINW = 2000.0
_QS_MAXBIN = 299

_QS_ORACLE = f"""
    WITH b AS (
      SELECT LEAST(CAST(FLOOR(o_totalprice / {_QS_BINW}) AS BIGINT),
                   {_QS_MAXBIN}) AS bin
      FROM orders),
    c AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY bin),
    cum AS (
      SELECT bin, n,
             SUM(n) OVER (ORDER BY bin
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM c),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
    probes AS (SELECT UNNEST([0.5, 0.9, 0.99]) AS p),
    hit AS (
      SELECT pr.p, MIN(cu.bin) AS bin
      FROM probes pr, tot t
      JOIN cum cu ON cu.cum >= pr.p * t.total
      GROUP BY pr.p),
    est AS (
      SELECT h.p,
             cu.bin * {_QS_BINW}
               + {_QS_BINW} * (h.p * t.total - (cu.cum - cu.n)) / cu.n
               AS est_q
      FROM hit h JOIN cum cu ON cu.bin = h.bin, tot t),
    exact AS (
      SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS e50,
             percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice) AS e90,
             percentile_disc(0.99) WITHIN GROUP (ORDER BY o_totalprice) AS e99
      FROM orders),
    exact_rows AS (
      SELECT 0.5 AS p, e50 AS exact_q FROM exact
      UNION ALL SELECT 0.9, e90 FROM exact
      UNION ALL SELECT 0.99, e99 FROM exact)
    SELECT e.p,
           ROUND(e.est_q, 6) AS est_quantile,
           CAST(x.exact_q AS DOUBLE) AS exact_quantile,
           ROUND(ABS(e.est_q - x.exact_q) / x.exact_q, 6) AS rel_err
    FROM est e JOIN exact_rows x ON x.p = e.p
    ORDER BY e.p
"""


@query(
    "quantile_sketch_totalprice",
    oracle=_QS_ORACLE,
    doc=f"Quantile SKETCH: a {_QS_MAXBIN + 1}-bin equi-width histogram "
    f"(fixed edges → per-shard bin counts merge by cell-wise SUM, same "
    f"algebra as the CMS/HLL sketches) answering p50/p90/p99 by "
    f"cumulative interpolation, reported against the exact "
    f"percentile_disc with relative error. One scan + one domain-"
    f"bounded aggregate; the cumulative window runs over the ≤"
    f"{_QS_MAXBIN + 1}-row bin relation (allowlisted bounded global "
    f"window), never the fact table.",
)
def quantile_sketch_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bin_ = F.least(
        F.floor(F.col("o_totalprice") / _QS_BINW).cast("bigint"),
        F.lit(_QS_MAXBIN).cast("bigint"),
    )
    c = o.select(bin_.alias("bin")).groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n")
    )
    est = histogram_quantiles(o.sparkSession, c, [0.5, 0.9, 0.99], _QS_BINW)
    exact = o.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)").alias("e50"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)").alias("e90"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY o_totalprice)").alias("e99"),
    )
    exact_rows = exact.select(
        F.expr("stack(3, 0.5D, e50, 0.9D, e90, 0.99D, e99) AS (p, exact_q)")
    )
    return (
        est.join(F.broadcast(exact_rows), "p")
        .select(
            "p",
            F.round("est_q", 6).alias("est_quantile"),
            F.col("exact_q").cast("double").alias("exact_quantile"),
            F.round(F.abs(F.col("est_q") - F.col("exact_q")) / F.col("exact_q"), 6).alias(
                "rel_err"
            ),
        )
        .orderBy("p")
    )


def histogram_quantiles(
    spark: SparkSession,
    counts: DataFrame,
    probes: list[float],
    binw: float,
) -> DataFrame:
    """(p, est_q) cumulative-interpolation quantile estimates from a
    fixed-width (bin, n) histogram relation.

    Shared verbatim by the batch registry query above and the streaming
    histogram state's quantile report
    (``streaming/drift_stream.py::quantile_report``) — the histogram IS
    the sketch, this is its read path. Every join here runs over the
    bin-domain-bounded relation, never the fact table.
    """
    from pyspark.sql.window import Window as W

    cum = counts.select(
        "bin",
        "n",
        F.sum("n").over(W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0)).alias("cum"),
    )
    tot = counts.agg(F.sum("n").cast("bigint").alias("total"))
    probes_df = spark.createDataFrame([(p,) for p in probes], "p double")
    pt = probes_df.crossJoin(F.broadcast(tot))
    hit = (
        pt.join(
            F.broadcast(cum),
            F.col("cum") >= F.col("p") * F.col("total"),
        )
        .groupBy("p", "total")
        .agg(F.min("bin").alias("bin"))
    )
    return hit.join(F.broadcast(cum), "bin").select(
        "p",
        (
            F.col("bin") * binw
            + binw
            * (F.col("p") * F.col("total") - (F.col("cum") - F.col("n")))
            / F.col("n")
        ).alias("est_q"),
    )


_GQS_ORACLE = f"""
    WITH b AS (
      SELECT o_orderpriority AS grp,
             LEAST(CAST(FLOOR(o_totalprice / {_QS_BINW}) AS BIGINT),
                   {_QS_MAXBIN}) AS bin
      FROM orders),
    c AS (
      SELECT grp, bin, CAST(COUNT(*) AS BIGINT) AS n
      FROM b GROUP BY grp, bin),
    cum AS (
      SELECT grp, bin, n,
             SUM(n) OVER (PARTITION BY grp ORDER BY bin
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM c),
    tot AS (SELECT grp, CAST(SUM(n) AS BIGINT) AS total FROM c GROUP BY grp),
    probes AS (SELECT UNNEST([0.5, 0.9]) AS p),
    hit AS (
      SELECT cu.grp, pr.p, t.total, MIN(cu.bin) AS bin
      FROM cum cu
      JOIN tot t ON t.grp = cu.grp
      CROSS JOIN probes pr
      WHERE cu.cum >= pr.p * t.total
      GROUP BY cu.grp, pr.p, t.total),
    est AS (
      SELECT h.grp, h.p,
             cu.bin * {_QS_BINW}
               + {_QS_BINW} * (h.p * h.total - (cu.cum - cu.n)) / cu.n
               AS est_q
      FROM hit h JOIN cum cu ON cu.grp = h.grp AND cu.bin = h.bin),
    exact AS (
      SELECT o_orderpriority AS grp,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS e50,
             percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice) AS e90
      FROM orders GROUP BY 1),
    exact_rows AS (
      SELECT grp, 0.5 AS p, e50 AS exact_q FROM exact
      UNION ALL SELECT grp, 0.9, e90 FROM exact)
    SELECT e.grp AS priority, e.p AS p,
           ROUND(e.est_q, 6) AS est_quantile,
           CAST(x.exact_q AS DOUBLE) AS exact_quantile,
           ROUND(ABS(e.est_q - x.exact_q) / x.exact_q, 6) AS rel_err
    FROM est e JOIN exact_rows x ON x.grp = e.grp AND x.p = e.p
    ORDER BY priority, e.p
"""


@query(
    "quantile_sketch_by_priority",
    oracle=_GQS_ORACLE,
    doc=f"GROUPED quantile sketch: one fixed-edge histogram per order "
    f"priority (per-group bin counts still merge by cell-wise SUM — "
    f"the grouped form of the sketch algebra), p50/p90 answered by "
    f"per-group cumulative interpolation against the exact grouped "
    f"percentile_disc. The cumulative window is PARTITIONED by group "
    f"(never global); every relation after the one grouped count is "
    f"groups×bins-bounded.",
)
def quantile_sketch_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    o = load_table(spark, sf_dir, "orders")
    bin_ = F.least(
        F.floor(F.col("o_totalprice") / _QS_BINW).cast("bigint"),
        F.lit(_QS_MAXBIN).cast("bigint"),
    )
    c = (
        o.select(F.col("o_orderpriority").alias("grp"), bin_.alias("bin"))
        .groupBy("grp", "bin")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    w = W.partitionBy("grp").orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    cum = c.select("grp", "bin", "n", F.sum("n").over(w).alias("cum"))
    tot = c.groupBy("grp").agg(F.sum("n").cast("bigint").alias("total"))
    probes = o.sparkSession.createDataFrame([(0.5,), (0.9,)], "p double")
    hit = (
        cum.join(F.broadcast(tot), "grp")
        .crossJoin(F.broadcast(probes))
        .filter(F.col("cum") >= F.col("p") * F.col("total"))
        .groupBy("grp", "p", "total")
        .agg(F.min("bin").alias("bin"))
    )
    est = hit.join(F.broadcast(cum), ["grp", "bin"]).select(
        "grp",
        "p",
        (
            F.col("bin") * _QS_BINW
            + _QS_BINW
            * (F.col("p") * F.col("total") - (F.col("cum") - F.col("n")))
            / F.col("n")
        ).alias("est_q"),
    )
    exact = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)").alias("e50"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)").alias("e90"),
    )
    exact_rows = exact.selectExpr(
        "grp", "stack(2, 0.5D, e50, 0.9D, e90) AS (p, exact_q)"
    )
    return (
        est.join(F.broadcast(exact_rows), ["grp", "p"])
        .select(
            F.col("grp").alias("priority"),
            "p",
            F.round("est_q", 6).alias("est_quantile"),
            F.col("exact_q").cast("double").alias("exact_quantile"),
            F.round(F.abs(F.col("est_q") - F.col("exact_q")) / F.col("exact_q"), 6).alias(
                "rel_err"
            ),
        )
        .orderBy("priority", "p")
    )


# ---------------------------------------------------------------------------
# Bloom false-positive-rate curve: measured vs theoretical across sizes
# ---------------------------------------------------------------------------

_FPR_MS = (256, 1024, 4096)


def _fpr_block_sql(m: int) -> str:
    h_build = _HASH_SQL.format(
        c="CONCAT(CAST(j AS VARCHAR), ':', CAST(k AS VARCHAR))"
    )
    h_probe = _HASH_SQL.format(
        c="CONCAT(CAST(s.j AS VARCHAR), ':', CAST(p.k AS VARCHAR))"
    )
    return f"""
    SELECT CAST({m} AS BIGINT) AS m, CAST({_BLOOM_K} AS BIGINT) AS k,
           n_keys, n_bits_set, n_nonmembers, n_false_positives,
           ROUND(CAST(n_false_positives AS DOUBLE) / n_nonmembers, 6)
               AS measured_fpr,
           ROUND(POWER(1 - POWER(1 - 1.0 / {m},
                                 {_BLOOM_K} * CAST(n_keys AS DOUBLE)),
                       {_BLOOM_K}), 6) AS theoretical_fpr
    FROM (
      WITH build_keys AS (
        SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 400000),
      seeds AS (SELECT UNNEST(range(0, {_BLOOM_K})) AS j),
      build_bits AS (
        SELECT DISTINCT {h_build} % {m} AS bit FROM build_keys, seeds),
      nonmember AS (
        SELECT c.c_custkey AS k FROM customer c
        LEFT JOIN build_keys b ON c.c_custkey = b.k WHERE b.k IS NULL),
      hits AS (
        SELECT p.k, SUM(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
        FROM nonmember p CROSS JOIN seeds s
        LEFT JOIN build_bits b ON {h_probe} % {m} = b.bit
        GROUP BY p.k),
      fp AS (SELECT k FROM hits WHERE n_hit = {_BLOOM_K})
      SELECT (SELECT COUNT(*) FROM build_keys) AS n_keys,
             (SELECT COUNT(*) FROM build_bits) AS n_bits_set,
             (SELECT COUNT(*) FROM nonmember) AS n_nonmembers,
             (SELECT COUNT(*) FROM fp) AS n_false_positives)
    """


_FPR_CURVE_ORACLE = (
    "\nUNION ALL\n".join(_fpr_block_sql(m) for m in _FPR_MS) + "\nORDER BY m"
)


@query(
    "bloom_fpr_curve",
    oracle=_FPR_CURVE_ORACLE,
    doc=f"Bloom-filter false-positive-rate curve: the SAME big-spender key "
    f"set built into k={_BLOOM_K} filters at m={list(_FPR_MS)}, every "
    f"NON-member customer probed, measured FPR next to the theoretical "
    f"(1-(1-1/m)^kn)^k — the honesty metric a sketch deployment sizes "
    f"its filters with (the ANN-recall analogue for bloom_membership_"
    f"sketch). Per size: bits relation bounded by m, probe verdicts one "
    f"keyed aggregate; output is 3 rows regardless of corpus scale.",
)
def bloom_fpr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    seeds = F.array(*[F.lit(j) for j in range(_BLOOM_K)])
    build_keys = (
        o.filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    nonmember = c.select(F.col("c_custkey").alias("k")).join(
        build_keys, "k", "left_anti"
    )
    rows = None
    for m in _FPR_MS:
        build_bits = (
            build_keys.select(F.explode(seeds).alias("j"), "k")
            .select(seeded_bucket(F.col("k"), F.col("j"), m).alias("bit"))
            .distinct()
        )
        probe_bits = nonmember.select("k", F.explode(seeds).alias("j")).select(
            "k", seeded_bucket(F.col("k"), F.col("j"), m).alias("bit")
        )
        hits = (
            probe_bits.join(
                F.broadcast(build_bits.withColumn("_f", F.lit(1))), "bit", "left"
            )
            .groupBy("k")
            .agg(F.sum(F.coalesce(F.col("_f"), F.lit(0))).alias("n_hit"))
        )
        fp_cnt = hits.filter(F.col("n_hit") == _BLOOM_K).agg(
            F.count("*").alias("n_false_positives")
        )
        theo = F.pow(
            1
            - F.pow(
                F.lit(1.0) - 1.0 / m,
                F.lit(_BLOOM_K) * F.col("n_keys").cast("double"),
            ),
            F.lit(_BLOOM_K),
        )
        row = (
            build_keys.agg(F.count("*").alias("n_keys"))
            .crossJoin(build_bits.agg(F.count("*").alias("n_bits_set")))
            .crossJoin(nonmember.agg(F.count("*").alias("n_nonmembers")))
            .crossJoin(fp_cnt)
            .select(
                F.lit(m).cast("bigint").alias("m"),
                F.lit(_BLOOM_K).cast("bigint").alias("k"),
                "n_keys",
                "n_bits_set",
                "n_nonmembers",
                "n_false_positives",
                F.round(
                    F.col("n_false_positives").cast("double")
                    / F.col("n_nonmembers"),
                    6,
                ).alias("measured_fpr"),
                F.round(theo, 6).alias("theoretical_fpr"),
            )
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows.orderBy("m")
