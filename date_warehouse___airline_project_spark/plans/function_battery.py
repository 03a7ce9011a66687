"""Scalar-function batteries covering the remaining SURVEY §2.8–2.10
surface: PII masking + name splitting, geo/finance math (haversine,
currency conversion, refund, range validation, age), business-day
arithmetic, and the fuzzy-correction operator — all oracle-checked.

The testdata star schema has no PII/geo columns, so inputs are synthesized
deterministically from keys (both engines build identical inputs — the
functions under test are the subject, not the data).

Float-function parity note: sin/cos/atan2 can differ by 1 ulp between the
JVM and libm; haversine output is rounded to 4 dp to absorb that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.strings import mask_address, mask_email, mask_phone, name_first_last
from ..sources.catalog import load_table
from .registry import query


@query(
    "pii_mask_and_name_split",
    oracle="""
    WITH p AS (
      SELECT c_custkey,
             'Cust ' || c_name AS full_name,
             lower(replace(c_name, '#', '.')) || '@example.com' AS email,
             '+1-555-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS phone,
             c_mktsegment || ' Street ' || CAST(c_custkey AS VARCHAR) AS address
      FROM customer)
    SELECT c_custkey,
           split_part(full_name, ' ', 1) AS first_name,
           array_to_string(string_split(full_name, ' ')[2:], ' ') AS last_name,
           substr(email, 1, 2) || '***@' || split_part(email, '@', 2) AS email_masked,
           '***' || right(regexp_replace(phone, '[^0-9]', '', 'g'), 4) AS phone_masked,
           substr(address, 1, 10) || '***' AS address_masked
    FROM p
    ORDER BY c_custkey
    """,
    doc="PII masking (email/phone/address) + first/last name split "
    "(SURVEY §2.8 F-S12/F-S14; functions.py:214-250 semantics).",
)
def pii_mask_and_name_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    p = c.select(
        "c_custkey",
        F.concat(F.lit("Cust "), "c_name").alias("full_name"),
        F.concat(
            F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit("."))), F.lit("@example.com")
        ).alias("email"),
        F.concat(
            F.lit("+1-555-"), F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0")
        ).alias("phone"),
        F.concat("c_mktsegment", F.lit(" Street "), F.col("c_custkey").cast("string")).alias(
            "address"
        ),
    )
    first, last = name_first_last("full_name")
    return p.select(
        "c_custkey",
        first.alias("first_name"),
        last.alias("last_name"),
        mask_email("email").alias("email_masked"),
        mask_phone("phone").alias("phone_masked"),
        mask_address("address").alias("address_masked"),
    ).orderBy("c_custkey")


# deterministic pseudo-coordinates per nation key
def _lat(k: str) -> str:
    return f"(({k} * 7) % 140) - 70"


def _lon(k: str) -> str:
    return f"(({k} * 13) % 360) - 180"


_GEO_ORACLE = f"""
    WITH g AS (
      SELECT c_custkey, c_acctbal,
             CAST({_lat('c_nationkey')} AS DOUBLE) AS lat1,
             CAST({_lon('c_nationkey')} AS DOUBLE) AS lon1,
             CAST({_lat('((c_nationkey * 3 + 7) % 25)')} AS DOUBLE) AS lat2,
             CAST({_lon('((c_nationkey * 3 + 7) % 25)')} AS DOUBLE) AS lon2,
             DATE '1960-01-01' + CAST(c_custkey % 15000 AS INT) AS dob,
             DATE '2026-08-01' + CAST(c_custkey % 28 AS INT) AS start_day
      FROM customer)
    SELECT c_custkey,
           ROUND(2 * 6371.0 * ATAN2(
               SQRT(POW(SIN(RADIANS(lat2 - lat1) / 2), 2)
                    + COS(RADIANS(lat1)) * COS(RADIANS(lat2))
                      * POW(SIN(RADIANS(lon2 - lon1) / 2), 2)),
               SQRT(1 - (POW(SIN(RADIANS(lat2 - lat1) / 2), 2)
                    + COS(RADIANS(lat1)) * COS(RADIANS(lat2))
                      * POW(SIN(RADIANS(lon2 - lon1) / 2), 2)))), 4) AS haversine_km,
           CAST(ROUND(CAST(c_acctbal AS DECIMAL(18,2))
                      * (CASE c_custkey % 3 WHEN 0 THEN CAST(1.00 AS DECIMAL(6,2))
                                           WHEN 1 THEN CAST(0.92 AS DECIMAL(6,2))
                                           ELSE CAST(0.79 AS DECIMAL(6,2)) END), 2)
                AS DOUBLE) AS converted_amount,
           GREATEST(0.0, CAST(ROUND(CAST(c_acctbal AS DECIMAL(18,2))
                                    * CAST(0.75 AS DECIMAL(6,2)), 2)
                              AS DOUBLE)) AS refund_75pct,
           CASE WHEN c_acctbal BETWEEN 0 AND 5000 THEN 1 ELSE 0 END AS acctbal_in_range,
           CAST(FLOOR(DATEDIFF('day', dob, DATE '2026-01-01') / 365.25) AS BIGINT) AS age_years,
           STRFTIME(list_filter(generate_series(start_day + 1, start_day + 11,
                                                INTERVAL 1 DAY),
                                d -> dayofweek(d) NOT IN (0, 6))[5],
                    '%Y-%m-%d') AS plus5_business_days
    FROM g
    ORDER BY c_custkey
"""


@query(
    "geo_finance_battery",
    oracle=_GEO_ORACLE,
    doc="Haversine distance, currency conversion, refund calc, range check, "
    "age-from-DOB, add-5-business-days (SURVEY §2.9 F-D3/F-D5, §2.10 "
    "F-M6/F-M7/F-M9/F-M10) — native column exprs; business days via "
    "sequence+filter, no UDF.",
)
def geo_finance_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_nationkey")
    k2 = (k * 3 + 7) % 25
    lat1, lon1 = ((k * 7) % 140 - 70).cast("double"), ((k * 13) % 360 - 180).cast("double")
    lat2, lon2 = ((k2 * 7) % 140 - 70).cast("double"), ((k2 * 13) % 360 - 180).cast("double")

    a = F.pow(F.sin(F.radians(lat2 - lat1) / 2), 2) + F.cos(F.radians(lat1)) * F.cos(
        F.radians(lat2)
    ) * F.pow(F.sin(F.radians(lon2 - lon1) / 2), 2)
    haversine = 2 * 6371.0 * F.atan2(F.sqrt(a), F.sqrt(1 - a))

    # exact-decimal money math: double round() half-way behavior differs
    # between engines; decimal is exact and rounds identically
    dec6 = "decimal(6,2)"
    rate = (
        F.when(F.col("c_custkey") % 3 == 0, F.lit(1.00).cast(dec6))
        .when(F.col("c_custkey") % 3 == 1, F.lit(0.92).cast(dec6))
        .otherwise(F.lit(0.79).cast(dec6))
    )
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    dob = F.date_add(F.lit("1960-01-01").cast("date"), (F.col("c_custkey") % 15000).cast("int"))
    age = F.floor(
        F.datediff(F.lit("2026-01-01").cast("date"), dob) / F.lit(365.25)
    ).cast("bigint")
    start = F.date_add(F.lit("2026-08-01").cast("date"), (F.col("c_custkey") % 28).cast("int"))
    busdays = F.filter(
        F.sequence(F.date_add(start, 1), F.date_add(start, 11)),
        lambda d: ~F.dayofweek(d).isin(1, 7),  # Spark: 1=Sunday, 7=Saturday
    )

    return c.select(
        "c_custkey",
        F.round(haversine, 4).alias("haversine_km"),
        F.round(bal * rate, 2).cast("double").alias("converted_amount"),
        # clamp AFTER the exact-decimal round (greatest() would re-unify the
        # decimal scales — and in duckdb promote to double — first)
        F.greatest(
            F.lit(0.0), F.round(bal * F.lit(0.75).cast(dec6), 2).cast("double")
        ).alias("refund_75pct"),
        F.when(F.col("c_acctbal").between(0, 5000), 1).otherwise(0).alias("acctbal_in_range"),
        age.alias("age_years"),
        F.date_format(F.element_at(busdays, 5), "yyyy-MM-dd").alias("plus5_business_days"),
    ).orderBy("c_custkey")


_FUZZY_ORACLE = """
    WITH dims AS (SELECT DISTINCT c_mktsegment AS seg FROM customer),
    dirty AS (
      SELECT c_custkey,
             substr(c_mktsegment, 1, 1 + c_custkey % (length(c_mktsegment) - 1))
             || substr(c_mktsegment, 3 + c_custkey % (length(c_mktsegment) - 1))
                 AS dirty_seg
      FROM customer),
    scored AS (
      SELECT d.c_custkey, d.dirty_seg, m.seg,
             100.0 * (1.0 - CAST(levenshtein(upper(trim(d.dirty_seg)), upper(trim(m.seg)))
                                 AS DOUBLE)
                      / greatest(length(upper(trim(d.dirty_seg))),
                                 length(upper(trim(m.seg))), 1)) AS score
      FROM dirty d, dims m),
    best AS (
      SELECT c_custkey, dirty_seg, seg, score,
             ROW_NUMBER() OVER (PARTITION BY c_custkey, dirty_seg
                                ORDER BY score DESC, seg DESC) AS rn
      FROM scored WHERE score >= 85.0)
    SELECT d.c_custkey, d.dirty_seg,
           COALESCE(b.seg, d.dirty_seg) AS corrected,
           ROUND(b.score, 6) AS fuzzy_score
    FROM dirty d
    LEFT JOIN best b ON b.c_custkey = d.c_custkey AND b.dirty_seg = d.dirty_seg AND b.rn = 1
    ORDER BY d.c_custkey
"""


# --- WRatio fuzzy correction (partial-ratio blend) ------------------------
# SQL fragments mirroring operators/fuzzy.py::_py_wratio exactly (same float
# op sequence, so DuckDB reproduces the scores bit-for-bit).
def _sim_sql(x: str, y: str) -> str:
    return (
        f"100.0 * (1.0 - CAST(levenshtein({x}, {y}) AS DOUBLE)"
        f" / greatest(length({x}), length({y}), 1))"
    )


def _tsort_sql(x: str) -> str:
    return f"array_to_string(list_sort(string_split_regex(trim({x}), '\\s+')), ' ')"


def _partial_sql(x: str, y: str) -> str:
    """Best same-length-window levenshtein similarity of the shorter of
    (x, y) against the longer — mirrors operators/fuzzy.py::_py_partial,
    including the empty-shorter → 0 guard (rapidfuzz semantics)."""
    s = f"CASE WHEN length({x}) <= length({y}) THEN {x} ELSE {y} END"
    l = f"CASE WHEN length({x}) <= length({y}) THEN {y} ELSE {x} END"
    return (
        f"CASE WHEN length({s}) = 0 THEN 0.0 ELSE "
        f"list_max(list_transform("
        f"generate_series(1, greatest(length({l}) - length({s}) + 1, 1)), "
        f"i -> 100.0 * (1.0 - CAST(levenshtein({s}, substr({l}, i, greatest(length({s}), 1))) AS DOUBLE)"
        f" / greatest(length({s}), 1)))) END"
    )


# The WRatio scoring CTEs: read ``pre(c_custkey, dirty_seg, seg, a, b)``,
# ``a``/``b`` being the upper/trimmed pair, and define ``scored(c_custkey,
# dirty_seg, seg, score)``. Shared by the oracle below and by the test that
# pins operators/fuzzy.py::_py_wratio to it.
_WRATIO_SCORING_CTES = f"""toks AS (
      SELECT *,
             {_tsort_sql('a')} AS tsa, {_tsort_sql('b')} AS tsb,
             list_distinct(string_split_regex(trim(a), '\\s+')) AS ta,
             list_distinct(string_split_regex(trim(b), '\\s+')) AS tb
      FROM pre),
    pieces AS (
      SELECT *,
             array_to_string(list_sort(list_filter(ta, x -> list_contains(tb, x))), ' ') AS sect,
             trim(concat_ws(' ',
                 array_to_string(list_sort(list_filter(ta, x -> list_contains(tb, x))), ' '),
                 array_to_string(list_sort(list_filter(ta, x -> NOT list_contains(tb, x))), ' '))) AS c1,
             trim(concat_ws(' ',
                 array_to_string(list_sort(list_filter(ta, x -> list_contains(tb, x))), ' '),
                 array_to_string(list_sort(list_filter(tb, x -> NOT list_contains(ta, x))), ' '))) AS c2
      FROM toks),
    comp AS (
      SELECT c_custkey, dirty_seg, seg,
             {_sim_sql('a', 'b')} AS base,
             {_sim_sql('tsa', 'tsb')} AS sim_ts,
             greatest({_sim_sql('sect', 'c1')}, {_sim_sql('sect', 'c2')},
                      {_sim_sql('c1', 'c2')}) AS sim_tset,
             {_partial_sql('a', 'b')} AS part_ab,
             {_partial_sql('tsa', 'tsb')} AS part_ts,
             greatest({_partial_sql('sect', 'c1')}, {_partial_sql('sect', 'c2')},
                      {_partial_sql('c1', 'c2')}) AS part_tset,
             CAST(greatest(length(a), length(b)) AS DOUBLE)
                 / greatest(least(length(a), length(b)), 1) AS len_ratio
      FROM pieces),
    scored AS (
      SELECT c_custkey, dirty_seg, seg,
             CASE WHEN len_ratio >= 1.5
                  THEN greatest(base,
                       CASE WHEN len_ratio > 8 THEN 0.6 ELSE 0.9 END * part_ab,
                       0.95 * CASE WHEN len_ratio > 8 THEN 0.6 ELSE 0.9 END * part_ts,
                       0.95 * CASE WHEN len_ratio > 8 THEN 0.6 ELSE 0.9 END * part_tset)
                  ELSE greatest(base, 0.95 * sim_ts, 0.95 * sim_tset) END AS score
      FROM comp)"""


_WRATIO_ORACLE = f"""
    WITH dims AS (SELECT DISTINCT c_mktsegment AS seg FROM customer),
    dirty AS (
      SELECT c_custkey,
             CASE c_custkey % 3
               WHEN 0 THEN c_mktsegment || ' DEPT'
               WHEN 1 THEN substr(c_mktsegment, 1, 1 + c_custkey % (length(c_mktsegment) - 1))
                           || substr(c_mktsegment, 3 + c_custkey % (length(c_mktsegment) - 1))
               ELSE 'QQQQQQQQ' END AS dirty_seg
      FROM customer),
    pre AS (
      SELECT d.c_custkey, d.dirty_seg, m.seg,
             upper(trim(d.dirty_seg)) AS a, upper(trim(m.seg)) AS b
      FROM dirty d, dims m),
    {_WRATIO_SCORING_CTES},
    best AS (
      SELECT c_custkey, dirty_seg, seg, score,
             ROW_NUMBER() OVER (PARTITION BY c_custkey, dirty_seg
                                ORDER BY score DESC, seg DESC) AS rn
      FROM scored WHERE score >= 85.0)
    SELECT d.c_custkey, d.dirty_seg,
           COALESCE(b.seg, d.dirty_seg) AS corrected,
           ROUND(b.score, 6) AS fuzzy_score
    FROM dirty d
    LEFT JOIN best b ON b.c_custkey = d.c_custkey AND b.dirty_seg = d.dirty_seg AND b.rn = 1
    ORDER BY d.c_custkey
"""


@query(
    "fuzzy_wratio_correction",
    oracle=_WRATIO_ORACLE,
    doc="WRatio fuzzy correction (reference scorer, cleaning.py:262-295) "
    "mirroring public fuzzywuzzy's full structure: below length-ratio 1.5 "
    "max(base, 0.95*token_sort, 0.95*token_set); above it max(base, "
    "pscale*partial, 0.95*pscale*partial-token-sort/-set) with pscale 0.9, "
    "or 0.6 beyond ratio 8 (the much-much-shorter regime). Corpus mixes "
    "three corruption modes: ' DEPT' suffix (only the partial window "
    "reaches 85), one deleted char (base ratio suffices), and garbage "
    "(uncorrectable). Oracle replicates the whole blend bit-for-bit.",
)
def fuzzy_wratio_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.fuzzy import fuzzy_correct

    c = load_table(spark, sf_dir, "customer")
    seg, key = F.col("c_mktsegment"), F.col("c_custkey")
    mode = key % 3
    cut = 1 + key % (F.length(seg) - 1)
    dirty_val = (
        F.when(mode == 0, F.concat(seg, F.lit(" DEPT")))
        .when(
            mode == 1,
            F.concat(F.substring(seg, F.lit(1), cut), F.substring(seg, cut + 2, F.lit(100))),
        )
        .otherwise(F.lit("QQQQQQQQ"))
    )
    # carry the original dirty value THROUGH the correction join instead
    # of re-deriving it in a second scan + re-join on c_custkey (r11,
    # guide §2.4: fuzzy_correct left-joins a broadcast correction map
    # onto its input, so extra columns ride along for free — the old
    # shape paid a 150k x 150k equi-join and a second customer scan just
    # to recover a value this row already computed)
    dirty = c.select(
        "c_custkey", dirty_val.alias("dirty_seg"), dirty_val.alias("dirty_orig")
    )
    dims = c.select("c_mktsegment").distinct()
    fixed = fuzzy_correct(dirty, "dirty_seg", dims, "c_mktsegment", threshold=85.0, scorer="wratio")
    return (
        fixed
        .select(
            "c_custkey",
            F.col("dirty_orig").alias("dirty_seg"),
            F.col("dirty_seg").alias("corrected"),
            F.round("dirty_seg_fuzzy_score", 6).alias("fuzzy_score"),
        )
        .orderBy("c_custkey")
    )


@query(
    "fuzzy_code_correction",
    oracle=_FUZZY_ORACLE,
    doc="Fuzzy similarity-join correction (SURVEY §2.3 J2): one char deleted "
    "from each segment code, repaired against the dim via levenshtein ratio "
    "≥ 85, top-1 per value. Oracle replicates corruption + scoring + tiebreak.",
)
def fuzzy_code_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.fuzzy import fuzzy_correct

    c = load_table(spark, sf_dir, "customer")
    seg, key = F.col("c_mktsegment"), F.col("c_custkey")
    cut = 1 + key % (F.length(seg) - 1)  # delete char at position cut+1
    dirty_expr = F.concat(
        F.substring(seg, F.lit(1), cut), F.substring(seg, cut + 2, F.lit(100))
    )
    # carry the original dirty value THROUGH the correction join (r11,
    # guide §2.4 — see fuzzy_wratio_correction): fuzzy_correct left-joins
    # a broadcast correction map onto its input, so the extra column
    # rides along instead of paying a second scan + equi-join
    dirty = c.select(
        "c_custkey", dirty_expr.alias("dirty_seg"), dirty_expr.alias("dirty_orig")
    )
    dims = c.select("c_mktsegment").distinct()
    fixed = fuzzy_correct(dirty, "dirty_seg", dims, "c_mktsegment", threshold=85.0)
    return (
        fixed
        .select(
            "c_custkey",
            F.col("dirty_orig").alias("dirty_seg"),
            F.col("dirty_seg").alias("corrected"),
            F.round("dirty_seg_fuzzy_score", 6).alias("fuzzy_score"),
        )
        .orderBy("c_custkey")
    )


@query(
    "encoding_functions_battery",
    oracle="""
    SELECT p_partkey,
           to_base64(encode(p_brand)) AS brand_b64,
           to_hex(p_partkey) AS key_hex,
           ascii(p_name) AS first_cp,
           chr(65 + CAST(p_partkey % 26 AS INTEGER)) AS letter,
           md5(p_type) AS type_md5,
           sha256(p_brand) AS brand_sha256
    FROM part
    WHERE p_partkey % 13 = 0
    ORDER BY p_partkey
    """,
    doc="Binary/encoding surface: base64 over utf-8 bytes, integer hex "
    "(two's-complement parity incl. the full-width case), ascii/chr "
    "codepoint round-trip, md5 + sha2-256 hex digests - byte-identical "
    "on both engines.",
)
def encoding_functions_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_partkey") % 13 == 0)
        .select(
            "p_partkey",
            F.base64(F.col("p_brand").cast("binary")).alias("brand_b64"),
            F.hex("p_partkey").alias("key_hex"),
            F.ascii("p_name").alias("first_cp"),
            F.char(F.lit(65) + (F.col("p_partkey") % 26).cast("int")).alias("letter"),
            F.md5("p_type").alias("type_md5"),
            F.sha2(F.col("p_brand").cast("binary"), 256).alias("brand_sha256"),
        )
        .orderBy("p_partkey")
    )
