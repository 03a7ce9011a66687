"""Training-data curation queries over ``documents`` — the pipeline steps a
large-scale pretraining corpus needs beyond dedup/quality (which live in
plans/dedup.py and plans/text.py):

  decontamination   n-gram overlap of candidate docs against a benchmark
                    set (the eval-leak guard every corpus release runs)
  repetition        repeated-n-gram ratio (Gopher-style repetition filter)
  sequence packing  deterministic doc → fixed-token-budget pack assignment
  source mixing     per-source hash-gated sampling rates (data mixing)
  shard export      deterministic shuffled shard/position assignment

Scale notes: every step is a hash gate, a keyed shuffle, or a window
partitioned by a bounded key (source / shard) — no global sorts, no
all-pairs joins. The decontamination join touches only shingles that occur
in the (small) benchmark side; at 100 TB that side broadcasts.

All hashes are the repo-standard engine-portable 56-bit md5 prefix
(plans/sampling.py), so the DuckDB oracles replicate every assignment
bit-for-bit — no RNG anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.text_dedup import _materialize, _memo, shingle_index, tokens
from ..session import session_tmpdir
from ..sources.catalog import load_table
from .registry import query

_HASH_SQL = "CAST(CONCAT('0x', SUBSTR(MD5(CAST({c} AS VARCHAR)), 1, 14)) AS BIGINT)"


from ..functions.hashing import hash56 as _hash56


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# decontamination: candidate docs vs a benchmark set
# ---------------------------------------------------------------------------

_DECON_ORACLE = """
    WITH tk AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(0, greatest(len(toks) - 2, 0)),
                 i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) AS sh
      FROM tk WHERE len(toks) >= 3),
    ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
    bench AS (SELECT DISTINCT g FROM ex WHERE doc_id % 50 = 0),
    ev AS (SELECT doc_id, g FROM ex WHERE doc_id % 50 <> 0),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM ev GROUP BY doc_id),
    hits AS (
      SELECT e.doc_id, COUNT(*) AS n_overlap
      FROM ev e JOIN bench b USING (g) GROUP BY e.doc_id)
    SELECT s.doc_id, s.n_shingles,
           COALESCE(h.n_overlap, 0) AS n_overlap,
           ROUND(CAST(COALESCE(h.n_overlap, 0) AS DOUBLE) / s.n_shingles, 6)
               AS overlap_frac,
           CASE WHEN CAST(COALESCE(h.n_overlap, 0) AS DOUBLE) / s.n_shingles
                     >= 0.2 THEN 1 ELSE 0 END AS contaminated
    FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
    ORDER BY s.doc_id
"""


@query(
    "doc_decontamination_overlap",
    oracle=_DECON_ORACLE,
    doc="Eval-set decontamination: word-3-gram overlap of every candidate "
    "doc against the benchmark set (doc_id % 50 == 0 stands in for the "
    "eval corpus). Inverted-index semi-join — candidates only ever meet "
    "benchmark shingles (a broadcast-sized side at any corpus scale), "
    "never each other; flag at >= 20% overlap.",
)
def doc_decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    inv = shingle_index(d, "doc_id", "text", 3)
    bench_sh = (
        inv.filter(F.col("_id") % 50 == 0).select("_g").distinct()
    )
    ev = inv.filter(F.col("_id") % 50 != 0)
    sizes = ev.groupBy("_id").agg(F.count("*").alias("n_shingles"))
    hits = (
        ev.join(bench_sh, "_g", "left_semi")
        .groupBy("_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    frac = F.col("n_overlap").cast("double") / F.col("n_shingles")
    return (
        sizes.join(hits, "_id", "left")
        .na.fill({"n_overlap": 0})
        .select(
            F.col("_id").alias("doc_id"),
            "n_shingles",
            "n_overlap",
            F.round(frac, 6).alias("overlap_frac"),
            F.when(frac >= 0.2, 1).otherwise(0).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# repetition filter (Gopher-style repeated n-gram ratio)
# ---------------------------------------------------------------------------

_REPEAT_ORACLE = """
    WITH tk AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents),
    base AS (
      SELECT doc_id,
             greatest(len(toks) - 2, 0) AS total_grams,
             len(list_distinct(list_transform(range(0, greatest(len(toks) - 2, 0)),
                 i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))))
                 AS distinct_grams
      FROM tk WHERE len(toks) >= 3)
    SELECT doc_id, total_grams, distinct_grams,
           ROUND(1.0 - CAST(distinct_grams AS DOUBLE) / total_grams, 6)
               AS repeated_frac,
           CASE WHEN 1.0 - CAST(distinct_grams AS DOUBLE) / total_grams > 0.2
                THEN 1 ELSE 0 END AS flagged_repetitive
    FROM base
    ORDER BY doc_id
"""


@query(
    "doc_repeated_ngram_ratio",
    oracle=_REPEAT_ORACLE,
    doc="Repetition quality filter: fraction of word-3-gram occurrences "
    "that are repeats of an earlier gram in the same doc (Gopher-style "
    "rule; > 0.2 flags the doc). Distinct counts come from the shared "
    "shingle inverted index — one keyed aggregate, no array lambdas.",
)
def doc_repeated_ngram_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    totals = d.select(
        "doc_id",
        F.greatest(F.size(tokens("text")) - 2, F.lit(0)).cast("bigint").alias("total_grams"),
    ).filter(F.col("total_grams") >= 1)
    distinct = (
        shingle_index(d, "doc_id", "text", 3)
        .groupBy("_id")
        .agg(F.count("*").alias("distinct_grams"))
        .withColumnRenamed("_id", "doc_id")
    )
    ratio = 1.0 - F.col("distinct_grams").cast("double") / F.col("total_grams")
    return (
        totals.join(distinct, "doc_id")
        .select(
            "doc_id",
            "total_grams",
            "distinct_grams",
            F.round(ratio, 6).alias("repeated_frac"),
            F.when(ratio > 0.2, 1).otherwise(0).alias("flagged_repetitive"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# deterministic sequence packing (fixed token budget per pack)
# ---------------------------------------------------------------------------

_PACK_CAPACITY = 512

_PACK_ORACLE = f"""
    WITH t AS (
      SELECT source, doc_id,
             CAST(LENGTH(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tok
      FROM documents),
    c AS (
      SELECT source, doc_id, n_tok,
             COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
      FROM t)
    SELECT source,
           CAST(FLOOR(cum_prev / {_PACK_CAPACITY}.0) AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS pack_tokens
    FROM c
    GROUP BY source, pack_id
    ORDER BY source, pack_id
"""


@query(
    "doc_sequence_packing",
    oracle=_PACK_ORACLE,
    doc=f"Deterministic sequence packing: docs stream in doc_id order within "
    f"each source, and a doc joins pack floor(prefix_tokens/{_PACK_CAPACITY}) "
    f"— the chunked-packing approximation of first-fit that stays "
    f"one-window-pass. Window is PARTITIONED BY source (never global), so "
    f"packing parallelizes across sources/shards at any corpus size; for "
    f"sources too large for one task, compose with the shard assignment "
    f"(doc_shard_export_assignment) and pack per (source, shard).",
)
def doc_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    t = d.select(
        "source",
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(r"\S+"), F.lit(0)))
        .cast("bigint")
        .alias("n_tok"),
    )
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    c = t.withColumn("cum_prev", F.coalesce(F.sum("n_tok").over(w), F.lit(0)))
    return (
        c.groupBy(
            "source",
            F.floor(F.col("cum_prev") / float(_PACK_CAPACITY)).cast("bigint").alias("pack_id"),
        )
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("pack_tokens"))
        .orderBy("source", "pack_id")
    )


# ---------------------------------------------------------------------------
# source-weighted sampling (data mixing)
# ---------------------------------------------------------------------------

_MIX_ORACLE = f"""
    WITH rated AS (
      SELECT source, doc_id,
             1 + {_HASH_SQL.format(c='source')} % 10 AS rate_tenths
      FROM documents)
    SELECT source, rate_tenths,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN {_HASH_SQL.format(c='doc_id')} % 10 < rate_tenths
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM rated
    GROUP BY source, rate_tenths
    ORDER BY source
"""


@query(
    "doc_source_weighted_sample",
    oracle=_MIX_ORACLE,
    doc="Data mixing: each source gets a deterministic sampling rate "
    "(rate_tenths/10, derived from the source hash — stand-in for a "
    "curated mixing table), and docs pass a seedless per-doc hash gate at "
    "that rate. Pure scan-side filter: one hash per row, no shuffle "
    "before the report aggregate, reproducible on any engine/partitioning.",
)
def doc_source_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    rated = d.select(
        "source", "doc_id", (1 + _hash56(F.col("source")) % 10).alias("rate_tenths")
    )
    kept = F.when(_hash56(F.col("doc_id")) % 10 < F.col("rate_tenths"), 1).otherwise(0)
    return (
        rated.groupBy("source", "rate_tenths")
        .agg(F.count("*").alias("n_docs"), F.sum(kept).alias("n_kept"))
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# deterministic shuffled shard export
# ---------------------------------------------------------------------------

_NSHARDS = 8

_SHARD_ORACLE = f"""
    WITH h AS (
      SELECT doc_id, n_chars,
             {_HASH_SQL.format(c='doc_id')} AS h56
      FROM documents)
    SELECT doc_id,
           h56 % {_NSHARDS} AS shard,
           ROW_NUMBER() OVER (PARTITION BY h56 % {_NSHARDS}
                              ORDER BY h56, doc_id) AS pos,
           n_chars
    FROM h
    ORDER BY shard, pos
"""


@query(
    "doc_shard_export_assignment",
    oracle=_SHARD_ORACLE,
    doc=f"Training-export sharding: shard = doc-hash % {_NSHARDS}, position "
    f"= rank of the hash within the shard — a deterministic global shuffle "
    f"(hash order is uncorrelated with doc_id order) without any RNG "
    f"state. One shuffle on the shard key; per-shard sort only (windows "
    f"partitioned by shard), so shards write in parallel at export time.",
)
def doc_shard_export_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    h = d.select("doc_id", "n_chars", _hash56(F.col("doc_id")).alias("h56"))
    w = W.partitionBy(F.col("h56") % _NSHARDS).orderBy("h56", "doc_id")
    return h.select(
        "doc_id",
        (F.col("h56") % _NSHARDS).alias("shard"),
        F.row_number().over(w).cast("bigint").alias("pos"),
        "n_chars",
    ).orderBy("shard", "pos")


# ---------------------------------------------------------------------------
# flagship: end-to-end curation pipeline (quality -> repetition -> dedup ->
# mixing -> token accounting)
# ---------------------------------------------------------------------------

_CURATION_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, source, lang, text,
             CAST(LENGTH(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tok,
             CAST(LENGTH(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
                 / GREATEST(LENGTH(text), 1) AS punct_ratio,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents),
    qual AS (
      SELECT * FROM base
      WHERE n_tok BETWEEN 5 AND 100000 AND punct_ratio < 0.2),
    rep AS (
      SELECT doc_id, source, lang, text, n_tok,
             greatest(len(toks) - 2, 0) AS total3,
             len(list_distinct(list_transform(range(0, greatest(len(toks) - 2, 0)),
                 i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])))) AS distinct3
      FROM qual WHERE len(toks) >= 3),
    rep_ok AS (
      SELECT doc_id, source, lang, text, n_tok FROM rep
      WHERE 1.0 - CAST(distinct3 AS DOUBLE) / total3 <= 0.2),
    fp AS (
      SELECT *, MD5(SUBSTR(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g'), 1, 64))
                    AS fingerprint
      FROM rep_ok),
    dedup AS (
      SELECT doc_id, source, lang, n_tok FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
        FROM fp) WHERE rn = 1),
    mixed AS (
      SELECT * FROM dedup
      WHERE {_HASH_SQL.format(c='doc_id')} % 10
            < 1 + {_HASH_SQL.format(c='source')} % 10)
    SELECT source, lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens
    FROM mixed
    GROUP BY source, lang
    ORDER BY source, lang
"""


@query(
    "doc_curation_pipeline",
    oracle=_CURATION_ORACLE,
    doc="End-to-end corpus curation in ONE plan: quality gate (length + "
    "punctuation ratio) -> repetition gate (repeated-3-gram ratio <= 0.2) "
    "-> exact dedup (normalized-prefix fingerprint, keep lowest doc_id) -> "
    "source-weighted mixing (hash gates) -> per-(source, lang) token "
    "accounting. Composes the individual curation operators; every stage "
    "is a scan-side filter, a keyed aggregate, or a fingerprint-keyed "
    "window - no stage materializes, Catalyst pipelines the whole chain.",
)
def doc_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    n_tok = F.size(F.regexp_extract_all("text", F.lit(r"\S+"), F.lit(0))).cast("bigint")
    punct_ratio = F.size(F.regexp_extract_all("text", F.lit("[.,;:!?]"), F.lit(0))).cast(
        "double"
    ) / F.greatest(F.length("text"), F.lit(1))
    qual = d.select("doc_id", "source", "lang", "text", n_tok.alias("n_tok")).filter(
        n_tok.between(5, 100000) & (punct_ratio < 0.2)
    )
    # repetition gate via the shared shingle inverted index (distinct 3-grams)
    totals = qual.withColumn(
        "total3", F.greatest(F.size(tokens("text")) - 2, F.lit(0)).cast("bigint")
    ).filter(F.size(tokens("text")) >= 3)
    # distinct-3-gram counts come from the FULL-corpus shingle index, not a
    # qual-subset one: per-doc values are corpus-independent, the inner join
    # below filters to qual anyway, and keying the memo on the full corpus
    # shares one cached index across minhash/ngram/decontamination/curation
    # instead of building a second near-identical relation.
    distinct3 = (
        shingle_index(d, "doc_id", "text", 3)
        .groupBy("_id")
        .agg(F.count("*").alias("distinct3"))
        .withColumnRenamed("_id", "doc_id")
    )
    rep_ok = (
        totals.join(distinct3, "doc_id")
        .filter(1.0 - F.col("distinct3").cast("double") / F.col("total3") <= 0.2)
        .select("doc_id", "source", "lang", "text", "n_tok")
    )
    fp = F.md5(F.substring(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), 1, 64))
    w = W.partitionBy(fp).orderBy("doc_id")
    dedup = (
        rep_ok.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source", "lang", "n_tok")
    )
    mixed = dedup.filter(
        _hash56(F.col("doc_id")) % 10 < 1 + _hash56(F.col("source")) % 10
    )
    return (
        mixed.groupBy("source", "lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("total_tokens"))
        .orderBy("source", "lang")
    )


# ---------------------------------------------------------------------------
# exact duplicate-span detection (substring-level dedup)
# ---------------------------------------------------------------------------

_SPAN_ORACLE = """
    WITH tk AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(0, greatest(len(toks) - 7, 0)),
                 i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3], toks[i+4],
                                toks[i+5], toks[i+6], toks[i+7], toks[i+8]))) AS g
      FROM tk WHERE len(toks) >= 8),
    dup AS (
      SELECT g FROM (
        SELECT g, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY g) WHERE nd >= 2),
    sizes AS (SELECT doc_id, COUNT(*) AS n_spans FROM g GROUP BY doc_id),
    d AS (
      SELECT doc_id, COUNT(*) AS n_dup
      FROM g JOIN dup USING (g) GROUP BY doc_id)
    SELECT s.doc_id, s.n_spans,
           COALESCE(d.n_dup, 0) AS n_dup_spans,
           ROUND(CAST(COALESCE(d.n_dup, 0) AS DOUBLE) / s.n_spans, 6)
               AS dup_span_frac,
           CASE WHEN CAST(COALESCE(d.n_dup, 0) AS DOUBLE) / s.n_spans > 0.5
                THEN 1 ELSE 0 END AS drop_flag
    FROM sizes s LEFT JOIN d ON s.doc_id = d.doc_id
    ORDER BY s.doc_id
"""


@query(
    "doc_duplicate_spans",
    oracle=_SPAN_ORACLE,
    doc="Exact duplicate-span detection (substring-level dedup a la "
    "Lee et al. 2022, word-8-gram granularity): every 8-token span kept "
    "WITH position multiplicity, spans appearing in >= 2 distinct docs "
    "marked duplicated, per-doc duplicated-span fraction computed, docs "
    "over 50% flagged. Plan: posexplode+lead span stream (codegen, no "
    "array lambdas), one groupBy on the span string for the distinct-doc "
    "count (map-side partial), left-semi back — span strings shuffle "
    "once; at 100 TB the span column would be a 64-bit hash instead of "
    "the text (same plan shape, narrower shuffle).",
)
def doc_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = 8
    d = _docs(spark, sf_dir)
    def build() -> DataFrame:
        # shared memoized token stream — the tokenizer regex runs once
        # per corpus per session across the whole dedup/text family
        from ..operators.text_dedup import token_stream

        tok = token_stream(d, "doc_id", "text").withColumnRenamed("_id", "doc_id")
        w = W.partitionBy("doc_id").orderBy("_pos")
        leads = [F.lead("_tok", j).over(w) for j in range(1, n)]
        return (
            tok.select(
                "doc_id",
                F.col("_pos"),
                F.concat_ws(" ", F.col("_tok"), *leads).alias("_g"),
                leads[-1].alias("_last"),
            )
            .where(F.col("_last").isNotNull())
            .select("doc_id", "_pos", "_g")
        )

    # span stream referenced 3x downstream (dup set, sizes, dup counts) —
    # memoized in the shared bounded derived-relation cache, same policy
    # as the shingle inverted index (built once, unpersisted on eviction)
    grams = _memo(d, ("span_index", n), build)
    dup = (
        grams.groupBy("_g")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("_g")
    )
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n_spans"))
    d_cnt = (
        grams.join(dup, "_g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup"))
    )
    frac = F.col("n_dup").cast("double") / F.col("n_spans")
    return (
        sizes.join(d_cnt, "doc_id", "left")
        .na.fill({"n_dup": 0})
        .select(
            "doc_id",
            "n_spans",
            F.col("n_dup").alias("n_dup_spans"),
            F.round(frac, 6).alias("dup_span_frac"),
            F.when(frac > 0.5, 1).otherwise(0).alias("drop_flag"),
        )
        .orderBy("doc_id")
    )


_SPAN_EXTENT_ORACLE = """
    WITH tk AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents),
    gp AS (
      SELECT doc_id, toks,
             unnest(range(0, greatest(len(toks) - 7, 0))) AS pos
      FROM tk WHERE len(toks) >= 8),
    g AS (
      SELECT doc_id, pos,
             concat_ws(' ', toks[pos+1], toks[pos+2], toks[pos+3], toks[pos+4],
                       toks[pos+5], toks[pos+6], toks[pos+7], toks[pos+8]) AS g
      FROM gp),
    dup AS (
      SELECT g FROM (
        SELECT g, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY g) WHERE nd >= 2),
    hits AS (
      SELECT doc_id, pos AS s, pos + 7 AS e FROM g JOIN dup USING (g)),
    brk AS (
      SELECT doc_id, s, e,
             CASE WHEN s <= COALESCE(MAX(e) OVER (
                      PARTITION BY doc_id ORDER BY s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -9) + 1
                  THEN 0 ELSE 1 END AS is_new
      FROM hits),
    isl AS (
      SELECT doc_id, s, e,
             SUM(is_new) OVER (PARTITION BY doc_id ORDER BY s) AS gid
      FROM brk),
    ext AS (
      SELECT doc_id, gid, MIN(s) AS span_start, MAX(e) AS span_end,
             COUNT(*) AS n_grams
      FROM isl GROUP BY doc_id, gid),
    ntok AS (SELECT doc_id, len(toks) AS n_toks FROM tk)
    SELECT e.doc_id,
           COUNT(*) AS n_extents,
           MAX(e.span_end - e.span_start + 1) AS longest_extent_toks,
           CAST(SUM(e.span_end - e.span_start + 1) AS BIGINT) AS covered_toks,
           ROUND(CAST(SUM(e.span_end - e.span_start + 1) AS DOUBLE)
                 / MAX(n.n_toks), 6) AS covered_frac
    FROM ext e JOIN ntok n ON e.doc_id = n.doc_id
    GROUP BY e.doc_id
    ORDER BY e.doc_id
"""


@query(
    "doc_duplicate_span_extents",
    oracle=_SPAN_EXTENT_ORACLE,
    doc="Maximal repeated-span extents (the substring-fidelity step of "
    "Lee et al. 2022 dedup): duplicated word-8-gram hits are stitched "
    "into maximal per-doc token intervals — overlapping or adjacent "
    "[pos, pos+7] hits merge via gaps-and-islands (running MAX(end) "
    "window, break when a hit starts past it), then per-doc extent "
    "count / longest / covered tokens / coverage fraction. Pure "
    "interval algebra over the SAME memoized span-hit relation as "
    "doc_duplicate_spans — no new corpus scan; every window is "
    "partitioned by doc_id, so the plan holds at 100 TB.",
)
def doc_duplicate_span_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = 8
    d = _docs(spark, sf_dir)
    from ..operators.text_dedup import token_stream

    def build() -> DataFrame:
        tok = token_stream(d, "doc_id", "text").withColumnRenamed("_id", "doc_id")
        w = W.partitionBy("doc_id").orderBy("_pos")
        leads = [F.lead("_tok", j).over(w) for j in range(1, n)]
        return (
            tok.select(
                "doc_id",
                F.col("_pos"),
                F.concat_ws(" ", F.col("_tok"), *leads).alias("_g"),
                leads[-1].alias("_last"),
            )
            .where(F.col("_last").isNotNull())
            .select("doc_id", "_pos", "_g")
        )

    grams = _memo(d, ("span_index", n), build)
    dup = (
        grams.groupBy("_g")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("_g")
    )
    hits = grams.join(dup, "_g", "left_semi").select(
        "doc_id", F.col("_pos").alias("s"), (F.col("_pos") + n - 1).alias("e")
    )
    w_run = (
        W.partitionBy("doc_id").orderBy("s").rowsBetween(W.unboundedPreceding, -1)
    )
    brk = hits.withColumn(
        "is_new",
        F.when(
            F.col("s") <= F.coalesce(F.max("e").over(w_run), F.lit(-9)) + 1, 0
        ).otherwise(1),
    )
    isl = brk.withColumn(
        "gid", F.sum("is_new").over(W.partitionBy("doc_id").orderBy("s"))
    )
    ext = isl.groupBy("doc_id", "gid").agg(
        F.min("s").alias("span_start"), F.max("e").alias("span_end")
    )
    ntok = (
        token_stream(d, "doc_id", "text")
        .groupBy(F.col("_id").alias("doc_id"))
        .agg(F.count("*").alias("n_toks"))
    )
    span_len = F.col("span_end") - F.col("span_start") + 1
    return (
        ext.join(ntok, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_extents"),
            F.max(span_len).alias("longest_extent_toks"),
            F.sum(span_len).alias("covered_toks"),
            F.round(
                F.sum(span_len).cast("double") / F.max("n_toks"), 6
            ).alias("covered_frac"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# feature-hashed document embeddings + cosine near-dup
# ---------------------------------------------------------------------------

_FH_DIMS = 16

_FH_ORACLE = f"""
    WITH tk AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents),
    feat AS (
      SELECT doc_id,
             {_HASH_SQL.format(c="CONCAT('d:', tok)")} % {_FH_DIMS} AS dim,
             CASE WHEN {_HASH_SQL.format(c="CONCAT('s:', tok)")} % 2 = 0
                  THEN 1 ELSE -1 END AS sgn
      FROM tk),
    cells AS (
      SELECT doc_id, dim, CAST(SUM(sgn) AS BIGINT) AS val
      FROM feat GROUP BY doc_id, dim),
    dims AS (SELECT UNNEST(range(0, {_FH_DIMS})) AS dim),
    dense AS (
      SELECT d.doc_id, dm.dim, COALESCE(c.val, 0) AS val
      FROM (SELECT DISTINCT doc_id FROM cells) d
      CROSS JOIN dims dm
      LEFT JOIN cells c ON c.doc_id = d.doc_id AND c.dim = dm.dim),
    vec AS (
      SELECT doc_id, LIST(CAST(val AS DOUBLE) ORDER BY dim) AS v
      FROM dense GROUP BY doc_id),
    b AS (
      SELECT doc_id, v,
             (CASE WHEN v[1] >= 0 THEN '1' ELSE '0' END) ||
             (CASE WHEN v[2] >= 0 THEN '1' ELSE '0' END) ||
             (CASE WHEN v[3] >= 0 THEN '1' ELSE '0' END) ||
             (CASE WHEN v[4] >= 0 THEN '1' ELSE '0' END) AS bucket
      FROM vec
      WHERE list_dot_product(v, v) > 0),
    pairs AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
             ROUND(list_dot_product(x.v, y.v)
                   / (SQRT(list_dot_product(x.v, x.v))
                      * SQRT(list_dot_product(y.v, y.v))), 6) AS cos_sim
      FROM b x JOIN b y ON x.bucket = y.bucket AND x.doc_id < y.doc_id)
    SELECT doc_a, doc_b, cos_sim FROM pairs
    WHERE cos_sim >= 0.95
    ORDER BY doc_a, doc_b
"""


@query(
    "doc_hashed_embedding_neardup",
    oracle=_FH_ORACLE,
    doc=f"Embedding-cosine near-dup on raw documents via the feature-"
    f"hashing trick (Weinberger et al. 2009): each token hashes to one of "
    f"{_FH_DIMS} dims with a hashed sign, per-doc integer sums form the "
    f"vector (exact under any partitioning), sign-LSH on the leading 4 "
    f"dims generates candidates, exact cosine >= 0.95 verifies. No "
    f"trained model, no vocabulary — the vectorizer is a pure streaming "
    f"map, so at 100 TB featurization is scan-side and the pair cost is "
    f"the usual bucketed sum of bucket sizes squared, never all-pairs.",
)
def doc_hashed_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import rebalance_compute

    d = _docs(spark, sf_dir)
    # tokenizer regex + (doc, tok) count partials run in the scan stage;
    # a single-file scan plans one task and serializes them on one core
    # (no-op when the scan parallelizes on its own — guide §2)
    tok = rebalance_compute(d.select("doc_id", "text")).select(
        F.col("doc_id"), F.explode(tokens("text")).alias("tok")
    )
    # Hash the VOCABULARY, not the token stream: (dim, sgn) are per-token
    # constants, so collapse repeated tokens first (map-side-combined
    # count) and join the distinct-token relation carrying the two md5
    # derivations — md5 runs once per distinct token instead of twice per
    # occurrence, and a doc-token row contributes sgn·cnt via one
    # multiply. AQE broadcasts the vocab side when small; a shuffle hash
    # join otherwise. Same integer sums, bit-identical to the oracle.
    tokcnt = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("cnt"))
    vocab = tokcnt.select("tok").distinct().select(
        "tok",
        (_hash56(F.concat(F.lit("d:"), F.col("tok"))) % _FH_DIMS).alias("dim"),
        F.when(_hash56(F.concat(F.lit("s:"), F.col("tok"))) % 2 == 0, F.lit(1))
        .otherwise(-1)
        .alias("sgn"),
    )
    cells = (
        tokcnt.join(vocab, "tok")
        .groupBy("doc_id", "dim")
        .agg(F.sum(F.col("sgn") * F.col("cnt")).cast("bigint").alias("val"))
    )
    # Pack the per-dim sums into an array vector and hand the pair stage
    # to the certified bucket-grouped Arrow verify (operators/similarity
    # ::neardup_pairs_multitable with ntables=1 == the single sign-LSH
    # table over dims [0, 4)): each bucket's vectors ship ONCE into the
    # NumPy kernel, pairs are never materialized as join rows. A
    # join-then-verify plan here compiled a per-pair 16-term chain too
    # large for the JIT (interpreted bytecode, ~2.5 us/pair -> 40 s at
    # sf0.1); the kernel does the same arithmetic — sequentially over
    # dims, bit-identical to the relational fold — in ~1 s.
    from ..operators.similarity import dot as _dot
    from ..operators.similarity import neardup_pairs_multitable

    m = F.map_from_entries(
        F.collect_list(F.struct(F.col("dim").cast("int"), F.col("val").cast("double")))
    )
    vec = cells.groupBy("doc_id").agg(m.alias("m")).select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(_FH_DIMS - 1)),
            lambda i: F.coalesce(F.element_at(F.col("m"), i), F.lit(0.0)),
        ).alias("v"),
    )
    # zero vectors are excluded on both sides (their cosine is NaN, which
    # both engines treat as largest — the oracle drops them up front)
    nonzero = vec.filter(_dot(F.col("v"), F.col("v")) > 0)
    pairs = neardup_pairs_multitable(
        nonzero, threshold=0.95, nplanes=4, ntables=1, id_col="doc_id", vec_col="v"
    )
    return (
        pairs.select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            "cos_sim",
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Deterministic negative sampling (contrastive-training pairs)
# ---------------------------------------------------------------------------

_NEG_B = 32  # candidate buckets; at corpus scale pick B ~ n / desired_pool
_NEG_K = 4   # negatives per anchor

_NEG_ORACLE = f"""
    WITH pool AS (
      SELECT doc_id, source,
             {_HASH_SQL.format(c="doc_id")} % {_NEG_B} AS bucket
      FROM documents),
    anchors AS (
      SELECT doc_id AS anchor_id, source AS anchor_source,
             {_HASH_SQL.format(c="doc_id")} % {_NEG_B} AS bucket
      FROM documents WHERE doc_id % 50 = 0),
    ranked AS (
      SELECT a.anchor_id, p.doc_id AS neg_id, p.source AS neg_source,
             ROW_NUMBER() OVER (
               PARTITION BY a.anchor_id
               ORDER BY {_HASH_SQL.format(
                   c="CONCAT(CAST(a.anchor_id AS VARCHAR), '|', CAST(p.doc_id AS VARCHAR))")},
                        p.doc_id) AS neg_rank
      FROM anchors a JOIN pool p
        ON p.bucket = a.bucket AND p.source <> a.anchor_source)
    SELECT anchor_id, neg_rank, neg_id, neg_source
    FROM ranked WHERE neg_rank <= {_NEG_K}
    ORDER BY anchor_id, neg_rank
"""


@query(
    "doc_negative_sampling",
    oracle=_NEG_ORACLE,
    doc=f"Deterministic negative sampling for contrastive training: each "
    f"anchor doc draws {_NEG_K} negatives from OTHER sources without ever "
    f"scanning the full corpus per anchor — both sides are hash-assigned "
    f"to {_NEG_B} buckets and the draw is an equi-join on the anchor's own "
    f"bucket (per-anchor candidate pool = n/B rows), ranked by a pair hash "
    f"so the sample is pseudo-random yet reproducible on any engine. At "
    f"100 TB: B scales with n to bound the pool, the join shuffles on the "
    f"bucket key only, and the per-anchor top-k is a bounded window — no "
    f"cross join, no RNG.",
)
def doc_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    pool = d.select(
        F.col("doc_id").alias("neg_id"),
        F.col("source").alias("neg_source"),
        (_hash56(F.col("doc_id")) % _NEG_B).alias("bucket"),
    )
    anchors = (
        d.filter(F.col("doc_id") % 50 == 0)
        .select(
            F.col("doc_id").alias("anchor_id"),
            F.col("source").alias("anchor_source"),
            (_hash56(F.col("doc_id")) % _NEG_B).alias("bucket"),
        )
    )
    pair_hash = _hash56(
        F.concat(
            F.col("anchor_id").cast("string"),
            F.lit("|"),
            F.col("neg_id").cast("string"),
        )
    )
    ranked = (
        anchors.join(pool, "bucket")
        .filter(F.col("neg_source") != F.col("anchor_source"))
        .withColumn(
            "neg_rank",
            F.row_number().over(
                W.partitionBy("anchor_id").orderBy(pair_hash.asc(), F.col("neg_id").asc())
            ),
        )
    )
    return (
        ranked.filter(F.col("neg_rank") <= _NEG_K)
        .select("anchor_id", "neg_rank", "neg_id", "neg_source")
        .orderBy("anchor_id", "neg_rank")
    )


# ---------------------------------------------------------------------------
# Materialized packed sequences (the export form of sequence packing)
# ---------------------------------------------------------------------------

_PACKED_SEQ_ORACLE = f"""
    WITH t AS (
      SELECT source, doc_id, text,
             CAST(LENGTH(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tok
      FROM documents),
    c AS (
      SELECT source, doc_id, text, n_tok,
             COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
      FROM t)
    SELECT source,
           CAST(FLOOR(cum_prev / {_PACK_CAPACITY}.0) AS BIGINT) AS pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS pack_tokens,
           STRING_AGG(text, ' ' ORDER BY doc_id) AS seq_text
    FROM c
    GROUP BY source, pack_id
    ORDER BY source, pack_id
"""


@query(
    "doc_packed_sequences",
    oracle=_PACKED_SEQ_ORACLE,
    doc=f"Materialized training sequences: the packing assignment of "
    f"doc_sequence_packing PLUS the actual concatenated text per pack "
    f"(docs joined in doc_id order). The concat is collect_list of "
    f"(doc_id, text) structs -> array_sort -> join — a keyed aggregate "
    f"whose per-group payload is one training sequence (~{_PACK_CAPACITY} "
    f"tokens), bounded by the pack capacity regardless of corpus size; "
    f"the window is per-source as in the assignment query. This is the "
    f"step that writes actual model inputs, fused into the same "
    f"one-pass plan.",
)
def doc_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    t = d.select(
        "source",
        "doc_id",
        "text",
        F.size(F.regexp_extract_all("text", F.lit(r"\S+"), F.lit(0)))
        .cast("bigint")
        .alias("n_tok"),
    )
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    c = t.withColumn("cum_prev", F.coalesce(F.sum("n_tok").over(w), F.lit(0)))
    return (
        c.groupBy(
            "source",
            F.floor(F.col("cum_prev") / float(_PACK_CAPACITY)).cast("bigint").alias("pack_id"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("pack_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                    lambda s: s["text"],
                ),
                " ",
            ).alias("seq_text"),
        )
        .orderBy("source", "pack_id")
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split
# ---------------------------------------------------------------------------

_SPLIT_ORACLE = f"""
    WITH s AS (
      SELECT source,
             CASE {_HASH_SQL.format(c="doc_id")} % 10
               WHEN 0 THEN 'test' WHEN 1 THEN 'val' ELSE 'train' END AS split,
             CAST(LENGTH(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tok
      FROM documents)
    SELECT source, split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM s
    GROUP BY source, split
    ORDER BY source, split
"""


@query(
    "doc_train_val_test_split",
    oracle=_SPLIT_ORACLE,
    doc="Deterministic 80/10/10 train/val/test split: membership is a pure "
    "function of the doc-id hash (hash % 10 -> test/val/train), so the "
    "split is disjoint-and-total by construction, reproducible on any "
    "engine, and STABLE under corpus growth — adding documents never "
    "moves an existing one between splits (the property RNG-based "
    "splitting loses). Scan-side expression + one keyed aggregate; no "
    "shuffle of per-doc rows beyond the stats rollup.",
)
def doc_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    h = _hash56(F.col("doc_id")) % 10
    split = (
        F.when(h == 0, F.lit("test")).when(h == 1, F.lit("val")).otherwise(F.lit("train"))
    )
    return (
        d.select(
            "source",
            split.alias("split"),
            F.size(F.regexp_extract_all("text", F.lit(r"\S+"), F.lit(0)))
            .cast("bigint")
            .alias("n_tok"),
        )
        .groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
        .orderBy("source", "split")
    )


# ---------------------------------------------------------------------------
# Curation accounting: the batch twin of streaming/curation_stream.py
# ---------------------------------------------------------------------------

_CURATION_ACCT_ORACLE = """
    WITH g0 AS (
      SELECT doc_id, source, text,
             regexp_extract_all(text, '\\S+') AS words,
             CAST(LENGTH(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_words,
             CAST(LENGTH(regexp_extract_all(text, '[#.]{3,}')) AS BIGINT) AS n_sym,
             CAST(LENGTH(regexp_extract_all(lower(text),
                 '\\b(?:the|be|to|of|and|that|have|with)\\b')) AS BIGINT) AS n_stop
      FROM documents),
    gop AS (
      SELECT doc_id, source, text, n_words AS n_tok FROM (
        SELECT *,
               CAST(LENGTH(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]')))
                    AS BIGINT) AS n_alpha,
               ROUND(list_sum(list_transform(words, w -> CAST(LENGTH(w) AS DOUBLE)))
                     / GREATEST(n_words, 1), 6) AS mwl
        FROM g0)
      WHERE n_words BETWEEN 50 AND 100000
        AND mwl BETWEEN 3 AND 10
        AND CAST(n_alpha AS DOUBLE) / GREATEST(n_words, 1) >= 0.8
        AND CAST(n_sym AS DOUBLE) / GREATEST(n_words, 1) <= 0.1
        AND n_stop >= 2),
    fps AS (
      SELECT doc_id, source, n_tok,
             MD5(SUBSTR(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g'), 1, 64))
                 AS fp
      FROM gop),
    keep AS (SELECT fp, MIN(doc_id) AS doc_id FROM fps GROUP BY fp),
    kept AS (
      SELECT f.source, f.n_tok
      FROM fps f JOIN keep k ON f.fp = k.fp AND f.doc_id = k.doc_id)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM kept
    GROUP BY source
    ORDER BY source
"""


@query(
    "doc_curation_accounting",
    oracle=_CURATION_ACCT_ORACLE,
    doc="Batch twin of the streaming curation pipeline "
    "(streaming/curation_stream.py): Gopher gate -> exact-fingerprint "
    "first-wins dedup -> per-source (n_docs, n_tokens) accounting. Built "
    "from the SAME batch_curate construction the stream folds per "
    "micro-batch, so the stream-equals-batch test "
    "(tests/test_streaming.py) certifies that the continuously-maintained "
    "accounting state converges to exactly this relation. Scale: one "
    "scan-side gate, one hash-shuffle on fingerprint, one keyed rollup on "
    "the bounded source key — no state ever re-scans accepted documents.",
)
def doc_curation_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.curation_stream import accounting_of

    return accounting_of(_curate_winners(_docs(spark, sf_dir))).orderBy("source")


def _gate_memo(d: DataFrame) -> DataFrame:
    """Session-shared Gopher-gated corpus. The five-regexp gate battery is
    the curation family's common prefix (both accounting queries and the
    v2 flagship pipeline gate the same relation); memoizing the gated
    output keyed on the input's semanticHash runs it once per session
    instead of once per query. Safe to share because every batch query
    derives ``d`` from the same ``_docs`` construction — identical logical
    plan, identical hash — while stream micro-batches never reach this
    helper (they go through batch_curate's default path)."""
    from ..operators.quality import gopher_gate

    sel = d.select("doc_id", "source", "text")
    return _memo(sel, ("gopher_gate",), lambda: gopher_gate(sel))


def _curate_winners(d: DataFrame) -> DataFrame:
    """Session-shared gate + exact-dedup winners relation — the common
    prefix of ``doc_curation_accounting`` (its whole output) and
    ``doc_curation_accounting_v2`` (its near-dup input). Built from the
    SAME ``batch_curate`` construction the stream folds per micro-batch,
    just injected pre-gated and cached."""
    from ..streaming.curation_stream import batch_curate

    return _memo(
        d, ("curate_winners",), lambda: batch_curate(d, None, gated=_gate_memo(d))
    )


# ---------------------------------------------------------------------------
# Flagship v2: gopher gate -> excerpt removal -> weighted sample -> packing
# ---------------------------------------------------------------------------

_V2_SAMPLE_K = 200

_V2_ORACLE = f"""
    WITH g0 AS (
      SELECT doc_id, source, text,
             regexp_extract_all(text, '\\S+') AS words,
             CAST(LENGTH(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_words,
             CAST(LENGTH(regexp_extract_all(text, '[#.]{{3,}}')) AS BIGINT) AS n_sym,
             CAST(LENGTH(regexp_extract_all(lower(text),
                 '\\b(?:the|be|to|of|and|that|have|with)\\b')) AS BIGINT) AS n_stop
      FROM documents),
    gop AS (
      SELECT doc_id, source, text, n_words FROM (
        SELECT *,
               CAST(LENGTH(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]')))
                    AS BIGINT) AS n_alpha,
               ROUND(list_sum(list_transform(words, w -> CAST(LENGTH(w) AS DOUBLE)))
                     / GREATEST(n_words, 1), 6) AS mwl
        FROM g0)
      WHERE n_words BETWEEN 50 AND 100000
        AND mwl BETWEEN 3 AND 10
        AND CAST(n_alpha AS DOUBLE) / GREATEST(n_words, 1) >= 0.8
        AND CAST(n_sym AS DOUBLE) / GREATEST(n_words, 1) <= 0.1
        AND n_stop >= 2),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(0, greatest(len(toks) - 2, 0)),
                 i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) AS sh
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
            FROM gop)
      WHERE len(toks) >= 3),
    inv0 AS (SELECT doc_id, unnest(sh) AS g FROM sh),
    kept AS (SELECT g FROM inv0 GROUP BY g HAVING COUNT(*) <= 20),
    inv AS (SELECT inv0.doc_id, inv0.g FROM inv0 JOIN kept USING (g)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM inv GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    cpairs AS (
      SELECT s.doc_a, s.doc_b, na.n AS na, nb.n AS nb
      FROM shared s
      JOIN sizes na ON na.doc_id = s.doc_a
      JOIN sizes nb ON nb.doc_id = s.doc_b
      WHERE CAST(s.inter AS DOUBLE) / LEAST(na.n, nb.n) >= 0.8),
    drops AS (
      SELECT DISTINCT CASE WHEN na < nb THEN doc_a
                           WHEN nb < na THEN doc_b
                           ELSE GREATEST(doc_a, doc_b) END AS doc_id
      FROM cpairs),
    surv AS (
      SELECT g.doc_id, g.source, g.n_words AS n_tok FROM gop g
      WHERE NOT EXISTS (SELECT 1 FROM drops x WHERE x.doc_id = g.doc_id)),
    draws AS (
      SELECT s.doc_id, s.source, s.n_tok,
             MIN(CAST(CONCAT('0x', SUBSTR(MD5(CONCAT(CAST(s.doc_id AS VARCHAR),
                 ':', CAST(r.r AS VARCHAR))), 1, 14)) AS BIGINT)) AS draw_key
      FROM surv s, UNNEST(range(1, 1000)) AS r(r)
      WHERE r.r <= s.n_tok
      GROUP BY s.doc_id, s.source, s.n_tok),
    samp AS (
      SELECT doc_id, source, n_tok FROM draws
      ORDER BY draw_key, doc_id LIMIT {_V2_SAMPLE_K}),
    packed AS (
      SELECT source, doc_id, n_tok,
             COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
      FROM samp)
    SELECT source,
           CAST(FLOOR(cum_prev / {_PACK_CAPACITY}.0) AS BIGINT) AS pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS pack_tokens
    FROM packed
    GROUP BY source, pack_id
    ORDER BY source, pack_id
"""


@query(
    "doc_curation_pipeline_v2",
    oracle=_V2_ORACLE,
    doc=f"Flagship v2 — the round-3 operators composed into ONE lazy plan: "
    f"full Gopher gate (scan-side exprs) -> excerpt removal (containment "
    f">= 0.8 over the SURVIVORS' df-capped shingle index, dropping the "
    f"smaller doc of each pair) -> min-of-w-hashes weighted sample of "
    f"{_V2_SAMPLE_K} -> per-source sequence packing with token "
    f"accounting. Filter-first ordering keeps the quadratic-bounded "
    f"stage (containment) on the post-gate corpus; the sample bounds the "
    f"packing input; every stage is the same construction its standalone "
    f"query certifies, so the composition is exactly as scalable as its "
    f"parts. The whole pipeline is one DataFrame expression — no "
    f"intermediate materialization, no collect.",
)
def doc_curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    # The Gopher gate is the expensive scan (five regexp batteries over
    # text) and feeds FOUR branches below (inverted index, df cap, sizes,
    # survivors) plus both accounting queries. The session-shared memo
    # (_gate_memo) runs the battery once — without it the lazy plan
    # re-derives it per branch (~4x the scan) and per query.
    # The gate itself is the shared operator (operators/quality.py) — the
    # streaming curation pipeline gates with the same Column tree, which
    # is what its stream-equals-batch test certifies.
    gop = _gate_memo(d)

    # Distinct 3-grams of the SURVIVORS via the shared relational shingle
    # index (posexplode + lead window — fully codegen'd). The hand-rolled
    # alternative (transform over sequence with element_at lambdas) re-ran
    # the tokenizer regex inside the higher-order lambda where Catalyst's
    # subexpression elimination can't reach, costing O(len^2) regex work
    # per doc — 12 s of this query's 14 s at sf0.1 before the switch.
    inv0 = shingle_index(gop, "doc_id", "text", 3).withColumnRenamed("_id", "doc_id")
    kept = (
        inv0.groupBy("_g").agg(F.count("*").alias("_df")).filter(F.col("_df") <= 20).select("_g")
    )
    # inv feeds three consumers (sizes, both sides of the self-join);
    # memoized so the tokenize+explode+semi-join runs once.
    inv = _memo(d, ("curation_v2_inv",), lambda: inv0.join(kept, "_g", "left_semi"))
    sizes = inv.groupBy("doc_id").agg(F.count("*").alias("_n"))
    a = inv.select(F.col("doc_id").alias("doc_a"), "_g")
    b = inv.select(F.col("doc_id").alias("doc_b"), "_g")
    cpairs = (
        a.join(b, "_g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("_inter"))
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("_n").alias("_na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("_n").alias("_nb")), "doc_b")
        .filter(
            F.col("_inter").cast("double") / F.least(F.col("_na"), F.col("_nb")) >= 0.8
        )
    )
    drops = cpairs.select(
        F.when(F.col("_na") < F.col("_nb"), F.col("doc_a"))
        .when(F.col("_nb") < F.col("_na"), F.col("doc_b"))
        .otherwise(F.greatest("doc_a", "doc_b"))
        .alias("doc_id")
    ).distinct()
    surv = gop.select("doc_id", "source", "n_tok").join(drops, "doc_id", "left_anti")

    draws = (
        surv.select(
            "doc_id",
            "source",
            "n_tok",
            # Draw count capped at 999 — matches the oracle's
            # UNNEST(range(1, 1000)) ... WHERE r <= n_tok exactly, and
            # bounds the explode factor for long documents: beyond ~1000
            # draws the min barely moves but the row blow-up is linear in
            # tokens. The cap keeps the weighted draw O(min(w, 999)) per
            # doc at any corpus scale.
            F.explode(
                F.sequence(
                    F.lit(1).cast("bigint"),
                    F.least(F.col("n_tok"), F.lit(999).cast("bigint")),
                )
            ).alias("r"),
        )
        .select(
            "doc_id",
            "source",
            "n_tok",
            _hash56(
                F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("r").cast("string"))
            ).alias("h"),
        )
        .groupBy("doc_id", "source", "n_tok")
        .agg(F.min("h").alias("draw_key"))
    )
    samp = draws.orderBy("draw_key", "doc_id").limit(_V2_SAMPLE_K)
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    packed = samp.withColumn("cum_prev", F.coalesce(F.sum("n_tok").over(w), F.lit(0)))
    return (
        packed.groupBy(
            "source",
            F.floor(F.col("cum_prev") / float(_PACK_CAPACITY)).cast("bigint").alias("pack_id"),
        )
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").cast("bigint").alias("pack_tokens"))
        .orderBy("source", "pack_id")
    )


# ---------------------------------------------------------------------------
# v2 curation accounting: gate -> exact dedup -> near-dup greedy -> accounting
# (batch twin of streaming/curation_stream.py::run_curation_v2_stream)
# ---------------------------------------------------------------------------

from .dedup import (  # noqa: E402 — composed oracle reuses the certified fragments
    _BAND_SELECTS,
    _GREEDY_ROUND_CTES,
    _GREEDY_ROUNDS,
    _HEX56,
    _MH_MINS,
    _MIN_AGREE,
    _SIG_AGREE_EXPR,
)

_V2ACCT_ORACLE = f"""
    WITH g0 AS (
      SELECT doc_id, source, text,
             regexp_extract_all(text, '\\S+') AS words,
             CAST(LENGTH(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_words,
             CAST(LENGTH(regexp_extract_all(text, '[#.]{{3,}}')) AS BIGINT) AS n_sym,
             CAST(LENGTH(regexp_extract_all(lower(text),
                 '\\b(?:the|be|to|of|and|that|have|with)\\b')) AS BIGINT) AS n_stop
      FROM documents),
    gop AS (
      SELECT doc_id, source, text, n_words AS n_tok FROM (
        SELECT *,
               CAST(LENGTH(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]')))
                    AS BIGINT) AS n_alpha,
               ROUND(list_sum(list_transform(words, w -> CAST(LENGTH(w) AS DOUBLE)))
                     / GREATEST(n_words, 1), 6) AS mwl
        FROM g0)
      WHERE n_words BETWEEN 50 AND 100000
        AND mwl BETWEEN 3 AND 10
        AND CAST(n_alpha AS DOUBLE) / GREATEST(n_words, 1) >= 0.8
        AND CAST(n_sym AS DOUBLE) / GREATEST(n_words, 1) <= 0.1
        AND n_stop >= 2),
    fps AS (
      SELECT doc_id, source, n_tok, text,
             MD5(SUBSTR(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g'), 1, 64))
                 AS fp
      FROM gop),
    keep AS (SELECT fp, MIN(doc_id) AS doc_id FROM fps GROUP BY fp),
    winners AS MATERIALIZED (
      SELECT f.doc_id, f.source, f.n_tok, f.text
      FROM fps f JOIN keep k ON f.fp = k.fp AND f.doc_id = k.doc_id),
    d AS (
      SELECT doc_id,
             list_distinct(list_transform(range(0, greatest(len(toks) - 2, 0)),
                 i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) AS sh
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
            FROM winners)
      WHERE len(toks) >= 3),
    ex AS (
      SELECT doc_id,
             {_HEX56.format(src="'a:' || g")} AS ha,
             {_HEX56.format(src="'b:' || g")} AS hb
      FROM (SELECT doc_id, unnest(sh) AS g FROM d)),
    sig AS (
      SELECT doc_id,
             {_MH_MINS}
      FROM ex GROUP BY doc_id),
    bands AS (
      {_BAND_SELECTS}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.h = b.h AND a.doc_id < b.doc_id),
    agree AS (
      SELECT c.doc_a, c.doc_b, ({_SIG_AGREE_EXPR}) AS n_agree
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.doc_a
      JOIN sig sb ON sb.doc_id = c.doc_b),
    edges AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM agree WHERE n_agree >= {_MIN_AGREE}),
    nodes AS (SELECT u AS id FROM edges UNION SELECT v AS id FROM edges),
    st0 AS MATERIALIZED (SELECT id, CAST(NULL AS BOOLEAN) AS kept FROM nodes),
    {_GREEDY_ROUND_CTES},
    rejected AS (SELECT id FROM st{_GREEDY_ROUNDS} WHERE NOT kept)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM winners w
    WHERE NOT EXISTS (SELECT 1 FROM rejected r WHERE r.id = w.doc_id)
    GROUP BY source
    ORDER BY source
"""


@query(
    "doc_curation_accounting_v2",
    oracle=_V2ACCT_ORACLE,
    doc="Batch twin of the composed v2 curation stream "
    "(streaming/curation_stream.py::run_curation_v2_stream): Gopher gate "
    "-> exact-fingerprint first-wins -> greedy-by-id NEAR-dup rejection "
    "under signature jaccard -> per-source accounting, all via the shared "
    "batch_curate_v2 construction the stream folds per micro-batch. The "
    "oracle composes the certified fragments end to end: gate battery, "
    "fingerprint keep, shingling/minhashing/banding, signature verify, "
    "and the greedy fixpoint unrolled as materialized CTE rounds. Scale: "
    "one scan-side gate, one fp shuffle, LSH-banded candidates over the "
    "deduped survivors, node-scale fixpoint — no stage touches all "
    "pairs or re-scans accepted documents.",
)
def doc_curation_accounting_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_dedup import minhash_signatures
    from ..streaming.curation_stream import accounting_of, batch_curate_v2
    from ..streaming.neardup_stream import _K, _N

    d = _docs(spark, sf_dir)
    winners = _curate_winners(d)
    # A MinHash signature is content-only per doc, so the winners' sigs
    # are exactly the session-memoized CORPUS sigs (shared with the whole
    # dedup family) semi-joined down to winner ids — no re-tokenization.
    win_sig = minhash_signatures(d, "doc_id", "text", _N, _K).join(
        winners.select(F.col("doc_id").alias("_id")), "_id", "left_semi"
    )
    return accounting_of(
        batch_curate_v2(d, None, None, winners=winners, sig=win_sig)
    ).orderBy("source")


# ---------------------------------------------------------------------------
# per-source token-budget allocation (sqrt-proportional data mixing)
# ---------------------------------------------------------------------------

_BUDGET_ORACLE = """
    WITH tk AS (
      SELECT doc_id, source,
             len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tok
      FROM documents),
    src AS (
      SELECT source, CAST(SUM(n_tok) AS BIGINT) AS t_src
      FROM tk GROUP BY source),
    tot AS (
      SELECT CAST(FLOOR(0.4 * SUM(t_src)) AS BIGINT) AS budget,
             CAST(SUM(CAST(ROUND(SQRT(t_src), 8) AS DECIMAL(27,10))) AS DOUBLE)
                 AS sum_rsqrt
      FROM src),
    alloc AS (
      SELECT s.source, s.t_src,
             CAST(FLOOR(CAST(t.budget AS DOUBLE) * ROUND(SQRT(s.t_src), 8)
                        / t.sum_rsqrt) AS BIGINT) AS alloc_tokens
      FROM src s, tot t),
    cum AS (
      SELECT doc_id, source, n_tok,
             COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS cum_before
      FROM tk),
    kept AS (
      SELECT c.source, c.n_tok FROM cum c JOIN alloc a USING (source)
      WHERE c.cum_before < a.alloc_tokens)
    SELECT a.source, a.t_src AS total_tokens, a.alloc_tokens,
           COALESCE(k.n_docs, 0) AS n_docs_kept,
           COALESCE(k.tok, 0) AS tokens_kept
    FROM alloc a LEFT JOIN (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS tok
      FROM kept GROUP BY source) k USING (source)
    ORDER BY a.source
"""


@query(
    "doc_token_budget_allocation",
    oracle=_BUDGET_ORACLE,
    doc="Sqrt-proportional token-budget allocation across sources (the "
    "data-mixing step of a training run with a fixed token budget): a "
    "global budget of 40% of corpus tokens is split per source "
    "proportional to sqrt(source tokens) — temperature-style "
    "up-weighting of small sources — then each source keeps docs in "
    "doc_id order while the running total stays under its allocation. "
    "Two bounded relations (one row per source) + one source-partitioned "
    "cumulative window over the corpus; the sqrt-sum folds in DECIMAL on "
    "8dp-rounded terms so allocations are partition-order-invariant.",
)
def doc_token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    tk = d.select("doc_id", "source", F.size(tokens("text")).alias("n_tok"))
    src = tk.groupBy("source").agg(F.sum("n_tok").alias("t_src"))
    rsqrt = F.round(F.sqrt(F.col("t_src").cast("double")), 8)
    tot = src.agg(
        F.floor(F.lit(0.4) * F.sum("t_src")).cast("bigint").alias("budget"),
        F.sum(rsqrt.cast("decimal(27,10)")).cast("double").alias("sum_rsqrt"),
    )
    alloc = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "t_src",
        F.floor(
            F.col("budget").cast("double") * rsqrt / F.col("sum_rsqrt")
        ).cast("bigint").alias("alloc_tokens"),
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cum = tk.withColumn("cum_before", F.coalesce(F.sum("n_tok").over(w), F.lit(0)))
    kept = (
        cum.join(alloc.select("source", "alloc_tokens"), "source")
        .filter(F.col("cum_before") < F.col("alloc_tokens"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("tok"))
    )
    return (
        alloc.join(kept, "source", "left")
        .na.fill({"n_docs": 0, "tok": 0})
        .select(
            "source",
            F.col("t_src").alias("total_tokens"),
            "alloc_tokens",
            F.col("n_docs").alias("n_docs_kept"),
            F.col("tok").alias("tokens_kept"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# duplicate-span REMOVAL: rewrite the corpus minus non-canonical extents
# ---------------------------------------------------------------------------

_SPAN_REMOVED_ORACLE = """
    WITH tk AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents),
    gp AS (
      SELECT doc_id, toks,
             unnest(range(0, greatest(len(toks) - 7, 0))) AS pos
      FROM tk WHERE len(toks) >= 8),
    g AS (
      SELECT doc_id, pos,
             concat_ws(' ', toks[pos+1], toks[pos+2], toks[pos+3], toks[pos+4],
                       toks[pos+5], toks[pos+6], toks[pos+7], toks[pos+8]) AS g
      FROM gp),
    dup AS (
      SELECT g, MIN(doc_id) AS keeper FROM g
      GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
    hits AS (
      SELECT d.doc_id, d.pos AS s, d.pos + 7 AS e
      FROM g d JOIN dup USING (g) WHERE d.doc_id <> dup.keeper),
    brk AS (
      SELECT doc_id, s, e,
             CASE WHEN s <= COALESCE(MAX(e) OVER (
                      PARTITION BY doc_id ORDER BY s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -9) + 1
                  THEN 0 ELSE 1 END AS is_new
      FROM hits),
    isl AS (
      SELECT doc_id, s, e,
             SUM(is_new) OVER (PARTITION BY doc_id ORDER BY s) AS gid
      FROM brk),
    ext AS (
      SELECT doc_id, gid, MIN(s) AS span_start, MAX(e) AS span_end
      FROM isl GROUP BY doc_id, gid),
    perdoc AS (
      SELECT doc_id, COUNT(*) AS n_removed_extents,
             SUM(span_end - span_start + 1) AS removed_toks
      FROM ext GROUP BY doc_id),
    ntok AS (SELECT doc_id, len(toks) AS n_toks FROM tk)
    SELECT n.doc_id, n.n_toks,
           CAST(COALESCE(p.n_removed_extents, 0) AS BIGINT) AS n_removed_extents,
           CAST(COALESCE(p.removed_toks, 0) AS BIGINT) AS removed_toks,
           CAST(n.n_toks - COALESCE(p.removed_toks, 0) AS BIGINT) AS kept_toks,
           ROUND(CAST(COALESCE(p.removed_toks, 0) AS DOUBLE) / n.n_toks, 6)
               AS removed_frac
    FROM ntok n LEFT JOIN perdoc p USING (doc_id)
    ORDER BY n.doc_id
"""


@query(
    "doc_span_removed_corpus",
    oracle=_SPAN_REMOVED_ORACLE,
    doc="Duplicate-span REMOVAL — the corpus-rewrite step completing "
    "Lee et al. 2022 substring dedup (doc_duplicate_span_extents finds "
    "extents; this subtracts them). One canonical occurrence per "
    "cross-doc duplicated 8-gram survives (min doc_id wins, so the "
    "keeper doc's text stays whole); every other doc's hits merge into "
    "maximal extents (gaps-and-islands, windows partitioned by doc_id) "
    "and are subtracted: per-doc rewritten token count, removed-token "
    "accounting, removal fraction. Pure interval algebra over the SAME "
    "memoized span-hit relation as doc_duplicate_spans — no extra "
    "corpus scan; the only corpus-wide shuffle is the per-gram "
    "keeper/count aggregate, identical in shape to the dup-set groupBy "
    "that already holds at 100 TB.",
)
def doc_span_removed_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = 8
    d = _docs(spark, sf_dir)
    from ..operators.text_dedup import token_stream

    def build() -> DataFrame:
        tok = token_stream(d, "doc_id", "text").withColumnRenamed("_id", "doc_id")
        w = W.partitionBy("doc_id").orderBy("_pos")
        leads = [F.lead("_tok", j).over(w) for j in range(1, n)]
        return (
            tok.select(
                "doc_id",
                F.col("_pos"),
                F.concat_ws(" ", F.col("_tok"), *leads).alias("_g"),
                leads[-1].alias("_last"),
            )
            .where(F.col("_last").isNotNull())
            .select("doc_id", "_pos", "_g")
        )

    grams = _memo(d, ("span_index", n), build)
    dup = (
        grams.groupBy("_g")
        .agg(
            F.count_distinct("doc_id").alias("nd"),
            F.min("doc_id").alias("_keeper"),
        )
        .filter(F.col("nd") >= 2)
        .select("_g", "_keeper")
    )
    hits = (
        grams.join(dup, "_g")
        .filter(F.col("doc_id") != F.col("_keeper"))
        .select(
            "doc_id", F.col("_pos").alias("s"), (F.col("_pos") + n - 1).alias("e")
        )
    )
    w_run = (
        W.partitionBy("doc_id").orderBy("s").rowsBetween(W.unboundedPreceding, -1)
    )
    brk = hits.withColumn(
        "is_new",
        F.when(
            F.col("s") <= F.coalesce(F.max("e").over(w_run), F.lit(-9)) + 1, 0
        ).otherwise(1),
    )
    isl = brk.withColumn(
        "gid", F.sum("is_new").over(W.partitionBy("doc_id").orderBy("s"))
    )
    span_len = F.col("span_end") - F.col("span_start") + 1
    perdoc = (
        isl.groupBy("doc_id", "gid")
        .agg(F.min("s").alias("span_start"), F.max("e").alias("span_end"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_removed_extents"),
            F.sum(span_len).alias("removed_toks"),
        )
    )
    ntok = (
        token_stream(d, "doc_id", "text")
        .groupBy(F.col("_id").alias("doc_id"))
        .agg(F.count("*").alias("n_toks"))
    )
    return (
        ntok.join(perdoc, "doc_id", "left")
        .na.fill({"n_removed_extents": 0, "removed_toks": 0})
        .select(
            "doc_id",
            "n_toks",
            "n_removed_extents",
            "removed_toks",
            (F.col("n_toks") - F.col("removed_toks")).alias("kept_toks"),
            F.round(
                F.col("removed_toks").cast("double") / F.col("n_toks"), 6
            ).alias("removed_frac"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# dedup funnel: the full corpus-release cascade with exact accounting
# raw → exact-doc dedup → paragraph dedup → duplicate-span removal
# ---------------------------------------------------------------------------

_FUNNEL_B = 16

_FUNNEL_ORACLE = f"""
    WITH tk AS MATERIALIZED (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents),
    raw AS (SELECT COUNT(*) AS n_docs, SUM(len(toks)) AS toks FROM tk),
    fp AS (SELECT doc_id, md5(lower(text)) AS f FROM documents),
    k1 AS (
      SELECT doc_id FROM (
        SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) AS rn
        FROM fp) WHERE rn = 1),
    s1 AS (
      SELECT COUNT(*) AS n_docs, SUM(len(toks)) AS toks
      FROM k1 JOIN tk USING (doc_id)),
    t AS (
      SELECT tk.doc_id, unnest(toks) AS tok, unnest(range(0, len(toks))) AS pos
      FROM tk JOIN k1 USING (doc_id)),
    p AS (
      SELECT doc_id, pos // {_FUNNEL_B} AS para_idx,
             string_agg(tok, ' ' ORDER BY pos) AS ptxt, COUNT(*) AS ntok
      FROM t GROUP BY doc_id, pos // {_FUNNEL_B}),
    kp AS MATERIALIZED (
      SELECT doc_id, para_idx, ptxt, ntok FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(ptxt)
                                     ORDER BY doc_id, para_idx) AS rn
        FROM p) WHERE rn = 1),
    s2 AS (SELECT COUNT(DISTINCT doc_id) AS n_docs, SUM(ntok) AS toks FROM kp),
    rw AS (
      SELECT doc_id, string_agg(ptxt, ' ' ORDER BY para_idx) AS text
      FROM kp GROUP BY doc_id),
    rtk AS MATERIALIZED (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM rw),
    gp AS (
      SELECT doc_id, toks, unnest(range(0, greatest(len(toks) - 7, 0))) AS pos
      FROM rtk WHERE len(toks) >= 8),
    g AS (
      SELECT doc_id, pos,
             concat_ws(' ', toks[pos+1], toks[pos+2], toks[pos+3], toks[pos+4],
                       toks[pos+5], toks[pos+6], toks[pos+7], toks[pos+8]) AS g
      FROM gp),
    dup AS (
      SELECT g, MIN(doc_id) AS keeper FROM g
      GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
    hits AS (
      SELECT d.doc_id, d.pos AS s, d.pos + 7 AS e
      FROM g d JOIN dup USING (g) WHERE d.doc_id <> dup.keeper),
    brk AS (
      SELECT doc_id, s, e,
             CASE WHEN s <= COALESCE(MAX(e) OVER (
                      PARTITION BY doc_id ORDER BY s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -9) + 1
                  THEN 0 ELSE 1 END AS is_new
      FROM hits),
    isl AS (
      SELECT doc_id, s, e,
             SUM(is_new) OVER (PARTITION BY doc_id ORDER BY s) AS gid
      FROM brk),
    rem AS (
      SELECT doc_id, SUM(span_end - span_start + 1) AS removed FROM (
        SELECT doc_id, gid, MIN(s) AS span_start, MAX(e) AS span_end
        FROM isl GROUP BY doc_id, gid) GROUP BY doc_id),
    perdoc3 AS (
      SELECT r.doc_id, len(r.toks) - COALESCE(m.removed, 0) AS kept
      FROM rtk r LEFT JOIN rem m ON r.doc_id = m.doc_id),
    s3 AS (
      SELECT COUNT(*) FILTER (kept > 0) AS n_docs, SUM(kept) AS toks
      FROM perdoc3)
    SELECT stage_idx, stage, n_docs, total_tokens,
           ROUND(CAST(total_tokens AS DOUBLE)
                 / (SELECT toks FROM raw), 6) AS pct_of_raw
    FROM (
      SELECT 0 AS stage_idx, 'raw' AS stage,
             CAST(n_docs AS BIGINT) AS n_docs,
             CAST(toks AS BIGINT) AS total_tokens FROM raw
      UNION ALL
      SELECT 1, 'exact_doc_dedup', CAST(n_docs AS BIGINT), CAST(toks AS BIGINT) FROM s1
      UNION ALL
      SELECT 2, 'paragraph_dedup', CAST(n_docs AS BIGINT), CAST(toks AS BIGINT) FROM s2
      UNION ALL
      SELECT 3, 'span_removal', CAST(n_docs AS BIGINT), CAST(toks AS BIGINT) FROM s3)
    ORDER BY stage_idx
"""


@query(
    "doc_dedup_funnel",
    oracle=_FUNNEL_ORACLE,
    doc="The full corpus-release dedup CASCADE with exact accounting — "
    "raw -> exact-doc dedup (md5 keep-min-id) -> paragraph dedup "
    "(16-token blocks, corpus-wide keep-first) -> duplicate-span "
    "removal RE-RUN ON THE REWRITTEN corpus (kept paragraphs "
    "re-concatenated, 8-gram extents of non-canonical spans "
    "subtracted): docs and tokens surviving each stage plus the "
    "fraction of raw tokens. Each stage is the certified standalone "
    "operator applied to the previous stage's output — the composition "
    "a real data release runs, with the token ledger reviewers ask "
    "for. All shuffles key on fingerprints/doc ids; stage relations "
    "strictly shrink, so the cascade costs less than 3 independent "
    "passes at any scale.",
)
def doc_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_dedup import token_stream

    d = _docs(spark, sf_dir)
    tok = token_stream(d, "doc_id", "text")
    ntok = tok.groupBy(F.col("_id").alias("doc_id")).agg(
        F.count("*").alias("n_toks")
    )
    raw = d.join(ntok, "doc_id", "left").na.fill({"n_toks": 0}).agg(
        F.count("*").alias("n_docs"), F.sum("n_toks").alias("toks")
    )
    # stage 1: exact whole-doc dedup, min doc_id keeps
    w_fp = W.partitionBy(F.md5(F.lower("text"))).orderBy("doc_id")
    k1 = (
        d.withColumn("_rn", F.row_number().over(w_fp))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "text")
    )
    # left join + fill, mirroring the raw stage: a surviving doc with no
    # alphanumeric tokens has no ntok row but must still count in n_docs
    # (the oracle's tk CTE has a row for every doc with an empty list).
    s1 = k1.join(ntok, "doc_id", "left").na.fill({"n_toks": 0}).agg(
        F.count("*").alias("n_docs"), F.sum("n_toks").alias("toks")
    )
    # stage 2: paragraph dedup over the exact-surviving docs — the
    # session-memoized full-funnel kept-paragraph relation (shared with
    # the release build and the state writer), plus the ledger's token
    # count per kept paragraph
    kp = _funnel_kp(d).withColumn(
        "_ntok", F.size(F.split("_ptxt", " "))
    )
    s2 = kp.agg(
        F.count_distinct("_id").alias("n_docs"), F.sum("_ntok").alias("toks")
    )
    # stage 3: span removal on the REWRITTEN corpus (kept paragraphs
    # re-concatenated in order — 8-grams across removed-paragraph
    # boundaries are genuinely new grams, by design). The per-doc
    # survivors relation is the session-memoized _release_docs — the
    # exact same cascade doc_release_manifest ships — so a session
    # running both the ledger and the manifest pays the span-index pass
    # once. Docs rewritten to zero tokens are absent from the relation,
    # matching the kept>0 filter the inline formulation applied.
    rel = _release_docs(d)
    s3 = rel.agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("toks")
    )
    stages = None
    for idx, name, rel in (
        (0, "raw", raw),
        (1, "exact_doc_dedup", s1),
        (2, "paragraph_dedup", s2),
        (3, "span_removal", s3),
    ):
        row = rel.select(
            F.lit(idx).cast("bigint").alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("toks").cast("bigint").alias("total_tokens"),
        )
        stages = row if stages is None else stages.unionByName(row)
    raw_toks = raw.select(F.col("toks").alias("_raw_toks"))
    return (
        stages.crossJoin(F.broadcast(raw_toks))
        .select(
            "stage_idx",
            "stage",
            "n_docs",
            "total_tokens",
            F.round(
                F.col("total_tokens").cast("double") / F.col("_raw_toks"), 6
            ).alias("pct_of_raw"),
        )
        .orderBy("stage_idx")
    )


# ---------------------------------------------------------------------------
# end-to-end corpus-release manifest: funnel -> mix -> budget -> shards
# ---------------------------------------------------------------------------

_REL_P = 2147483647  # Mersenne prime 2^31-1: modular content-checksum field


def _content_checksum_col(pos_col, key_col):
    """The release family's certified checksum invariant as ONE aggregate
    Column: Σ (pos · h56(key)) mod 2^31-1 — order-sensitive through the
    position weight yet a plain mergeable SUM (per-term products < 2^62,
    summed in DECIMAL(38,0)). Every manifest/diff surface (doc release,
    takedown before/after, version diff, media blob store) builds its
    checksum here, so a future widening changes one definition."""
    term = ((pos_col % _REL_P) * (_hash56(key_col) % _REL_P)) % _REL_P
    return (F.sum(term.cast("decimal(38,0)")) % _REL_P).cast("bigint")


_SPAN_N = 8  # duplicate-span gram width, shared by full and incremental paths


def _exact_survivors(d: DataFrame) -> DataFrame:
    """Exact-dedup stage: keep-min doc per md5(lower(text)) fingerprint."""
    w_fp = W.partitionBy(F.md5(F.lower("text"))).orderBy("doc_id")
    return (
        d.withColumn("_rn", F.row_number().over(w_fp))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "text")
    )


def _kept_paragraphs(k1: DataFrame) -> DataFrame:
    """Paragraph-dedup stage: keep-first (doc_id, para_idx) per md5(ptxt)."""
    from ..operators.text_dedup import paragraph_stream

    paras = paragraph_stream(k1, "doc_id", "text", block_tokens=_FUNNEL_B)
    w_p = W.partitionBy(F.md5("_ptxt")).orderBy("_id", "_para_idx")
    return (
        paras.withColumn("_rn", F.row_number().over(w_p))
        .filter(F.col("_rn") == 1)
        .select("_id", "_para_idx", "_ptxt")
    )


def _rewrite(kp: DataFrame) -> DataFrame:
    """Re-concatenate kept paragraphs in position order -> (doc_id, text)."""
    return kp.groupBy(F.col("_id").alias("doc_id")).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("_para_idx", "_ptxt"))),
                lambda s: s["_ptxt"],
            ),
        ).alias("text")
    )


def _token_grams(rw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Rewritten corpus -> (token stream, 8-gram stream at each position)."""
    from ..operators.text_dedup import token_stream

    rtok = token_stream(rw, "doc_id", "text", memo=False).withColumnRenamed(
        "_id", "doc_id"
    )
    return rtok, _grams_of(rtok)


def _grams_of(rtok: DataFrame) -> DataFrame:
    """The 8-gram stream derived from an existing (doc_id, _pos, _tok)
    token stream — split out of ``_token_grams`` so the truncated delta
    fold can derive grams from the MATERIALIZED token relation instead of
    re-nesting the tokenize chain (identical expressions either way)."""
    w_lead = W.partitionBy("doc_id").orderBy("_pos")
    leads = [F.lead("_tok", j).over(w_lead) for j in range(1, _SPAN_N)]
    return (
        rtok.select(
            "doc_id",
            F.col("_pos"),
            F.concat_ws(" ", F.col("_tok"), *leads).alias("_g"),
            leads[-1].alias("_last"),
        )
        .where(F.col("_last").isNotNull())
        .select("doc_id", "_pos", "_g")
    )


def _dup_span_hits(grams: DataFrame) -> DataFrame:
    """Span hits from intra-corpus duplicate grams: a gram in >=2 distinct
    docs marks every occurrence OUTSIDE its keep-min keeper doc as a hit
    interval [(pos, pos + n - 1)]. The ONE definition of the keeper fold —
    the batch cascade, the state writer, and the incremental delta all
    call this, so the certified incremental == full theorem has a single
    implementation to hold against."""
    dup = (
        grams.groupBy("_g")
        .agg(
            F.count_distinct("doc_id").alias("nd"),
            F.min("doc_id").alias("_keeper"),
        )
        .filter(F.col("nd") >= 2)
        .select("_g", "_keeper")
    )
    return (
        grams.join(dup, "_g")
        .filter(F.col("doc_id") != F.col("_keeper"))
        .select(
            "doc_id",
            F.col("_pos").alias("s"),
            (F.col("_pos") + _SPAN_N - 1).alias("e"),
        )
    )


def _extents(hits: DataFrame) -> DataFrame:
    """Merge overlapping/adjacent hit intervals per doc -> (doc_id, ss, ee)."""
    w_run = (
        W.partitionBy("doc_id").orderBy("s").rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        hits.withColumn(
            "is_new",
            F.when(
                F.col("s") <= F.coalesce(F.max("e").over(w_run), F.lit(-9)) + 1,
                0,
            ).otherwise(1),
        )
        .withColumn(
            "gid", F.sum("is_new").over(W.partitionBy("doc_id").orderBy("s"))
        )
        .groupBy("doc_id", "gid")
        .agg(F.min("s").alias("ss"), F.max("e").alias("ee"))
    )


def _assemble(rtok: DataFrame, ext: DataFrame) -> DataFrame:
    """Subtract extents from the token stream, re-assemble final text.
    Docs rewritten to zero tokens have no surviving rows and drop out."""
    kept = rtok.alias("t").join(
        ext.alias("x"),
        (F.col("t.doc_id") == F.col("x.doc_id"))
        & (F.col("t._pos") >= F.col("x.ss"))
        & (F.col("t._pos") <= F.col("x.ee")),
        "left_anti",
    )
    return kept.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tok"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_tok"))),
                lambda s: s["_tok"],
            ),
        ).alias("text"),
    )


def _funnel_kp(d: DataFrame) -> DataFrame:
    """Session-memoized kept-paragraph relation of the FULL-corpus funnel
    (exact keep-min -> paragraph keep-first): (_id, _para_idx, _ptxt).
    Shared by the release-docs build, the funnel ledger, and the
    release-state derivation (r11): each previously re-ran the two
    window cascades from the raw corpus (guide §2.4 — duplicated
    subtrees share one exchange through the cache)."""
    return _memo(
        d,
        ("funnel_kp", _FUNNEL_B),
        lambda: _kept_paragraphs(_exact_survivors(d)),
    )


def _funnel_grams(d: DataFrame) -> DataFrame:
    """Session-memoized 8-gram stream over the paragraph-rewritten
    full corpus: (doc_id, _pos, _g). Consumed by the span-removal stage
    of the release build AND (filtered to the v1 prefix) by the
    release-state writer — one tokenize + lead cascade per session."""
    return _memo(
        d,
        ("funnel_grams", _FUNNEL_B, _SPAN_N),
        lambda: _token_grams(_rewrite(_funnel_kp(d)))[1],
    )


def _release_docs(d: DataFrame) -> DataFrame:
    """The RELEASED corpus: (doc_id, source, n_tok, text) for every doc
    surviving the full dedup funnel, with ``text`` the actual post-funnel
    content — exact-dedup keep-min, paragraph dedup on 16-token blocks,
    then duplicate-span removal ON the paragraph-rewritten text (kept
    tokens re-concatenated in position order; docs rewritten to zero
    tokens drop out). Same stage semantics as ``doc_dedup_funnel``
    (which reports the ledger; this materializes the survivors), and the
    k1 / paragraph relations are shared with it through the session memo.

    Scale: every stage shuffles on fingerprints/doc ids; the span
    subtraction is one anti-join of the rewritten token stream against
    the per-doc extent list (equi on doc_id, range as join predicate),
    and final-text assembly is a per-doc sort of that doc's own tokens —
    windows and collects all partition by doc_id, never global."""

    def build() -> DataFrame:
        rw = _rewrite(_funnel_kp(d))
        rtok, _ = _token_grams(rw)
        final = _assemble(rtok, _extents(_dup_span_hits(_funnel_grams(d))))
        return final.join(
            d.select("doc_id", "source"), "doc_id"
        ).select("doc_id", "source", "n_tok", "text")

    return _memo(d, ("release_docs", _FUNNEL_B, _SPAN_N), build)


def _release_assignment(d: DataFrame) -> DataFrame:
    """Released docs -> (shard, pos) assignment: the funnel survivors pass
    the source-weighted mix gate (rate = 1 + h56(source) % 10 tenths,
    per-doc hash gate — ``doc_source_weighted_sample`` semantics), then
    each source keeps docs in doc_id order under its sqrt-proportional
    share of a 40%% token budget (``doc_token_budget_allocation``
    semantics over the RELEASED token counts), then shard = h56(doc_id)
    %% NSHARDS with pos = hash-rank within the shard
    (``doc_shard_export_assignment`` semantics). One relation drives BOTH
    the manifest query and the shard writer, so manifest == files is
    structural, and the roundtrip test pins it.

    Session-memoized like ``_release_docs`` (r11): the assignment is
    consumed by several queries (manifest, takedown diff, provenance,
    backfill revision/apply) and most of them reference it MORE than
    once in one plan (before/after legs, anti-join + aggregate legs) —
    uncached, every reference re-ran the mix/budget/shard window
    cascade off the cached release docs. One cached relation (released
    docs + shard/pos, the same rows the shard writer ships) removes
    2-4 window cascades per consumer (optimization guide §2.4:
    duplicate subtrees share one exchange)."""
    return _memo(
        d,
        ("release_asg", _FUNNEL_B, _SPAN_N, _NSHARDS),
        lambda: _assignment_of(_release_docs(d)),
    )


def _assignment_of(rel: DataFrame) -> DataFrame:
    """Mix gate -> token budget -> shard/pos assignment over a released
    (doc_id, source, n_tok, text) relation — a pure function of the
    relation's content, so the full and incremental release paths share
    it verbatim (which is what makes incremental == full provable)."""
    mixed = rel.filter(
        _hash56(F.col("doc_id")) % 10 < 1 + _hash56(F.col("source")) % 10
    )
    src = mixed.groupBy("source").agg(F.sum("n_tok").alias("t_src"))
    rsqrt = F.round(F.sqrt(F.col("t_src").cast("double")), 8)
    tot = src.agg(
        F.floor(F.lit(0.4) * F.sum("t_src")).cast("bigint").alias("budget"),
        F.sum(rsqrt.cast("decimal(27,10)")).cast("double").alias("sum_rsqrt"),
    )
    alloc = src.crossJoin(F.broadcast(tot)).select(
        "source",
        F.floor(F.col("budget").cast("double") * rsqrt / F.col("sum_rsqrt"))
        .cast("bigint")
        .alias("alloc_tokens"),
    )
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    cum = mixed.withColumn(
        "cum_before", F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    )
    kept = cum.join(alloc, "source").filter(
        F.col("cum_before") < F.col("alloc_tokens")
    )
    h = kept.withColumn("h56", _hash56(F.col("doc_id")))
    w_s = W.partitionBy(F.col("h56") % _NSHARDS).orderBy("h56", "doc_id")
    return h.select(
        "doc_id",
        "source",
        "n_tok",
        "text",
        (F.col("h56") % _NSHARDS).cast("bigint").alias("shard"),
        F.row_number().over(w_s).cast("bigint").alias("pos"),
    )


def _release_manifest_of(asg: DataFrame) -> DataFrame:
    """Manifest rows from a (shard, pos, doc_id, source, n_tok, text)
    assignment — also run over the WRITTEN shard files by the roundtrip
    test. content_checksum is an order-sensitive mergeable fold (the
    position-weighted modular sum Σ (pos·h56(text)) mod 2^31-1): exact on
    both engines in integer arithmetic, and a plain SUM at any scale —
    no per-shard string concatenation that would balloon at 10^6 docs
    per shard."""
    per_src = asg.groupBy("shard", "source").agg(F.count("*").alias("n"))
    comp = per_src.groupBy("shard").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list(F.struct("source", "n"))),
                lambda s: F.concat(s["source"], F.lit("="), s["n"].cast("string")),
            ),
        ).alias("composition")
    )
    main = asg.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        _content_checksum_col(F.col("pos"), F.col("text")).alias(
            "content_checksum"
        ),
    )
    return (
        main.join(comp, "shard")
        .select("shard", "n_docs", "n_tokens", "composition", "content_checksum")
        .orderBy("shard")
    )


def write_release_shards(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Materialize the release: one parquet dir per shard
    (``shard=<k>``), rows (pos, doc_id, source, n_tok, text). The
    repartition-by-shard before the partitioned write keeps files at one
    per shard per shuffle partition instead of tasks x shards slivers
    (same discipline as the IVF assignments writer)."""
    _write_shards(_release_assignment(_docs(spark, sf_dir)), out_dir)


def _write_shards(asg: DataFrame, out_dir: str) -> None:
    """Write a (doc_id, source, n_tok, text, shard, pos) assignment as the
    release's shard files — shared by the full writer and the backfill
    executor's before-release builds so the file layout cannot drift."""
    (
        asg.repartition("shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )


def release_manifest_from_files(spark: SparkSession, out_dir: str) -> DataFrame:
    """Recompute the manifest FROM the written shard files — the
    roundtrip check that what the manifest claims is what was shipped."""
    files = spark.read.parquet(out_dir)
    # partition-column discovery reads shard= back as int; restore bigint
    return _release_manifest_of(
        files.withColumn("shard", F.col("shard").cast("bigint"))
    )


# The WITH-chain through the released-shard assignment (asg), shared by
# the manifest, the takedown diff, and the provenance oracles — one
# definition so all three certify the SAME cascade.
_RELEASE_CTES = f"""
    WITH fp AS (SELECT doc_id, md5(lower(text)) AS f FROM documents),
    k1 AS MATERIALIZED (
      SELECT doc_id FROM (
        SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) AS rn
        FROM fp) WHERE rn = 1),
    tk AS MATERIALIZED (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents),
    t AS (
      SELECT tk.doc_id, unnest(toks) AS tok, unnest(range(0, len(toks))) AS pos
      FROM tk JOIN k1 USING (doc_id)),
    p AS (
      SELECT doc_id, pos // {_FUNNEL_B} AS para_idx,
             string_agg(tok, ' ' ORDER BY pos) AS ptxt
      FROM t GROUP BY doc_id, pos // {_FUNNEL_B}),
    kp AS MATERIALIZED (
      SELECT doc_id, para_idx, ptxt FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(ptxt)
                                     ORDER BY doc_id, para_idx) AS rn
        FROM p) WHERE rn = 1),
    rw AS (
      SELECT doc_id, string_agg(ptxt, ' ' ORDER BY para_idx) AS text
      FROM kp GROUP BY doc_id),
    rtk AS MATERIALIZED (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM rw),
    gp AS (
      SELECT doc_id, toks, unnest(range(0, greatest(len(toks) - 7, 0))) AS pos
      FROM rtk WHERE len(toks) >= 8),
    g AS (
      SELECT doc_id, pos,
             concat_ws(' ', toks[pos+1], toks[pos+2], toks[pos+3], toks[pos+4],
                       toks[pos+5], toks[pos+6], toks[pos+7], toks[pos+8]) AS g
      FROM gp),
    dup AS (
      SELECT g, MIN(doc_id) AS keeper FROM g
      GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
    hits AS (
      SELECT d.doc_id, d.pos AS s, d.pos + 7 AS e
      FROM g d JOIN dup USING (g) WHERE d.doc_id <> dup.keeper),
    brk AS (
      SELECT doc_id, s, e,
             CASE WHEN s <= COALESCE(MAX(e) OVER (
                      PARTITION BY doc_id ORDER BY s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -9) + 1
                  THEN 0 ELSE 1 END AS is_new
      FROM hits),
    isl AS (
      SELECT doc_id, s, e,
             SUM(is_new) OVER (PARTITION BY doc_id ORDER BY s) AS gid
      FROM brk),
    ext AS MATERIALIZED (
      SELECT doc_id, gid, MIN(s) AS ss, MAX(e) AS ee
      FROM isl GROUP BY doc_id, gid),
    tok3 AS (
      SELECT doc_id, unnest(toks) AS tok, unnest(range(0, len(toks))) AS pos
      FROM rtk),
    keptt AS (
      SELECT k.doc_id, k.pos, k.tok FROM tok3 k
      WHERE NOT EXISTS (SELECT 1 FROM ext x
                        WHERE x.doc_id = k.doc_id
                          AND k.pos BETWEEN x.ss AND x.ee)),
    final AS MATERIALIZED (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
             string_agg(tok, ' ' ORDER BY pos) AS text
      FROM keptt GROUP BY doc_id),
    rel AS (
      SELECT f.doc_id, d.source, f.n_tok, f.text
      FROM final f JOIN documents d USING (doc_id)),
    mixed AS MATERIALIZED (
      SELECT * FROM rel
      WHERE {_HASH_SQL.format(c='doc_id')} % 10
            < 1 + {_HASH_SQL.format(c='source')} % 10),
    src AS (
      SELECT source, CAST(SUM(n_tok) AS BIGINT) AS t_src
      FROM mixed GROUP BY source),
    tot AS (
      SELECT CAST(FLOOR(0.4 * SUM(t_src)) AS BIGINT) AS budget,
             CAST(SUM(CAST(ROUND(SQRT(t_src), 8) AS DECIMAL(27,10))) AS DOUBLE)
                 AS sum_rsqrt
      FROM src),
    alloc AS (
      SELECT s.source,
             CAST(FLOOR(CAST(t.budget AS DOUBLE) * ROUND(SQRT(s.t_src), 8)
                        / t.sum_rsqrt) AS BIGINT) AS alloc_tokens
      FROM src s, tot t),
    cum AS (
      SELECT doc_id, source, n_tok, text,
             COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS cum_before
      FROM mixed),
    keptd AS (
      SELECT c.doc_id, c.source, c.n_tok, c.text
      FROM cum c JOIN alloc a USING (source)
      WHERE c.cum_before < a.alloc_tokens),
    sh AS (
      SELECT doc_id, source, n_tok, text,
             {_HASH_SQL.format(c='doc_id')} AS h56
      FROM keptd),
    asg AS MATERIALIZED (
      SELECT doc_id, source, n_tok, text,
             h56 % {_NSHARDS} AS shard,
             ROW_NUMBER() OVER (PARTITION BY h56 % {_NSHARDS}
                                ORDER BY h56, doc_id) AS pos
      FROM sh)"""

_RELEASE_ORACLE = _RELEASE_CTES + f""",
    comp AS (
      SELECT shard, string_agg(source || '=' || CAST(n AS VARCHAR), ','
                               ORDER BY source) AS composition
      FROM (SELECT shard, source, COUNT(*) AS n
            FROM asg GROUP BY shard, source)
      GROUP BY shard)
    SELECT a.shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(a.n_tok) AS BIGINT) AS n_tokens,
           c.composition,
           CAST(CAST(SUM((a.pos % {_REL_P})
                         * ({_HASH_SQL.format(c='a.text')} % {_REL_P})
                         % {_REL_P}) AS HUGEINT) % {_REL_P} AS BIGINT)
               AS content_checksum
    FROM asg a JOIN comp c USING (shard)
    GROUP BY a.shard, c.composition
    ORDER BY a.shard
"""


@query(
    "doc_release_manifest",
    oracle=_RELEASE_ORACLE,
    doc="The ONE artifact a corpus release ships: funnel-surviving docs "
    "(exact dedup -> paragraph dedup -> span removal, actual rewritten "
    "text) pass the source-weighted mix gate, each source keeps docs "
    "under its sqrt-proportional share of a 40% token budget, docs land "
    "in hash shards with hash-rank positions — and each shard reports "
    "doc count, token count, per-source composition string, and an "
    "order-sensitive modular content checksum over the SHIPPED text. "
    "The same assignment relation drives write_release_shards; the "
    "roundtrip test pins manifest == recompute-from-written-files. "
    "Every stage shuffles on a bounded key (fingerprint, doc_id, "
    "source, shard); the checksum is a plain mergeable SUM, not a "
    "per-shard string concat.",
)
def doc_release_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _release_manifest_of(_release_assignment(_docs(spark, sf_dir)))


# ---------------------------------------------------------------------------
# takedown reprocessing: remove a doc list from the shipped release, diff
# ---------------------------------------------------------------------------

_TD_MOD = 17  # deterministic takedown list: h56(doc_id) % 17 == 0 (~6%)

_TD_CHK = (
    "CAST(CAST(SUM(({pos} % {p}) * ({h} % {p}) % {p}) AS HUGEINT) "
    "% {p} AS BIGINT)"
)

_TAKEDOWN_ORACLE = _RELEASE_CTES + f""",
    bt AS (
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs_before,
             CAST(SUM(n_tok) AS BIGINT) AS tks_b,
             {_TD_CHK.format(pos='pos', p=_REL_P,
                             h=_HASH_SQL.format(c='text'))}
                 AS checksum_before
      FROM asg GROUP BY shard),
    kp2 AS (
      SELECT shard, n_tok, text,
             ROW_NUMBER() OVER (PARTITION BY shard ORDER BY pos) AS pos2
      FROM asg WHERE {_HASH_SQL.format(c='doc_id')} % {_TD_MOD} <> 0),
    at AS (
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs_after,
             CAST(SUM(n_tok) AS BIGINT) AS tks_a,
             {_TD_CHK.format(pos='pos2', p=_REL_P,
                             h=_HASH_SQL.format(c='text'))}
                 AS checksum_after
      FROM kp2 GROUP BY shard)
    SELECT b.shard,
           b.n_docs_before,
           COALESCE(a.n_docs_after, 0) AS n_docs_after,
           b.n_docs_before - COALESCE(a.n_docs_after, 0) AS docs_removed,
           b.tks_b - COALESCE(a.tks_a, 0) AS tokens_removed,
           b.checksum_before,
           COALESCE(a.checksum_after, 0) AS checksum_after,
           CAST(CASE WHEN b.n_docs_before <> COALESCE(a.n_docs_after, 0)
                       OR b.checksum_before <> COALESCE(a.checksum_after, 0)
                     THEN 1 ELSE 0 END AS INTEGER) AS changed
    FROM bt b LEFT JOIN at a USING (shard)
    ORDER BY b.shard
"""


@query(
    "doc_release_takedown_diff",
    oracle=_TAKEDOWN_ORACLE,
    doc="Takedown reprocessing over the SHIPPED release — the "
    "GDPR/right-to-be-forgotten path a corpus owner runs between "
    "releases: a deterministic takedown list (h56(doc_id) % 17 == 0 "
    "stands in for the legal list) is removed from the shard "
    "assignment, surviving docs keep their shard (shard = hash(doc_id) "
    "is takedown-stable by construction) and re-rank positions, and "
    "the per-shard diff reports docs/tokens removed plus the "
    "before/after content checksums — exactly which shard files must "
    "be rewritten (changed=1) and which ship unchanged. Rides the "
    "session-memoized release cascade, so the marginal cost is two "
    "aggregates over the shipped relation; at 100 TB the re-rank is "
    "one window per shard key and untouched shards are provably "
    "skippable by checksum equality.",
)
def doc_release_takedown_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    asg = _release_assignment(_docs(spark, sf_dir))
    before = asg.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs_before"),
        F.sum("n_tok").cast("bigint").alias("tks_b"),
        _content_checksum_col(F.col("pos"), F.col("text")).alias(
            "checksum_before"
        ),
    )
    kept = asg.filter(_hash56(F.col("doc_id")) % _TD_MOD != 0)
    w = W.partitionBy("shard").orderBy("pos")
    kp2 = kept.withColumn("pos2", F.row_number().over(w).cast("bigint"))
    after = kp2.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs_after"),
        F.sum("n_tok").cast("bigint").alias("tks_a"),
        _content_checksum_col(F.col("pos2"), F.col("text")).alias(
            "checksum_after"
        ),
    )
    z = F.lit(0).cast("bigint")
    return (
        before.join(after, "shard", "left")
        .select(
            "shard",
            "n_docs_before",
            F.coalesce("n_docs_after", z).alias("n_docs_after"),
            (F.col("n_docs_before") - F.coalesce("n_docs_after", z)).alias(
                "docs_removed"
            ),
            (F.col("tks_b") - F.coalesce("tks_a", z)).alias("tokens_removed"),
            "checksum_before",
            F.coalesce("checksum_after", z).alias("checksum_after"),
            F.when(
                (F.col("n_docs_before") != F.coalesce("n_docs_after", z))
                | (F.col("checksum_before") != F.coalesce("checksum_after", z)),
                1,
            )
            .otherwise(0)
            .cast("int")
            .alias("changed"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# per-source funnel provenance: who loses what, stage by stage
# ---------------------------------------------------------------------------

_PROVENANCE_ORACLE = _RELEASE_CTES + """,
    raws AS (
      SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs_raw,
             CAST(SUM(len(t.toks)) AS BIGINT) AS raw_tokens
      FROM documents d JOIN tk t USING (doc_id) GROUP BY d.source),
    rels AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_released,
             CAST(SUM(n_tok) AS BIGINT) AS released_tokens
      FROM rel GROUP BY source),
    shps AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_shipped,
             CAST(SUM(n_tok) AS BIGINT) AS shipped_tokens
      FROM asg GROUP BY source)
    SELECT r.source, r.n_docs_raw, r.raw_tokens,
           COALESCE(e.n_docs_released, 0) AS n_docs_released,
           COALESCE(e.released_tokens, 0) AS released_tokens,
           COALESCE(s.n_docs_shipped, 0) AS n_docs_shipped,
           COALESCE(s.shipped_tokens, 0) AS shipped_tokens,
           ROUND(CAST(COALESCE(e.released_tokens, 0) AS DOUBLE)
                 / r.raw_tokens, 6) AS released_token_frac,
           ROUND(CAST(COALESCE(s.shipped_tokens, 0) AS DOUBLE)
                 / r.raw_tokens, 6) AS shipped_token_frac
    FROM raws r
    LEFT JOIN rels e USING (source)
    LEFT JOIN shps s USING (source)
    ORDER BY r.source
"""


@query(
    "doc_release_provenance",
    oracle=_PROVENANCE_ORACLE,
    doc="Per-SOURCE provenance through the release pipeline — the "
    "attribution table a corpus owner reads to see which sources the "
    "funnel and the mix/budget gates hit hardest: raw docs/tokens, "
    "docs/tokens surviving the dedup funnel (exact -> paragraph -> "
    "span, REWRITTEN token counts), docs/tokens actually shipped after "
    "the source-weighted mix + sqrt token budget, and the two token "
    "retention fractions. Complements doc_dedup_funnel (corpus-wide "
    "stage ledger) with the per-source axis. All three legs ride "
    "session memos (token stream, release docs, release assignment); "
    "the marginal cost is three groupBys on source — a key with "
    "single-digit cardinality, broadcast-joined at any scale.",
)
def doc_release_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_dedup import token_stream

    d = _docs(spark, sf_dir)
    ntok = (
        token_stream(d, "doc_id", "text")
        .groupBy("_id")
        .agg(F.count("*").alias("nt"))
        .withColumnRenamed("_id", "doc_id")
    )
    raws = (
        d.select("doc_id", "source")
        .join(ntok, "doc_id", "left")
        .na.fill({"nt": 0})
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs_raw"),
            F.sum("nt").cast("bigint").alias("raw_tokens"),
        )
    )
    rels = _release_docs(d).groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs_released"),
        F.sum("n_tok").cast("bigint").alias("released_tokens"),
    )
    shps = _release_assignment(d).groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs_shipped"),
        F.sum("n_tok").cast("bigint").alias("shipped_tokens"),
    )
    z = F.lit(0).cast("bigint")
    return (
        raws.join(rels, "source", "left")
        .join(shps, "source", "left")
        .select(
            "source",
            "n_docs_raw",
            "raw_tokens",
            F.coalesce("n_docs_released", z).alias("n_docs_released"),
            F.coalesce("released_tokens", z).alias("released_tokens"),
            F.coalesce("n_docs_shipped", z).alias("n_docs_shipped"),
            F.coalesce("shipped_tokens", z).alias("shipped_tokens"),
            F.round(
                F.coalesce("released_tokens", z).cast("double")
                / F.col("raw_tokens"),
                6,
            ).alias("released_token_frac"),
            F.round(
                F.coalesce("shipped_tokens", z).cast("double")
                / F.col("raw_tokens"),
                6,
            ).alias("shipped_token_frac"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# incremental release: persisted funnel state + delta-cost update
# ---------------------------------------------------------------------------


# ONE definition of the release-state format, shared by the from-scratch
# writer (_state_rels / write_release_state) and the derived prefix writer
# (_release_state_path) — r12, per the r11 ADVICE: the derived writer
# re-declared the four relations inline, so a format change (a fifth
# relation, a different fingerprint expression) could silently drift
# between the two. The names tuple and the three fingerprint projections
# are now the single source of truth; _release_state_path iterates
# _STATE_REL_NAMES and fails loudly on a name it has no derivation for.
_STATE_REL_NAMES = ("doc_fps", "para_fps", "gram_fps", "v1_docs")


def _fp_docs(docs: DataFrame) -> DataFrame:
    """doc_fps: distinct md5(lower(text)) of every doc."""
    return docs.select(F.md5(F.lower("text")).alias("fp")).distinct()


def _fp_paras(kp: DataFrame) -> DataFrame:
    """para_fps: distinct md5(ptxt) over kept paragraphs."""
    return kp.select(F.md5("_ptxt").alias("pfp")).distinct()


def _fp_grams(grams: DataFrame) -> DataFrame:
    """gram_fps: distinct md5(8-gram) of the rewritten corpus."""
    return grams.select(F.md5("_g").alias("gfp")).distinct()


def _state_rels(
    docs: DataFrame, persisted: list | None = None
) -> dict[str, DataFrame]:
    """The four release-state relations over ``docs`` — ONE definition
    shared by the initial state write and the backfill rebase
    (``streaming/release_stream.py::apply_backfill_to_release_state``),
    so the two cannot drift. The kept paragraphs carry the identical
    distinct fingerprint set as ALL paragraphs (every fingerprint's first
    occurrence is kept), so para_fps reuses kp instead of a second
    paragraph pass.

    Pass ``persisted`` (a list the CALLER unpersists after its writes)
    to persist the shared cascade legs: the four relations are written
    as four separate jobs, and without caching each job re-executes the
    funnel from scratch (kept paragraphs three times, the gram stream
    twice) — the dominant cost of the once-per-corpus state write."""
    k1 = _exact_survivors(docs)
    kp = _kept_paragraphs(k1)
    if persisted is not None:
        kp = kp.persist()
        persisted.append(kp)
    rtok, grams = _token_grams(_rewrite(kp))
    if persisted is not None:
        grams = grams.persist()
        persisted.append(grams)
    v1 = (
        _assemble(rtok, _extents(_dup_span_hits(grams)))
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", "n_tok", "text")
    )
    rels = {
        "doc_fps": _fp_docs(docs),
        "para_fps": _fp_paras(kp),
        "gram_fps": _fp_grams(grams),
        "v1_docs": v1,
    }
    if tuple(rels) != _STATE_REL_NAMES:  # real raise: asserts vanish under -O
        raise RuntimeError("release-state format drifted from _STATE_REL_NAMES")
    return rels


def write_release_state(old: DataFrame, path: str) -> None:
    """Persist the incremental-release state of a released corpus: the
    four relations a later ingest batch needs to fold itself into the
    release WITHOUT rescanning the old corpus —

      * ``doc_fps``   distinct md5(lower(text)) of every old doc
      * ``para_fps``  distinct md5(ptxt) over the old survivors' paragraphs
      * ``gram_fps``  distinct md5(8-gram) of the old rewritten corpus
      * ``v1_docs``   the released old docs (doc_id, source, n_tok, text)

    Keep-min semantics make this state SUFFICIENT for exact incremental
    equality when new doc_ids exceed all old ones (the append-only ingest
    invariant): a new doc/paragraph/span can never displace an old keeper,
    and an old doc's funnel outcome is unchanged by new arrivals (any
    old+new gram collision keeps the old doc as keeper). At 100 TB the
    state is fingerprint-sized (hashes, not text) except v1_docs — which
    IS the release, already materialized by the shard writer."""
    persisted: list = []
    try:
        for name, rel in _state_rels(old, persisted).items():
            rel.write.mode("overwrite").parquet(f"{path}/{name}")
    finally:
        for df in persisted:
            df.unpersist()
    # ingest watermark: the append-only doc_id invariant the keep-min fold
    # DEPENDS on is recorded so later folds can enforce it instead of
    # assuming it (a backfilled lower doc_id would silently ship the
    # wrong canonical — reject it loudly at the gate)
    mx = old.agg(F.max("doc_id").alias("m")).collect()[0]["m"]  # 1-row fold
    write_ingest_watermark(path, -1 if mx is None else int(mx))


_WATERMARK_FILE = "_max_doc_id"  # underscore-prefixed: parquet readers skip it


def write_ingest_watermark(path: str, max_doc_id: int) -> None:
    """Record the highest ingested doc_id under ``path`` (atomic local
    replace — ``state_table.write_watermark``)."""
    import os

    from ..streaming.state_table import write_watermark

    write_watermark(os.path.join(path, _WATERMARK_FILE), max_doc_id)


def read_ingest_watermark(path: str) -> int:
    """Highest ingested doc_id recorded at ``path``; -1 when absent."""
    import os

    from ..streaming.state_table import read_watermark

    return read_watermark(os.path.join(path, _WATERMARK_FILE))


def guard_append_only(new: DataFrame, watermark: int) -> int:
    """``state_table.guard_append_only`` over doc_id — see there. Kept as
    an alias so the release-side call sites read domain-first."""
    from ..streaming.state_table import guard_append_only as _guard

    return _guard(new, watermark, id_col="doc_id")


def fold_batch_released(
    new: DataFrame,
    doc_fps: DataFrame,
    para_fps: DataFrame,
    gram_fps: DataFrame,
    truncate: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The delta fold: one ingest batch against fingerprint state relations
    (doc_fps(fp), para_fps(pfp), gram_fps(gfp)) -> (kept paragraphs, batch
    gram stream, released batch docs). ONE implementation shared by the
    batch incremental path and the streaming maintenance loop — the
    certified incremental == full theorem holds against this function.

    Stages: intra-batch exact keep-min then anti-join the state doc
    fingerprints; intra-batch paragraph keep-first then anti-join the
    state paragraph fingerprints; span removal where a hit is EITHER a
    gram known to the state (its keeper is an earlier doc by the
    append-only invariant) OR an intra-batch duplicate gram outside its
    batch keeper. Every join is sized by the batch probing the state.

    ``truncate=True`` (r12, guide §3.3/§7.3) localCheckpoints the two
    internally-shared legs — the rewritten token stream (consumed by the
    gram derivation AND the final assembly) and the gram stream (consumed
    by BOTH hit legs) — so each is computed once and every consumer plan
    sees a LogicalRDD leaf instead of re-nesting the whole ~25-stage delta
    tree (the r11-measured cost was stage-by-stage AQE replanning over
    that tree, plus the legs literally executing 2-3x). Row semantics are
    unchanged (localCheckpoint only cuts lineage), and fingerprint
    sessions skip it inside ``_materialize``. Default OFF: the streaming
    maintenance loop folds many small micro-batches per session, where
    per-batch checkpoint blocks would churn executor storage for no
    reuse."""
    k1n = _exact_survivors(new).join(
        doc_fps,
        F.md5(F.lower("text")) == F.col("fp"),
        "left_anti",
    )
    kpn = _kept_paragraphs(k1n).join(
        para_fps, F.md5("_ptxt") == F.col("pfp"), "left_anti"
    )
    if truncate:
        # checkpoint each cascade stage so the NEXT stage's checkpoint
        # plans over a LogicalRDD leaf instead of the whole upstream tree
        # (lazy localCheckpoint still pays analysis+physical planning of
        # its own subtree at construction — nesting them keeps each
        # planning pass small)
        kpn = _materialize(kpn)
        rtokn = _materialize(_token_grams(_rewrite(kpn))[0])
        gramsn = _materialize(_grams_of(rtokn))
    else:
        rtokn, gramsn = _token_grams(_rewrite(kpn))
    hits_old = gramsn.join(
        gram_fps, F.md5("_g") == F.col("gfp"), "semi"
    ).select(
        "doc_id",
        F.col("_pos").alias("s"),
        (F.col("_pos") + _SPAN_N - 1).alias("e"),
    )
    hits_new = _dup_span_hits(
        gramsn.join(gram_fps, F.md5("_g") == F.col("gfp"), "left_anti")
    )
    final_new = (
        _assemble(rtokn, _extents(hits_old.unionByName(hits_new)))
        .join(new.select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", "n_tok", "text")
    )
    return kpn, gramsn, final_new


def incremental_release_assignment(
    spark: SparkSession, path: str, new: DataFrame
) -> DataFrame:
    """Fold a new ingest batch into a persisted release state and emit the
    updated shard assignment — every join in the delta path is sized by
    the NEW batch (its fingerprints probe the state relations; the old
    corpus is never rescanned), then the mix/budget/shard assignment
    reruns over released-docs-sized rows only. Bit-equal to a full
    recompute under the append-only doc_id invariant (see
    write_release_state)."""
    guard_append_only(new, read_ingest_watermark(path))
    _, _, final_new = fold_batch_released(
        new,
        spark.read.parquet(f"{path}/doc_fps"),
        spark.read.parquet(f"{path}/para_fps"),
        spark.read.parquet(f"{path}/gram_fps"),
        truncate=True,
    )
    # r12 (guide §3.3): _assignment_of references its input 2-3x (the
    # source-sum leg, the cumulative-budget leg, the shard window), and
    # without materialization EACH reference re-executed the whole delta
    # fold. localCheckpoint computes the fold once; batch-only path (the
    # streaming loop calls fold_batch_released directly), no-op in
    # fingerprint sessions. Same rows, same consumers.
    final_new = _materialize(final_new)
    rel2 = spark.read.parquet(f"{path}/v1_docs").unionByName(final_new)
    return _assignment_of(rel2)


def incremental_release_manifest(
    spark: SparkSession, path: str, new: DataFrame
) -> DataFrame:
    """Manifest over the incrementally-updated assignment."""
    return _release_manifest_of(incremental_release_assignment(spark, path, new))


_REL_STATE_MEMO: dict = {}


def _release_state_path(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Session-memoized release state for the 90% (by max doc_id) corpus
    prefix; returns (state dir, split point). The max is a 1-row bounded
    fold (documented pattern), itself memoized so warm runs pay zero
    corpus scans; the state write is the once-per-corpus lifecycle cost,
    shared by the incremental-update and version-diff queries and paid
    on the bench's warm-build clock.

    r11: the four state relations are DERIVED from the session's
    full-corpus cascade memos instead of re-running the funnel on the
    prefix (``write_release_state`` stays the from-scratch lifecycle
    writer for arbitrary corpora — the derivation is valid only here,
    where the v1 corpus is a DOWNWARD-CLOSED doc_id prefix). Why the
    filter is exact: every funnel decision for doc X is keep-min /
    keep-first, i.e. a function ONLY of docs with ids <= X — the exact
    keeper (min id of X's fp group is <= X < t, hence in the prefix),
    the kept paragraph (every earlier occurrence has _id <= X), and the
    span hit (X is hit iff some doc with a SMALLER id carries the gram;
    docs >= t never un-hit or hit a prefix doc, they only ever lose to
    it). So prefix-funnel == full-funnel restricted to doc_id < t,
    relation by relation:

      * ``doc_fps``   distinct over the raw prefix — a plain filter;
      * ``para_fps``  ``_funnel_kp`` filtered to _id < t;
      * ``gram_fps``  ``_funnel_grams`` filtered to doc_id < t;
      * ``v1_docs``   ``_release_docs`` filtered to doc_id < t.

    The equality is pinned by tests/test_plans.py::
    test_release_state_derivation_equals_from_scratch (all four
    relations + watermark vs a verbatim ``write_release_state`` run)
    and re-certified by the incremental-update / version-diff oracles,
    which replay the state roundtrip end-to-end. Cost: the prefix
    cascade (the dominant term of the old 14.7 s warm build) is gone;
    the full cascade was already paid by the manifest family."""

    d = _docs(spark, sf_dir)
    tkey = (spark.sparkContext.applicationId, sf_dir, "split")
    t = _REL_STATE_MEMO.get(tkey)
    if t is None:
        mx = d.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
        t = int(mx) * 9 // 10
        _REL_STATE_MEMO[tkey] = t
    key = (spark.sparkContext.applicationId, sf_dir, t, "relstate")
    path = _REL_STATE_MEMO.get(key)
    if path is None:
        path = session_tmpdir("spark_graft_release_state_")
        pre = F.col("doc_id") < t
        # the prefix-filtered twins of _state_rels' relations, built from
        # the SAME fingerprint projections (_fp_docs/_fp_paras/_fp_grams)
        # so the two writers cannot drift (r11 ADVICE)
        rels = {
            "doc_fps": _fp_docs(d.filter(pre)),
            "para_fps": _fp_paras(_funnel_kp(d).filter(F.col("_id") < t)),
            "gram_fps": _fp_grams(_funnel_grams(d).filter(pre)),
            "v1_docs": _release_docs(d).filter(pre),
        }
        # sequential writes, in dependency order: doc_fps is a raw scan,
        # para_fps materializes the kp leg, gram_fps the grams leg, and
        # v1_docs then assembles off the already-stored blocks. (A
        # ThreadPool overlap was measured SLOWER here: concurrent first
        # materialization of the shared lazy legs serializes on per-block
        # write locks while oversubscribing the cores.)
        for name in _STATE_REL_NAMES:  # loud KeyError on format drift
            rels[name].write.mode("overwrite").parquet(f"{path}/{name}")
        mx = d.filter(pre).agg(F.max("doc_id").alias("m")).collect()[0]["m"]
        write_ingest_watermark(path, -1 if mx is None else int(mx))
        _REL_STATE_MEMO[key] = path
    return path, t


def _inc_release_asg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized incrementally-updated shard assignment — the delta
    fold probes the state's gram set (the one state-scan-sized join), so
    the update query and the version diff share ONE fold per session."""
    d = _docs(spark, sf_dir)
    path, t = _release_state_path(spark, sf_dir)
    return _memo(
        d,
        ("inc_release_asg", t, _FUNNEL_B, _SPAN_N),
        lambda: incremental_release_assignment(
            spark, path, d.filter(F.col("doc_id") >= t)
        ),
    )


@query(
    "doc_release_incremental_update",
    oracle=_RELEASE_ORACLE,
    doc="INCREMENTAL corpus-release update — the production shape at "
    "100 TB, where a 1%-sized ingest batch must never trigger a full "
    "funnel recompute: the first 90% of the corpus (by doc_id — the "
    "append-only ingest invariant) is released once and its state "
    "persisted (doc/paragraph/gram fingerprint sets + released docs, "
    "write_release_state), then the remaining 10% folds in at DELTA "
    "cost (batch-sized fingerprint probes against the state, "
    "incremental_release_manifest). Keep-min keeper semantics make the "
    "fold EXACT: the oracle is doc_release_manifest's full-corpus "
    "recompute verbatim, so the driver certifies incremental == full "
    "bit-for-bit (counts, composition, content checksums). The one "
    "driver-side scalar is the corpus max doc_id (1-row bounded fold) "
    "choosing the split point.",
)
def doc_release_incremental_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _release_manifest_of(_inc_release_asg(spark, sf_dir))


# ---------------------------------------------------------------------------
# release version diff: what changed between v1 and the post-ingest v2
# ---------------------------------------------------------------------------

# the v1 split point, computable identically in both engines (integer
# floor division on the corpus max doc_id)
_V1_T_SQL = "(SELECT (MAX(doc_id) * 9) // 10 FROM documents)"


def _release_asg_sql(base: str) -> str:
    """The full-cascade assignment SELECT over an arbitrary corpus base
    relation — _RELEASE_CTES with its two corpus scans (fingerprint CTE,
    token CTE) re-pointed at ``base``. The source join stays on the full
    documents table (harmless: the cascade's doc_ids restrict it)."""
    # exactly the fp and tk CTEs end in this anchor today; a future CTE
    # matching it would be silently re-pointed too, corrupting the
    # version-diff oracle — fail loudly instead (a real raise, not an
    # assert: asserts vanish under python -O, which is exactly the
    # silent-corruption mode this guard exists to prevent)
    return (
        _release_ctes_for(base)
        + "\n    SELECT doc_id, source, n_tok, text, shard, pos FROM asg"
    )


def _release_ctes_for(base: str) -> str:
    """_RELEASE_CTES with its two corpus scans re-pointed at ``base`` —
    the guarded textual rewrite shared by the assignment oracle and the
    state-accounting oracle."""
    n = _RELEASE_CTES.count("FROM documents)")
    if n != 2:
        raise ValueError(
            f"_RELEASE_CTES corpus-scan anchor count drifted: {n} != 2 — "
            f"parameterize the new CTE's base relation instead of relying "
            f"on the textual rewrite"
        )
    return _RELEASE_CTES.replace("FROM documents)", f"FROM {base})")


_VDIFF_ORACLE = f"""
    WITH asg1 AS (
      {_release_asg_sql(f"(SELECT * FROM documents WHERE doc_id < {_V1_T_SQL})")}
    ),
    asg2 AS (
      {_release_asg_sql("documents")}
    ),
    m1 AS (
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n1,
             CAST(SUM(n_tok) AS BIGINT) AS t1,
             {_TD_CHK.format(pos='pos', p=_REL_P,
                             h=_HASH_SQL.format(c='text'))} AS c1
      FROM asg1 GROUP BY shard),
    m2 AS (
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n2,
             CAST(SUM(n_tok) AS BIGINT) AS t2,
             {_TD_CHK.format(pos='pos', p=_REL_P,
                             h=_HASH_SQL.format(c='text'))} AS c2
      FROM asg2 GROUP BY shard),
    ad AS (
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n FROM asg2 a2
      WHERE NOT EXISTS (SELECT 1 FROM asg1 a1 WHERE a1.doc_id = a2.doc_id)
      GROUP BY shard),
    dr AS (
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n FROM asg1 a1
      WHERE NOT EXISTS (SELECT 1 FROM asg2 a2 WHERE a2.doc_id = a1.doc_id)
      GROUP BY shard)
    SELECT COALESCE(m2.shard, m1.shard) AS shard,
           COALESCE(m1.n1, 0) AS n_docs_v1,
           COALESCE(m2.n2, 0) AS n_docs_v2,
           COALESCE(ad.n, 0) AS docs_added,
           COALESCE(dr.n, 0) AS docs_dropped,
           COALESCE(m1.t1, 0) AS tokens_v1,
           COALESCE(m2.t2, 0) AS tokens_v2,
           COALESCE(m1.c1, 0) AS checksum_v1,
           COALESCE(m2.c2, 0) AS checksum_v2,
           CAST(CASE WHEN COALESCE(m1.c1, 0) <> COALESCE(m2.c2, 0)
                       OR COALESCE(m1.n1, 0) <> COALESCE(m2.n2, 0)
                     THEN 1 ELSE 0 END AS INTEGER) AS changed
    FROM m2 FULL JOIN m1 USING (shard)
    LEFT JOIN ad USING (shard)
    LEFT JOIN dr USING (shard)
    ORDER BY shard
"""


@query(
    "doc_release_version_diff",
    oracle=_VDIFF_ORACLE,
    doc="Per-shard diff between the v1 release (the 90% corpus prefix, "
    "read back from the persisted release state) and the post-ingest v2 "
    "release (the incremental fold): doc/token counts per version, "
    "docs added and dropped (the sqrt-proportional budget REDISTRIBUTES "
    "when new sources grow, so previously-shipped docs can legitimately "
    "fall out — the diff surfaces exactly that), and before/after "
    "content checksums identifying which shard files a release shipper "
    "must rewrite. The oracle replays BOTH full cascades (v1 on the "
    "prefix, v2 on the whole corpus) with nested-CTE scoping, so the "
    "certified claim covers the state roundtrip AND the incremental "
    "fold. Spark side rides the session release state + assignment "
    "relations; the diff itself is two shard-keyed aggregates and two "
    "doc_id anti-joins over released-docs-sized rows.",
)
def doc_release_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    path, t = _release_state_path(spark, sf_dir)
    asg1 = _memo(
        d,
        ("v1_release_asg", t, _FUNNEL_B, _SPAN_N),
        lambda: _assignment_of(spark.read.parquet(f"{path}/v1_docs")),
    )
    asg2 = _inc_release_asg(spark, sf_dir)

    def sums(asg: DataFrame, n: str, tk: str, ck: str) -> DataFrame:
        return asg.groupBy("shard").agg(
            F.count("*").cast("bigint").alias(n),
            F.sum("n_tok").cast("bigint").alias(tk),
            _content_checksum_col(F.col("pos"), F.col("text")).alias(ck),
        )

    m1 = sums(asg1, "n1", "t1", "c1")
    m2 = sums(asg2, "n2", "t2", "c2")
    ad = (
        asg2.join(asg1.select("doc_id"), "doc_id", "left_anti")
        .groupBy("shard")
        .agg(F.count("*").cast("bigint").alias("na"))
    )
    dr = (
        asg1.join(asg2.select("doc_id"), "doc_id", "left_anti")
        .groupBy("shard")
        .agg(F.count("*").cast("bigint").alias("nd"))
    )
    z = F.lit(0).cast("bigint")
    return (
        m2.join(m1, "shard", "full")
        .join(ad, "shard", "left")
        .join(dr, "shard", "left")
        .select(
            "shard",
            F.coalesce("n1", z).alias("n_docs_v1"),
            F.coalesce("n2", z).alias("n_docs_v2"),
            F.coalesce("na", z).alias("docs_added"),
            F.coalesce("nd", z).alias("docs_dropped"),
            F.coalesce("t1", z).alias("tokens_v1"),
            F.coalesce("t2", z).alias("tokens_v2"),
            F.coalesce("c1", z).alias("checksum_v1"),
            F.coalesce("c2", z).alias("checksum_v2"),
            F.when(
                (F.coalesce("c1", z) != F.coalesce("c2", z))
                | (F.coalesce("n1", z) != F.coalesce("n2", z)),
                1,
            )
            .otherwise(0)
            .cast("int")
            .alias("changed"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# backfill revision: the sanctioned path for late-arriving LOWER doc_ids
# ---------------------------------------------------------------------------

# deterministic late-arrival stand-in: ~1/31 of docs "arrived after the
# release shipped" despite carrying lower doc_ids than the watermark —
# exactly the batch guard_append_only REJECTS from the incremental fold
_BF_MOD, _BF_RES = 31, 7

_BACKFILL_ORACLE = f"""
    WITH asg1 AS (
      {{asg1}}
    ),
    asg2 AS (
      {{asg2}}
    ),
    m1 AS (
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n1,
             CAST(SUM(n_tok) AS BIGINT) AS t1,
             {{chk}} AS c1
      FROM asg1 GROUP BY shard),
    m2 AS (
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n2,
             CAST(SUM(n_tok) AS BIGINT) AS t2,
             {{chk}} AS c2
      FROM asg2 GROUP BY shard),
    ins AS (
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n FROM asg2 a2
      WHERE NOT EXISTS (SELECT 1 FROM asg1 a1 WHERE a1.doc_id = a2.doc_id)
      GROUP BY shard),
    rt AS (
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n FROM asg1 a1
      WHERE NOT EXISTS (SELECT 1 FROM asg2 a2 WHERE a2.doc_id = a1.doc_id)
      GROUP BY shard)
    SELECT COALESCE(m2.shard, m1.shard) AS shard,
           COALESCE(m1.n1, 0) AS n_docs_before,
           COALESCE(m2.n2, 0) AS n_docs_after,
           COALESCE(rt.n, 0) AS docs_retracted,
           COALESCE(ins.n, 0) AS docs_inserted,
           COALESCE(m2.t2, 0) - COALESCE(m1.t1, 0) AS tokens_delta,
           COALESCE(m1.c1, 0) AS checksum_before,
           COALESCE(m2.c2, 0) AS checksum_after,
           CAST(CASE WHEN COALESCE(m1.c1, 0) <> COALESCE(m2.c2, 0)
                       OR COALESCE(m1.n1, 0) <> COALESCE(m2.n2, 0)
                     THEN 1 ELSE 0 END AS INTEGER) AS changed
    FROM m2 FULL JOIN m1 USING (shard)
    LEFT JOIN ins USING (shard)
    LEFT JOIN rt USING (shard)
    ORDER BY shard
"""


def _backfill_oracle() -> str:
    chk = _TD_CHK.format(pos="pos", p=_REL_P, h=_HASH_SQL.format(c="text"))
    h = _HASH_SQL.format(c="doc_id")
    base1 = (
        f"(SELECT * FROM documents WHERE {h} % {_BF_MOD} <> {_BF_RES})"
    )
    return _BACKFILL_ORACLE.format(
        asg1=_release_asg_sql(base1),
        asg2=_release_asg_sql("documents"),
        chk=chk,
    )


@query(
    "doc_release_backfill_revision",
    oracle=_backfill_oracle(),
    doc="BACKFILL revision — the sanctioned path guard_append_only's "
    "error message directs out-of-order ingest to (late_fact_mv_revision "
    "is the warehouse dual): a scattered ~3% of docs (h56(doc_id) % 31 "
    "== 7, the deterministic late-arrival stand-in) carry doc_ids BELOW "
    "the shipped release's watermark, so the incremental keep-min fold "
    "is ineligible — their lower ids can displace shipped keepers at "
    "every funnel stage. The revision recomputes the cascade over the "
    "corrected corpus and emits the per-shard RETRACTION/INSERTION "
    "delta a release shipper applies: docs retracted (shipped before, "
    "gone after — displaced keepers and budget-evicted docs), docs "
    "inserted, token delta, and before/after checksums marking exactly "
    "which shard files to rewrite. Both cascades ride the session funnel "
    "memos; the diff itself is two shard-keyed aggregates and two "
    "anti-joins. The oracle replays BOTH full cascades via nested-CTE "
    "scoping.",
)
def doc_release_backfill_revision(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    early = d.filter(_hash56(F.col("doc_id")) % _BF_MOD != _BF_RES)
    asg1 = _memo(
        d,
        ("bf_release_asg", _BF_MOD, _BF_RES, _FUNNEL_B, _SPAN_N),
        lambda: _assignment_of(_release_docs(early)),
    )
    asg2 = _release_assignment(d)

    def sums(asg: DataFrame, n: str, tk: str, ck: str) -> DataFrame:
        return asg.groupBy("shard").agg(
            F.count("*").cast("bigint").alias(n),
            F.sum("n_tok").cast("bigint").alias(tk),
            _content_checksum_col(F.col("pos"), F.col("text")).alias(ck),
        )

    m1 = sums(asg1, "n1", "t1", "c1")
    m2 = sums(asg2, "n2", "t2", "c2")
    ins = (
        asg2.join(asg1.select("doc_id"), "doc_id", "left_anti")
        .groupBy("shard")
        .agg(F.count("*").cast("bigint").alias("ni"))
    )
    rt = (
        asg1.join(asg2.select("doc_id"), "doc_id", "left_anti")
        .groupBy("shard")
        .agg(F.count("*").cast("bigint").alias("nr"))
    )
    z = F.lit(0).cast("bigint")
    return (
        m2.join(m1, "shard", "full")
        .join(ins, "shard", "left")
        .join(rt, "shard", "left")
        .select(
            "shard",
            F.coalesce("n1", z).alias("n_docs_before"),
            F.coalesce("n2", z).alias("n_docs_after"),
            F.coalesce("nr", z).alias("docs_retracted"),
            F.coalesce("ni", z).alias("docs_inserted"),
            (F.coalesce("t2", z) - F.coalesce("t1", z)).alias("tokens_delta"),
            F.coalesce("c1", z).alias("checksum_before"),
            F.coalesce("c2", z).alias("checksum_after"),
            F.when(
                (F.coalesce("c1", z) != F.coalesce("c2", z))
                | (F.coalesce("n1", z) != F.coalesce("n2", z)),
                1,
            )
            .otherwise(0)
            .cast("int")
            .alias("changed"),
        )
        .orderBy("shard")
    )


_BF_APPLIED_MEMO: dict = {}


@query(
    "doc_release_backfill_applied",
    oracle=_RELEASE_ORACLE,
    doc="EXECUTED backfill revision — the apply step completing "
    "doc_release_backfill_revision's diff: the shipped v1 release (the "
    "corpus minus the deterministic late-arrival set, written as real "
    "shard files) is rewritten in place by apply_backfill_to_shards — "
    "only the shards whose (n_docs, checksum) changed are touched, each "
    "swapped via the crash-recoverable per-shard rename protocol — and "
    "the manifest is then recomputed FROM THE WRITTEN FILES. The oracle "
    "is the full-corpus release manifest (doc_release_manifest's SQL "
    "verbatim), so the driver certifies that executing the revision "
    "against shipped files lands byte-for-byte on the from-scratch "
    "release of the corrected corpus: retractions removed, insertions "
    "placed, positions re-ranked, untouched shards shipped as-is. Both "
    "cascades ride the session funnel memos; the build (shard write + "
    "rewrite) is a once-per-session lifecycle cost on the warm clock.",
)
def doc_release_backfill_applied(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir, _BF_MOD, _BF_RES)
    out = _BF_APPLIED_MEMO.get(key)
    if out is None:
        early = d.filter(_hash56(F.col("doc_id")) % _BF_MOD != _BF_RES)
        # the same memo key the revision query trains, so diff + apply
        # share one before-cascade per session
        asg1 = _memo(
            d,
            ("bf_release_asg", _BF_MOD, _BF_RES, _FUNNEL_B, _SPAN_N),
            lambda: _assignment_of(_release_docs(early)),
        )
        out = session_tmpdir("spark_graft_bf_release_")
        _write_shards(asg1, out)
        apply_backfill_to_shards(spark, out, d)
        _BF_APPLIED_MEMO[key] = out
    return release_manifest_from_files(spark, out)


def recover_shard_backfill(out_dir: str) -> None:
    """Finish or undo an interrupted ``apply_backfill_to_shards`` — the
    takedown's per-shard rename-swap recovery with the backfill's own
    prefixes (same primitive, ``sources/swap.py::recover_rename_swap``): a
    ``.backfill-old-<token>-<s>`` dir with NO live ``shard=<s>`` rolls
    BACK (the rewrite is idempotent and re-runnable); post-swap debris
    and orphaned tmp roots are swept."""
    from ..sources.swap import recover_rename_swap
    from ..streaming.ivf_stream import _require_local_path

    out_dir = _require_local_path(out_dir)
    recover_rename_swap(
        out_dir,
        old_prefix=".backfill-old-",
        tmp_prefix=".backfill-tmp-",
        live_of=lambda s: f"shard={s}",
    )


def apply_backfill_to_shards(
    spark: SparkSession,
    out_dir: str,
    corrected: DataFrame,
    lease: dict | None = None,
) -> list[int]:
    """EXECUTE a backfill revision against WRITTEN release shards — the
    apply step ``doc_release_backfill_revision`` predicts: late-arriving
    sub-watermark doc_ids make the incremental fold ineligible (their
    lower ids displace shipped keepers at every funnel stage), so the
    release is recomputed over the CORRECTED corpus and exactly the
    shards whose content changed are rewritten in place. ``corrected``
    must be the complete corrected corpus (everything ever ingested plus
    the late arrivals) — the revision's after-state is
    ``_assignment_of(_release_docs(corrected))``, the same cascade the
    diff query certifies.

    Changed-shard detection is the revision's own rule — per-shard
    (n_docs, content_checksum) of the WRITTEN files vs the after
    assignment (not a trusted diff row: the executor re-derives the
    delta from what is actually on disk, so it is re-runnable from any
    partial state). Shards whose stats match ship unchanged: their files
    are never read again, never rewritten — at 100 TB the rewrite cost
    is proportional to the revision's blast radius, not the release.

    Crash protocol mirrors ``apply_takedown_to_shards``: rewritten
    shards land in one ``.backfill-tmp-<token>`` dir, then swap live one
    by one through ``rename_swap`` (``recover_shard_backfill`` rolls a
    crash between the renames back); a shard the revision fully
    retracts is rewritten as an empty schema'd table, a shard the
    revision newly populates (no live dir) renames straight in. Idempotent: a re-run
    finds zero changed shards. Returns the rewritten shard ids. The
    persisted release STATE is rebased separately —
    ``release_stream.apply_backfill_to_release_state`` — so future
    incremental folds resume off the corrected corpus."""
    from ..streaming.ivf_stream import _require_local_path
    from ..streaming.state_table import maintainer_lease

    out_dir = _require_local_path(out_dir, spark)
    with maintainer_lease(out_dir, lease, owner="shard-backfill") as lease:
        return _apply_backfill_to_shards_locked(spark, out_dir, corrected, lease)


def _apply_backfill_to_shards_locked(
    spark: SparkSession, out_dir: str, corrected: DataFrame, lease: dict
) -> list[int]:
    import os
    import uuid

    recover_shard_backfill(out_dir)
    files = spark.read.parquet(out_dir).withColumn(
        "shard", F.col("shard").cast("bigint")
    )
    # the session-memoized assignment: the stats pass and the
    # changed-shard rewrite below both consume it, and the bench session
    # shares it with the manifest/diff queries over the same corpus
    asg2 = _release_assignment(corrected)

    def stats(asg: DataFrame, n: str, c: str) -> DataFrame:
        return asg.groupBy("shard").agg(
            F.count("*").cast("bigint").alias(n),
            _content_checksum_col(F.col("pos"), F.col("text")).alias(c),
        )

    # one NSHARDS-row bounded fold decides the blast radius (documented
    # driver-side pattern); full-outer so one-sided shards surface
    cmp = stats(files, "nb", "cb").join(
        stats(asg2, "na", "ca"), "shard", "full"
    )
    changed = sorted(
        int(r["shard"])
        for r in cmp.collect()
        if r["nb"] != r["na"] or r["cb"] != r["ca"]
    )
    if not changed:
        return []
    token = uuid.uuid4().hex[:8]
    tmp = os.path.join(out_dir, f".backfill-tmp-{token}")
    _write_shards(asg2.filter(F.col("shard").isin(changed)), tmp)
    _swap_shards(out_dir, tmp, f".backfill-old-{token}-", changed, asg2, lease)
    return changed


def recover_shard_takedown(out_dir: str) -> None:
    """Finish or undo an interrupted ``apply_takedown_to_shards``: a
    ``.takedown-old-<token>-<s>`` dir with NO live ``shard=<s>`` means the
    crash hit between the two renames — roll BACK (the rewrite is
    re-runnable and idempotent, so restoring the pre-takedown shard is
    always safe); an old dir WITH a live shard is post-swap debris —
    delete it, along with any leftover tmp root."""
    from ..sources.swap import recover_rename_swap
    from ..streaming.ivf_stream import _require_local_path

    out_dir = _require_local_path(out_dir)
    recover_rename_swap(
        out_dir,
        old_prefix=".takedown-old-",
        tmp_prefix=".takedown-tmp-",
        live_of=lambda s: f"shard={s}",
    )


def apply_takedown_to_shards(
    spark: SparkSession,
    out_dir: str,
    takedown_mod: int = _TD_MOD,
    takedown_ids: DataFrame | None = None,
    lease: dict | None = None,
) -> list[int]:
    """Surgical takedown over WRITTEN release shards: remove the listed
    docs — ``takedown_ids`` (a doc_id DataFrame: the real compliance-list
    shape, and what the takedown STREAM feeds per micro-batch) or, when
    None, the deterministic h56(doc_id) % takedown_mod == 0 stand-in
    doc_release_takedown_diff predicts — from the shard files, rewriting
    ONLY the shards that actually change and leaving every clean shard's
    files untouched — at 100 TB the diff's changed=0 rows are shards the
    shipper never reads, never rewrites, never re-uploads. Positions
    re-rank within each changed shard (same order, minus the removed
    rows); each shard swaps via tmp dir + two renames, and
    ``recover_shard_takedown`` (run on entry) rolls a crash between the
    renames back — combined with idempotence (re-running removes nothing
    new), the rewrite is safe to re-run from any crash point. Returns the
    rewritten shard ids."""
    from ..streaming.ivf_stream import _require_local_path
    from ..streaming.state_table import maintainer_lease

    out_dir = _require_local_path(out_dir, spark)
    with maintainer_lease(out_dir, lease, owner="shard-takedown") as lease:
        return _apply_takedown_to_shards_locked(
            spark, out_dir, takedown_mod, takedown_ids, lease
        )


def _apply_takedown_to_shards_locked(
    spark: SparkSession,
    out_dir: str,
    takedown_mod: int,
    takedown_ids: DataFrame | None,
    lease: dict,
) -> list[int]:
    import os
    import uuid

    recover_shard_takedown(out_dir)
    files = spark.read.parquet(out_dir).withColumn(
        "shard", F.col("shard").cast("bigint")
    )
    if takedown_ids is not None:
        ids = takedown_ids.select(F.col("doc_id").cast("bigint")).distinct()
        listed = files.join(ids, "doc_id", "semi")
    else:
        listed = files.filter(_hash56(F.col("doc_id")) % takedown_mod == 0)
    changed = sorted(
        int(r["shard"]) for r in listed.select("shard").distinct().collect()
    )
    if not changed:
        return []
    w = W.partitionBy("shard").orderBy("pos")
    in_changed = files.filter(F.col("shard").isin(changed))
    if takedown_ids is not None:
        surviving = in_changed.join(ids, "doc_id", "left_anti")
    else:
        surviving = in_changed.filter(_hash56(F.col("doc_id")) % takedown_mod != 0)
    kept = surviving.withColumn("pos", F.row_number().over(w).cast("bigint"))
    token = uuid.uuid4().hex[:8]
    tmp = os.path.join(out_dir, f".takedown-tmp-{token}")
    (
        kept.repartition("shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(tmp)
    )
    _swap_shards(out_dir, tmp, f".takedown-old-{token}-", changed, kept, lease)
    return changed


def _swap_shards(
    out_dir: str, tmp: str, old_prefix: str, changed: list[int],
    rows: DataFrame, lease: dict,
) -> None:
    """``rename_swap`` each rewritten ``<tmp>/shard=<s>`` in for the live
    ``<out_dir>/shard=<s>`` (backup ``<old_prefix><s>``), then drop the
    tmp root. A shard left with no rows gets an empty schema'd table
    (``rows``' schema minus the partition column): a bare empty dir
    would break ``spark.read.parquet(out_dir)`` once EVERY shard is
    emptied, mirroring the IVF empty-index branch in
    ``remove_from_ivf_index``."""
    import os
    import shutil

    from ..sources.swap import rename_swap
    from ..streaming.state_table import verify_maintainer_lease

    for s in changed:
        new = os.path.join(tmp, f"shard={s}")
        if not os.path.isdir(new):
            rows.limit(0).drop("shard").coalesce(1).write.parquet(new)
    verify_maintainer_lease(lease)  # fencing before the swap renames
    for s in changed:
        rename_swap(
            os.path.join(tmp, f"shard={s}"),
            os.path.join(out_dir, f"shard={s}"),
            os.path.join(out_dir, f"{old_prefix}{s}"),
        )
    shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# state-growth accounting: measure the relations that grow forever
# ---------------------------------------------------------------------------

_TOMB_IDX_MEMO: dict = {}


def _session_takedown_index(spark: SparkSession, sf_dir: str) -> str:
    """Session IVF index copy with a REAL takedown applied — the persisted
    tombstone set ``state_growth_accounting`` reads. Its own copy: the
    shared search index must stay takedown-free, and the drift index's
    training-time baseline must stay un-scrubbed. Training rides the
    session kmeans memo, so the marginal build cost is one assignment
    pass + the takedown rewrite."""
    key = (spark.sparkContext.applicationId, sf_dir, _TD_MOD, "tomb_idx")
    path = _TOMB_IDX_MEMO.get(key)
    if path is None:
        import shutil

        from ..streaming.ivf_stream import remove_from_ivf_index
        from .similarity import _session_ivfpq_index

        e = load_table(spark, sf_dir, "embeddings")
        path = session_tmpdir("spark_graft_tomb_idx_")
        # COPY the session IVF-PQ index (one local copytree) instead of
        # rebuilding with save_ivf_index: same coarse training/assignment
        # (shared kmeans memo, same mods/iters), and the accounting reads
        # only the tombstone set the takedown below writes — a fresh
        # build duplicated the assignment+write pass on the warm clock
        # (r11 warm-build amortization; the from-scratch path stays
        # covered by the operator tests).
        shutil.rmtree(path, ignore_errors=True)
        shutil.copytree(_session_ivfpq_index(spark, sf_dir, e), path)
        remove_from_ivf_index(
            spark,
            path,
            e.filter(_hash56(F.col("vec_id")) % _TD_MOD == 0).select("vec_id"),
        )
        _TOMB_IDX_MEMO[key] = path
    return path


def _acct_oracle() -> str:
    h = _HASH_SQL.format(c="vec_id")
    base = f"(SELECT * FROM documents WHERE doc_id < {_V1_T_SQL})"
    return (
        _release_ctes_for(base)
        + f""",
    acct AS (
      SELECT 'ann_tombstones' AS relation,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(8 * COUNT(*) AS BIGINT) AS content_bytes
      FROM embeddings WHERE {h} % {_TD_MOD} = 0
      UNION ALL
      SELECT 'doc_fps', CAST(COUNT(DISTINCT f) AS BIGINT),
             CAST(32 * COUNT(DISTINCT f) AS BIGINT) FROM fp
      UNION ALL
      SELECT 'gram_fps', CAST(COUNT(DISTINCT g) AS BIGINT),
             CAST(32 * COUNT(DISTINCT g) AS BIGINT) FROM g
      UNION ALL
      SELECT 'para_fps', CAST(COUNT(DISTINCT ptxt) AS BIGINT),
             CAST(32 * COUNT(DISTINCT ptxt) AS BIGINT) FROM p
      UNION ALL
      SELECT 'v1_docs', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(LENGTH(text)) AS BIGINT) FROM rel)
    SELECT relation, n_rows, content_bytes FROM acct ORDER BY relation
"""
    )


@query(
    "state_growth_accounting",
    oracle=_acct_oracle(),
    doc="Size accounting for the relations that grow FOREVER BY DESIGN — "
    "the R99/R103 'measure the thing that decides scale' twin for "
    "forgetting: the ANN index's tombstone set (one row per taken-down "
    "id, kept to block re-ingest replays; boundable via the opt-in "
    "fold at compaction, compact_ivf_appends(fold_tombstones=True)) and "
    "the persisted release state's fingerprint relations (doc/para/gram "
    "fps, kept deliberately so byte-identical duplicates of removed or "
    "folded docs cannot re-enter — they are the dedup memory itself). "
    "Counts and content bytes are read from the PERSISTED artifacts (a "
    "real takedown's tombstone table, the session release state), so "
    "the certified claim is stored-state == recompute: the oracle "
    "re-derives each relation's cardinality from scratch (distinct doc/"
    "paragraph/gram fingerprints over the v1 prefix cascade, the "
    "takedown list over embeddings). This is the table an operator "
    "reads to decide when tombstone folding or state compaction is "
    "worth running.",
)
def state_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    spath, _t = _release_state_path(spark, sf_dir)
    tpath = _session_takedown_index(spark, sf_dir)

    def counted(name: str, df: DataFrame, per_row: int | None = None,
                bytes_expr=None) -> DataFrame:
        b = bytes_expr if bytes_expr is not None else F.count("*") * per_row
        return df.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            b.cast("bigint").alias("content_bytes"),
        ).select(F.lit(name).alias("relation"), "n_rows", "content_bytes")

    parts = [
        counted("ann_tombstones", spark.read.parquet(f"{tpath}/tombstones"), 8),
        counted("doc_fps", spark.read.parquet(f"{spath}/doc_fps"), 32),
        counted("gram_fps", spark.read.parquet(f"{spath}/gram_fps"), 32),
        counted("para_fps", spark.read.parquet(f"{spath}/para_fps"), 32),
        counted(
            "v1_docs",
            spark.read.parquet(f"{spath}/v1_docs"),
            bytes_expr=F.sum(F.length("text")),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("relation")


def _reconcile_oracle() -> str:
    h = _HASH_SQL.format(c="vec_id")
    base = f"(SELECT * FROM documents WHERE doc_id < {_V1_T_SQL})"
    return (
        _release_ctes_for(base)
        + f""",
    relid AS (SELECT doc_id FROM rel),
    wm AS (SELECT MAX(doc_id) AS w FROM documents WHERE doc_id < {_V1_T_SQL}),
    hi AS (SELECT MAX(vec_id) AS h FROM embeddings),
    live AS (SELECT vec_id FROM embeddings WHERE {h} % {_TD_MOD} <> 0),
    tomb AS (SELECT vec_id FROM embeddings WHERE {h} % {_TD_MOD} = 0),
    checks AS (
      SELECT 'batches_index_only' AS chk, CAST(0 AS BIGINT) AS n
      UNION ALL SELECT 'batches_release_only', CAST(0 AS BIGINT)
      UNION ALL SELECT 'index_ahead_of_release',
        (SELECT CAST(COUNT(*) AS BIGINT) FROM live, wm WHERE vec_id > w)
      UNION ALL SELECT 'index_highwater', (SELECT CAST(h AS BIGINT) FROM hi)
      UNION ALL SELECT 'indexed_not_released',
        (SELECT CAST(COUNT(*) AS BIGINT) FROM live, wm
         WHERE vec_id <= w AND vec_id NOT IN (SELECT doc_id FROM relid))
      UNION ALL SELECT 'release_ahead_of_index',
        (SELECT CAST(COUNT(*) AS BIGINT) FROM relid, hi WHERE doc_id > h)
      UNION ALL SELECT 'release_watermark', (SELECT CAST(w AS BIGINT) FROM wm)
      UNION ALL SELECT 'released_not_indexed',
        (SELECT CAST(COUNT(*) AS BIGINT) FROM relid, hi
         WHERE doc_id <= h
           AND doc_id NOT IN (SELECT vec_id FROM embeddings))
      UNION ALL SELECT 'takedown_skew',
        (SELECT CAST(COUNT(*) AS BIGINT) FROM tomb
         WHERE vec_id IN (SELECT doc_id FROM relid)))
    SELECT chk AS "check", n FROM checks ORDER BY chk
"""
    )


@query(
    "cross_artifact_reconciliation",
    oracle=_reconcile_oracle(),
    doc="Cross-artifact consistency accounting (streaming/reconcile.py::"
    "reconcile_release_index): one ingest feed fans into two "
    "independently-maintained persisted artifacts — the release state "
    "and the ANN index — each crash-safe alone but with nothing tying "
    "their folds together; this report joins their applied-batch "
    "ledgers, watermarks/high-water marks, id sets (released vs live vs "
    "tombstoned) and surfaces every divergence class: batch folds "
    "applied to one side only, ids released-but-unindexed / "
    "indexed-but-unreleased, in-flight frontier lag in either "
    "direction, and takedowns that reached one artifact but not the "
    "other. Read here over the session artifacts (the release state of "
    "the v1 prefix, the takedown'd session index), so the certified "
    "claim is stored-artifacts == recompute: the oracle re-derives "
    "every count from the raw tables (the release cascade CTEs, the "
    "h56-mod takedown list, the embeddings id range). All checks are "
    "anti-joins of id-sized relations + driver-side ledger set math — "
    "never corpus-content-scale. The healing action "
    "(reconcile.heal_release_index) is certified by the "
    "crash-between-artifacts test.",
)
def cross_artifact_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.reconcile import reconcile_release_index

    spath, _t = _release_state_path(spark, sf_dir)
    tpath = _session_takedown_index(spark, sf_dir)
    return reconcile_release_index(spark, spath, tpath, id_col="vec_id")
