"""Similarity-search queries over the ``embeddings`` table.

Brute-force cosine top-k is the correctness baseline (one broadcast of the
query vector, one pass over the table, TakeOrdered for top-k — at 100 TB
this is the exact pattern, just with a bucketed/IVF pre-filter in front;
see operators/similarity.py for the LSH-bucketed scale path).

Dot products are computed as sequential left-to-right double folds in both
engines (Spark ``aggregate`` over the array; DuckDB ``list_dot_product`` on
DOUBLE[]), which makes the floats comparable; outputs are rounded to 6 dp
as a belt-and-braces measure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.similarity import cosine, cosine_cross_scores, dot, salted_topk
from ..session import session_tmpdir
from ..sources.catalog import load_table
from .registry import query

# Built persisted-IVF indexes, keyed by (applicationId, sf_dir, params) —
# the on-disk analogue of operators.similarity._KMEANS_MEMO. See
# emb_ivf_indexed_topk for why the build is amortized out of the search.
_IVF_INDEX_MEMO: dict[tuple, str] = {}


@query(
    "emb_cosine_topk",
    oracle="""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
                 / (SQRT(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                    * SQRT(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))),
                 6) AS cos_sim
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
    doc="Brute-force cosine top-k vs a query vector (ANN correctness baseline).",
)
def emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


# Shared oracle fragment: cosine of two DOUBLE[] lists (sequential fold —
# bit-identical to the Spark ``cosine`` fold).
def _cos_sql(a: str, b: str) -> str:
    return (
        f"list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
        f" / (SQRT(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
        f" * SQRT(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))"
    )


# Centroid-assignment ranking: dot(row, centroid) / norm(centroid). The
# row's own norm is a positive per-row constant, so the per-row argmax is
# the cosine argmax at a third of the fold cost; the Spark operator
# (operators/similarity.py::assign_to_centroids) uses the identical
# expression, keeping floats bit-comparable.
def _rank_sql(row: str, cent: str) -> str:
    return (
        f"list_dot_product(CAST({row} AS DOUBLE[]), CAST({cent} AS DOUBLE[]))"
        f" / SQRT(list_dot_product(CAST({cent} AS DOUBLE[]), CAST({cent} AS DOUBLE[])))"
    )


_IVF_ORACLE = f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id % 25 = 0),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id, e.label, e.embedding, c.cid,
             {_rank_sql('e.embedding', 'c.cvec')} AS cos_c
      FROM embeddings e, cents c),
    assigned AS (
      SELECT vec_id, label, embedding, cid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY cos_c DESC, cid) AS rn
        FROM scored)
      WHERE rn = 1),
    probe AS (
      SELECT cid FROM (
        SELECT c.cid, {_cos_sql('c.cvec', 'q.qv')} AS cos_q
        FROM cents c, q
        ORDER BY cos_q DESC, cid LIMIT 2)),
    hits AS (
      SELECT a.vec_id, a.label,
             ROUND({_cos_sql('a.embedding', 'q.qv')}, 6) AS cos_sim
      FROM assigned a JOIN probe p ON a.cid = p.cid, q
      WHERE a.vec_id <> 0)
    SELECT vec_id, label, cos_sim FROM hits
    ORDER BY cos_sim DESC, vec_id LIMIT 10
"""


@query(
    "emb_ivf_topk",
    oracle=_IVF_ORACLE,
    doc="IVF approximate top-k: nearest-centroid partitioning (centroids = "
    "vec_id % 25 == 0), nprobe=2 probe, exact cosine within probed cells. "
    "The oracle replicates assignment + probing, certifying the index path.",
)
def emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk

    e = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(e, query_id=0, k=10, nprobe=2, centroid_mod=25)


def _iter_sql(i: int, prev_cents: str) -> str:
    """One Lloyd iteration as CTEs: assign sample to ``prev_cents`` →
    exact-decimal per-dimension means → re-packed centroid list."""
    return f"""
    a{i} AS (
      SELECT vec_id, emb, cid FROM (
        SELECT s.vec_id, s.emb, c.cid,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id
                                  ORDER BY {_rank_sql('s.emb', 'c.cvec')} DESC, c.cid) AS rn
        FROM samp s, {prev_cents} c) WHERE rn = 1),
    u{i} AS (
      SELECT cid, pos,
             CAST(SUM(CAST(emb[pos] AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS comp
      FROM a{i}, UNNEST(GENERATE_SERIES(1, 64)) AS t(pos)
      GROUP BY cid, pos),
    c{i} AS (SELECT cid, LIST(comp ORDER BY pos) AS cvec FROM u{i} GROUP BY cid)"""


_IVF_TRAINED_ORACLE = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label FROM embeddings),
    c0 AS (SELECT vec_id AS cid, emb AS cvec FROM e WHERE vec_id % 25 = 0),
    samp AS (SELECT vec_id, emb FROM e WHERE vec_id % 4 = 0),
    {_iter_sql(1, 'c0')},
    {_iter_sql(2, 'c1')},
    q AS (SELECT emb AS qv FROM e WHERE vec_id = 0),
    probe AS (
      SELECT cid FROM (
        SELECT c.cid, {_cos_sql('c.cvec', 'q.qv')} AS cq
        FROM c2 c, q ORDER BY cq DESC, cid LIMIT 2)),
    af AS (
      SELECT vec_id, label, emb, cid FROM (
        SELECT e.vec_id, e.label, e.emb, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_rank_sql('e.emb', 'c.cvec')} DESC, c.cid) AS rn
        FROM e, c2 c) WHERE rn = 1)
    SELECT af.vec_id, af.label, ROUND({_cos_sql('af.emb', 'q.qv')}, 6) AS cos_sim
    FROM af JOIN probe p ON af.cid = p.cid, q
    WHERE af.vec_id <> 0
    ORDER BY cos_sim DESC, af.vec_id LIMIT 10
"""


@query(
    "emb_ivf_trained_topk",
    oracle=_IVF_TRAINED_ORACLE,
    doc="IVF top-k over Lloyd-TRAINED centroids: 2 k-means iterations on a "
    "deterministic sample (id % 4), init = the fixed codebook (id % 25), "
    "then nprobe=2 search. Per-dimension means use exact DECIMAL sums so "
    "centroid floats are identical under any partitioning — the oracle "
    "replicates the whole training loop (operators/similarity.py::"
    "kmeans_lloyd / ivf_topk_trained).",
)
def emb_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk_trained

    e = load_table(spark, sf_dir, "embeddings")
    return ivf_topk_trained(
        e, query_id=0, k=10, nprobe=2, centroid_mod=25, sample_mod=4, iters=2
    )


def _session_ivfpq_index(spark: SparkSession, sf_dir: str, e: DataFrame) -> str:
    """ONE persisted index per (session, corpus) serving every
    indexed-search/stats query: built as IVF-PQ (trained coarse codebook,
    trained sub-quantizers, per-vector codes in the assignment rows),
    which is a strict SUPERSET of the plain IVF index — ivf_topk_indexed
    ignores the codes column, cell_stats is identical (same coarse
    assignment rows) — so the plain and PQ searches and the occupancy
    profile share one build instead of each paying a full
    assignment+write pass in the bench's warm phase."""
    key = (spark.sparkContext.applicationId, sf_dir, 25, 4, 2, "ivfpq")
    path = _IVF_INDEX_MEMO.get(key)
    if path is None:
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        from ..operators.similarity import kmeans_lloyd, save_ivfpq_index
        from ..operators.text_dedup import fingerprint_session

        path = session_tmpdir("spark_graft_ivfpq_index_")
        pq = _pq_cents_trained(e)
        if not fingerprint_session():
            # the coarse Lloyd training and the PQ sub-quantizer training
            # are INDEPENDENT jobs (fixed seed codebooks, disjoint
            # relations); overlap them on driver threads (guide §2.6) so
            # the session index build pays max(3.0, 1.6) s instead of
            # their sum. Both land in session memos; save_ivfpq_index
            # then consumes the warm results. Skipped in fingerprint
            # sessions (plans only, nothing may execute).
            with ThreadPoolExecutor(max_workers=2) as pool:
                fk = pool.submit(
                    inheritable_thread_target(
                        lambda: kmeans_lloyd(e, "vec_id", "embedding", 25, 4, 2)
                    )
                )
                fp = pool.submit(inheritable_thread_target(lambda: pq.count()))
                fk.result()
                fp.result()
        save_ivfpq_index(e, path, pq, payload_cols=("label",))
        _IVF_INDEX_MEMO[key] = path
    return path


@query(
    "emb_ivf_indexed_topk",
    oracle=_IVF_TRAINED_ORACLE,
    doc="Persisted-IVF lifecycle search (operators/similarity.py::"
    "save_ivf_index / ivf_topk_indexed): train + assign once, write "
    "codebook + centroid-PARTITIONED assignments to disk, then search by "
    "probing the codebook and reading ONLY the probed cells' assignment "
    "partitions (dynamic partition pruning — pinned in tests/test_plans). "
    "The index is a cache, not a different algorithm, so the oracle is "
    "emb_ivf_trained_topk's verbatim: identical Lloyd training, nprobe=2 "
    "probe, exact cosine top-10.",
)
def emb_ivf_indexed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..operators.similarity import ivf_topk_indexed

    e = load_table(spark, sf_dir, "embeddings")
    # The index build (Lloyd training + full-corpus assignment + partitioned
    # write) is the LIFECYCLE cost, paid once per corpus; the query is the
    # search. The session index is the IVF-PQ superset (codes ignored
    # here), so this query, the PQ search, and the occupancy profile pay
    # ONE build between them. Build/append/lifecycle stay covered by the
    # operator tests.
    path = _session_ivfpq_index(spark, sf_dir, e)
    return ivf_topk_indexed(e, path, query_id=0, k=10, nprobe=2)


_IVF_DRIFT_ORACLE = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    c0 AS (SELECT vec_id AS cid, emb AS cvec FROM e WHERE vec_id % 25 = 0),
    samp AS (SELECT vec_id, emb FROM e WHERE vec_id % 4 = 0),
    {_iter_sql(1, 'c0')},
    {_iter_sql(2, 'c1')},
    af AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_rank_sql('e.emb', 'c.cvec')} DESC, c.cid) AS rn
        FROM e, c2 c) WHERE rn = 1),
    train AS (SELECT cid, COUNT(*) AS n_train FROM af GROUP BY cid),
    added AS (
      SELECT cid, COUNT(*) AS n_added FROM af WHERE vec_id % 3 = 1 GROUP BY cid)
    SELECT t.cid AS centroid_id,
           t.n_train,
           CAST(t.n_train + COALESCE(a.n_added, 0) AS BIGINT) AS n_current,
           CAST(COALESCE(a.n_added, 0) AS BIGINT) AS n_added,
           ROUND(CAST(COALESCE(a.n_added, 0) AS DOUBLE) / t.n_train, 6)
               AS added_frac,
           CASE WHEN CAST(COALESCE(a.n_added, 0) AS DOUBLE) / t.n_train > 0.25
                THEN 1 ELSE 0 END AS retrain_flag
    FROM train t LEFT JOIN added a USING (cid)
    ORDER BY centroid_id
"""


@query(
    "emb_ivf_cell_drift",
    oracle=_IVF_DRIFT_ORACLE,
    doc="IVF index drift monitor (operators/similarity.py::ivf_cell_drift): "
    "after a frozen-codebook append (vec_id % 3 == 1 re-ingested as "
    "vec_id + 1M via append_to_ivf_index), compare live per-cell counts "
    "against the training-time populations persisted in cell_stats — "
    "added fraction > 0.25 flags the cell for retrain. The oracle replays "
    "the Lloyd training and assigns both the corpus and the appended "
    "batch (identical vectors → identical cells). One row per cell, "
    "bounded by codebook size at any corpus scale; counting a "
    "centroid-partitioned layout reads no vector data.",
)
def emb_ivf_cell_drift(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..operators.similarity import append_to_ivf_index, ivf_cell_drift

    e = load_table(spark, sf_dir, "embeddings")
    key = (spark.sparkContext.applicationId, sf_dir, 25, 4, 2, "drift")
    path = _IVF_INDEX_MEMO.get(key)
    if path is None:
        # own index copy — the shared emb_ivf_indexed_topk index must keep
        # its training-time populations un-drifted. COPIED (one local
        # copytree) from the session IVF-PQ index rather than rebuilt:
        # identical coarse training/assignment (same kmeans memo, same
        # mods/iters), so codebook/assignments/cell_stats are the same
        # relations and only the append below differs — a fresh
        # save_ivf_index here paid a duplicate assignment+write pass on
        # the warm clock every session (r11 warm-build amortization).
        # The PQ extras (codes column, payload) are a superset the drift
        # report never reads; save_ivf_index stays the from-scratch path
        # and the copy-equals-build property is pinned by the oracle.
        import shutil

        path = session_tmpdir("spark_graft_ivf_drift_")
        shutil.rmtree(path, ignore_errors=True)  # copytree wants no target
        shutil.copytree(_session_ivfpq_index(spark, sf_dir, e), path)
        append_to_ivf_index(
            e.filter(F.col("vec_id") % 3 == 1).withColumn(
                "vec_id", F.col("vec_id") + 1_000_000
            ),
            path,
        )
        _IVF_INDEX_MEMO[key] = path
    return ivf_cell_drift(spark, path)


_NEARDUP_BUCKET_SQL = "||".join(
    f"(CASE WHEN embedding[{d + 1}] >= 0 THEN '1' ELSE '0' END)" for d in range(4)
)

_NEARDUP_ORACLE = f"""
    WITH b AS (
      SELECT vec_id, embedding, {_NEARDUP_BUCKET_SQL} AS bucket
      FROM embeddings)
    SELECT a.vec_id AS id_a, c.vec_id AS id_b,
           ROUND({_cos_sql('a.embedding', 'c.embedding')}, 6) AS cos_sim
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE ROUND({_cos_sql('a.embedding', 'c.embedding')}, 6) >= 0.4
    ORDER BY id_a, id_b
"""


@query(
    "emb_neardup_bucketed",
    oracle=_NEARDUP_ORACLE,
    doc="Embedding near-dup pairs: sign-LSH bucket (4 hyperplanes) candidate "
    "generation + exact cosine ≥ 0.4 verify. Pair cost Σ bucket², not n².",
)
def emb_neardup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import neardup_pairs_bucketed

    e = load_table(spark, sf_dir, "embeddings")
    return neardup_pairs_bucketed(e, threshold=0.4, nplanes=4).orderBy("id_a", "id_b")


def _bucket_sql(nplanes: int, offset: int) -> str:
    return "||".join(
        f"(CASE WHEN embedding[{offset + d + 1}] >= 0 THEN '1' ELSE '0' END)"
        for d in range(nplanes)
    )


_MULTITABLE_ORACLE = f"""
    WITH b AS (
      SELECT vec_id, 0 AS t, {_bucket_sql(4, 0)} AS bucket FROM embeddings
      UNION ALL
      SELECT vec_id, 1 AS t, {_bucket_sql(4, 4)} AS bucket FROM embeddings
      UNION ALL
      SELECT vec_id, 2 AS t, {_bucket_sql(4, 8)} AS bucket FROM embeddings),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
      FROM b a JOIN b c ON a.t = c.t AND a.bucket = c.bucket AND a.vec_id < c.vec_id)
    SELECT cand.id_a, cand.id_b,
           ROUND({_cos_sql('ea.embedding', 'eb.embedding')}, 6) AS cos_sim
    FROM cand
    JOIN embeddings ea ON ea.vec_id = cand.id_a
    JOIN embeddings eb ON eb.vec_id = cand.id_b
    WHERE ROUND({_cos_sql('ea.embedding', 'eb.embedding')}, 6) >= 0.4
    ORDER BY id_a, id_b
"""


@query(
    "emb_neardup_multitable",
    oracle=_MULTITABLE_ORACLE,
    doc="Multi-table sign-LSH near-dup pairs (OR-construction, 3 tables x 4 "
    "planes over disjoint dimension slices): candidate if bucket-collides "
    "in ANY table, dedup across tables, exact cosine >= 0.4 verify. Recall "
    "strictly dominates emb_neardup_bucketed (whose table is table 0 here); "
    "candidate join carries only (id, table, bucket), vectors re-joined by "
    "id for the verify (operators/similarity.py::neardup_pairs_multitable).",
)
def emb_neardup_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import neardup_pairs_multitable

    e = load_table(spark, sf_dir, "embeddings")
    # materialize_input=False: the input is a bare parquet scan — cheaper
    # to re-scan for the bucket-size branch than to checkpoint it
    return neardup_pairs_multitable(
        e, threshold=0.4, nplanes=4, ntables=3, materialize_input=False
    ).orderBy("id_a", "id_b")


@query(
    "emb_norm_stats_per_label",
    oracle="""
    SELECT label,
           COUNT(*) AS n_vectors,
           ROUND(MIN(SQRT(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))), 6) AS min_norm,
           ROUND(MAX(SQRT(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))), 6) AS max_norm
    FROM embeddings
    GROUP BY label
    ORDER BY label
    """,
    doc="Per-label vector-norm profile (embedding hygiene check before ANN).",
)
def emb_norm_stats_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    norm = F.sqrt(dot(F.col("embedding"), F.col("embedding")))
    return (
        e.select("label", norm.alias("norm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.min("norm"), 6).alias("min_norm"),
            F.round(F.max("norm"), 6).alias("max_norm"),
        )
        .orderBy("label")
    )


@query(
    "emb_int8_quantization",
    oracle="""
    WITH s AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
               list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                       x -> abs(x))) / 127.0 AS scale
        FROM embeddings
        WHERE vec_id % 7 = 0
    )
    SELECT vec_id, label,
           CAST(list_sum(list_transform(v,
                x -> CAST(round(x / scale) AS BIGINT))) AS BIGINT) AS q_sum,
           CAST(list_sum(list_transform(v,
                x -> CAST(round(x / scale) AS BIGINT)
                     * CAST(round(x / scale) AS BIGINT))) AS BIGINT) AS q_sq_sum,
           CAST(list_min(list_transform(v,
                x -> CAST(round(x / scale) AS BIGINT))) AS BIGINT) AS q_min,
           CAST(list_max(list_transform(v,
                x -> CAST(round(x / scale) AS BIGINT))) AS BIGINT) AS q_max,
           CAST(len(list_filter(v,
                x -> abs(round(x / scale)) = 127)) AS BIGINT) AS n_sat,
           ROUND(list_max(list_transform(v,
                x -> abs(x - round(x / scale) * scale))), 6) AS max_abs_err
    FROM s
    WHERE scale > 0
    ORDER BY vec_id
    """,
    doc="Symmetric int8 (absmax) embedding quantization - the storage/"
    "bandwidth scale path for ANN at 100 TB: per-vector scale = "
    "amax/127, q = round(x/scale), surfaced as exact integer checksums "
    "(sum, sum-of-squares, min/max, saturation count) plus the max "
    "dequantization error. Every FP op is elementwise with an identical "
    "expression shape in both engines (abs/round/mul on doubles), and "
    "every aggregate is an order-independent integer sum or max, so the "
    "comparison is exact. Quantized dot products then run in integer "
    "arithmetic (q_sq_sum is the self-dot), 4x smaller than float32.",
)
def emb_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    base = (
        e.filter(F.col("vec_id") % 7 == 0)
        .select(
            "vec_id",
            "label",
            v.alias("v"),
            (F.array_max(F.transform(v, F.abs)) / 127.0).alias("scale"),
        )
        .filter(F.col("scale") > 0)
    )
    sc = F.col("scale")
    q = lambda x: F.round(x / sc).cast("long")  # noqa: E731
    zero = F.lit(0).cast("long")
    fold_sum = lambda arr: F.aggregate(arr, zero, lambda a, x: a + x)  # noqa: E731
    return base.select(
        "vec_id",
        "label",
        fold_sum(F.transform("v", q)).alias("q_sum"),
        fold_sum(F.transform("v", lambda x: q(x) * q(x))).alias("q_sq_sum"),
        F.array_min(F.transform("v", q)).alias("q_min"),
        F.array_max(F.transform("v", q)).alias("q_max"),
        F.size(F.filter("v", lambda x: F.abs(F.round(x / sc)) == 127))
        .cast("long")
        .alias("n_sat"),
        F.round(
            F.array_max(F.transform("v", lambda x: F.abs(x - F.round(x / sc) * sc))), 6
        ).alias("max_abs_err"),
    ).orderBy("vec_id")


@query(
    "emb_filtered_topk",
    oracle="""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
                 / (SQRT(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                    * SQRT(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))),
                 6) AS cos_sim
    FROM embeddings e, q
    WHERE e.vec_id <> 0 AND e.label IN (1, 3, 5)
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
    doc="Metadata-filtered vector search (the RAG 'filtered ANN' shape): "
    "label predicate applied BEFORE scoring — pushed to the parquet scan "
    "so only matching rows pay the fold; exact cosine top-k over the "
    "filtered set. At 100 TB the same plan runs behind the IVF/LSH "
    "pre-filter with the predicate applied inside each probed cell "
    "(post-filtering a global top-k instead would under-return).",
)
def emb_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return (
        e.filter((F.col("vec_id") != 0) & F.col("label").isin(1, 3, 5))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ-ADC): the compressed-domain ANN leg. 64 dims ->
# G=8 subspaces x 8 dims; K=16 codes per subspace seeded from stride-25
# rows (deterministic, engine-portable — same convention as the IVF
# codebook). Vectors are stored as 8 nibble codes; query scoring is
# asymmetric distance computation: one G x K lookup table of query-side
# dots, approx score = 8 table lookups + 7 adds per vector. Candidates
# from the compressed domain are re-ranked with the exact cosine — the
# standard recall-restoring pattern (IVF-PQ + re-rank) at 100 TB, where
# the full vectors live in storage and only codes fit in memory.
# ---------------------------------------------------------------------------

_PQ_G, _PQ_K, _PQ_D = 8, 16, 8  # groups, codes per group, dims per group

_PQ_W_COLS = ", ".join(
    f"MAX(CASE WHEN a.g = {i} THEN w END) AS w{i}" for i in range(_PQ_G)
)
_PQ_W_SUM = "((((((w0 + w1) + w2) + w3) + w4) + w5) + w6) + w7"

_PQ_ORACLE = f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    groups AS (SELECT UNNEST(range(0, {_PQ_G})) AS g),
    codes AS (SELECT UNNEST(range(0, {_PQ_K})) AS code),
    cents AS (
      SELECT codes.code, g.g,
             list_slice(CAST(e.embedding AS DOUBLE[]),
                        g.g * {_PQ_D} + 1, (g.g + 1) * {_PQ_D}) AS cvec
      FROM codes
      JOIN embeddings e ON e.vec_id = codes.code * 25
      CROSS JOIN groups g),
    subs AS (
      SELECT e.vec_id, e.label, g.g,
             list_slice(CAST(e.embedding AS DOUBLE[]),
                        g.g * {_PQ_D} + 1, (g.g + 1) * {_PQ_D}) AS svec
      FROM embeddings e CROSS JOIN groups g
      WHERE e.vec_id <> 0),
    scored AS (
      SELECT s.vec_id, s.label, s.g, c.code,
             list_dot_product(s.svec, s.svec)
               - 2 * list_dot_product(s.svec, c.cvec)
               + list_dot_product(c.cvec, c.cvec) AS d2
      FROM subs s JOIN cents c ON c.g = s.g),
    assigned AS (
      SELECT vec_id, label, g, code FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, g
                                     ORDER BY d2, code) AS rn
        FROM scored) WHERE rn = 1),
    adc AS (
      SELECT c.g, c.code,
             list_dot_product(list_slice(CAST(q.qv AS DOUBLE[]),
                                         c.g * {_PQ_D} + 1, (c.g + 1) * {_PQ_D}),
                              c.cvec) AS w
      FROM cents c, q),
    appx AS (
      SELECT a.vec_id, a.label, {_PQ_W_COLS}
      FROM assigned a JOIN adc ON adc.g = a.g AND adc.code = a.code
      GROUP BY a.vec_id, a.label),
    cand AS (
      SELECT vec_id, label, {_PQ_W_SUM} AS approx_dot
      FROM appx ORDER BY approx_dot DESC, vec_id LIMIT 50),
    rer AS (
      SELECT cand.vec_id, cand.label,
             ROUND(cand.approx_dot, 6) AS approx_dot,
             ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
                   / (SQRT(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                      * SQRT(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))),
                   6) AS cos_sim
      FROM cand JOIN embeddings e ON e.vec_id = cand.vec_id, q)
    SELECT vec_id, label, approx_dot, cos_sim FROM rer
    ORDER BY cos_sim DESC, vec_id LIMIT 10
"""


@query(
    "emb_pq_topk",
    oracle=_PQ_ORACLE,
    doc=f"Product-quantization ANN with asymmetric-distance scoring and "
    f"exact re-rank: {_PQ_G} subspaces x {_PQ_K} codes (codebook seeded "
    f"from stride-25 rows, nearest-L2 assignment, ties to the lower "
    f"code), approx dot = {_PQ_G} broadcast ADC-table lookups summed in "
    f"a fixed order (bit-identical on both engines), top-50 compressed "
    f"candidates re-ranked by exact cosine for the final top-10. Scale "
    f"shape: assignment is rows x K per subspace against a broadcast "
    f"codebook; scoring touches only codes (1 byte/subspace) + a G x K "
    f"lookup; full vectors are read once, for the 50-row re-rank.",
)
def emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    cand = _pq_cand50(e, "fixed")
    return (
        F.broadcast(cand)
        .join(e.select("vec_id", "embedding"), "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round("approx_dot", 6).alias("approx_dot"),
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


def _pq_cents_fixed(e: DataFrame) -> DataFrame:
    """The deterministic seed codebook: stride-25 rows sliced into
    ``_PQ_G`` subspace sub-vectors — (code, g, cvec)."""
    gs = F.array(*[F.lit(i) for i in range(_PQ_G)])
    return (
        e.filter((F.col("vec_id") % 25 == 0) & (F.col("vec_id") < 25 * _PQ_K))
        .select(
            F.expr("vec_id div 25").cast("int").alias("code"),
            F.explode(gs).alias("g"),
            F.col("embedding"),
        )
        .select(
            "code",
            "g",
            F.slice("embedding", F.col("g") * _PQ_D + 1, _PQ_D).alias("cvec"),
        )
    )


def _pq_sub_assign(
    subs: DataFrame, cents: DataFrame, carry: tuple = ("label",)
) -> DataFrame:
    """Moved to ``operators.similarity.pq_sub_assign`` (the persisted
    IVF-PQ index encodes vectors with the same fold); this alias keeps
    the plan-side call sites unchanged."""
    from ..operators.similarity import pq_sub_assign

    return pq_sub_assign(subs, cents, carry=carry)


def _pq_adc_candidates(e: DataFrame, cents: DataFrame, q: DataFrame) -> DataFrame:
    """Compressed-domain candidates (vec_id, label, approx_dot), sorted:
    nearest-L2 code assignment per subspace, one G x K broadcast ADC table
    of query-side dots, approx dot = G lookups summed in a fixed order."""
    gs = F.array(*[F.lit(i) for i in range(_PQ_G)])
    subs = (
        e.filter(F.col("vec_id") != 0)
        .select("vec_id", "label", F.explode(gs).alias("g"), "embedding")
        .select(
            "vec_id",
            "label",
            "g",
            F.slice("embedding", F.col("g") * _PQ_D + 1, _PQ_D).alias("svec"),
        )
    )
    assigned = _pq_sub_assign(subs, cents, carry=("label",)).select(
        "vec_id", "label", "g", "code"
    )
    adc = cents.crossJoin(F.broadcast(q)).select(
        "g",
        "code",
        dot(
            F.slice("qv", F.col("g") * _PQ_D + 1, _PQ_D), F.col("cvec")
        ).alias("w"),
    )
    appx = (
        assigned.join(F.broadcast(adc), ["g", "code"])
        .groupBy("vec_id", "label")
        .agg(*[
            F.max(F.when(F.col("g") == i, F.col("w"))).alias(f"w{i}")
            for i in range(_PQ_G)
        ])
    )
    approx = F.col("w0")
    for i in range(1, _PQ_G):
        approx = approx + F.col(f"w{i}")
    return appx.select("vec_id", "label", approx.alias("approx_dot")).orderBy(
        F.desc("approx_dot"), "vec_id"
    )


# ---------------------------------------------------------------------------
# IVF-PQ composition: cells prune the corpus, codes prune the in-cell
# scan, exact re-rank restores precision — the production ANN stack
# (backing the SCALE.md claim that the two legs compose). Fixed IVF
# codebook (vec_id % 25), nprobe=2; PQ 8x16 ADC scoring inside the probed
# cells only; top-50 compressed candidates re-ranked by exact cosine.
# ---------------------------------------------------------------------------

_IVFPQ_ORACLE = f"""
    WITH cells AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id % 25 = 0),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cellscore AS (
      SELECT e.vec_id, e.label, e.embedding, c.cid,
             {_rank_sql('e.embedding', 'c.cvec')} AS cos_c
      FROM embeddings e, cells c),
    cellassign AS (
      SELECT vec_id, label, embedding, cid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY cos_c DESC, cid) AS rn
        FROM cellscore) WHERE rn = 1),
    probe AS (
      SELECT cid FROM (
        SELECT c.cid, {_cos_sql('c.cvec', 'q.qv')} AS cos_q
        FROM cells c, q
        ORDER BY cos_q DESC, cid LIMIT 2)),
    hits AS (
      SELECT a.vec_id, a.label, a.embedding
      FROM cellassign a JOIN probe p ON a.cid = p.cid
      WHERE a.vec_id <> 0),
    groups AS (SELECT UNNEST(range(0, {_PQ_G})) AS g),
    codes AS (SELECT UNNEST(range(0, {_PQ_K})) AS code),
    pqcents AS (
      SELECT codes.code, g.g,
             list_slice(CAST(e.embedding AS DOUBLE[]),
                        g.g * {_PQ_D} + 1, (g.g + 1) * {_PQ_D}) AS cvec
      FROM codes
      JOIN embeddings e ON e.vec_id = codes.code * 25
      CROSS JOIN groups g),
    subs AS (
      SELECT h.vec_id, h.label, g.g,
             list_slice(CAST(h.embedding AS DOUBLE[]),
                        g.g * {_PQ_D} + 1, (g.g + 1) * {_PQ_D}) AS svec
      FROM hits h CROSS JOIN groups g),
    pqscored AS (
      SELECT s.vec_id, s.label, s.g, c.code,
             list_dot_product(s.svec, s.svec)
               - 2 * list_dot_product(s.svec, c.cvec)
               + list_dot_product(c.cvec, c.cvec) AS d2
      FROM subs s JOIN pqcents c ON c.g = s.g),
    pqassign AS (
      SELECT vec_id, label, g, code FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, g
                                     ORDER BY d2, code) AS rn
        FROM pqscored) WHERE rn = 1),
    adc AS (
      SELECT c.g, c.code,
             list_dot_product(list_slice(CAST(q.qv AS DOUBLE[]),
                                         c.g * {_PQ_D} + 1, (c.g + 1) * {_PQ_D}),
                              c.cvec) AS w
      FROM pqcents c, q),
    appx AS (
      SELECT a.vec_id, a.label, {_PQ_W_COLS}
      FROM pqassign a JOIN adc ON adc.g = a.g AND adc.code = a.code
      GROUP BY a.vec_id, a.label),
    cand AS (
      SELECT vec_id, label, {_PQ_W_SUM} AS approx_dot
      FROM appx ORDER BY approx_dot DESC, vec_id LIMIT 50),
    rer AS (
      SELECT cand.vec_id, cand.label,
             ROUND(cand.approx_dot, 6) AS approx_dot,
             ROUND({_cos_sql('e.embedding', 'q.qv')}, 6) AS cos_sim
      FROM cand JOIN embeddings e ON e.vec_id = cand.vec_id, q)
    SELECT vec_id, label, approx_dot, cos_sim FROM rer
    ORDER BY cos_sim DESC, vec_id LIMIT 10
"""


@query(
    "emb_ivfpq_topk",
    oracle=_IVFPQ_ORACLE,
    doc=f"IVF-PQ composed search: nearest-centroid cells (fixed codebook, "
    f"nprobe=2) prune the corpus, then {_PQ_G}x{_PQ_K} PQ-ADC scoring "
    f"prunes the in-cell scan to 50 compressed candidates, and exact "
    f"cosine re-ranks the final top-10. At 100 TB: cells bound the scan "
    f"(partition pruning over the persisted index), codes bound the "
    f"memory (1 byte/subspace), re-rank touches only candidate-set full "
    f"vectors — the standard production ANN stack, every stage certified "
    f"by the one oracle.",
)
def emb_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_assign

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    cells = e.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("_cid"), F.col("embedding").alias("_cvec")
    )
    probe = (
        cells.crossJoin(F.broadcast(q))
        .withColumn("_cos_q", cosine(F.col("_cvec"), F.col("qv")))
        .orderBy(F.desc("_cos_q"), F.asc("_cid"))
        .limit(2)
        .select(F.col("_cid").alias("centroid_id"))
    )
    hits = (
        ivf_assign(e, "vec_id", "embedding", 25)
        .join(F.broadcast(probe), "centroid_id", "left_semi")
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "label", "embedding")
    )
    gs = F.array(*[F.lit(i) for i in range(_PQ_G)])
    pqcents = (
        e.filter((F.col("vec_id") % 25 == 0) & (F.col("vec_id") < 25 * _PQ_K))
        .select(
            F.expr("vec_id div 25").cast("int").alias("code"),
            F.explode(gs).alias("g"),
            F.col("embedding"),
        )
        .select(
            "code",
            "g",
            F.slice("embedding", F.col("g") * _PQ_D + 1, _PQ_D).alias("cvec"),
        )
    )
    subs = hits.select(
        "vec_id", "label", F.explode(gs).alias("g"), "embedding"
    ).select(
        "vec_id",
        "label",
        "g",
        F.slice("embedding", F.col("g") * _PQ_D + 1, _PQ_D).alias("svec"),
    )
    d2 = (
        dot(F.col("svec"), F.col("svec"))
        - 2 * dot(F.col("svec"), F.col("cvec"))
        + dot(F.col("cvec"), F.col("cvec"))
    )
    from pyspark.sql import Window

    rn = F.row_number().over(Window.partitionBy("vec_id", "g").orderBy("d2", "code"))
    pqassign = (
        subs.join(F.broadcast(pqcents), "g")
        .select("vec_id", "label", "g", "code", d2.alias("d2"))
        .withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", "g", "code")
    )
    adc = pqcents.crossJoin(F.broadcast(q)).select(
        "g",
        "code",
        dot(F.slice("qv", F.col("g") * _PQ_D + 1, _PQ_D), F.col("cvec")).alias("w"),
    )
    appx = (
        pqassign.join(F.broadcast(adc), ["g", "code"])
        .groupBy("vec_id", "label")
        .agg(*[
            F.max(F.when(F.col("g") == i, F.col("w"))).alias(f"w{i}")
            for i in range(_PQ_G)
        ])
    )
    approx = F.col("w0")
    for i in range(1, _PQ_G):
        approx = approx + F.col(f"w{i}")
    cand = (
        appx.select("vec_id", "label", approx.alias("approx_dot"))
        .orderBy(F.desc("approx_dot"), "vec_id")
        .limit(50)
    )
    return (
        F.broadcast(cand)
        .join(e.select("vec_id", "embedding"), "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round("approx_dot", 6).alias("approx_dot"),
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# SemDeDup: cluster-scoped semantic dedup (Abbas et al. 2023 shape)
# ---------------------------------------------------------------------------

_SEMDEDUP_TAU = 0.3

_SEMDEDUP_ORACLE = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    c0 AS (SELECT vec_id AS cid, emb AS cvec FROM e WHERE vec_id % 25 = 0),
    samp AS (SELECT vec_id, emb FROM e WHERE vec_id % 4 = 0),
    {_iter_sql(1, 'c0')},
    {_iter_sql(2, 'c1')},
    af AS (
      SELECT vec_id, emb, cid FROM (
        SELECT e.vec_id, e.emb, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_rank_sql('e.emb', 'c.cvec')} DESC, c.cid) AS rn
        FROM e, c2 c) WHERE rn = 1),
    ranked AS (
      SELECT a.vec_id, a.cid, a.emb,
             ROW_NUMBER() OVER (PARTITION BY a.cid
                                ORDER BY {_cos_sql('a.emb', 'c.cvec')} DESC,
                                         a.vec_id) AS rnk
      FROM af a JOIN c2 c ON a.cid = c.cid),
    dropped AS (
      SELECT DISTINCT p.vec_id
      FROM ranked p JOIN ranked q
        ON p.cid = q.cid AND q.rnk < p.rnk
       AND ROUND({_cos_sql('p.emb', 'q.emb')}, 6) >= {_SEMDEDUP_TAU})
    SELECT r.vec_id, r.cid AS centroid_id,
           CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS kept
    FROM ranked r LEFT JOIN dropped d ON r.vec_id = d.vec_id
    ORDER BY r.vec_id
"""


@query(
    "emb_semdedup_prune",
    oracle=_SEMDEDUP_ORACLE,
    doc=f"SemDeDup-style semantic dedup (Abbas et al. 2023): k-means "
    f"clusters bound the pairwise work, then WITHIN each cluster a vector "
    f"is dropped when a better-ranked clustermate (rank = cosine to the "
    f"cluster centroid, ties by id) is within cos >= {_SEMDEDUP_TAU} of it "
    f"— the greedy keep-the-most-central rule. The pairwise stage is "
    f"Sigma cluster^2, never n^2: clustering first is precisely what makes "
    f"semantic dedup feasible at 100 TB (pairs join is an equi-join on "
    f"cid). Training reuses the memoized decimal-exact Lloyd codebook "
    f"(operators/similarity.py::kmeans_lloyd), so a session that already "
    f"ran the IVF queries pays nothing extra; the oracle replicates the "
    f"full train -> assign -> rank -> prune chain bit-for-bit.",
)
def emb_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.similarity import assign_to_centroids, kmeans_lloyd

    from ..operators.text_dedup import _materialize

    e = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_lloyd(e, centroid_mod=25, sample_mod=4, iters=2)
    assigned = assign_to_centroids(e, cents).select(
        "vec_id", "embedding", F.col("centroid_id").alias("cid")
    )
    # r12 (guide §2.4, §1.2): ranked is referenced THREE times below (both
    # pair sides + the final keep join), and each lazy reference re-ran
    # the corpus Arrow assignment and the per-cluster window —
    # localCheckpoint executes it once. The per-row self-norm is hoisted
    # next to the rank (dot(v,v) does not depend on the pair), so the
    # pairwise verify folds ONE dot per pair instead of three — the same
    # float bits, since cosine(p,q) = dot(p,q)/(sqrt(dot(p,p))*sqrt(
    # dot(q,q))) evaluates the self-dots to identical values either way.
    ranked = _materialize(
        assigned.join(
            F.broadcast(cents.select(F.col("_cid").alias("cid"), "_cvec")), "cid"
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                # per-cluster window: bounded by cluster size, never global
                W.partitionBy("cid").orderBy(
                    cosine(F.col("embedding"), F.col("_cvec")).desc(),
                    F.col("vec_id").asc(),
                )
            ),
        )
        .select(
            "vec_id",
            "cid",
            "embedding",
            "rnk",
            F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("_norm"),
        )
    )
    p = ranked.select(
        "cid",
        F.col("vec_id").alias("_pid"),
        F.col("embedding").alias("_pemb"),
        F.col("rnk").alias("_prnk"),
        F.col("_norm").alias("_pnorm"),
    )
    q = ranked.select(
        "cid",
        F.col("embedding").alias("_qemb"),
        F.col("rnk").alias("_qrnk"),
        F.col("_norm").alias("_qnorm"),
    )
    pair_cos = dot(F.col("_pemb"), F.col("_qemb")) / (
        F.col("_pnorm") * F.col("_qnorm")
    )
    dropped = (
        p.join(q, "cid")
        .filter(F.col("_qrnk") < F.col("_prnk"))
        .filter(F.round(pair_cos, 6) >= _SEMDEDUP_TAU)
        .select(F.col("_pid").alias("vec_id"))
        .distinct()
        .withColumn("_dropped", F.lit(1))
    )
    return (
        ranked.join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cid").alias("centroid_id"),
            F.when(F.col("_dropped").isNotNull(), F.lit(0)).otherwise(F.lit(1)).alias("kept"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# MMR diverse top-k (maximal marginal relevance re-rank)
# ---------------------------------------------------------------------------

_MMR_LAMBDA = 0.7
_MMR_K = 5
_MMR_POOL = 25


def _mmr_step_sql(i: int, prev_sel: str, prev_pool: str) -> str:
    """One unrolled greedy step: pick argmax of lambda*rel - (1-lambda)*
    max-sim-to-selected from the remaining pool, remove it."""
    return f"""
    pick{i} AS (
      SELECT vec_id, emb, rel FROM (
        SELECT p.vec_id, p.emb, p.rel,
               ROW_NUMBER() OVER (ORDER BY
                 ROUND({_MMR_LAMBDA} * p.rel - {1 - _MMR_LAMBDA} *
                   (SELECT MAX(ROUND({_cos_sql('p.emb', 's.emb')}, 6))
                    FROM {prev_sel} s), 6) DESC, p.vec_id) AS rn
        FROM {prev_pool} p) WHERE rn = 1),
    sel{i} AS (SELECT vec_id, emb FROM {prev_sel}
               UNION ALL SELECT vec_id, emb FROM pick{i}),
    pool{i} AS (SELECT * FROM {prev_pool}
                WHERE vec_id NOT IN (SELECT vec_id FROM pick{i}))"""


_MMR_ORACLE = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    q AS (SELECT emb AS qv FROM e WHERE vec_id = 0),
    pool0 AS (
      SELECT vec_id, emb, rel FROM (
        SELECT e.vec_id, e.emb,
               ROUND({_cos_sql('e.emb', 'q.qv')}, 6) AS rel
        FROM e, q WHERE e.vec_id <> 0
        ORDER BY rel DESC, vec_id LIMIT {_MMR_POOL})),
    sel0 AS (
      SELECT vec_id, emb FROM pool0 ORDER BY rel DESC, vec_id LIMIT 1),
    pool0b AS (
      SELECT * FROM pool0
      WHERE vec_id NOT IN (SELECT vec_id FROM sel0)),
    {_mmr_step_sql(1, 'sel0', 'pool0b')},
    {_mmr_step_sql(2, 'sel1', 'pool1')},
    {_mmr_step_sql(3, 'sel2', 'pool2')},
    {_mmr_step_sql(4, 'sel3', 'pool3')}
    SELECT s.vec_id, p.rel
    FROM sel4 s JOIN pool0 p ON p.vec_id = s.vec_id
    ORDER BY p.rel DESC, s.vec_id
"""


def _round6_half_up(x: float) -> float:
    """Bit-exact replica of Spark's ``round(double, 6)``: Catalyst rounds
    ``BigDecimal(Double.toString(x))`` HALF_UP; ``repr(float)`` is the same
    shortest-decimal string, so Decimal-quantize reproduces it exactly.
    NaN passes through (Spark's round of NaN is NaN; Decimal would raise
    InvalidOperation)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    if math.isnan(x):
        return x
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def _cos_py(a: list[float], b: list[float]) -> float:
    """Bit-exact replica of the ``cosine`` Column: sequential
    left-fold float64 dot products (same IEEE op order as F.aggregate).
    A zero-norm vector divides by 0.0, which Spark's double division
    yields NaN for — Python float division raises, so guard it to match
    IEEE semantics rather than crash the greedy loop."""
    import math

    dab = daa = dbb = 0.0
    for x, y in zip(a, b):
        x, y = float(x), float(y)
        dab += x * y
    for x in a:
        x = float(x)
        daa += x * x
    for y in b:
        y = float(y)
        dbb += y * y
    denom = math.sqrt(daa) * math.sqrt(dbb)
    if denom == 0.0:
        return float("nan")
    return dab / denom


@query(
    "emb_mmr_diverse_topk",
    oracle=_MMR_ORACLE,
    doc=f"Maximal-marginal-relevance diverse top-{_MMR_K} (Carbonell & "
    f"Goldstein 1998): relevance-rank a candidate pool of {_MMR_POOL} "
    f"(one broadcast cosine pass + TakeOrdered — the only corpus-scale "
    f"stage), then {_MMR_K} greedy steps each picking argmax of "
    f"lambda*rel - (1-lambda)*max-sim-to-selected. The greedy loop runs "
    f"over the POOL (bounded, collected to the driver — a documented "
    f"bounded driver fold), so the sequential part of MMR never touches "
    f"the corpus: relevance prunes at scale, diversity re-ranks the "
    f"shortlist with bit-exact replicas of the Column arithmetic. All "
    f"scores rounded to 6dp before comparison on both engines; the "
    f"oracle unrolls the identical greedy steps as CTEs.",
)
def emb_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    pool_df = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(_MMR_POOL)
    )
    # Collect the pool — _MMR_POOL rows by construction, the documented
    # bounded driver fold for this operator. The corpus-scale work (one
    # broadcast cosine pass + TakeOrdered) ends at the collect; running the
    # greedy argmax as nested 25-row DataFrames cost seconds of pure
    # plan-nesting overhead (each iteration re-references selected/remaining
    # lineage, doubling the tree), while the same loop over collected rows
    # is microseconds with bit-identical arithmetic: _cos_py replicates the
    # Column fold order and _round6_half_up replicates Catalyst's HALF_UP.
    pool = [(r["vec_id"], r["embedding"], r["rel"]) for r in pool_df.collect()]
    pool.sort(key=lambda t: (-t[2], t[0]))
    selected = pool[:1]
    remaining = pool[1:]
    for _ in range(1, _MMR_K):
        if not remaining:
            break
        best = None
        for vid, emb, rel in remaining:
            max_sim = max(_round6_half_up(_cos_py(emb, semb)) for _, semb, _ in selected)
            mmr = _round6_half_up(_MMR_LAMBDA * rel - (1 - _MMR_LAMBDA) * max_sim)
            if best is None or (mmr, -vid) > (best[0], -best[1][0]):
                best = (mmr, (vid, emb, rel))
        selected.append(best[1])
        remaining = [t for t in remaining if t[0] != best[1][0]]
    out = sorted(((vid, rel) for vid, _, rel in selected), key=lambda t: (-t[1], t[0]))
    return spark.createDataFrame(out, schema="vec_id bigint, rel double")


# ---------------------------------------------------------------------------
# Cluster-quality summaries (IVF/SemDeDup shared diagnostic)
# ---------------------------------------------------------------------------

_CSUMM_ORACLE = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    c0 AS (SELECT vec_id AS cid, emb AS cvec FROM e WHERE vec_id % 25 = 0),
    samp AS (SELECT vec_id, emb FROM e WHERE vec_id % 4 = 0),
    {_iter_sql(1, 'c0')},
    {_iter_sql(2, 'c1')},
    af AS (
      SELECT vec_id, emb, cid FROM (
        SELECT e.vec_id, e.emb, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_rank_sql('e.emb', 'c.cvec')} DESC, c.cid) AS rn
        FROM e, c2 c) WHERE rn = 1),
    scored AS (
      SELECT a.cid, a.vec_id,
             ROUND({_cos_sql('a.emb', 'c.cvec')}, 6) AS cos_c
      FROM af a JOIN c2 c ON a.cid = c.cid)
    SELECT cid AS centroid_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MIN(cos_c) AS min_cos,
           MAX(cos_c) AS max_cos
    FROM scored
    GROUP BY cid
    ORDER BY centroid_id
"""


@query(
    "emb_centroid_summaries",
    oracle=_CSUMM_ORACLE,
    doc="Cluster-quality diagnostic over the Lloyd-trained codebook (shared "
    "memoized training with the IVF/SemDeDup queries): per-centroid member "
    "count and min/max cosine-to-centroid. Deliberately min/max rather "
    "than mean — min/max of floats are partition-order-INDEPENDENT, so "
    "the output is deterministic under any shuffle layout without decimal "
    "carries. This is the balance/coherence check that decides whether an "
    "IVF codebook needs retraining (skewed member counts) or a SemDeDup "
    "threshold is sane (min_cos far below the prune threshold).",
)
def emb_centroid_summaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import assign_to_centroids, kmeans_lloyd

    e = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_lloyd(e, centroid_mod=25, sample_mod=4, iters=2)
    assigned = assign_to_centroids(e, cents).select(
        "vec_id", "embedding", F.col("centroid_id").alias("cid")
    )
    scored = assigned.join(
        F.broadcast(cents.select(F.col("_cid").alias("cid"), "_cvec")), "cid"
    ).withColumn("cos_c", F.round(cosine(F.col("embedding"), F.col("_cvec")), 6))
    return (
        scored.groupBy(F.col("cid").alias("centroid_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.min("cos_c").alias("min_cos"),
            F.max("cos_c").alias("max_cos"),
        )
        .orderBy("centroid_id")
    )


# ---------------------------------------------------------------------------
# ANN recall accounting: IVF probe vs brute-force ground truth
# ---------------------------------------------------------------------------


def _recall_hits_sql(np_: int) -> str:
    """CTEs computing the IVF top-10 id set at nprobe=``np_`` — the same
    assignment/probe construction as _IVF_ORACLE, parameterized."""
    return f"""
    probe{np_} AS (
      SELECT cid FROM (
        SELECT c.cid, {_cos_sql('c.cvec', 'q.qv')} AS cos_q
        FROM cents c, q
        ORDER BY cos_q DESC, cid LIMIT {np_})),
    hits{np_} AS (
      SELECT vec_id FROM (
        SELECT a.vec_id,
               ROUND({_cos_sql('a.embedding', 'q.qv')}, 6) AS cos_sim
        FROM assigned a JOIN probe{np_} p ON a.cid = p.cid, q
        WHERE a.vec_id <> 0
        ORDER BY cos_sim DESC, vec_id LIMIT 10))"""


_RECALL_ORACLE = f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id % 25 = 0),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    truth AS (
      SELECT vec_id FROM (
        SELECT e.vec_id,
               ROUND({_cos_sql('e.embedding', 'q.qv')}, 6) AS cos_sim
        FROM embeddings e, q
        WHERE e.vec_id <> 0
        ORDER BY cos_sim DESC, vec_id LIMIT 10)),
    scored AS (
      SELECT e.vec_id, e.label, e.embedding, c.cid,
             {_rank_sql('e.embedding', 'c.cvec')} AS cos_c
      FROM embeddings e, cents c),
    assigned AS (
      SELECT vec_id, label, embedding, cid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY cos_c DESC, cid) AS rn
        FROM scored)
      WHERE rn = 1),
    {_recall_hits_sql(1)},
    {_recall_hits_sql(2)}
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS nprobe,
             CAST((SELECT COUNT(*) FROM hits1 h JOIN truth t ON h.vec_id = t.vec_id)
                  AS BIGINT) AS n_hits,
             ROUND((SELECT COUNT(*) FROM hits1 h JOIN truth t ON h.vec_id = t.vec_id)
                   / 10.0, 4) AS recall_at_10
      UNION ALL
      SELECT CAST(2 AS BIGINT),
             CAST((SELECT COUNT(*) FROM hits2 h JOIN truth t ON h.vec_id = t.vec_id)
                  AS BIGINT),
             ROUND((SELECT COUNT(*) FROM hits2 h JOIN truth t ON h.vec_id = t.vec_id)
                   / 10.0, 4))
    ORDER BY nprobe
"""


@query(
    "emb_ivf_recall_at10",
    oracle=_RECALL_ORACLE,
    doc="ANN EVALUATION query — recall@10 of the IVF probe path against "
    "the brute-force ground truth, at nprobe=1 and nprobe=2. This is the "
    "accounting a production ANN deployment runs before trusting an "
    "index: ground truth is one exact scan (the correctness baseline "
    "emb_cosine_topk), each probe level reuses the certified IVF "
    "construction (operators/similarity.py::ivf_topk), and the overlap "
    "is a 10-row semi-join — so measuring recall costs one brute pass "
    "regardless of corpus size, and the recall/nprobe trade is visible "
    "in one result. Sets are engine-deterministic (rounded cosine + "
    "vec_id tiebreak on both sides).",
)
def emb_ivf_recall_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    truth = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
        .select("vec_id")
    )
    levels = []
    for np_ in (1, 2):
        approx = ivf_topk(e, query_id=0, k=10, nprobe=np_, centroid_mod=25).select(
            "vec_id"
        )
        levels.append(
            approx.join(F.broadcast(truth), "vec_id", "left_semi")
            .agg(F.count("*").cast("bigint").alias("n_hits"))
            .select(F.lit(np_).cast("bigint").alias("nprobe"), "n_hits")
        )
    return (
        levels[0]
        .unionByName(levels[1])
        .select(
            "nprobe",
            "n_hits",
            F.round(F.col("n_hits") / 10.0, 4).alias("recall_at_10"),
        )
        .orderBy("nprobe")
    )


# ---------------------------------------------------------------------------
# batch k-NN join: top-k neighbors for EVERY query in a query set, in one
# pass — the shape a retrieval/eval pipeline needs (one query at a time
# would re-scan the corpus per query).
# ---------------------------------------------------------------------------

_KNN_JOIN_ORACLE = f"""
    WITH q AS (
      SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id % 100 = 0
      ORDER BY vec_id LIMIT 100),
    scored AS (
      SELECT q.qid, e.vec_id, e.label,
             {_cos_sql('e.embedding', 'q.qv')} AS cs
      FROM embeddings e, q WHERE e.vec_id <> q.qid)
    SELECT qid, vec_id, label, ROUND(cs, 6) AS cos_sim
    FROM scored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cs DESC, vec_id) <= 3
    ORDER BY qid, cos_sim DESC, vec_id
"""


def _probe_set(e: DataFrame, mod: int) -> DataFrame:
    """``(qid, qv, label)`` of the first 100 vectors with vec_id % mod == 0.
    CAPPED at 100 ids: a probe modulus alone grows with the corpus and
    the grid goes quadratic (measured, SCALING.md); the cap is a no-op at
    certification SFs."""
    return (
        e.filter(F.col("vec_id") % mod == 0)
        .orderBy("vec_id")
        .limit(100)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"), "label")
    )


def _exact_topk(data: DataFrame, probes: DataFrame, k: int, carry: tuple = ()) -> DataFrame:
    """Each probe's ``k`` exact-cosine nearest corpus rows, itself excluded:
    (vec_id, *carry, qid, _cs) with ``_cs`` unrounded."""
    scored = cosine_cross_scores(data, probes, carry=carry).filter(
        F.col("vec_id") != F.col("qid")
    )
    return salted_topk(scored, k, "_cs")


@query(
    "emb_knn_join",
    oracle=_KNN_JOIN_ORACLE,
    doc="Batch k-NN join: exact cosine top-3 for every query in a "
    "broadcast query set (vec_id % 100 == 0) in ONE corpus pass. "
    "The corpus x probe-set grid is the Arrow cosine_cross_scores "
    "kernel (each embedding shipped once, dims folded bit-exactly "
    "like the oracle); salted_topk cuts the top-3 per query in two "
    "phases, so the corpus-scale shuffle is never partitioned by qid "
    "alone and a small query set cannot skew reducers at 100 TB.",
)
def emb_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return (
        _exact_topk(e, _probe_set(e, 100), 3, carry=("label",))
        .select("qid", "vec_id", "label", F.round("_cs", 6).alias("cos_sim"))
        .orderBy("qid", F.desc("cos_sim"), "vec_id")
    )


# ---------------------------------------------------------------------------
# dimension-truncation retrieval quality (Matryoshka-style compression)
# ---------------------------------------------------------------------------

_TRUNC_DIMS = 16


def _cos_trunc_sql(a: str, b: str, d: int) -> str:
    sa, sb = f"{a}[1:{d}]", f"{b}[1:{d}]"
    return (
        f"list_dot_product(CAST({sa} AS DOUBLE[]), CAST({sb} AS DOUBLE[]))"
        f" / (SQRT(list_dot_product(CAST({sa} AS DOUBLE[]), CAST({sa} AS DOUBLE[])))"
        f" * SQRT(list_dot_product(CAST({sb} AS DOUBLE[]), CAST({sb} AS DOUBLE[]))))"
    )


_TRUNC_ORACLE = f"""
    WITH q AS (
      SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id % 100 = 0
      ORDER BY vec_id LIMIT 100),
    full_top AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                   ORDER BY {_cos_sql('e.embedding', 'q.qv')} DESC, e.vec_id) AS rn
        FROM embeddings e, q WHERE e.vec_id <> q.qid) WHERE rn <= 10),
    trunc_top AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                   ORDER BY {_cos_trunc_sql('e.embedding', 'q.qv', _TRUNC_DIMS)}
                            DESC, e.vec_id) AS rn
        FROM embeddings e, q WHERE e.vec_id <> q.qid) WHERE rn <= 10)
    SELECT f.qid,
           CAST(COUNT(t.vec_id) AS BIGINT) AS n_overlap_at_10,
           ROUND(COUNT(t.vec_id) / 10.0, 6) AS overlap_frac
    FROM full_top f LEFT JOIN trunc_top t USING (qid, vec_id)
    GROUP BY f.qid
    ORDER BY f.qid
"""


@query(
    "emb_dim_truncation_overlap",
    oracle=_TRUNC_ORACLE,
    doc=f"Dimension-truncation retrieval quality (Matryoshka-style "
    f"compression audit): per query (vec_id % 100), overlap@10 between "
    f"the FULL 64d cosine top-10 and the top-10 using only the first "
    f"{_TRUNC_DIMS} dims — the measurement that decides whether a "
    f"truncated index is good enough before switching storage to it. "
    f"Two cosine_cross_scores grids against the same probe set, one on "
    f"the full vectors and one on slice(1, {_TRUNC_DIMS}) of both sides, "
    f"each cut by salted_topk; output is one row per query regardless "
    f"of corpus size.",
)
def emb_dim_truncation_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = _probe_set(e, 100)
    full_top = _exact_topk(e, q, 10).select("qid", "vec_id")
    trunc_top = _exact_topk(
        e.select("vec_id", F.slice("embedding", 1, _TRUNC_DIMS).alias("embedding")),
        q.select("qid", F.slice("qv", 1, _TRUNC_DIMS).alias("qv")),
        10,
    ).select("qid", "vec_id", F.lit(1).alias("_hit"))
    return (
        full_top.join(trunc_top, ["qid", "vec_id"], "left")
        .groupBy("qid")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_overlap_at_10"))
        .select(
            "qid",
            "n_overlap_at_10",
            F.round(F.col("n_overlap_at_10") / 10.0, 6).alias("overlap_frac"),
        )
        .orderBy("qid")
    )


# ---------------------------------------------------------------------------
# Cluster-quality accounting: simplified silhouette over the trained
# codebook. Completes the k-means stack (train -> assign -> drift ->
# recall) with the "should I even trust these clusters" metric.
# ---------------------------------------------------------------------------

_AUDIT_CENTS = 200  # corpus-independent audit codebook cap

_SILHOUETTE_ORACLE = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    c0 AS (SELECT vec_id AS cid, emb AS cvec FROM e WHERE vec_id % 25 = 0),
    samp AS (SELECT vec_id, emb FROM e WHERE vec_id % 4 = 0),
    {_iter_sql(1, 'c0')},
    {_iter_sql(2, 'c1')},
    c2c AS (SELECT cid, cvec FROM c2 ORDER BY cid LIMIT {_AUDIT_CENTS}),
    scored AS (
      SELECT e.vec_id, c.cid,
             {_rank_sql('e.emb', 'c.cvec')} AS rnk,
             1.0 - ({_cos_sql('e.emb', 'c.cvec')}) AS dist
      FROM e, c2c c),
    own AS (
      SELECT vec_id, cid, dist AS a_dist FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY rnk DESC, cid) AS rn
        FROM scored) WHERE rn = 1),
    nb AS (
      SELECT s.vec_id, MIN(s.dist) AS b_dist
      FROM scored s JOIN own o ON s.vec_id = o.vec_id AND s.cid <> o.cid
      GROUP BY s.vec_id),
    sil AS (
      SELECT o.cid,
             ROUND((nb.b_dist - o.a_dist)
                   / GREATEST(o.a_dist, nb.b_dist), 8) AS s,
             ROUND(o.a_dist, 8) AS a_r, ROUND(nb.b_dist, 8) AS b_r
      FROM own o JOIN nb ON nb.vec_id = o.vec_id)
    SELECT cid AS cluster_id, COUNT(*) AS n_members,
           ROUND(CAST(SUM(CAST(s AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*), 6)
             AS mean_silhouette,
           ROUND(CAST(SUM(CAST(a_r AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*), 6)
             AS mean_intra_dist,
           ROUND(CAST(SUM(CAST(b_r AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*), 6)
             AS mean_nearest_other,
           CAST(SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_misfit
    FROM sil
    GROUP BY cid
    ORDER BY cid
"""


@query(
    "emb_cluster_silhouette",
    oracle=_SILHOUETTE_ORACLE,
    doc="Simplified (centroid-based) silhouette per trained cluster: a = "
    "cosine distance to the OWN centroid, b = distance to the nearest "
    "OTHER centroid, s = (b-a)/max(a,b); per-cluster mean s / a / b and "
    "the misfit count (s<0 — rows closer to another cell than their "
    "own, exactly what IVF probe quality degrades on). Centroids are "
    "the SAME 2-round Lloyd codebook as the IVF family (shared session "
    "memo); scoring is the broadcast n x k grid every assignment "
    "already pays — full-pairwise silhouette is quadratic and dead at "
    "scale, the centroid form is the standard approximation. Rounded "
    "per-term DECIMAL means keep the reduce partition-order invariant.",
)
def emb_cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import centroid_distance_profile, kmeans_lloyd

    e = load_table(spark, sf_dir, "embeddings")
    # audit codebook = the shared Lloyd codebook CAPPED at the first 200
    # cells (cid-ordered, deterministic): an audit's cost must not grow
    # with the corpus-derived codebook spec. A no-op at certification SFs
    # (sf0.1 trains exactly 200 cells) — the cap is the 100 TB contract.
    cents = kmeans_lloyd(e, centroid_mod=25, sample_mod=4, iters=2).orderBy(
        "_cid"
    ).limit(_AUDIT_CENTS)
    # worker-side distance profile (operators/similarity.py::
    # centroid_distance_profile, Arrow lane): the n x k grid reduces to
    # one (cid, a, b) row per vector inside the scan — the grid never
    # materializes as rows, and the raw doubles are bit-identical to the
    # relational fold (lane-equivalence test)
    sil_rows = centroid_distance_profile(e, cents)
    sil = sil_rows.select(
        "cid",
        F.round(
            (F.col("b_dist") - F.col("a_dist"))
            / F.greatest(F.col("a_dist"), F.col("b_dist")),
            8,
        ).alias("s"),
        F.round("a_dist", 8).alias("a_r"),
        F.round("b_dist", 8).alias("b_r"),
    )
    return (
        sil.groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(
                F.sum(F.col("s").cast("decimal(18,8)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_silhouette"),
            F.round(
                F.sum(F.col("a_r").cast("decimal(18,8)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_intra_dist"),
            F.round(
                F.sum(F.col("b_r").cast("decimal(18,8)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_nearest_other"),
            F.sum(F.when(F.col("s") < 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_misfit"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# PCA via one-pass moment matrix + power iteration — the embedding-
# preprocessing op (whitening / dimensionality diagnostics) of a
# training-data pipeline.
# ---------------------------------------------------------------------------

_PCA_D = 64
_PCA_ITERS = 16


def _pca_iter_sql(k: int) -> str:
    return f"""
    u{k} AS MATERIALIZED (
      SELECT c.i, SUM(c.c * v.v) AS u
      FROM cov c JOIN v{k - 1} v ON c.j = v.i GROUP BY c.i),
    n{k} AS MATERIALIZED (SELECT SQRT(SUM(u * u)) AS nrm FROM u{k}),
    v{k} AS MATERIALIZED (
      SELECT u{k}.i, u{k}.u / n{k}.nrm AS v FROM u{k}, n{k})"""


_PCA_ORACLE = f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    cells AS (
      SELECT i.i, j.j,
             CAST(ROUND(emb[i.i + 1] * emb[j.j + 1] * 100000000.0, 0)
                  AS BIGINT) AS p
      FROM e,
           UNNEST(GENERATE_SERIES(0, {_PCA_D - 1})) AS i(i),
           UNNEST(GENERATE_SERIES(0, {_PCA_D - 1})) AS j(j)),
    s2 AS (SELECT i, j, CAST(SUM(p) AS BIGINT) AS s2 FROM cells GROUP BY i, j),
    s1 AS (
      SELECT i.i AS i,
             CAST(SUM(CAST(ROUND(emb[i.i + 1] * 100000000.0, 0) AS BIGINT))
                  AS BIGINT) AS s1
      FROM e, UNNEST(GENERATE_SERIES(0, {_PCA_D - 1})) AS i(i)
      GROUP BY i.i),
    nn AS (SELECT COUNT(*) AS n FROM e),
    cov AS MATERIALIZED (
      SELECT s2.i, s2.j,
             CAST(s2.s2 AS DOUBLE) / 100000000.0 / nn.n
             - (CAST(a.s1 AS DOUBLE) / 100000000.0 / nn.n)
               * (CAST(b.s1 AS DOUBLE) / 100000000.0 / nn.n) AS c
      FROM s2, s1 a, s1 b, nn
      WHERE a.i = s2.i AND b.i = s2.j),
    v0 AS (SELECT i AS i, 1.0 / SQRT({_PCA_D}) AS v
           FROM UNNEST(GENERATE_SERIES(0, {_PCA_D - 1})) AS t(i)),
    {",".join(_pca_iter_sql(k) for k in range(1, _PCA_ITERS + 1))},
    lam AS (
      SELECT SUM(CAST(ROUND(c.c * va.v * vb.v, 8) AS DECIMAL(18,8))) AS l
      FROM cov c
      JOIN v{_PCA_ITERS} va ON va.i = c.i
      JOIN v{_PCA_ITERS} vb ON vb.i = c.j),
    tr AS (
      SELECT SUM(CAST(ROUND(c, 8) AS DECIMAL(18,8))) AS t
      FROM cov WHERE i = j),
    top AS (
      SELECT i, v FROM v{_PCA_ITERS} ORDER BY ABS(v) DESC, i LIMIT 1)
    SELECT nn.n AS n_vectors, {_PCA_D} AS dim,
           ROUND(CAST(lam.l AS DOUBLE), 6) AS lambda1,
           ROUND(CAST(tr.t AS DOUBLE), 6) AS cov_trace,
           ROUND(100.0 * CAST(lam.l AS DOUBLE) / CAST(tr.t AS DOUBLE), 4)
             AS var_explained_pct,
           top.i AS top_dim,
           ROUND(top.v, 5) AS top_loading
    FROM nn, lam, tr, top
"""


@query(
    "emb_pca_power_iteration",
    oracle=_PCA_ORACLE,
    doc=f"Top principal component of the embedding corpus: ONE moment pass "
    f"(scaled-integer sums of x_i*x_j — {_PCA_D}x{_PCA_D} mergeable "
    f"cells, EXACT under any partitioning, via the Arrow outer-product "
    f"kernel operators/similarity.py::pca_moment_cells), covariance "
    f"closed-form from the sums, then {_PCA_ITERS} power-iteration steps "
    f"on the collected {_PCA_D}x{_PCA_D} matrix (a documented bounded "
    f"driver fold, like the Lloyd codebook) with the eigvector re-"
    f"broadcast as literals so lambda1 = v'Cv and the variance-explained "
    f"share are computed back on the cell relation. Corpus-scale cost is "
    f"d^2 multiplies per row in one scan — how PCA preprocessing actually "
    f"runs at 100 TB; the oracle unrolls the identical {_PCA_ITERS} "
    f"iterations as materialized CTEs.",
)
def emb_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    d = _PCA_D
    emb = F.col("embedding").cast("array<double>")
    # scaled-long moment sums (operators/similarity.py::pca_moment_cells):
    # round(term * 1e8) summed as BIGINT — exact integer merge under any
    # partitioning, so the cells equal the oracle's (no float
    # accumulation order). |x| < 1 here, so the sum stays int64-safe far
    # beyond 1e9 rows.
    from ..operators.similarity import pca_moment_cells

    cells = (
        pca_moment_cells(e, "embedding", d=d, scale=1e8)
        # materialize the 4096-cell moment relation ONCE: the driver fold
        # below collects it and the returned plan re-reads the same
        # checkpoint instead of re-running the d^2-per-row corpus pass
        .localCheckpoint(eager=True)
    )
    s1 = (
        e.select(F.posexplode(emb).alias("i", "x"))
        .groupBy("i")
        .agg(
            F.sum(F.round(F.col("x") * 1e8, 0).cast("bigint"))
            .cast("bigint")
            .alias("s1")
        )
    )
    n = e.count()
    mean = {int(r["i"]): float(r["s1"]) / 1e8 / n for r in s1.collect()}
    cov_rows = {
        (int(r["i"]), int(r["j"])): float(r["s2"]) / 1e8 / n
        - mean[int(r["i"])] * mean[int(r["j"])]
        for r in cells.collect()
    }
    # power iteration on the collected d x d matrix — bounded driver fold
    # (4096 cells regardless of corpus size); sums run j-ascending in
    # pure Python floats (IEEE double, same as both engines)
    v = [1.0 / (d**0.5)] * d
    for _ in range(_PCA_ITERS):
        u = [sum(cov_rows[(i, j)] * v[j] for j in range(d)) for i in range(d)]
        nrm = sum(x * x for x in u) ** 0.5
        v = [x / nrm for x in u]
    vlit = F.array(*[F.lit(x) for x in v])
    # lambda1 = v'Cv and trace re-computed ON the cell relation with the
    # eigvector as broadcast literals (per-term-rounded DECIMAL sums)
    cov_c = (
        F.col("s2").cast("double") / 1e8 / n
        - (F.lit(1.0) * F.array([F.lit(mean[i]) for i in range(d)])[F.col("i")])
        * F.array([F.lit(mean[i]) for i in range(d)])[F.col("j")]
    )
    scored = cells.select(
        "i",
        "j",
        F.round(
            cov_c * vlit[F.col("i")] * vlit[F.col("j")],
            8,
        )
        .cast("decimal(18,8)")
        .alias("lam_term"),
        F.when(F.col("i") == F.col("j"), F.round(cov_c, 8).cast("decimal(18,8)"))
        .otherwise(F.lit(None))
        .alias("tr_term"),
    )
    top_i = max(range(d), key=lambda i: (abs(v[i]), -i))
    return scored.agg(
        F.lit(n).cast("bigint").alias("n_vectors"),
        F.lit(d).alias("dim"),
        F.round(F.sum("lam_term").cast("double"), 6).alias("lambda1"),
        F.round(F.sum("tr_term").cast("double"), 6).alias("cov_trace"),
        F.round(
            100.0 * F.sum("lam_term").cast("double") / F.sum("tr_term").cast("double"),
            4,
        ).alias("var_explained_pct"),
        F.lit(top_i).alias("top_dim"),
        F.lit(round(v[top_i], 5)).alias("top_loading"),
    )


# ---------------------------------------------------------------------------
# k-NN label-noise audit: does each labeled vector's neighborhood agree
# with its label? The standard curation check before training on a
# labeled corpus (mislabeled rows sit in neighborhoods that outvote
# them).
# ---------------------------------------------------------------------------

_KNN_AUDIT_ORACLE = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label
               FROM embeddings),
    q AS (SELECT vec_id AS qid, emb AS qv, label AS true_label FROM e
          WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 100),
    nn AS (
      SELECT qid, true_label, label FROM (
        SELECT q.qid, q.true_label, e.label,
               ROW_NUMBER() OVER (
                 PARTITION BY q.qid
                 ORDER BY {_cos_sql('e.emb', 'q.qv')} DESC, e.vec_id) AS rn
        FROM e JOIN q ON e.vec_id <> q.qid)
      WHERE rn <= 10),
    votes AS (
      SELECT qid, true_label, label AS predicted_label,
             CAST(COUNT(*) AS BIGINT) AS votes
      FROM nn GROUP BY qid, true_label, label),
    win AS (
      SELECT qid, true_label, predicted_label, votes FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY votes DESC, predicted_label) AS rn
        FROM votes)
      WHERE rn = 1)
    SELECT qid, true_label, predicted_label, votes,
           CASE WHEN predicted_label = true_label THEN 1 ELSE 0 END AS is_correct
    FROM win
    ORDER BY qid
"""


@query(
    "emb_knn_label_audit",
    oracle=_KNN_AUDIT_ORACLE,
    doc="k-NN label-noise audit: for each probe vector (vec_id % 50 == 0) "
    "the majority label of its 10 exact-cosine nearest neighbors "
    "(self excluded, ties to the smaller label) vs its own label — "
    "rows their neighborhood outvotes are the mislabel candidates a "
    "labeled corpus gets cleaned on. Same cosine_cross_scores grid and "
    "salted_topk cut as emb_knn_join, the probe's own label broadcast-"
    "joined back onto its neighbors, then a votes rollup bounded by "
    "probes x labels.",
)
def emb_knn_label_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = _probe_set(e, 50)
    nn = _exact_topk(e, q, 10, carry=("label",)).join(
        F.broadcast(q.select("qid", F.col("label").alias("true_label"))), "qid"
    )
    votes = nn.groupBy(
        "qid", "true_label", F.col("label").alias("predicted_label")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("votes"))
    wv = W.partitionBy("qid").orderBy(F.desc("votes"), "predicted_label")
    return (
        votes.withColumn("_rn", F.row_number().over(wv))
        .filter(F.col("_rn") == 1)
        .select(
            "qid",
            "true_label",
            "predicted_label",
            "votes",
            F.when(F.col("predicted_label") == F.col("true_label"), 1)
            .otherwise(0)
            .alias("is_correct"),
        )
        .orderBy("qid")
    )


_EMB_OUTLIER_ORACLE = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    c0 AS (SELECT vec_id AS cid, emb AS cvec FROM e WHERE vec_id % 25 = 0),
    samp AS (SELECT vec_id, emb FROM e WHERE vec_id % 4 = 0),
    {_iter_sql(1, 'c0')},
    {_iter_sql(2, 'c1')},
    c2c AS (SELECT cid, cvec FROM c2 ORDER BY cid LIMIT {_AUDIT_CENTS}),
    own AS (
      SELECT vec_id, cid,
             ROUND(1.0 - ({_cos_sql('emb', 'cvec')}), 8) AS dist FROM (
        SELECT e.vec_id, e.emb, c.cid, c.cvec,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_rank_sql('e.emb', 'c.cvec')} DESC,
                                           c.cid) AS rn
        FROM e, c2c c) WHERE rn = 1),
    st AS (
      SELECT cid, COUNT(*) AS n,
             CAST(SUM(CAST(dist AS DECIMAL(18,8))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(ROUND(dist * dist, 10) AS DECIMAL(18,10)))
                  AS DOUBLE) AS s2
      FROM own GROUP BY cid),
    stats AS (
      SELECT cid, n, s1 / n AS mean_dist,
             SQRT(GREATEST((s2 - s1 * s1 / n) / (n - 1), 0)) AS std_dist
      FROM st WHERE n > 1)
    SELECT s.cid AS cluster_id, s.n AS n_members,
           ROUND(s.mean_dist, 6) AS mean_dist,
           ROUND(s.std_dist, 6) AS std_dist,
           CAST(SUM(CASE WHEN o.dist > s.mean_dist + 3 * s.std_dist
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM own o JOIN stats s ON s.cid = o.cid
    GROUP BY s.cid, s.n, s.mean_dist, s.std_dist
    ORDER BY cluster_id
"""


@query(
    "emb_outlier_distance",
    oracle=_EMB_OUTLIER_ORACLE,
    doc="Embedding outlier (OOD) detection per trained cluster: cosine "
    "distance to the own Lloyd centroid, per-cell mean/std from per-"
    "term-rounded DECIMAL moments, members beyond mean + 3 std flagged "
    "— the anomaly screen a curation pipeline runs before trusting an "
    "embedding batch. Same shared codebook and broadcast scoring grid "
    "as the silhouette/IVF family; all corpus-scale work is one "
    "assignment pass + a cell-bounded stats join.",
)
def emb_outlier_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import centroid_distance_profile, kmeans_lloyd

    e = load_table(spark, sf_dir, "embeddings")
    # same capped audit codebook + worker-side Arrow distance profile as
    # emb_cluster_silhouette (the rounding to 8 stays JVM-side, on the
    # lane-identical raw doubles)
    cents = kmeans_lloyd(e, centroid_mod=25, sample_mod=4, iters=2).orderBy(
        "_cid"
    ).limit(_AUDIT_CENTS)
    own = centroid_distance_profile(e, cents).select(
        "vec_id", "cid", F.round("a_dist", 8).alias("dist")
    )
    # per-cell stats as window aggregates over the SAME cid partitioning
    # the final rollup needs — one pass over the assignment relation, no
    # stats join, no second scoring-grid computation
    wc = W.partitionBy("cid")
    flagged = (
        own.withColumn("n", F.count(F.lit(1)).over(wc))
        .withColumn(
            "s1", F.sum(F.col("dist").cast("decimal(18,8)")).over(wc).cast("double")
        )
        .withColumn(
            "s2",
            F.sum(F.round(F.col("dist") * F.col("dist"), 10).cast("decimal(18,10)"))
            .over(wc)
            .cast("double"),
        )
        .filter(F.col("n") > 1)
        .withColumn("mean_dist", F.col("s1") / F.col("n"))
        .withColumn(
            "std_dist",
            F.sqrt(
                F.greatest(
                    (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
                    / (F.col("n") - 1),
                    F.lit(0.0),
                )
            ),
        )
    )
    return (
        flagged.groupBy("cid", "n", "mean_dist", "std_dist")
        .agg(
            F.sum(
                F.when(
                    F.col("dist") > F.col("mean_dist") + 3 * F.col("std_dist"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers")
        )
        .select(
            F.col("cid").alias("cluster_id"),
            F.col("n").alias("n_members"),
            F.round("mean_dist", 6).alias("mean_dist"),
            F.round("std_dist", 6).alias("std_dist"),
            "n_outliers",
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# TRAINED product quantization: one deterministic Lloyd round per subspace
# (init = the fixed stride-25 codebook, sample = vec_id % 4, nearest-L2
# assignment, exact-DECIMAL per-dimension means — the IVF training
# convention applied per subspace), then the same ADC search. A second
# query reports compressed-domain recall@10 of the trained codebook vs
# the fixed one against the exact cosine ground truth.
# ---------------------------------------------------------------------------

_PQT_CENTS0 = f"""
    groups AS (SELECT UNNEST(range(0, {_PQ_G})) AS g),
    codes AS (SELECT UNNEST(range(0, {_PQ_K})) AS code),
    c0 AS (
      SELECT codes.code, g.g,
             list_slice(CAST(e.embedding AS DOUBLE[]),
                        g.g * {_PQ_D} + 1, (g.g + 1) * {_PQ_D}) AS cvec
      FROM codes
      JOIN embeddings e ON e.vec_id = codes.code * 25
      CROSS JOIN groups g),
    sampsubs AS (
      SELECT e.vec_id, g.g,
             list_slice(CAST(e.embedding AS DOUBLE[]),
                        g.g * {_PQ_D} + 1, (g.g + 1) * {_PQ_D}) AS svec
      FROM embeddings e CROSS JOIN groups g
      WHERE e.vec_id % 4 = 0),
    ta AS (
      SELECT vec_id, g, svec, code FROM (
        SELECT s.vec_id, s.g, s.svec, c.code,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.g
                   ORDER BY list_dot_product(s.svec, s.svec)
                          - 2 * list_dot_product(s.svec, c.cvec)
                          + list_dot_product(c.cvec, c.cvec), c.code) AS rn
        FROM sampsubs s JOIN c0 c ON c.g = s.g) WHERE rn = 1),
    tu AS (
      SELECT g, code, pos,
             CAST(SUM(CAST(svec[pos] AS DECIMAL(27,10))) AS DOUBLE)
               / COUNT(*) AS comp
      FROM ta, UNNEST(GENERATE_SERIES(1, {_PQ_D})) AS t(pos)
      GROUP BY g, code, pos),
    c1 AS (SELECT g, code, LIST(comp ORDER BY pos) AS cvec FROM tu GROUP BY g, code)
"""


def _pq_adc_sql(cents_cte: str, sfx: str = "") -> str:
    """The ADC scoring tail of _PQ_ORACLE, parameterized on the codebook
    CTE name — assignment, query-side lookup table, summed approx dot.
    ``sfx`` suffixes every internal CTE name so two variants can coexist
    in one WITH chain (the recall-compare oracle)."""
    return f"""
    subs{sfx} AS (
      SELECT e.vec_id, e.label, g.g,
             list_slice(CAST(e.embedding AS DOUBLE[]),
                        g.g * {_PQ_D} + 1, (g.g + 1) * {_PQ_D}) AS svec
      FROM embeddings e CROSS JOIN groups g
      WHERE e.vec_id <> 0),
    assigned{sfx} AS (
      SELECT vec_id, label, g, code FROM (
        SELECT s.vec_id, s.label, s.g, c.code,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.g
                   ORDER BY list_dot_product(s.svec, s.svec)
                          - 2 * list_dot_product(s.svec, c.cvec)
                          + list_dot_product(c.cvec, c.cvec), c.code) AS rn
        FROM subs{sfx} s JOIN {cents_cte} c ON c.g = s.g) WHERE rn = 1),
    adc{sfx} AS (
      SELECT c.g, c.code,
             list_dot_product(list_slice(CAST(q.qv AS DOUBLE[]),
                                         c.g * {_PQ_D} + 1, (c.g + 1) * {_PQ_D}),
                              c.cvec) AS w
      FROM {cents_cte} c, q),
    appx{sfx} AS (
      SELECT a.vec_id, a.label, {_PQ_W_COLS}
      FROM assigned{sfx} a JOIN adc{sfx} adc ON adc.g = a.g AND adc.code = a.code
      GROUP BY a.vec_id, a.label)
"""


_PQ_TRAINED_ORACLE = f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    {_PQT_CENTS0},
    {_pq_adc_sql('c1')},
    cand AS (
      SELECT vec_id, label, {_PQ_W_SUM} AS approx_dot
      FROM appx ORDER BY approx_dot DESC, vec_id LIMIT 50),
    rer AS (
      SELECT cand.vec_id, cand.label,
             ROUND(cand.approx_dot, 6) AS approx_dot,
             ROUND({_cos_sql('CAST(e.embedding AS DOUBLE[])', 'CAST(q.qv AS DOUBLE[])')}, 6) AS cos_sim
      FROM cand JOIN embeddings e ON e.vec_id = cand.vec_id, q)
    SELECT vec_id, label, approx_dot, cos_sim FROM rer
    ORDER BY cos_sim DESC, vec_id LIMIT 10
"""


def _pq_cents_trained(e: DataFrame) -> DataFrame:
    """One deterministic Lloyd round per PQ subspace: assign the
    vec_id % 4 sample to the fixed seed codebook by nearest L2, then
    exact-DECIMAL per-dimension means re-packed per (g, code). The same
    cross-engine-exact training convention as kmeans_lloyd, run on the
    G sub-vector spaces at once (g is just a grouping column).

    The G x K trained codebook (128 tiny rows) is session-memoized
    through text_dedup's bounded-LRU ``_memo`` (keyed by app id + corpus
    semantic hash + params), so emb_pq_trained_topk and
    emb_pq_recall_compare share one training pass per corpus AND a
    long-lived session over many corpora evicts+unpersists old codebooks
    instead of accumulating persisted RDDs."""
    from ..operators.text_dedup import _memo

    def build() -> DataFrame:
        gs = F.array(*[F.lit(i) for i in range(_PQ_G)])
        samp = (
            e.filter(F.col("vec_id") % 4 == 0)
            .select("vec_id", F.explode(gs).alias("g"), "embedding")
            .select(
                "vec_id",
                "g",
                F.slice("embedding", F.col("g") * _PQ_D + 1, _PQ_D).alias("svec"),
            )
        )
        assigned = _pq_sub_assign(samp, _pq_cents_fixed(e), carry=("svec",))
        comps = (
            assigned.select("g", "code", F.posexplode("svec").alias("_pos", "_val"))
            .groupBy("g", "code", "_pos")
            .agg(
                (
                    F.sum(
                        F.col("_val").cast("double").cast("decimal(27,10)")
                    ).cast("double")
                    / F.count("*")
                ).alias("_comp")
            )
        )
        return comps.groupBy("g", "code").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_comp"))),
                lambda s: s["_comp"],
            ).alias("cvec")
        )

    return _memo(e, ("pq_cents_trained", _PQ_G, _PQ_K, _PQ_D), build)


@query(
    "emb_pq_trained_topk",
    oracle=_PQ_TRAINED_ORACLE,
    doc=f"TRAINED product quantization: {_PQ_G}x{_PQ_K} codebooks refined "
    "by one deterministic Lloyd round per subspace (init = the fixed "
    "stride-25 seed, sample = vec_id %% 4, nearest-L2 assignment, "
    "exact-DECIMAL means so centroids match DuckDB bit-for-bit), then "
    "identical ADC search + exact top-10 re-rank as emb_pq_topk. "
    "Training cost: one broadcast scoring pass over the sample's "
    "sub-vectors + one (g, code, dim) mean — bounded by G*K*D cells "
    "regardless of corpus size.",
)
def emb_pq_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    cand = _pq_cand50(e, "trained")
    return (
        F.broadcast(cand)
        .join(e.select("vec_id", "embedding"), "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round("approx_dot", 6).alias("approx_dot"),
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


_PQ_RECALL_ORACLE = f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    {_PQT_CENTS0},
    exact10 AS (
      SELECT vec_id FROM (
        SELECT e.vec_id,
               {_cos_sql('CAST(e.embedding AS DOUBLE[])', 'CAST(q.qv AS DOUBLE[])')} AS cs
        FROM embeddings e, q WHERE e.vec_id <> 0
        ORDER BY cs DESC, e.vec_id LIMIT 10)),
    {_pq_adc_sql('c0', '_f')},
    cand0 AS (
      SELECT vec_id FROM (
        SELECT vec_id, {_PQ_W_SUM} AS approx_dot
        FROM appx_f ORDER BY approx_dot DESC, vec_id LIMIT 50)),
    {_pq_adc_sql('c1', '_t')},
    cand1 AS (
      SELECT vec_id FROM (
        SELECT vec_id, {_PQ_W_SUM} AS approx_dot
        FROM appx_t ORDER BY approx_dot DESC, vec_id LIMIT 50))
    SELECT variant, n_captured,
           ROUND(CAST(n_captured AS DOUBLE) / 10, 6) AS recall_at10
    FROM (
      SELECT 'fixed' AS variant, COUNT(*) AS n_captured
      FROM exact10 JOIN cand0 USING (vec_id)
      UNION ALL
      SELECT 'trained', COUNT(*) FROM exact10 JOIN cand1 USING (vec_id))
    ORDER BY variant
"""


@query(
    "emb_pq_recall_compare",
    oracle=_PQ_RECALL_ORACLE,
    doc="Compressed-domain recall@10 of the TRAINED PQ codebook vs the "
    "fixed seed codebook: how many of the exact cosine top-10 each "
    "variant's top-50 ADC candidate set captures — the codebook-quality "
    "number a production ANN service tracks when deciding whether "
    "training paid for itself. Ground truth is one brute-force pass; "
    "both candidate sets reuse the bounded ADC plan.",
)
def emb_pq_recall_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    exact10 = _exact10_raw(e)
    out = None
    for variant in ("fixed", "trained"):
        cand = _pq_cand50(e, variant).select("vec_id")
        row = (
            cand.join(F.broadcast(exact10), "vec_id", "inner")
            .agg(F.count("*").alias("n_captured"))
            .select(
                F.lit(variant).alias("variant"),
                "n_captured",
                F.round(F.col("n_captured").cast("double") / 10, 6).alias(
                    "recall_at10"
                ),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("variant")


# ---------------------------------------------------------------------------
# nprobe auto-tuning: the smallest probe depth whose batch recall@10 meets
# a target — the knob a production ANN service actually tunes. Reuses the
# recall accounting (brute ground truth vs probe-pruned candidates) over a
# 20-query batch, one level grid 1..4.
# ---------------------------------------------------------------------------

_TUNE_NQ, _TUNE_MAXP, _TUNE_TARGET = 20, 4, 0.8

_NPROBE_TUNE_ORACLE = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    cents AS (SELECT vec_id AS cid, emb AS cvec FROM e WHERE vec_id % 25 = 0),
    qs AS (SELECT vec_id AS qid, emb AS qv FROM e WHERE vec_id % 100 = 0
           ORDER BY vec_id LIMIT {_TUNE_NQ}),
    nq AS (SELECT COUNT(*) AS n_queries FROM qs),
    assigned AS (
      SELECT vec_id, emb, cid FROM (
        SELECT e.vec_id, e.emb, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_rank_sql('e.emb', 'c.cvec')} DESC, c.cid) AS rn
        FROM e, cents c) WHERE rn = 1),
    cid_rank AS (
      SELECT qid, qv, cid, prank FROM (
        SELECT q.qid, q.qv, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                                  ORDER BY {_cos_sql('c.cvec', 'q.qv')} DESC, c.cid) AS prank
        FROM qs q, cents c) WHERE prank <= {_TUNE_MAXP}),
    cand AS (
      SELECT r.qid, r.prank, a.vec_id,
             ROUND({_cos_sql('a.emb', 'r.qv')}, 6) AS cs
      FROM assigned a JOIN cid_rank r ON a.cid = r.cid
      WHERE a.vec_id <> r.qid),
    tg AS (
      SELECT q.qid, e.vec_id, ROUND({_cos_sql('e.emb', 'q.qv')}, 6) AS cs
      FROM e, qs q WHERE e.vec_id <> q.qid),
    truth AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cs DESC, vec_id) AS rn
        FROM tg) WHERE rn <= 10),
    levels AS (SELECT UNNEST(range(1, {_TUNE_MAXP} + 1)) AS nprobe),
    hits AS (
      SELECT nprobe, qid, vec_id FROM (
        SELECT l.nprobe, c.qid, c.vec_id,
               ROW_NUMBER() OVER (PARTITION BY l.nprobe, c.qid
                                  ORDER BY c.cs DESC, c.vec_id) AS rn
        FROM cand c JOIN levels l ON c.prank <= l.nprobe) WHERE rn <= 10),
    lvl AS (
      SELECT l.nprobe, COALESCE(h.n, 0) AS n_hits
      FROM levels l LEFT JOIN (
        SELECT nprobe, COUNT(*) AS n
        FROM hits JOIN truth USING (qid, vec_id) GROUP BY nprobe) h USING (nprobe)),
    sel AS (
      SELECT MIN(nprobe) AS minp FROM lvl, nq
      WHERE CAST(n_hits AS DOUBLE) / (n_queries * 10) >= {_TUNE_TARGET})
    SELECT CAST(l.nprobe AS BIGINT) AS nprobe,
           nq.n_queries,
           CAST(l.n_hits AS BIGINT) AS n_hits,
           ROUND(CAST(l.n_hits AS DOUBLE) / (nq.n_queries * 10), 4) AS mean_recall,
           CAST(l.n_hits AS DOUBLE) / (nq.n_queries * 10) >= {_TUNE_TARGET}
               AS meets_target,
           COALESCE(l.nprobe = sel.minp, FALSE) AS chosen
    FROM lvl l, nq, sel
    ORDER BY nprobe
"""


@query(
    "emb_ivf_nprobe_autotune",
    oracle=_NPROBE_TUNE_ORACLE,
    doc=f"nprobe auto-tuning: batch recall@10 of the IVF probe path at "
    f"nprobe = 1..{_TUNE_MAXP} over a {_TUNE_NQ}-query batch, and the "
    f"SMALLEST level meeting the {_TUNE_TARGET} recall target flagged "
    f"chosen — the knob a production ANN service tunes per workload. "
    f"One brute ground-truth pass (salted two-phase top-10, the "
    f"emb_knn_join discipline), one probe-pruned candidate relation "
    f"(corpus joins only its queries' top-{_TUNE_MAXP} cells), level "
    f"grid evaluated by windows over those candidates.",
)
def emb_ivf_nprobe_autotune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import assign_to_centroids

    e = load_table(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("_cid"), F.col("embedding").alias("_cvec")
    )
    qs = (
        e.filter(F.col("vec_id") % 100 == 0)
        .orderBy("vec_id")
        .limit(_TUNE_NQ)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    )
    assigned = assign_to_centroids(e, cents).select(
        "vec_id", "embedding", F.col("centroid_id").alias("_cid")
    )
    w_probe = W.partitionBy("qid").orderBy(
        F.desc(cosine(F.col("_cvec"), F.col("qv"))), F.asc("_cid")
    )
    cid_rank = (
        qs.crossJoin(F.broadcast(cents))
        .withColumn("prank", F.row_number().over(w_probe))
        .filter(F.col("prank") <= _TUNE_MAXP)
        .select("qid", "qv", "_cid", "prank")
    )
    cand = (
        assigned.join(F.broadcast(cid_rank), "_cid")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "prank",
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("cs"),
        )
    )
    # ground truth: one exact corpus x batch pass, salted two-phase top-10
    grid = (
        cosine_cross_scores(e.select("vec_id", "embedding"), qs)
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", F.round(F.col("_cs"), 6).alias("cs"))
    )
    truth = salted_topk(grid, 10, "cs").select("qid", "vec_id")
    # ONE candidate pass for the whole level grid (r11, optimization
    # guide §2.4): the per-level loop re-evaluated the cand subtree —
    # arrow centroid assignment over the corpus included — once per
    # probe level (4 windows, 4 semi-joins, 4 aggregates, unioned).
    # Exploding each candidate row to the levels it participates in
    # (prank <= nprobe, the oracle's own `JOIN levels ON c.prank <=
    # l.nprobe` formulation) ranks all levels in one window pass over a
    # relation only ~MAXP/2x the candidate set. A level spine left-join
    # keeps zero-hit levels as n_hits = 0, exactly as the old per-level
    # aggregate-on-empty did.
    levels_arr = F.array(*[F.lit(p) for p in range(1, _TUNE_MAXP + 1)])
    w_hit = W.partitionBy("nprobe", "qid").orderBy(
        F.desc("cs"), F.asc("vec_id")
    )
    hit_counts = (
        cand.select(
            "qid", "prank", "vec_id", "cs", F.explode(levels_arr).alias("nprobe")
        )
        .filter(F.col("prank") <= F.col("nprobe"))
        .withColumn("_rn", F.row_number().over(w_hit))
        .filter(F.col("_rn") <= 10)
        # truth is Q x 10 rows at ANY corpus scale — broadcast the semi
        # join (the planner picked a two-exchange SortMergeJoin here)
        .join(F.broadcast(truth), ["qid", "vec_id"], "left_semi")
        .groupBy("nprobe")
        .agg(F.count("*").alias("_nh"))
    )
    # r12 (guide §2.4 duplicate subtrees): the old `sel` (filter + MIN agg
    # + crossJoin-broadcast back onto lvl) re-nested the ENTIRE lvl chain
    # — candidates, ground truth, the Arrow assignment included — as a
    # second plan copy (980-line plan = two copies of the query; 18 jobs /
    # 29 stages executed). The chosen level is now a global window over
    # the 4-row lvl relation (bounded at _TUNE_MAXP rows at ANY corpus
    # scale, so the single-partition window is safe), and the 4-row spine
    # is one range() leaf instead of four unioned range(1)s. NULL
    # semantics unchanged: no level meeting the target makes the window
    # min NULL, and coalesce maps the NULL comparison to FALSE exactly as
    # the empty-sel crossJoin did.
    spine = qs.sparkSession.range(1, _TUNE_MAXP + 1).select(
        F.col("id").cast("bigint").alias("nprobe")
    )
    lvl = spine.join(F.broadcast(hit_counts), "nprobe", "left").select(
        "nprobe", F.coalesce(F.col("_nh"), F.lit(0)).cast("bigint").alias("n_hits")
    )
    nq = qs.agg(F.count("*").alias("n_queries"))
    recall = F.col("n_hits").cast("double") / (F.col("n_queries") * 10)
    lvl = lvl.crossJoin(F.broadcast(nq)).select(
        "nprobe",
        "n_queries",
        "n_hits",
        F.round(recall, 4).alias("mean_recall"),
        (recall >= _TUNE_TARGET).alias("meets_target"),
    )
    minp = F.min(F.when(F.col("meets_target"), F.col("nprobe"))).over(
        W.partitionBy()
    )
    return (
        lvl.select(
            "nprobe",
            "n_queries",
            "n_hits",
            "mean_recall",
            "meets_target",
            F.coalesce(F.col("nprobe") == minp, F.lit(False)).alias("chosen"),
        )
        .orderBy("nprobe")
    )


# ---------------------------------------------------------------------------
# TRAINED IVF-PQ: trained coarse quantizer (2-round Lloyd, the
# emb_ivf_trained_topk codebook) x trained sub-quantizers (1-round
# per-subspace Lloyd, the emb_pq_trained_topk codebooks), ADC scoring only
# inside the probed cells, exact top-10 re-rank — the full production ANN
# stack with BOTH quantizer levels trained. r7 shipped the legs
# separately (trained IVF; trained PQ over the whole corpus); this
# composes them. Both codebooks come from the session memos, so a session
# that already ran either trained leg pays no extra training.
# ---------------------------------------------------------------------------

_IVFPQ_TRAINED_ORACLE = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label FROM embeddings),
    c0 AS (SELECT vec_id AS cid, emb AS cvec FROM e WHERE vec_id % 25 = 0),
    samp AS (SELECT vec_id, emb FROM e WHERE vec_id % 4 = 0),
    {_iter_sql(1, 'c0')},
    {_iter_sql(2, 'c1')},
    q AS (SELECT emb AS qv FROM e WHERE vec_id = 0),
    probe AS (
      SELECT cid FROM (
        SELECT c.cid, {_cos_sql('c.cvec', 'q.qv')} AS cq
        FROM c2 c, q ORDER BY cq DESC, cid LIMIT 2)),
    af AS (
      SELECT vec_id, label, emb, cid FROM (
        SELECT e.vec_id, e.label, e.emb, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_rank_sql('e.emb', 'c.cvec')} DESC, c.cid) AS rn
        FROM e, c2 c) WHERE rn = 1),
    hits AS MATERIALIZED (
      SELECT af.vec_id, af.label, af.emb
      FROM af JOIN probe p ON af.cid = p.cid
      WHERE af.vec_id <> 0),
    groups AS (SELECT UNNEST(range(0, {_PQ_G})) AS g),
    codes AS (SELECT UNNEST(range(0, {_PQ_K})) AS code),
    pc0 AS (
      SELECT codes.code, g.g,
             list_slice(CAST(e2.embedding AS DOUBLE[]),
                        g.g * {_PQ_D} + 1, (g.g + 1) * {_PQ_D}) AS cvec
      FROM codes
      JOIN embeddings e2 ON e2.vec_id = codes.code * 25
      CROSS JOIN groups g),
    psub AS (
      SELECT e.vec_id, g.g,
             list_slice(e.emb, g.g * {_PQ_D} + 1, (g.g + 1) * {_PQ_D}) AS svec
      FROM e CROSS JOIN groups g
      WHERE e.vec_id % 4 = 0),
    pta AS (
      SELECT vec_id, g, svec, code FROM (
        SELECT s.vec_id, s.g, s.svec, c.code,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.g
                   ORDER BY list_dot_product(s.svec, s.svec)
                          - 2 * list_dot_product(s.svec, c.cvec)
                          + list_dot_product(c.cvec, c.cvec), c.code) AS rn
        FROM psub s JOIN pc0 c ON c.g = s.g) WHERE rn = 1),
    ptu AS (
      SELECT g, code, pos,
             CAST(SUM(CAST(svec[pos] AS DECIMAL(27,10))) AS DOUBLE)
               / COUNT(*) AS comp
      FROM pta, UNNEST(GENERATE_SERIES(1, {_PQ_D})) AS t(pos)
      GROUP BY g, code, pos),
    pc1 AS MATERIALIZED (
      SELECT g, code, LIST(comp ORDER BY pos) AS cvec FROM ptu GROUP BY g, code),
    hsubs AS (
      SELECT h.vec_id, h.label, g.g,
             list_slice(h.emb, g.g * {_PQ_D} + 1, (g.g + 1) * {_PQ_D}) AS svec
      FROM hits h CROSS JOIN groups g),
    hassign AS (
      SELECT vec_id, label, g, code FROM (
        SELECT s.vec_id, s.label, s.g, c.code,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.g
                   ORDER BY list_dot_product(s.svec, s.svec)
                          - 2 * list_dot_product(s.svec, c.cvec)
                          + list_dot_product(c.cvec, c.cvec), c.code) AS rn
        FROM hsubs s JOIN pc1 c ON c.g = s.g) WHERE rn = 1),
    adc AS (
      SELECT c.g, c.code,
             list_dot_product(list_slice(CAST(q.qv AS DOUBLE[]),
                                         c.g * {_PQ_D} + 1, (c.g + 1) * {_PQ_D}),
                              c.cvec) AS w
      FROM pc1 c, q),
    appx AS (
      SELECT a.vec_id, a.label, {_PQ_W_COLS}
      FROM hassign a JOIN adc ON adc.g = a.g AND adc.code = a.code
      GROUP BY a.vec_id, a.label),
    cand AS (
      SELECT vec_id, label, {_PQ_W_SUM} AS approx_dot
      FROM appx ORDER BY approx_dot DESC, vec_id LIMIT 50),
    rer AS (
      SELECT cand.vec_id, cand.label,
             ROUND(cand.approx_dot, 6) AS approx_dot,
             ROUND({_cos_sql('e.emb', 'q.qv')}, 6) AS cos_sim
      FROM cand JOIN e ON e.vec_id = cand.vec_id, q)
    SELECT vec_id, label, approx_dot, cos_sim FROM rer
    ORDER BY cos_sim DESC, vec_id LIMIT 10
"""


def _ivfpq_cand(
    e: DataFrame, q: DataFrame, cents: DataFrame, pq: DataFrame
) -> DataFrame:
    """Top-50 ADC candidates (vec_id, label, approx_dot) INSIDE the
    nprobe=2 cells of coarse codebook ``cents`` (_cid, _cvec), scored
    against sub-quantizer codebooks ``pq`` (g, code, cvec) — the shared
    IVF-PQ candidate leg for the trained query and the recall compare."""
    from ..operators.similarity import assign_to_centroids

    probe = (
        cents.crossJoin(F.broadcast(q))
        .withColumn("_cos_q", cosine(F.col("_cvec"), F.col("qv")))
        .orderBy(F.desc("_cos_q"), F.asc("_cid"))
        .limit(2)
        .select(F.col("_cid").alias("centroid_id"))
    )
    assigned = assign_to_centroids(
        e.repartition(e.sparkSession.sparkContext.defaultParallelism),
        cents,
    )
    hits = (
        assigned.join(F.broadcast(probe), "centroid_id", "left_semi")
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "label", "embedding")
    )
    gs = F.array(*[F.lit(i) for i in range(_PQ_G)])
    subs = hits.select(
        "vec_id", "label", F.explode(gs).alias("g"), "embedding"
    ).select(
        "vec_id",
        "label",
        "g",
        F.slice("embedding", F.col("g") * _PQ_D + 1, _PQ_D).alias("svec"),
    )
    pqassign = _pq_sub_assign(subs, pq, carry=("label",))
    adc = pq.crossJoin(F.broadcast(q)).select(
        "g",
        "code",
        dot(F.slice("qv", F.col("g") * _PQ_D + 1, _PQ_D), F.col("cvec")).alias("w"),
    )
    appx = (
        pqassign.join(F.broadcast(adc), ["g", "code"])
        .groupBy("vec_id", "label")
        .agg(*[
            F.max(F.when(F.col("g") == i, F.col("w"))).alias(f"w{i}")
            for i in range(_PQ_G)
        ])
    )
    approx = F.col("w0")
    for i in range(1, _PQ_G):
        approx = approx + F.col(f"w{i}")
    return (
        appx.select("vec_id", "label", approx.alias("approx_dot"))
        .orderBy(F.desc("approx_dot"), "vec_id")
        .limit(50)
    )


def _exact10_raw(e: DataFrame) -> DataFrame:
    """Session-memoized exact-cosine top-10 ids for probe vec 0 (raw-rank
    tie-break — the ground-truth leg every recall-compare query re-paid;
    one pass per corpus now, shared like _release_docs)."""
    def build() -> DataFrame:
        q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
        return (
            e.filter(F.col("vec_id") != 0)
            .crossJoin(F.broadcast(q))
            .select("vec_id", cosine(F.col("embedding"), F.col("qv")).alias("_cs"))
            .orderBy(F.desc("_cs"), "vec_id")
            .limit(10)
            .select("vec_id")
        )

    from ..operators.text_dedup import _memo

    return _memo(e, ("exact10_raw",), build)


def _pq_cand50(e: DataFrame, variant: str) -> DataFrame:
    """Session-memoized corpus-wide PQ ADC top-50 candidates per codebook
    variant — shared by emb_pq_topk / emb_pq_trained_topk / both recall
    compares (each previously re-ran the full compressed-domain scan)."""
    from ..operators.text_dedup import _memo

    def build() -> DataFrame:
        cents = _pq_cents_fixed(e) if variant == "fixed" else _pq_cents_trained(e)
        q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
        return _pq_adc_candidates(e, cents, q).limit(50)

    return _memo(e, ("pq_cand50", variant, _PQ_G, _PQ_K, _PQ_D), build)


def _ivfpq_cand50(e: DataFrame, variant: str) -> DataFrame:
    """Session-memoized IVF-PQ top-50 candidates per codebook variant —
    shared by emb_ivfpq_trained_topk and the IVF-PQ recall compare."""
    from ..operators.similarity import kmeans_lloyd
    from ..operators.text_dedup import _memo

    def build() -> DataFrame:
        q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
        if variant == "fixed":
            cells = e.filter(F.col("vec_id") % 25 == 0).select(
                F.col("vec_id").alias("_cid"), F.col("embedding").alias("_cvec")
            )
            return _ivfpq_cand(e, q, cells, _pq_cents_fixed(e))
        cells = kmeans_lloyd(e, centroid_mod=25, sample_mod=4, iters=2)
        return _ivfpq_cand(e, q, cells, _pq_cents_trained(e))

    return _memo(e, ("ivfpq_cand50", variant, _PQ_G, _PQ_K, _PQ_D), build)


@query(
    "emb_ivfpq_trained_topk",
    oracle=_IVFPQ_TRAINED_ORACLE,
    doc=f"TRAINED IVF-PQ composed search: Lloyd-trained coarse centroids "
    f"(2 iterations, identical to emb_ivf_trained_topk) prune the corpus "
    f"at nprobe=2, then TRAINED {_PQ_G}x{_PQ_K} sub-quantizers "
    f"(per-subspace Lloyd round, identical to emb_pq_trained_topk) score "
    f"only the probed cells' vectors via ADC, and exact cosine re-ranks "
    f"the final top-10. Both quantizer levels come from the session "
    f"memos (kmeans_lloyd / _pq_cents_trained), so the marginal cost "
    f"over the fixed-codebook emb_ivfpq_topk is just the two bounded "
    f"training passes — the from-scratch cost of the real index build "
    f"a production deployment runs once and persists.",
)
def emb_ivfpq_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    cand = _ivfpq_cand50(e, "trained")
    return (
        F.broadcast(cand)
        .join(e.select("vec_id", "embedding"), "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round("approx_dot", 6).alias("approx_dot"),
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


@query(
    "emb_ivfpq_indexed_topk",
    oracle=_IVFPQ_TRAINED_ORACLE,
    doc="PERSISTED trained IVF-PQ search — the production ANN serving "
    "shape emb_ivfpq_trained_topk stops short of: the index "
    "(save_ivfpq_index: trained coarse codebook, trained sub-quantizer "
    "codebooks, and per-vector PQ CODES stored inside the centroid-"
    "partitioned assignment rows, FAISS-inverted-list style) is built "
    "ONCE per corpus and searches read codes from disk — probe 2 cells, "
    "partition-pruned (id, codes) scan, broadcast ADC table, exact "
    "re-rank of the top-50 shortlist only. No retraining, no corpus "
    "reassignment per session; every quantization/fold/tie-break is "
    "identical to the from-scratch pipeline, so the oracle is "
    "emb_ivfpq_trained_topk's verbatim. The code table rides the full "
    "index lifecycle (streaming appends, compaction, takedown, crash "
    "recovery) because it IS the assignments relation.",
)
def emb_ivfpq_indexed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivfpq_topk_indexed

    e = load_table(spark, sf_dir, "embeddings")
    path = _session_ivfpq_index(spark, sf_dir, e)
    return ivfpq_topk_indexed(e, path, query_id=0, k=10, nprobe=2, rerank=50)


# ---------------------------------------------------------------------------
# BATCHED indexed ANN search: N queries against the persisted IVF-PQ index
# in ONE corpus scan — production serves batches, not single probes.
# ---------------------------------------------------------------------------

_IVFPQ_KNN_ORACLE = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label FROM embeddings),
    c0 AS (SELECT vec_id AS cid, emb AS cvec FROM e WHERE vec_id % 25 = 0),
    samp AS (SELECT vec_id, emb FROM e WHERE vec_id % 4 = 0),
    {_iter_sql(1, 'c0')},
    {_iter_sql(2, 'c1')},
    qs AS (
      SELECT vec_id AS qid, emb AS qv FROM e WHERE vec_id % 100 = 0
      ORDER BY vec_id LIMIT 100),
    probe AS (
      SELECT qid, cid FROM (
        SELECT q.qid, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                   ORDER BY {_cos_sql('c.cvec', 'q.qv')} DESC, c.cid) AS rn
        FROM c2 c, qs q) WHERE rn <= 2),
    af AS MATERIALIZED (
      SELECT vec_id, label, emb, cid FROM (
        SELECT e.vec_id, e.label, e.emb, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_rank_sql('e.emb', 'c.cvec')} DESC, c.cid) AS rn
        FROM e, c2 c) WHERE rn = 1),
    groups AS (SELECT UNNEST(range(0, {_PQ_G})) AS g),
    codes AS (SELECT UNNEST(range(0, {_PQ_K})) AS code),
    pc0 AS (
      SELECT codes.code, g.g,
             list_slice(CAST(e2.embedding AS DOUBLE[]),
                        g.g * {_PQ_D} + 1, (g.g + 1) * {_PQ_D}) AS cvec
      FROM codes
      JOIN embeddings e2 ON e2.vec_id = codes.code * 25
      CROSS JOIN groups g),
    psub AS (
      SELECT e.vec_id, g.g,
             list_slice(e.emb, g.g * {_PQ_D} + 1, (g.g + 1) * {_PQ_D}) AS svec
      FROM e CROSS JOIN groups g
      WHERE e.vec_id % 4 = 0),
    pta AS (
      SELECT vec_id, g, svec, code FROM (
        SELECT s.vec_id, s.g, s.svec, c.code,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.g
                   ORDER BY list_dot_product(s.svec, s.svec)
                          - 2 * list_dot_product(s.svec, c.cvec)
                          + list_dot_product(c.cvec, c.cvec), c.code) AS rn
        FROM psub s JOIN pc0 c ON c.g = s.g) WHERE rn = 1),
    ptu AS (
      SELECT g, code, pos,
             CAST(SUM(CAST(svec[pos] AS DECIMAL(27,10))) AS DOUBLE)
               / COUNT(*) AS comp
      FROM pta, UNNEST(GENERATE_SERIES(1, {_PQ_D})) AS t(pos)
      GROUP BY g, code, pos),
    pc1 AS MATERIALIZED (
      SELECT g, code, LIST(comp ORDER BY pos) AS cvec FROM ptu GROUP BY g, code),
    vsubs AS (
      SELECT a.vec_id, a.label, g.g,
             list_slice(a.emb, g.g * {_PQ_D} + 1, (g.g + 1) * {_PQ_D}) AS svec
      FROM af a CROSS JOIN groups g),
    vassign AS MATERIALIZED (
      SELECT vec_id, label, g, code FROM (
        SELECT s.vec_id, s.label, s.g, c.code,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.g
                   ORDER BY list_dot_product(s.svec, s.svec)
                          - 2 * list_dot_product(s.svec, c.cvec)
                          + list_dot_product(c.cvec, c.cvec), c.code) AS rn
        FROM vsubs s JOIN pc1 c ON c.g = s.g) WHERE rn = 1),
    adc AS (
      SELECT q.qid, c.g, c.code,
             list_dot_product(list_slice(q.qv,
                                         c.g * {_PQ_D} + 1, (c.g + 1) * {_PQ_D}),
                              c.cvec) AS w
      FROM pc1 c, qs q),
    cand AS (
      SELECT p.qid, a.vec_id
      FROM af a JOIN probe p ON a.cid = p.cid
      WHERE a.vec_id <> p.qid),
    appx AS (
      SELECT c.qid, a.vec_id, a.label, {_PQ_W_COLS}
      FROM cand c
      JOIN vassign a ON a.vec_id = c.vec_id
      JOIN adc ON adc.qid = c.qid AND adc.g = a.g AND adc.code = a.code
      GROUP BY c.qid, a.vec_id, a.label),
    sl AS (
      SELECT qid, vec_id, label, {_PQ_W_SUM} AS approx_dot
      FROM appx
      QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY {_PQ_W_SUM} DESC, vec_id) <= 20),
    rer AS (
      SELECT sl.qid, sl.vec_id, sl.label,
             ROUND(sl.approx_dot, 6) AS approx_dot,
             ROUND({_cos_sql('e.emb', 'q.qv')}, 6) AS cos_sim
      FROM sl JOIN e ON e.vec_id = sl.vec_id
      JOIN qs q ON q.qid = sl.qid)
    SELECT qid, vec_id, label, approx_dot, cos_sim FROM rer
    QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
                               ORDER BY cos_sim DESC, vec_id) <= 3
    ORDER BY qid, cos_sim DESC, vec_id
"""


@query(
    "emb_ivfpq_knn_join",
    oracle=_IVFPQ_KNN_ORACLE,
    doc="BATCHED persisted-index ANN search (operators/similarity.py::"
    "ivfpq_knn_join) — production serves query batches, not single "
    "probes: every query in the broadcast set (vec_id % 100) resolves "
    "its nprobe=2 cells against the saved coarse codebook in one "
    "ncells x Q grid, the persisted code table is scanned ONCE pruned "
    "to the union of probed cells (broadcast (qid, cell) pair join), "
    "ADC scores all (query, candidate) pairs off one broadcast "
    "(qid, g, code) weight table, per-query top-20 shortlists come from "
    "the salted two-phase window (emb_knn_join discipline — the "
    "candidate shuffle is never partitioned by qid alone), and exact "
    "cosine re-ranks only the Q x 20 shortlist rows to top-3. Rides the "
    "session IVF-PQ index (one build serves all indexed queries); the "
    "oracle replays coarse + sub-quantizer training, full-corpus "
    "encoding, and the per-query probe/ADC/re-rank cascade.",
)
def emb_ivfpq_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivfpq_knn_join

    e = load_table(spark, sf_dir, "embeddings")
    path = _session_ivfpq_index(spark, sf_dir, e)
    queries = (
        e.filter(F.col("vec_id") % 100 == 0)
        .orderBy("vec_id")
        .limit(100)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    )
    return ivfpq_knn_join(e, path, queries, k=3, nprobe=2, rerank=20)


# ---------------------------------------------------------------------------
# IVF-PQ recall compare: does training the quantizers buy recall, and what
# does cell-pruning cost vs corpus-wide PQ? Three candidate generators,
# one exact ground truth, one row each.
# ---------------------------------------------------------------------------

_IVFPQ_RECALL_ORACLE = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label FROM embeddings),
    q AS (SELECT emb AS qv FROM e WHERE vec_id = 0),
    exact10 AS MATERIALIZED (
      SELECT vec_id FROM (
        SELECT vec_id,
               ROW_NUMBER() OVER (
                 ORDER BY {_cos_sql('e.emb', 'q.qv')} DESC, vec_id) AS rn
        FROM e, q WHERE vec_id <> 0) WHERE rn <= 10),
    groups AS (SELECT UNNEST(range(0, {_PQ_G})) AS g),
    codes AS (SELECT UNNEST(range(0, {_PQ_K})) AS code),
    pc0 AS MATERIALIZED (
      SELECT codes.code, g.g,
             list_slice(e2.emb, g.g * {_PQ_D} + 1, (g.g + 1) * {_PQ_D}) AS cvec
      FROM codes JOIN e e2 ON e2.vec_id = codes.code * 25
      CROSS JOIN groups g),
    psub AS (
      SELECT e.vec_id, g.g,
             list_slice(e.emb, g.g * {_PQ_D} + 1, (g.g + 1) * {_PQ_D}) AS svec
      FROM e CROSS JOIN groups g WHERE e.vec_id % 4 = 0),
    pta AS (
      SELECT vec_id, g, svec, code FROM (
        SELECT s.vec_id, s.g, s.svec, c.code,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.g
                   ORDER BY list_dot_product(s.svec, s.svec)
                          - 2 * list_dot_product(s.svec, c.cvec)
                          + list_dot_product(c.cvec, c.cvec), c.code) AS rn
        FROM psub s JOIN pc0 c ON c.g = s.g) WHERE rn = 1),
    ptu AS (
      SELECT g, code, pos,
             CAST(SUM(CAST(svec[pos] AS DECIMAL(27,10))) AS DOUBLE)
               / COUNT(*) AS comp
      FROM pta, UNNEST(GENERATE_SERIES(1, {_PQ_D})) AS t(pos)
      GROUP BY g, code, pos),
    pc1 AS MATERIALIZED (
      SELECT g, code, LIST(comp ORDER BY pos) AS cvec FROM ptu GROUP BY g, code),
    c0 AS (SELECT vec_id AS cid, emb AS cvec FROM e WHERE vec_id % 25 = 0),
    samp AS (SELECT vec_id, emb FROM e WHERE vec_id % 4 = 0),
    {_iter_sql(1, 'c0')},
    {_iter_sql(2, 'c1')},
    subsall AS MATERIALIZED (
      SELECT e.vec_id, g.g,
             list_slice(e.emb, g.g * {_PQ_D} + 1, (g.g + 1) * {_PQ_D}) AS svec
      FROM e CROSS JOIN groups g WHERE e.vec_id <> 0),
    probef AS (
      SELECT cid FROM (
        SELECT c.cid, {_cos_sql('c.cvec', 'q.qv')} AS cq
        FROM c0 c, q ORDER BY cq DESC, cid LIMIT 2)),
    aff AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_rank_sql('e.emb', 'c.cvec')} DESC, c.cid) AS rn
        FROM e, c0 c) WHERE rn = 1),
    hitsf AS (SELECT a.vec_id FROM aff a JOIN probef p ON a.cid = p.cid
              WHERE a.vec_id <> 0),
    probet AS (
      SELECT cid FROM (
        SELECT c.cid, {_cos_sql('c.cvec', 'q.qv')} AS cq
        FROM c2 c, q ORDER BY cq DESC, cid LIMIT 2)),
    aft AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_rank_sql('e.emb', 'c.cvec')} DESC, c.cid) AS rn
        FROM e, c2 c) WHERE rn = 1),
    hitst AS (SELECT a.vec_id FROM aft a JOIN probet p ON a.cid = p.cid
              WHERE a.vec_id <> 0),
    asg0 AS MATERIALIZED (
      SELECT vec_id, g, code FROM (
        SELECT s.vec_id, s.g, c.code,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.g
                   ORDER BY list_dot_product(s.svec, s.svec)
                          - 2 * list_dot_product(s.svec, c.cvec)
                          + list_dot_product(c.cvec, c.cvec), c.code) AS rn
        FROM subsall s JOIN pc0 c ON c.g = s.g) WHERE rn = 1),
    asg1 AS MATERIALIZED (
      SELECT vec_id, g, code FROM (
        SELECT s.vec_id, s.g, c.code,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.g
                   ORDER BY list_dot_product(s.svec, s.svec)
                          - 2 * list_dot_product(s.svec, c.cvec)
                          + list_dot_product(c.cvec, c.cvec), c.code) AS rn
        FROM subsall s JOIN pc1 c ON c.g = s.g) WHERE rn = 1),
    adc0 AS (
      SELECT c.g, c.code,
             list_dot_product(list_slice(CAST(q.qv AS DOUBLE[]),
                                         c.g * {_PQ_D} + 1, (c.g + 1) * {_PQ_D}),
                              c.cvec) AS w
      FROM pc0 c, q),
    adc1 AS (
      SELECT c.g, c.code,
             list_dot_product(list_slice(CAST(q.qv AS DOUBLE[]),
                                         c.g * {_PQ_D} + 1, (c.g + 1) * {_PQ_D}),
                              c.cvec) AS w
      FROM pc1 c, q),
    cand_pf AS (
      SELECT vec_id FROM (
        SELECT a.vec_id, {_PQ_W_COLS}
        FROM asg0 a JOIN adc0 adc ON adc.g = a.g AND adc.code = a.code
        GROUP BY a.vec_id)
      ORDER BY {_PQ_W_SUM} DESC, vec_id LIMIT 50),
    cand_if AS (
      SELECT vec_id FROM (
        SELECT a.vec_id, {_PQ_W_COLS}
        FROM asg0 a JOIN adc0 adc ON adc.g = a.g AND adc.code = a.code
        WHERE a.vec_id IN (SELECT vec_id FROM hitsf)
        GROUP BY a.vec_id)
      ORDER BY {_PQ_W_SUM} DESC, vec_id LIMIT 50),
    cand_it AS (
      SELECT vec_id FROM (
        SELECT a.vec_id, {_PQ_W_COLS}
        FROM asg1 a JOIN adc1 adc ON adc.g = a.g AND adc.code = a.code
        WHERE a.vec_id IN (SELECT vec_id FROM hitst)
        GROUP BY a.vec_id)
      ORDER BY {_PQ_W_SUM} DESC, vec_id LIMIT 50)
    SELECT variant, n_captured,
           ROUND(CAST(n_captured AS DOUBLE) / 10, 6) AS recall_at10
    FROM (
      SELECT 'ivfpq_fixed' AS variant,
             (SELECT COUNT(*) FROM cand_if JOIN exact10 USING (vec_id))
                 AS n_captured
      UNION ALL
      SELECT 'ivfpq_trained',
             (SELECT COUNT(*) FROM cand_it JOIN exact10 USING (vec_id))
      UNION ALL
      SELECT 'pq_fixed',
             (SELECT COUNT(*) FROM cand_pf JOIN exact10 USING (vec_id)))
    ORDER BY variant
"""


@query(
    "emb_ivfpq_recall_compare",
    oracle=_IVFPQ_RECALL_ORACLE,
    doc="Recall@10 of three ANN candidate generators against the exact "
    "cosine top-10: corpus-wide fixed-codebook PQ (no cell pruning), "
    "fixed-codebook IVF-PQ (nprobe=2), and fully TRAINED IVF-PQ "
    "(Lloyd coarse + per-subspace Lloyd sub-quantizers) — the "
    "measurement that justifies (or vetoes) paying for training and "
    "for cell pruning. All candidate legs are the certified generators "
    "of emb_pq_topk / emb_ivfpq_topk / emb_ivfpq_trained_topk; "
    "codebooks come from the session memos.",
)
def emb_ivfpq_recall_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    exact10 = _exact10_raw(e)
    variants = (
        ("ivfpq_fixed", _ivfpq_cand50(e, "fixed")),
        ("ivfpq_trained", _ivfpq_cand50(e, "trained")),
        ("pq_fixed", _pq_cand50(e, "fixed")),
    )
    out = None
    for variant, cand in variants:
        row = (
            cand.select("vec_id")
            .join(F.broadcast(exact10), "vec_id", "inner")
            .agg(F.count("*").alias("n_captured"))
            .select(
                F.lit(variant).alias("variant"),
                "n_captured",
                F.round(F.col("n_captured").cast("double") / 10, 6).alias(
                    "recall_at10"
                ),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("variant")


# ---------------------------------------------------------------------------
# IVF cell-occupancy profile: the ANN twin of lsh_bucket_occupancy
# ---------------------------------------------------------------------------

_IVF_OCC_ORACLE = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    c0 AS (SELECT vec_id AS cid, emb AS cvec FROM e WHERE vec_id % 25 = 0),
    samp AS (SELECT vec_id, emb FROM e WHERE vec_id % 4 = 0),
    {_iter_sql(1, 'c0')},
    {_iter_sql(2, 'c1')},
    af AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_rank_sql('e.emb', 'c.cvec')} DESC, c.cid) AS rn
        FROM e, c2 c) WHERE rn = 1),
    sz AS (
      SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM af GROUP BY cid),
    tot AS (SELECT SUM(n_vecs) AS n FROM sz),
    rk AS (
      SELECT cid, n_vecs,
             ROW_NUMBER() OVER (ORDER BY n_vecs DESC, cid) AS size_rank,
             SUM(n_vecs) OVER (ORDER BY n_vecs DESC, cid) AS cum
      FROM sz)
    SELECT rk.cid AS centroid_id, rk.n_vecs,
           ROUND(CAST(rk.n_vecs AS DOUBLE) / tot.n, 6) AS corpus_frac,
           rk.size_rank,
           ROUND(CAST(rk.cum AS DOUBLE) / tot.n, 6) AS cum_frac_at_rank
    FROM rk, tot
    ORDER BY rk.size_rank
"""


@query(
    "emb_ivf_cell_occupancy",
    oracle=_IVF_OCC_ORACLE,
    doc="IVF cell-occupancy profile over the TRAINED codebook — the ANN "
    "twin of lsh_bucket_occupancy: per cell its vector count, corpus "
    "fraction, size rank, and the cumulative fraction at that rank. The "
    "cum column IS the worst-case scanned fraction when nprobe probes "
    "land on the largest cells — the number that decides whether a "
    "probe-pruned search actually prunes at 100 TB (a degenerate "
    "clustering concentrates the corpus in few cells and the 'pruned' "
    "scan reads everything). The profile reads the PERSISTED index's "
    "cell_stats table (written once by save_ivf_index for the drift "
    "monitor, bounded by codebook size) — no vector is rescanned, no "
    "assignment recomputed: profiling the index costs a ~25-row read "
    "at ANY corpus scale. Shares the session-memoized index with "
    "emb_ivf_indexed_topk.",
)
def emb_ivf_cell_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    path = _session_ivfpq_index(spark, sf_dir, e)
    sz = spark.read.parquet(f"{path}/cell_stats").select(
        "centroid_id", F.col("n_train").cast("bigint").alias("n_vecs")
    )
    w_rk = W.orderBy(F.desc("n_vecs"), "centroid_id")
    tot = sz.agg(F.sum("n_vecs").alias("n"))
    return (
        sz.withColumn("size_rank", F.row_number().over(w_rk))
        .withColumn(
            "cum",
            F.sum("n_vecs").over(w_rk.rowsBetween(W.unboundedPreceding, 0)),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "centroid_id",
            "n_vecs",
            F.round(F.col("n_vecs").cast("double") / F.col("n"), 6).alias(
                "corpus_frac"
            ),
            "size_rank",
            F.round(F.col("cum").cast("double") / F.col("n"), 6).alias(
                "cum_frac_at_rank"
            ),
        )
        .orderBy("size_rank")
    )


# ---------------------------------------------------------------------------
# PQ code-usage histogram: dead codes / imbalance per subspace
# ---------------------------------------------------------------------------

_PQ_HIST_ORACLE = f"""
    WITH {_PQT_CENTS0},
    subsh AS (
      SELECT e.vec_id, g.g,
             list_slice(CAST(e.embedding AS DOUBLE[]),
                        g.g * {_PQ_D} + 1, (g.g + 1) * {_PQ_D}) AS svec
      FROM embeddings e CROSS JOIN groups g),
    ah AS (
      SELECT vec_id, g, code FROM (
        SELECT s.vec_id, s.g, c.code,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.g
                   ORDER BY list_dot_product(s.svec, s.svec)
                          - 2 * list_dot_product(s.svec, c.cvec)
                          + list_dot_product(c.cvec, c.cvec), c.code) AS rn
        FROM subsh s JOIN c1 c ON c.g = s.g) WHERE rn = 1),
    cnt AS (SELECT g, code, COUNT(*) AS n FROM ah GROUP BY g, code),
    tot AS (SELECT g, SUM(n) AS tn FROM cnt GROUP BY g)
    SELECT c.g AS subspace,
           CAST(COUNT(*) AS BIGINT) AS n_codes_used,
           CAST({_PQ_K} - COUNT(*) AS BIGINT) AS n_dead_codes,
           ROUND(CAST(MAX(c.n) AS DOUBLE) / (t.tn), 6) AS max_code_frac,
           ROUND(CAST({_PQ_K} * SUM(c.n * c.n) AS DOUBLE) / (t.tn * t.tn), 6)
               AS imbalance_factor
    FROM cnt c JOIN tot t USING (g)
    GROUP BY c.g, t.tn
    ORDER BY subspace
"""


@query(
    "emb_pq_code_histogram",
    oracle=_PQ_HIST_ORACLE,
    doc=f"PQ code-usage histogram over the TRAINED codebook — the "
    f"quantizer-health diagnostic every PQ deployment reads before "
    f"trusting recall numbers: per subspace the distinct codes actually "
    f"used, the dead codes (capacity the training wasted — a dead code "
    f"is a centroid no vector maps to), the hottest code's corpus "
    f"fraction, and the imbalance factor K·Σp² (FAISS's expected "
    f"inverted-scan multiplier: 1.0 = perfectly balanced, K = "
    f"degenerate). Assignment rides the session-memoized trained "
    f"codebook ({_PQ_G} subspaces x {_PQ_K} codes); the histogram is a "
    f"(g, code)-keyed count plus a {_PQ_G}-row rollup — bounded by "
    f"codebook size at any corpus scale.",
)
def emb_pq_code_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reads the PERSISTED code table (the session IVF-PQ index) instead of
    # re-encoding the corpus: index-health telemetry runs against the
    # index a production service actually serves, and the unchanged
    # recompute oracle thereby certifies the on-disk codes globally —
    # every vector's stored code equals the from-scratch assignment.
    e = load_table(spark, sf_dir, "embeddings")
    path = _session_ivfpq_index(spark, sf_dir, e)
    assigned = spark.read.parquet(f"{path}/assignments").select(
        F.posexplode("codes").alias("g", "code")
    )
    cnt = assigned.groupBy("g", "code").agg(F.count("*").alias("n"))
    tot = cnt.groupBy("g").agg(F.sum("n").alias("tn"))
    return (
        cnt.join(tot, "g")
        .groupBy(F.col("g").alias("subspace"), "tn")
        .agg(
            F.count("*").cast("bigint").alias("n_codes_used"),
            (F.lit(_PQ_K) - F.count("*")).cast("bigint").alias("n_dead_codes"),
            F.round(F.max("n").cast("double") / F.col("tn"), 6).alias(
                "max_code_frac"
            ),
            F.round(
                (F.lit(_PQ_K) * F.sum(F.col("n") * F.col("n"))).cast("double")
                / (F.col("tn") * F.col("tn")),
                6,
            ).alias("imbalance_factor"),
        )
        .select(
            "subspace",
            "n_codes_used",
            "n_dead_codes",
            "max_code_frac",
            "imbalance_factor",
        )
        .orderBy("subspace")
    )


# ---------------------------------------------------------------------------
# PQ quantizer-health FLAGS: the maintenance policy's input, oracle-checked
# ---------------------------------------------------------------------------

_PQ_HEALTH_ORACLE = f"""
    WITH {_PQT_CENTS0},
    kpg AS (SELECT g, COUNT(*) AS k FROM c1 GROUP BY g),
    subsh AS (
      SELECT e.vec_id, g.g,
             list_slice(CAST(e.embedding AS DOUBLE[]),
                        g.g * {_PQ_D} + 1, (g.g + 1) * {_PQ_D}) AS svec
      FROM embeddings e CROSS JOIN groups g),
    ah AS (
      SELECT vec_id, g, code FROM (
        SELECT s.vec_id, s.g, c.code,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.g
                   ORDER BY list_dot_product(s.svec, s.svec)
                          - 2 * list_dot_product(s.svec, c.cvec)
                          + list_dot_product(c.cvec, c.cvec), c.code) AS rn
        FROM subsh s JOIN c1 c ON c.g = s.g) WHERE rn = 1),
    cnt AS (SELECT g, code, COUNT(*) AS n FROM ah GROUP BY g, code),
    tot AS (SELECT g, SUM(n) AS tn FROM cnt GROUP BY g),
    agg AS (
      SELECT c.g AS subspace,
             CAST(COUNT(*) AS BIGINT) AS n_codes_used,
             CAST(k.k - COUNT(*) AS BIGINT) AS n_dead_codes,
             CAST(MAX(c.n) AS DOUBLE) / t.tn AS max_raw,
             CAST(k.k * SUM(c.n * c.n) AS DOUBLE) / (t.tn * t.tn) AS imb_raw,
             CAST(k.k - COUNT(*) AS DOUBLE) / k.k AS dead_frac,
             t.tn AS tn
      FROM cnt c JOIN tot t USING (g) JOIN kpg k USING (g)
      GROUP BY c.g, t.tn, k.k)
    SELECT subspace, n_codes_used, n_dead_codes,
           ROUND(max_raw, 6) AS max_code_frac,
           ROUND(imb_raw, 6) AS imbalance_factor,
           CASE WHEN tn > 0 AND (dead_frac > 0.25 OR imb_raw > 2.0)
                THEN 1 ELSE 0 END AS retrain_flag
    FROM agg ORDER BY subspace
"""


@query(
    "emb_pq_code_health_flags",
    oracle=_PQ_HEALTH_ORACLE,
    doc="PQ quantizer-health FLAGS off the persisted index "
    "(streaming/ivf_stream.py::ivf_pq_code_health) — the exact relation "
    "maintain_ivf_index consumes to decide a sub-quantizer retrain "
    "(r11 policy loop): per subspace the live code usage, dead codes "
    "against the index's OWN codebook row count (trained codebooks drop "
    "memberless codes, so K is read from pq_codebook, not assumed), the "
    "FAISS imbalance factor, and the retrain_flag at the default "
    "thresholds (dead_frac > 0.25 or imbalance > 2.0; tn == 0 never "
    "flags — an emptied index has nothing to retrain from). The oracle "
    "replays the sub-quantizer training and full-corpus encoding from "
    "scratch, so the certified claim covers both the stored codes AND "
    "the policy arithmetic. Bounded by codebook size at any corpus "
    "scale; one scan of the codes column.",
)
def emb_pq_code_health_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.ivf_stream import ivf_pq_code_health

    e = load_table(spark, sf_dir, "embeddings")
    path = _session_ivfpq_index(spark, sf_dir, e)
    return ivf_pq_code_health(spark, path, max_dead_frac=0.25, max_imbalance=2.0)
