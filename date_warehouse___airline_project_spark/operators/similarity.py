"""Approximate-nearest-neighbor operators over an embedding column.

Brute-force cosine top-k (plans/similarity.py::emb_cosine_topk) is the
correctness baseline; these are the scale paths:

  ivf_assign / ivf_topk     inverted-file (IVF) index: every vector is
                            assigned to its nearest centroid; a query
                            probes only the ``nprobe`` closest centroid
                            partitions. At 100 TB the assignment is one
                            broadcast join (centroid set is tiny) and a
                            search touches nprobe/ncentroids of the data.
  sign_lsh_bucket /         axis-aligned random-hyperplane LSH: the bucket
  neardup_pairs_bucketed    key is the sign pattern of the first ``nplanes``
                            dimensions. Near-dup candidates are generated
                            per-bucket (equi-join on the key — shuffle is
                            proportional to bucket sizes, never all-pairs),
                            then verified with exact cosine.

Determinism: centroids are the vectors whose id ≡ 0 (mod ``centroid_mod``)
— a fixed, data-derived codebook (a production system would train k-means
offline; the index structure and query path are identical). No RNG
anywhere, so the DuckDB oracle replicates the full algorithm, bucketing
included, and results match exactly.

Ties everywhere break on the lower id, making top-k cuts stable.

Kernels that score against a bounded relation (a codebook or a probe
batch) — ``assign_to_centroids``, ``cosine_cross_scores``,
``centroid_distance_profile`` — and the ``pca_moment_cells`` moment fold
have ONE lane each: an Arrow/NumPy ``mapInPandas`` kernel that folds
dimensions sequentially, so its doubles equal the DuckDB oracle's
``list_dot_product`` bit for bit.

``cosine_cross_scores`` is the one exact corpus x probe-set cosine grid:
``emb_knn_join``, ``emb_knn_label_audit``, ``emb_dim_truncation_overlap``
(full and 16-dim slices) and ``emb_ivf_nprobe_autotune``'s ground truth
score through it, and each cuts its per-probe top-k with ``salted_topk``,
as does the ``ivfpq_knn_join`` shortlist.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right double fold — matches DuckDB list_dot_product."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def ivf_assign(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding", centroid_mod: int = 25
) -> DataFrame:
    """Attach ``centroid_id``: the id of the nearest (by cosine) centroid.

    Centroids are rows with id % centroid_mod == 0. The assignment plan is
    data × broadcast(centroids) → per-row argmax — a map-side-only pass.
    """
    cents = (
        emb.filter(F.col(id_col) % centroid_mod == 0)
        .select(
            F.col(id_col).alias("_cid"),
            F.col(vec_col).alias("_cvec"),
            F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("_cnorm"),
        )
        .filter(F.col("_cnorm") > 0)  # zero-norm centroids are unrankable
    )
    # rebalance the data side before the O(n × centroids) scoring pass —
    # a single-file scan would otherwise run it in one task
    data = emb.repartition(emb.sparkSession.sparkContext.defaultParallelism)
    # Rank by dot/centroid-norm: the row's own norm is a positive constant
    # per row, so the per-row argmax matches the cosine argmax (exactly in
    # real arithmetic; in floats, up to rounding on near-ties — acceptable
    # because the oracle ranks with the identical expression) — at a third
    # of the fold work (one dot per pair instead of dot + two self-dots).
    scored = data.crossJoin(F.broadcast(cents)).withColumn(
        "_cos_c", dot(F.col(vec_col), F.col("_cvec")) / F.col("_cnorm")
    )
    # argmax with lower-id tiebreak: max_by on (score, -cid)
    return (
        scored.groupBy(id_col)
        .agg(
            # null scores (null vector) rank nothing: a when() guard makes
            # max_by skip them, so an all-null row gets a null centroid —
            # matching the arrow lane — instead of falling through to the
            # -cid tiebreak
            F.max_by(
                "_cid",
                F.when(
                    F.col("_cos_c").isNotNull(),
                    F.struct(F.col("_cos_c"), (-F.col("_cid")).alias("_nc")),
                ),
            ).alias("centroid_id")
        )
        .join(emb, id_col)
    )


def ivf_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = 25,
) -> DataFrame:
    """IVF search: probe the ``nprobe`` centroids nearest the query vector,
    exact cosine top-k within their partitions (query row excluded).

    Returns (vec_id, label?, cos_sim rounded 6dp) ordered desc, id-tiebreak.
    """
    assigned = ivf_assign(emb, id_col, vec_col, centroid_mod)
    qvec = emb.filter(F.col(id_col) == query_id).select(F.col(vec_col).alias("_qv"))

    cents = emb.filter(F.col(id_col) % centroid_mod == 0).select(
        F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cvec")
    )
    probe = (
        cents.crossJoin(F.broadcast(qvec))
        .withColumn("_cos_q", cosine(F.col("_cvec"), F.col("_qv")))
        .orderBy(F.desc("_cos_q"), F.asc("_cid"))
        .limit(nprobe)
        .select(F.col("_cid").alias("centroid_id"))
    )

    other_cols = [c for c in emb.columns if c not in (id_col, vec_col)]
    return (
        assigned.join(F.broadcast(probe), "centroid_id", "left_semi")
        .filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(qvec))
        .select(
            id_col,
            *other_cols,
            F.round(cosine(F.col(vec_col), F.col("_qv")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def assign_to_centroids(
    data: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid (cosine) assignment against an explicit centroid set
    ``cents(_cid, _cvec)``; ties break to the lower centroid id. Ranking
    uses dot/centroid-norm (row norm is a per-row positive constant — the
    cosine argmax up to float rounding on near-ties, safe because the
    oracle ranks with the identical expression; one fold per pair instead
    of three).

    Arrow/NumPy kernel, BIT-EXACT to the relational fold the DuckDB oracle
    runs (``list_dot_product``): the accumulation is vectorized across rows
    but sequential across dimensions, so every row performs the identical
    IEEE-double op sequence ((0 + x₀y₀) + x₁y₁) + …, and ``argmax`` over a
    cid-ascending centroid matrix reproduces the (score desc, cid asc)
    tie-break. The centroid set is tiny by construction (a codebook); it
    ships to the workers inside the UDF closure. At 100 TB the data side
    streams through ``mapInPandas`` in Arrow batches; per-batch memory is
    n_batch × k doubles for the score matrix.

    Degenerate inputs: zero-norm centroids are EXCLUDED from assignment
    (cosine is undefined against them — score/0=inf would win every
    argmax), and rows whose vector is null or holds a null element get a
    null ``centroid_id``."""
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    rows = sorted(cents.select("_cid", "_cvec").collect(), key=lambda r: r["_cid"])
    if not rows:
        return data.limit(0).withColumn("centroid_id", F.lit(None).cast("long"))
    cids = np.array([r["_cid"] for r in rows], dtype=np.int64)
    C = np.array([list(r["_cvec"]) for r in rows], dtype=np.float64)  # k × dim
    k, dim = C.shape
    # centroid norms: sequential-over-dims fold, identical to
    # sqrt(aggregate(zip_with(c, c, *), 0.0, +))
    acc = np.zeros(k)
    for d in range(dim):
        acc = acc + C[:, d] * C[:, d]
    norms = np.sqrt(acc)
    # zero-norm centroids are unrankable — drop them
    keep = norms > 0
    cids, C, norms = cids[keep], C[keep], norms[keep]
    k = int(keep.sum())
    if k == 0:
        return data.limit(0).withColumn("centroid_id", F.lit(None).cast("long"))

    out_schema = StructType(list(data.schema.fields) + [StructField("centroid_id", LongType())])

    # Null detection must happen JVM-side: Arrow surfaces null array
    # ELEMENTS as NaN in pandas, which would let a null-element vector
    # win argmax (NaN ranks above every score) instead of getting a null
    # centroid. Flag null-or-contains-null vectors in the plan, mask them
    # in the kernel. (Genuine NaN elements stay NaN: all-NaN scores tie,
    # smallest cid wins.)
    vec_null = F.col(vec_col).isNull() | F.exists(
        F.col(vec_col), lambda e: e.isNull()
    )
    flagged = data.withColumn("_vec_null", vec_null)

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.copy()
            valid = ~pdf.pop("_vec_null").to_numpy(dtype=bool)
            out_ids = np.empty(len(pdf), dtype=object)
            out_ids[:] = None  # null / null-element vector → null centroid
            if valid.any():
                X = np.asarray(pdf.loc[valid, vec_col].to_list(), dtype=np.float64)
                scores = np.zeros((int(valid.sum()), k))
                for d in range(dim):
                    scores = scores + X[:, d : d + 1] * C[None, :, d]
                scores = scores / norms[None, :]
                # first-max along cid-ascending axis == (score desc, cid asc)
                out_ids[valid] = cids[np.argmax(scores, axis=1)]
            pdf["centroid_id"] = out_ids
            yield pdf

    return flagged.mapInPandas(assign, out_schema)


def cosine_cross_scores(
    data: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qv",
    carry: tuple = (),
) -> DataFrame:
    """Every data row scored against every query vector —
    (id_col, *carry, qid_col, ``_cs``) with ``_cs`` = cosine(vec, qv).
    This is the ground-truth grid every ANN recall/eval query builds
    (corpus x probe-batch); the queries relation is BOUNDED by
    construction (a probe batch, ≤ ~100 rows) and ships inside the UDF
    closure exactly like the assign codebook.

    NumPy kernel, BIT-EXACT to the sequential ``cosine`` fold and to the
    DuckDB oracle's ``list_dot_product``: accumulation is vectorized
    across (row, query) pairs but sequential across dimensions, so every
    pair performs the identical IEEE-double op sequence
    ((0 + x₀y₀) + x₁y₁) + … for the dot and both norms, then
    dot / (sqrt(n_a) * sqrt(n_b)) in the same product-then-divide order.
    Spark's higher-order fold runs on the interpreted expression path
    (~10x slower per element, guide §4.2) — at sf0.1 the 40k-pair grid
    costs ~1 s interpreted vs ~0.1 s here; at 100 TB the corpus side
    streams through mapInPandas in Arrow batches, each embedding shipped
    ONCE (a crossJoin would duplicate every vector Q times before
    scoring, §2.3).

    Degenerate inputs: data rows whose vector is null or contains a null
    element yield a null ``_cs`` for every query (flagged JVM-side —
    Arrow surfaces null elements as NaN); a null/null-element QUERY
    vector yields null ``_cs`` for every data row, also when no query
    vector is valid; zero norms divide to ±Inf/NaN, and genuine NaN
    elements propagate to NaN."""
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    qn = F.col(qvec_col).isNull() | F.exists(F.col(qvec_col), lambda e: e.isNull())
    qrows = queries.select(qid_col, F.when(~qn, F.col(qvec_col)).alias("_qv")).collect()
    if not qrows:
        base = data.select(id_col, *carry).limit(0)
        return base.select(
            "*",
            F.lit(None).cast(dict(queries.dtypes)[qid_col]).alias(qid_col),
            F.lit(None).cast("double").alias("_cs"),
        )
    qids = [r[qid_col] for r in qrows]
    q_valid = np.array([r["_qv"] is not None for r in qrows], dtype=bool)
    # no valid query vector: a zero-width grid, every pair masked to null
    dim = next((len(r["_qv"]) for r in qrows if r["_qv"] is not None), 0)
    Qm = np.zeros((len(qrows), dim), dtype=np.float64)
    for i, r in enumerate(qrows):
        if r["_qv"] is not None:
            Qm[i] = list(r["_qv"])
    nq = len(qrows)
    # query norms: sequential-over-dims fold, identical to sqrt(dot(b, b))
    qacc = np.zeros(nq)
    for d in range(dim):
        qacc = qacc + Qm[:, d] * Qm[:, d]
    qnorm = np.sqrt(qacc)

    qid_field = queries.schema[qid_col]
    in_cols = data.select(id_col, *carry).schema.fields
    out_schema = StructType(
        in_cols
        + [
            StructField(qid_col, qid_field.dataType),
            StructField("_cs", DoubleType()),
        ]
    )
    vec_null = F.col(vec_col).isNull() | F.exists(
        F.col(vec_col), lambda e: e.isNull()
    )
    flagged = data.select(id_col, *carry, vec_col).withColumn("_vec_null", vec_null)
    keep_cols = [id_col, *carry]

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            n = len(pdf)
            valid = ~pdf["_vec_null"].to_numpy(dtype=bool)
            cs = np.empty((n, nq), dtype=object)
            cs[:] = None
            if valid.any():
                X = np.asarray(pdf.loc[valid, vec_col].to_list(), dtype=np.float64)
                dab = np.zeros((int(valid.sum()), nq))
                aacc = np.zeros(int(valid.sum()))
                for d in range(dim):
                    dab = dab + X[:, d : d + 1] * Qm[None, :, d]
                    aacc = aacc + X[:, d] * X[:, d]
                with np.errstate(divide="ignore", invalid="ignore"):
                    vals = dab / (np.sqrt(aacc)[:, None] * qnorm[None, :])
                block = np.empty((int(valid.sum()), nq), dtype=object)
                block[:] = vals
                block[:, ~q_valid] = None
                cs[valid] = block
            out = {
                c: np.repeat(pdf[c].to_numpy(dtype=object), nq)
                for c in keep_cols
            }
            out[qid_col] = np.tile(np.array(qids, dtype=object), n)
            out["_cs"] = cs.reshape(-1)
            yield pd.DataFrame(out)

    return flagged.mapInPandas(score, out_schema)


def salted_topk(
    scored: DataFrame,
    k: int,
    score_col: str,
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-``qid`` top-``k`` rows of ``scored`` by (score desc, id asc);
    null scores rank last. Two phases: a window over (qid, salt) with
    salt = pmod(hash(id), 32) keeps each slice's top-k, then a window
    over qid alone ranks the ≤ 32 x k survivors. The candidate-scale
    shuffle is therefore never partitioned by qid alone, so a small probe
    set cannot skew the reducers at 100 TB. Columns of ``scored`` pass
    through unchanged."""
    order = (F.desc(score_col), F.asc(id_col))
    w1 = W.partitionBy("qid", "_salt").orderBy(*order)
    w2 = W.partitionBy("qid").orderBy(*order)
    return (
        scored.withColumn("_salt", F.pmod(F.hash(id_col), F.lit(32)))
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .withColumn("_rn2", F.row_number().over(w2))
        .filter(F.col("_rn2") <= k)
        .drop("_salt", "_rn", "_rn2")
    )


from collections import OrderedDict

_KMEANS_MEMO: OrderedDict[tuple, DataFrame] = OrderedDict()
_KMEANS_MEMO_MAX = 8


def kmeans_lloyd(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = 25,
    sample_mod: int = 4,
    iters: int = 2,
) -> DataFrame:
    """Deterministic Lloyd-trained centroids ``(_cid, _cvec)``.

    Init: the fixed data-derived codebook (id % centroid_mod == 0).
    Train: ``iters`` rounds of assign → mean over a deterministic sample
    (id % sample_mod == 0) — training on a sample is the standard IVF
    practice and bounds the scoring cost at any corpus size.

    Cross-engine exactness: the per-dimension mean is computed as an exact
    DECIMAL(27,10) sum divided (in double space) by the count — decimal
    addition is associative, so the result is identical under ANY Spark
    partitioning/merge order and equals DuckDB's. Centroid components
    therefore match bit-for-bit and downstream cosine argmaxes never
    diverge. A float SUM here would drift with partition order and flip
    boundary assignments.

    Plan shape per iteration: one Arrow scoring pass over the sample
    (``assign_to_centroids``) + one posexplode/groupBy((cid, dim)) mean +
    one per-cid re-pack.

    Side effect: training runs at DataFrame-CONSTRUCTION time — each
    iteration's assignment collects the previous codebook, and the final
    (tiny) codebook is eagerly persisted + materialized. The RETURNED
    codebook stays persisted in the memo below.
    """
    # Session-scoped memo: the trained/indexed IVF queries run the SAME
    # training (same corpus, same params) — train once, share the (tiny)
    # persisted codebook. Keyed like text_dedup._memo; bounded, eviction
    # unpersists. Callers must NOT unpersist the returned codebook.
    try:
        memo_key = (
            emb.sparkSession.sparkContext.applicationId,
            emb.semanticHash(),
            id_col, vec_col, centroid_mod, sample_mod, iters,
        )
    except Exception:  # pragma: no cover - semanticHash unavailable
        memo_key = None
    if memo_key is not None and memo_key in _KMEANS_MEMO:
        _KMEANS_MEMO.move_to_end(memo_key)
        return _KMEANS_MEMO[memo_key]

    # Training runs eagerly (each iteration materializes its codebook),
    # so with bench instrumentation on the cost is reported on its own
    # clock instead of being absorbed by whichever query trains first —
    # the r8 "emb_centroid_summaries regression" was exactly this
    # attribution drift (untouched code, reordered first consumer).
    import time as _time

    from .text_dedup import record_memo_timing

    _t0 = _time.perf_counter()
    cents = emb.filter(F.col(id_col) % centroid_mod == 0).select(
        F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cvec")
    )
    sample = emb.filter(F.col(id_col) % sample_mod == 0).repartition(
        emb.sparkSession.sparkContext.defaultParallelism
    )
    for _ in range(iters):
        assigned = assign_to_centroids(sample, cents, id_col, vec_col)
        comps = (
            assigned.select(
                F.col("centroid_id").alias("_cid"),
                F.posexplode(F.col(vec_col)).alias("_pos", "_val"),
            )
            .groupBy("_cid", "_pos")
            .agg(
                (
                    F.sum(F.col("_val").cast("double").cast("decimal(27,10)")).cast("double")
                    / F.count("*")
                ).alias("_comp")
            )
        )
        cents = comps.groupBy("_cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_comp"))), lambda s: s["_comp"]
            ).alias("_cvec")
        )
    # Materialize the FINAL (tiny) codebook: without this every later
    # consumer (probe, full assignment) would re-run the training chain
    # per reference. Intermediate iterations need no persist of their own
    # (r12, guide §1.2): the next iteration's assign COLLECTS the codebook
    # at construction time, which executes the chain exactly once.
    cents = cents.persist()
    cents.count()
    # Report the span ONLY when the result lands in the memo: a
    # non-memoized call (memo_key None) is repeated per-query training
    # cost, and subtracting it from the triggering query's clock under a
    # memo label would mislabel it as a one-time build.
    if memo_key is not None:
        record_memo_timing(
            f"kmeans_lloyd/{centroid_mod}/{sample_mod}/{iters}",
            _time.perf_counter() - _t0,
        )
    if memo_key is not None:
        _KMEANS_MEMO[memo_key] = cents
        while len(_KMEANS_MEMO) > _KMEANS_MEMO_MAX:
            _, evicted = _KMEANS_MEMO.popitem(last=False)
            try:
                evicted.unpersist()
            except Exception:  # pragma: no cover - session already stopped
                pass
    return cents


def ivf_topk_trained(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = 25,
    sample_mod: int = 4,
    iters: int = 2,
) -> DataFrame:
    """IVF search over Lloyd-trained centroids (see ``kmeans_lloyd``).

    Training and the full-corpus assignment run through the bit-exact
    NumPy ``assign_to_centroids``; the final scoring of the probed cells
    stays relational (tiny after probing).
    """
    # kmeans_lloyd persists the trained codebook, so the full assignment
    # and probe below reuse it without re-training.
    cents = kmeans_lloyd(emb, id_col, vec_col, centroid_mod, sample_mod, iters)
    assigned = assign_to_centroids(
        emb.repartition(emb.sparkSession.sparkContext.defaultParallelism),
        cents,
        id_col,
        vec_col,
    )
    qvec = emb.filter(F.col(id_col) == query_id).select(F.col(vec_col).alias("_qv"))
    probe = (
        cents.crossJoin(F.broadcast(qvec))
        .withColumn("_cos_q", cosine(F.col("_cvec"), F.col("_qv")))
        .orderBy(F.desc("_cos_q"), F.asc("_cid"))
        .limit(nprobe)
        .select(F.col("_cid").alias("centroid_id"))
    )
    other_cols = [c for c in emb.columns if c not in (id_col, vec_col)]
    return (
        assigned.join(F.broadcast(probe), "centroid_id", "left_semi")
        .filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(qvec))
        .select(
            id_col,
            *other_cols,
            F.round(cosine(F.col(vec_col), F.col("_qv")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def sign_lsh_bucket(vec_col: Column, nplanes: int = 8, offset: int = 0) -> Column:
    """LSH bucket key: sign bits of ``nplanes`` dimensions starting at
    ``offset`` (0-based).

    For ~isotropic embeddings, axis-aligned hyperplanes are an unbiased
    hyperplane family; being data-independent they need no stored model.
    ``offset`` selects a disjoint plane set per LSH table for the
    multi-table OR-construction (each table hashes a different dimension
    slice, so tables are independent hash functions). Dimensions past the
    vector's end hash to bit 0 (``F.get`` is null past the end, matching
    SQL's out-of-range list index → NULL → CASE ELSE), so short vectors
    degrade to coarser buckets instead of erroring.
    """
    bits = [
        F.when(F.get(vec_col, offset + d).cast("double") >= 0, F.lit(1)).otherwise(F.lit(0))
        for d in range(nplanes)
    ]
    return F.concat_ws("", *[b.cast("string") for b in bits])


def neardup_pairs_bucketed(
    emb: DataFrame,
    threshold: float = 0.4,
    nplanes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs: same LSH bucket AND exact cosine ≥ threshold.

    Recall is bounded by the bucketing (two near-dups split by a hyperplane
    are missed — the standard LSH trade; multiple bucket tables would raise
    recall). Pair verification cost is Σ bucket² instead of n².
    """
    # Per-row norm computed ONCE here, not per candidate pair: cosine below
    # is dot(a,b)/(norm_a*norm_b) with the identical float bits (the self-dot
    # doesn't depend on the pair), at a third of the per-pair fold work.
    b = emb.repartition(emb.sparkSession.sparkContext.defaultParallelism).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("_n"),
        sign_lsh_bucket(F.col(vec_col), nplanes).alias("_bucket"),
    )
    left = b.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"), F.col("_n").alias("_na"), "_bucket")
    right = b.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb"), "_bucket")
    return (
        left.join(right, "_bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos_sim",
            F.round(dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def neardup_pairs_multitable(
    emb: DataFrame,
    threshold: float = 0.4,
    nplanes: int = 4,
    ntables: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    materialize_input: bool = True,
    split_at: int = 1024,
    block_target: int = 512,
) -> DataFrame:
    """Multi-table sign-LSH near-dup pairs (the OR-construction).

    ``ntables`` independent hash tables — table ``t`` buckets on the sign
    pattern of dimensions ``[t*nplanes, (t+1)*nplanes)`` — and a pair is a
    candidate if it collides in ANY table. Per-table miss probability for
    vectors at angle θ is 1-(1-θ/π)^nplanes; with k independent tables the
    overall miss probability is that raised to the k-th power, so recall
    strictly dominates the single-table variant (table 0 here IS the
    single-table bucketing — its candidates are a subset of ours).

    Plan shape: one shuffle, keyed by (table, bucket). Each bucket's
    vectors ship ONCE into a grouped Arrow kernel that computes the
    within-bucket pairwise cosines — candidate pairs are never
    materialized as rows, so nothing n²-shaped is ever shuffled and the
    per-pair vector copies of a join-then-verify plan (2 × 64 doubles ×
    Σbucket² rows) disappear. Cross-table duplicates dedup AFTER the
    threshold filter, when only survivors remain.

    Skew: sign-LSH buckets over correlated corpora are NOT balanced
    (observed at sf0.1: one bucket held 72% of the feature-hashed doc
    vectors, putting 92% of the Σbucket² verify on ONE task — a
    straggler at any scale). Buckets larger than ``_SPLIT_AT`` therefore
    shatter into ``ceil(n/_BLOCK_TARGET)`` hash-blocks and the verify
    runs per block-PAIR — the AQE-skew-join move applied to grouped-map
    work. The candidate set is identical (blocks partition the bucket,
    so every unordered pair lands in exactly one block-pair group) and
    the per-task pair matrix is bounded by ~_BLOCK_TARGET² regardless of
    how skewed the bucketing gets; normal-sized buckets keep the 1-group
    path and pay nothing. Per-group memory is additionally bounded by
    chunking the pair matrix (CHUNK × group_size).

    Bit-exactness: the kernel accumulates sequentially over dimensions
    (outer-product per dimension), so every pair performs the identical
    IEEE op sequence ((0 + x₀y₀) + x₁y₁) + … as the relational fold
    ``aggregate(zip_with(a, b, *), 0.0, +) / (na * nb)`` — the DuckDB
    oracle certifies the output directly. Rounding and the exact
    threshold stay IN THE PLAN (the kernel pre-filters with a small
    margin and keeps NaN, so F.round's half-up semantics and Spark's
    NaN-is-largest filter semantics decide membership, exactly as the
    relational lane). Null vectors and vectors containing null elements
    are excluded up front — their cosine is null in the relational lane
    and never survives its threshold filter.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from .text_dedup import _materialize

    spark_parallelism = emb.sparkSession.sparkContext.defaultParallelism
    vec_null = F.col(vec_col).isNull() | F.exists(F.col(vec_col), lambda e: e.isNull())
    # materialized by default: the bucket-size branch below and the main
    # verify branch both read this relation, and the caller's upstream
    # (e.g. the feature-hashing vectorizer) can be expensive to recompute.
    # Callers whose input is a bare table scan pass
    # ``materialize_input=False`` — re-scanning is cheaper than writing
    # the checkpoint.
    base = emb.repartition(spark_parallelism).filter(~vec_null)
    if materialize_input:
        base = _materialize(base)
    bucketed = base.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.posexplode(
            F.array(
                *[
                    sign_lsh_bucket(F.col(vec_col), nplanes, offset=t * nplanes)
                    for t in range(ntables)
                ]
            )
        ).alias("_t", "_bucket"),
    )
    # adaptive skew split (see docstring): buckets above ``split_at`` rows
    # shatter into hash-blocks of ~``block_target`` and verify per
    # block-pair (params exist so tests can engage the split path small)
    big = (
        bucketed.groupBy("_t", "_bucket")
        .agg(F.count("*").alias("_bn"))
        .filter(F.col("_bn") > split_at)
        .select(
            "_t",
            "_bucket",
            F.ceil(F.col("_bn") / F.lit(block_target)).cast("int").alias("_nblk"),
        )
    )
    nblk = F.coalesce(F.col("_nblk"), F.lit(1))
    grouped = (
        bucketed.join(F.broadcast(big), ["_t", "_bucket"], "left")
        .select(
            "_id",
            "_v",
            "_t",
            "_bucket",
            F.pmod(F.xxhash64("_id"), nblk).cast("int").alias("_blk"),
            F.explode(F.sequence(F.lit(0), nblk - F.lit(1))).alias("_other"),
        )
        .select(
            "_id",
            "_v",
            "_t",
            "_bucket",
            "_blk",
            F.least("_blk", "_other").alias("_bi"),
            F.greatest("_blk", "_other").alias("_bj"),
        )
    )
    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("_raw_cos", DoubleType()),
        ]
    )
    # kernel pre-filter: strictly below the loosest value that could
    # round-half-up to `threshold` at 6 dp — a superset of the plan filter
    margin = threshold - 1e-6
    chunk = 2048

    empty = pd.DataFrame(
        {
            "id_a": pd.array([], dtype="int64"),
            "id_b": pd.array([], dtype="int64"),
            "_raw_cos": pd.array([], dtype="float64"),
        }
    )

    def _seq_norms(X: "np.ndarray") -> "np.ndarray":
        # sequential self-fold, identical bits to sqrt(dot(v, v))
        nacc = np.zeros(len(X))
        for d in range(X.shape[1]):
            nacc = nacc + X[:, d] * X[:, d]
        return np.sqrt(nacc)

    def _triangle(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return empty
        order = np.argsort(pdf["_id"].to_numpy(), kind="stable")
        ids = pdf["_id"].to_numpy()[order]
        X = np.asarray(pdf["_v"].to_list(), dtype=np.float64)[order]
        dim = X.shape[1]
        norms = _seq_norms(X)
        frames = []
        cols = np.arange(m)
        for i0 in range(0, m, chunk):
            i1 = min(i0 + chunk, m)
            acc = np.zeros((i1 - i0, m))
            for d in range(dim):
                acc = acc + X[i0:i1, d][:, None] * X[:, d][None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = acc / (norms[i0:i1, None] * norms[None, :])
            upper = np.arange(i0, i1)[:, None] < cols[None, :]  # id_a < id_b
            keep = upper & ((cos >= margin) | np.isnan(cos))
            ii, jj = np.nonzero(keep)
            if len(ii):
                frames.append(
                    pd.DataFrame(
                        {
                            "id_a": ids[ii + i0],
                            "id_b": ids[jj],
                            "_raw_cos": cos[ii, jj],
                        }
                    )
                )
        return pd.concat(frames) if frames else empty

    def _bipartite(a: pd.DataFrame, b: pd.DataFrame) -> pd.DataFrame:
        # cross pairs between two disjoint blocks of one bucket; every
        # unordered pair appears in exactly one block-pair group, emitted
        # as (min_id, max_id). Same sequential dim fold as the triangle —
        # dot(a, b) is term-commutative, so orientation cannot change bits.
        if not len(a) or not len(b):
            return empty
        ida = a["_id"].to_numpy()
        idb = b["_id"].to_numpy()
        Xa = np.asarray(a["_v"].to_list(), dtype=np.float64)
        Xb = np.asarray(b["_v"].to_list(), dtype=np.float64)
        na = _seq_norms(Xa)
        nb = _seq_norms(Xb)
        frames = []
        for i0 in range(0, len(a), chunk):
            i1 = min(i0 + chunk, len(a))
            acc = np.zeros((i1 - i0, len(b)))
            for d in range(Xa.shape[1]):
                acc = acc + Xa[i0:i1, d][:, None] * Xb[:, d][None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = acc / (na[i0:i1, None] * nb[None, :])
            keep = (cos >= margin) | np.isnan(cos)
            ii, jj = np.nonzero(keep)
            if len(ii):
                left = ida[ii + i0]
                right = idb[jj]
                frames.append(
                    pd.DataFrame(
                        {
                            "id_a": np.minimum(left, right),
                            "id_b": np.maximum(left, right),
                            "_raw_cos": cos[ii, jj],
                        }
                    )
                )
        return pd.concat(frames) if frames else empty

    def verify_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = key[2], key[3]
        if bi == bj:
            return _triangle(pdf)
        return _bipartite(pdf[pdf["_blk"] == bi], pdf[pdf["_blk"] == bj])

    verified = grouped.groupBy("_t", "_bucket", "_bi", "_bj").applyInPandas(
        verify_group, out_schema
    )
    return (
        verified.withColumn("cos_sim", F.round(F.col("_raw_cos"), 6))
        .filter(F.col("cos_sim") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "cos_sim")
    )


def save_ivf_index(
    emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = 25,
    sample_mod: int = 4,
    iters: int = 2,
) -> None:
    """Persist a trained IVF index: ``<path>/codebook`` (cid, cvec) and
    ``<path>/assignments`` (id, centroid_id) as parquet.

    The production lifecycle: train + assign ONCE (the expensive passes),
    then every search session loads the index and touches only
    nprobe/ncentroids of the corpus. At 100 TB the assignments table is
    written partitioned by ``centroid_id`` so a probe reads only its
    cells' files (partition pruning — the on-disk analogue of the
    inverted file).
    """
    cents = kmeans_lloyd(emb, id_col, vec_col, centroid_mod, sample_mod, iters)
    cents.write.mode("overwrite").parquet(f"{path}/codebook")
    assigned = assign_to_centroids(
        emb.repartition(emb.sparkSession.sparkContext.defaultParallelism),
        cents,
        id_col,
        vec_col,
    ).select(id_col, "centroid_id").persist()
    try:
        (
            # co-locate each cell before the partitioned write: without
            # this, every compute task writes a sliver file into every
            # centroid dir (tasks x cells small files); with it, each cell
            # is one file and the probe-side partition-pruned scan stays
            # one-file-per-cell. At 100 TB the same exchange bounds files
            # to shuffle-partitions per cell instead of input-tasks per
            # cell.
            assigned.repartition("centroid_id")
            .write.mode("overwrite")
            .partitionBy("centroid_id")
            .parquet(f"{path}/assignments")
        )
        # training-time cell populations — the baseline the drift monitor
        # (ivf_cell_drift) compares live cell counts against to signal
        # retrain. Folded off the SAME cached relation the write ships
        # (not a read-back of the partitioned layout — r11, see
        # save_ivfpq_index); centroid_id cast to INT to keep the on-disk
        # schema identical to what partition discovery used to infer.
        (
            assigned.groupBy(F.col("centroid_id").cast("int").alias("centroid_id"))
            .agg(F.count("*").alias("n_train"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{path}/cell_stats")
        )
    finally:
        assigned.unpersist()
    # codebook stays persisted: it is shared via the kmeans_lloyd memo


def pq_sub_assign(
    subs: DataFrame,
    cents: DataFrame,
    carry: tuple = (),
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-L2 code per (vector, subspace) against a broadcast
    codebook — ties to the lower code. ``subs`` carries ``svec``; output
    is (id, g, *carry, code). The scoring grid is projected down to
    (keys, carry, d2) BEFORE the per-vector window so its shuffle never
    carries the sub-vector/codebook arrays — carry ``svec`` explicitly
    (training does, on its sample-sized relation) when it's needed
    post-assignment."""
    d2 = (
        dot(F.col("svec"), F.col("svec"))
        - 2 * dot(F.col("svec"), F.col("cvec"))
        + dot(F.col("cvec"), F.col("cvec"))
    )
    scored = subs.join(F.broadcast(cents.select("g", "code", "cvec")), "g").select(
        id_col, "g", *carry, "code", d2.alias("d2")
    )
    rn = F.row_number().over(W.partitionBy(id_col, "g").orderBy("d2", "code"))
    return (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(id_col, "g", *carry, "code")
    )


def pq_codes_wide(
    emb: DataFrame,
    pq_cents: DataFrame,
    n_sub: int,
    sub_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry: tuple = (),
) -> DataFrame:
    """Per-vector PQ codes packed wide — (id, *carry, codes array<int>),
    codes[g] = nearest sub-quantizer code of subspace g. This is the
    on-disk shape of a FAISS-style inverted list entry: one row per
    vector, n_sub small ints, no vector column — the compressed
    representation ADC search reads instead of the corpus."""
    gs = F.array(*[F.lit(i) for i in range(n_sub)])
    subs = emb.select(id_col, *carry, F.explode(gs).alias("g"), vec_col).select(
        id_col,
        *carry,
        "g",
        F.slice(vec_col, F.col("g") * sub_dim + 1, sub_dim).alias("svec"),
    )
    asg = pq_sub_assign(subs, pq_cents, carry=carry, id_col=id_col)
    return asg.groupBy(id_col, *carry).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("g", "code"))),
            lambda st: st["code"],
        ).alias("codes")
    )


def train_pq_cents(
    emb: DataFrame,
    n_sub: int,
    sub_dim: int,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int = 4,
    iters: int = 1,
) -> DataFrame:
    """Deterministic per-subspace Lloyd training of PQ sub-quantizers —
    (g, code, cvec), the input shape ``save_ivfpq_index`` expects.

    Seeding is RANK-based (the ``n_codes`` lowest ids, code = rank-1):
    unlike the fixed-stride seed of the in-session PQ queries this stays
    full-width for ANY id distribution — a maintenance retrain runs over
    an index whose ids are arbitrary after appends/takedowns. Each
    iteration assigns the ``id % sample_mod == 0`` sample to the current
    codebook by nearest L2 (ties to the lower code, the package-wide
    convention) and recomputes exact-DECIMAL per-dimension means, so the
    training is bit-reproducible across engines and runs — the property
    the maintenance policy's rebuild-equals-fresh-save test pins. Codes
    that attract no sample members drop out (same convention as the
    session-trained codebooks). Cost: iters x (sample x n_codes
    broadcast grid per subspace) + a G x K-row fold — training is
    sample-sized, never corpus-sized."""
    gs = F.array(*[F.lit(i) for i in range(n_sub)])
    seed_ids = (
        emb.select(id_col)
        .withColumn("_rk", F.row_number().over(W.orderBy(id_col)))
        .filter(F.col("_rk") <= n_codes)
    )
    cents = (
        emb.join(seed_ids, id_col)
        .select((F.col("_rk") - 1).cast("int").alias("code"), F.explode(gs).alias("g"), vec_col)
        .select(
            "code",
            "g",
            F.slice(vec_col, F.col("g") * sub_dim + 1, sub_dim).alias("cvec"),
        )
    )
    samp = (
        emb.filter(F.col(id_col) % sample_mod == 0)
        .select(id_col, F.explode(gs).alias("g"), vec_col)
        .select(
            id_col,
            "g",
            F.slice(vec_col, F.col("g") * sub_dim + 1, sub_dim).alias("svec"),
        )
    )
    for _ in range(iters):
        assigned = pq_sub_assign(samp, cents, carry=("svec",), id_col=id_col)
        cents = (
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
            .groupBy("g", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_comp"))),
                    lambda s: s["_comp"],
                ).alias("cvec")
            )
        )
    return cents


def save_ivfpq_index(
    emb: DataFrame,
    path: str,
    pq_cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = 25,
    sample_mod: int = 4,
    iters: int = 2,
    payload_cols: tuple = (),
) -> None:
    """Persist a trained IVF-PQ index: the ``save_ivf_index`` layout with
    per-vector PQ codes stored INSIDE the assignments relation —
    ``<path>/assignments`` rows are (id, *payload, codes, centroid_id),
    exactly a FAISS inverted-list entry (id + packed codes per cell).
    Adds ``<path>/pq_codebook`` (g, code, cvec — the sub-quantizer
    codebooks, supplied trained by the caller) and ``<path>/pq_meta``
    (n_sub, sub_dim — 1 row, so search/append need no configuration).

    Storing codes in the assignment rows (not a parallel table) means the
    ENTIRE persisted-index lifecycle — streaming appends, compaction,
    takedown, crash recovery (``streaming/ivf_stream.py``) — applies to
    the code table with zero new protocol: it IS the same relation,
    partitioned by ``centroid_id`` so an nprobe probe reads only its
    cells' codes. At 100 TB the codes column is n_sub ints per vector vs
    the full float vector — the ~100x compression that makes the probed
    cells driver-of-cost instead of the corpus scan.

    Production lifecycle: train + assign + encode ONCE here; every
    search session runs ``ivfpq_topk_indexed`` (probe → pruned code scan
    → ADC → exact re-rank of the shortlist only)."""
    spark = emb.sparkSession
    cents = kmeans_lloyd(emb, id_col, vec_col, centroid_mod, sample_mod, iters)
    # 1-row fold FIRST, then write the meta row as a literal — the old
    # write-then-read-back paid a second job + footer read for the same
    # two ints (r11, guide §1.2 per-item constants)
    mrow = pq_cents.agg(
        F.countDistinct("g").cast("int").alias("n_sub"),
        F.max(F.size("cvec")).cast("int").alias("sub_dim"),
    ).collect()[0]

    def _write_codebook() -> None:
        cents.write.mode("overwrite").parquet(f"{path}/codebook")

    def _write_pq_codebook() -> None:
        pq_cents.write.mode("overwrite").parquet(f"{path}/pq_codebook")

    def _write_pq_meta() -> None:
        (
            # range(1)+lit: a pure-JVM 1-row literal — createDataFrame of
            # a local row pays the Python->Arrow conversion machinery
            # (~6 s on first use in a session, measured)
            spark.range(1)
            .select(
                F.lit(int(mrow["n_sub"])).cast("int").alias("n_sub"),
                F.lit(int(mrow["sub_dim"])).cast("int").alias("sub_dim"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{path}/pq_meta")
        )

    # the three tiny side-table writes target DISTINCT dirs and depend
    # only on already-materialized memos, so they overlap the expensive
    # assignment+codes build below on driver threads (guide §2.6); the
    # futures are joined before the final cell_stats fold so the index
    # dir is always complete when this function returns. Fingerprint
    # sessions never reach here (index builds are execution-only).
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    # the context manager guarantees the pool is shut down (and the
    # side-table writes joined) on EVERY exit path — the r11 form
    # created the pool before the expensive assign/encode build with no
    # try protection, so a build failure leaked the pool and silently
    # dropped a concurrent side-write failure (r11 ADVICE). A build
    # exception still wins over a concurrent side-write exception (the
    # result() check below is only reached on the success path), which
    # is the right precedence: the side writes are retried by the next
    # build, the main failure is the actionable one.
    with ThreadPoolExecutor(max_workers=3) as _pool:
        _futs = [
            _pool.submit(inheritable_thread_target(f))
            for f in (_write_codebook, _write_pq_codebook, _write_pq_meta)
        ]
        assigned = assign_to_centroids(
            emb.repartition(spark.sparkContext.defaultParallelism),
            cents,
            id_col,
            vec_col,
        )
        codes = pq_codes_wide(
            emb,
            pq_cents,
            mrow["n_sub"],
            mrow["sub_dim"],
            id_col,
            vec_col,
            carry=tuple(payload_cols),
        )
        # cache the final rows so cell_stats folds off the SAME relation the
        # write ships, without re-reading the 25-partition-dir layout back
        # (the read-back was 2.4 s of the 13 s build: partition discovery +
        # footer opens over ncells small files — guide §6 small-files cost).
        # centroid_id is cast to INT in cell_stats to match what partition-
        # column discovery used to infer on the read-back path, so the
        # on-disk cell_stats schema is byte-identical to the old layout.
        rows = (
            assigned.select(id_col, "centroid_id")
            .join(codes, id_col)
            .select(id_col, *payload_cols, "codes", "centroid_id")
            .persist()
        )
        try:
            (
                rows.repartition("centroid_id")
                .write.mode("overwrite")
                .partitionBy("centroid_id")
                .parquet(f"{path}/assignments")
            )
            (
                rows.groupBy(F.col("centroid_id").cast("int").alias("centroid_id"))
                .agg(F.count("*").alias("n_train"))
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(f"{path}/cell_stats")
            )
        finally:
            rows.unpersist()
    for _f in _futs:
        _f.result()  # surface any side-table write failure loudly


_PQ_META_MEMO: dict = {}


def _pq_meta(spark, path: str) -> tuple[int, int]:
    """(n_sub, sub_dim) of a persisted IVF-PQ index — a 1-row parquet
    read+collect that every indexed search re-paid per run (~0.2 s of
    job+footer latency for two ints, guide §1.2 per-item constants).
    Session-memoized keyed on the meta dir's mtime, so an index rebuild
    or maintenance retrain that rewrites pq_meta (overwrite recreates
    the directory) invalidates the entry instead of serving stale
    geometry."""
    import os

    meta_dir = f"{path}/pq_meta"
    try:
        mtime = os.stat(meta_dir).st_mtime_ns
    except OSError:  # non-local path: fall back to an uncached read
        mtime = None
    key = (spark.sparkContext.applicationId, path, mtime)
    hit = _PQ_META_MEMO.get(key) if mtime is not None else None
    if hit is None:
        mrow = spark.read.parquet(meta_dir).collect()[0]
        hit = (int(mrow["n_sub"]), int(mrow["sub_dim"]))
        if mtime is not None:
            _PQ_META_MEMO[key] = hit
    return hit


def ivfpq_topk_indexed(
    emb: DataFrame,
    path: str,
    query_id: int,
    k: int = 10,
    nprobe: int = 2,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a persisted IVF-PQ index (``save_ivfpq_index``) — no
    training, no corpus-wide scoring: probe the coarse codebook for the
    query's ``nprobe`` cells, read ONLY those cells' (id, codes)
    partitions, score them in the compressed domain via one broadcast
    n_sub x K ADC table of query-side dots, then exact-cosine re-rank
    just the top-``rerank`` shortlist against the raw vectors. The fold
    shapes (per-g max-when pivot, fixed-order sum, desc/id tie-breaks)
    are identical to the in-session ``emb_ivfpq_trained_topk`` pipeline,
    so the persisted search is bit-equal to the from-scratch one."""
    spark = emb.sparkSession
    cents = spark.read.parquet(f"{path}/codebook")
    pq = spark.read.parquet(f"{path}/pq_codebook")
    n_sub, sub_dim = _pq_meta(spark, path)
    asg = spark.read.parquet(f"{path}/assignments")
    payload = [c for c in asg.columns if c not in (id_col, "codes", "centroid_id")]
    qvec = emb.filter(F.col(id_col) == query_id).select(F.col(vec_col).alias("qv"))
    probe = (
        cents.crossJoin(F.broadcast(qvec))
        .withColumn("_cos_q", cosine(F.col("_cvec"), F.col("qv")))
        .orderBy(F.desc("_cos_q"), F.asc("_cid"))
        .limit(nprobe)
        .select(F.col("_cid").alias("centroid_id"))
    )
    hits = asg.join(F.broadcast(probe), "centroid_id", "left_semi").filter(
        F.col(id_col) != query_id
    )
    adc = pq.crossJoin(F.broadcast(qvec)).select(
        "g",
        "code",
        dot(F.slice("qv", F.col("g") * sub_dim + 1, sub_dim), F.col("cvec")).alias("w"),
    )
    expl = hits.select(id_col, *payload, F.posexplode("codes").alias("g", "code"))
    appx = (
        expl.join(F.broadcast(adc), ["g", "code"])
        .groupBy(id_col, *payload)
        .agg(*[
            F.max(F.when(F.col("g") == i, F.col("w"))).alias(f"w{i}")
            for i in range(n_sub)
        ])
    )
    approx = F.col("w0")
    for i in range(1, n_sub):
        approx = approx + F.col(f"w{i}")
    cand = (
        appx.select(id_col, *payload, approx.alias("approx_dot"))
        .orderBy(F.desc("approx_dot"), id_col)
        .limit(rerank)
    )
    return (
        F.broadcast(cand)
        .join(emb.select(id_col, vec_col), id_col)
        .crossJoin(F.broadcast(qvec))
        .select(
            id_col,
            *payload,
            F.round("approx_dot", 6).alias("approx_dot"),
            F.round(cosine(F.col(vec_col), F.col("qv")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(k)
    )


def ivfpq_knn_join(
    emb: DataFrame,
    path: str,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    rerank: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """BATCHED search over a persisted IVF-PQ index — the production
    serving shape (``ivfpq_topk_indexed`` serves one query; retrieval and
    eval pipelines serve batches). ``queries`` is a small (qid, qv)
    relation; the result is each query's exact-cosine top-``k`` drawn
    from its ADC top-``rerank`` shortlist, one corpus scan total:

      1. probes resolve ONCE for all queries — a broadcast codebook x
         query grid with a per-qid window picks each query's ``nprobe``
         cells (ncells x Q rows, never corpus-scale);
      2. the code table is scanned ONCE, STATICALLY partition-pruned to
         the union of probed cells: the probe grid is a bounded fold
         (Q x nprobe pairs, ≤ codebook-size x batch rows — collected
         driver-side like every bounded relation in this repo), so the
         cell union is pushed as a literal partition filter instead of
         relying on dynamic pruning, and the per-query fan-out is a
         broadcast join of the collected pairs against the pruned rows;
      3. ADC scores every (query, candidate) in the compressed domain off
         one broadcast (qid, g, code) weight table — same per-g max-when
         pivot and fixed-order sum as the single-query path, so scores
         are bit-equal to it;
      4. per-query top-``rerank`` shortlists come from ``salted_topk``
         (the candidate-scale shuffle is partitioned by (qid, salt), never
         by qid alone, so a small query set cannot skew reducers);
      5. exact cosine re-ranks only the Q x ``rerank`` shortlist rows
         (broadcast join back to the raw vectors).
    """
    spark = emb.sparkSession
    cents = spark.read.parquet(f"{path}/codebook")
    pq = spark.read.parquet(f"{path}/pq_codebook")
    n_sub, sub_dim = _pq_meta(spark, path)
    asg = spark.read.parquet(f"{path}/assignments")
    payload = [c for c in asg.columns if c not in (id_col, "codes", "centroid_id")]
    wq = W.partitionBy("qid").orderBy(F.desc("_cos_q"), F.asc("_cid"))
    probe_pairs = (
        cents.crossJoin(F.broadcast(queries))
        .withColumn("_cos_q", cosine(F.col("_cvec"), F.col("qv")))
        .withColumn("_pr", F.row_number().over(wq))
        .filter(F.col("_pr") <= nprobe)
        .select("qid", F.col("_cid").alias("centroid_id"))
        .collect()  # bounded: Q x nprobe rows of two ids
    )
    if not probe_pairs:  # empty query batch: empty result, same schema
        return spark.range(0).select(
            F.lit(None).cast("long").alias("qid"),
            F.lit(None).cast("long").alias(id_col),
            *[F.lit(None).cast(dict(asg.dtypes)[c]).alias(c) for c in payload],
            F.lit(None).cast("double").alias("approx_dot"),
            F.lit(None).cast("double").alias("cos_sim"),
        )
    # literal plan, not createDataFrame: the collected pair list is tiny
    # (Q x nprobe) and a pure-JVM explode-of-struct-literals skips the
    # Python->JVM local-relation conversion (~0.3 s per run, guide §1.2)
    probe = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(int(r["qid"])).cast("long").alias("qid"),
                        F.lit(int(r["centroid_id"])).cast("long").alias("centroid_id"),
                    )
                    for r in probe_pairs
                ]
            )
        ).alias("_p")
    ).select("_p.qid", "_p.centroid_id")
    cells = sorted({r["centroid_id"] for r in probe_pairs})
    # literal partition filter = guaranteed static pruning of the code
    # table (the DPP form degraded to dynamicpruningexpression(true) at
    # runtime — a full scan; the probed cell union is known before the
    # scan, so push it as a literal)
    cand = (
        asg.filter(F.col("centroid_id").isin(cells))
        .join(F.broadcast(probe), "centroid_id")
        .filter(F.col(id_col) != F.col("qid"))
    )
    adc = pq.crossJoin(F.broadcast(queries)).select(
        "qid",
        "g",
        "code",
        dot(F.slice("qv", F.col("g") * sub_dim + 1, sub_dim), F.col("cvec")).alias("w"),
    )
    expl = cand.select(
        "qid", id_col, *payload, F.posexplode("codes").alias("g", "code")
    )
    appx = (
        expl.join(F.broadcast(adc), ["qid", "g", "code"])
        .groupBy("qid", id_col, *payload)
        .agg(*[
            F.max(F.when(F.col("g") == i, F.col("w"))).alias(f"w{i}")
            for i in range(n_sub)
        ])
    )
    approx = F.col("w0")
    for i in range(1, n_sub):
        approx = approx + F.col(f"w{i}")
    scored = appx.select("qid", id_col, *payload, approx.alias("approx_dot"))
    shortlist = salted_topk(scored, rerank, "approx_dot", id_col)
    wk = W.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        F.broadcast(shortlist)
        .join(emb.select(id_col, vec_col), id_col)
        .join(F.broadcast(queries), "qid")
        .withColumn("cos_sim", F.round(cosine(F.col(vec_col), F.col("qv")), 6))
        .withColumn("_rk", F.row_number().over(wk))
        .filter(F.col("_rk") <= k)
        .select(
            "qid",
            id_col,
            *payload,
            F.round("approx_dot", 6).alias("approx_dot"),
            "cos_sim",
        )
        .orderBy("qid", F.desc("cos_sim"), F.asc(id_col))
    )


def index_batch_rows(
    spark: SparkSession,
    path: str,
    emb_new: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sweep_orphans: bool = True,
) -> DataFrame:
    """New-vector rows in the persisted index's OWN assignments schema:
    frozen-codebook coarse assignment always; frozen sub-quantizer codes
    (+ the index's payload columns, taken from ``emb_new``) when the
    index is IVF-PQ. Shared by the batch append and the streaming
    micro-batch append so the two paths cannot diverge — and so every
    maintenance entry point transparently upgrades when pointed at a PQ
    index. ``sweep_orphans=False`` is the reader-form recovery (see
    ``recover_tombstones``): a caller that already recovered and must
    not delete a concurrent takedown's in-flight ``.tombstones-tmp-*``
    threads it through here, otherwise the internal recovery would
    re-sweep what the caller deliberately preserved."""
    import os

    from ..streaming.ivf_stream import recover_tombstones

    base_cols = spark.read.parquet(f"{path}/assignments").columns
    payload = [c for c in base_cols if c not in (id_col, "codes", "centroid_id")]
    # repair a crashed tombstone swap BEFORE the existence check below: a
    # stranded .tombstones-old-* with no live dir would read as "no
    # tombstones" and resurrect taken-down ids through this append
    recover_tombstones(path, sweep_orphans=sweep_orphans)
    if os.path.isdir(f"{path}/tombstones"):
        # a taken-down id must never resurrect through re-ingest: the
        # takedown path records removed ids (ivf_stream.
        # remove_from_ivf_index) and every append anti-joins them out
        emb_new = emb_new.join(
            spark.read.parquet(f"{path}/tombstones"), id_col, "left_anti"
        )
    cents = spark.read.parquet(f"{path}/codebook")
    assigned = assign_to_centroids(
        emb_new.select(id_col, vec_col).repartition(
            spark.sparkContext.defaultParallelism
        ),
        cents,
        id_col,
        vec_col,
    )
    if "codes" not in base_cols:
        return assigned.select(id_col, "centroid_id")
    mrow = spark.read.parquet(f"{path}/pq_meta").collect()[0]
    codes = pq_codes_wide(
        emb_new,
        spark.read.parquet(f"{path}/pq_codebook"),
        mrow["n_sub"],
        mrow["sub_dim"],
        id_col,
        vec_col,
        carry=tuple(payload),
    )
    return (
        assigned.select(id_col, "centroid_id")
        .join(codes, id_col)
        .select(id_col, *payload, "codes", "centroid_id")
    )


def ivf_topk_indexed(
    emb: DataFrame,
    path: str,
    query_id: int,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a persisted IVF index (see ``save_ivf_index``) — no training,
    no full-corpus assignment: probe the codebook, read only the probed
    cells' assignment partitions (partition-pruned scan), join back the
    vectors by id, exact cosine top-k."""
    spark = emb.sparkSession
    cents = spark.read.parquet(f"{path}/codebook")
    assignments = spark.read.parquet(f"{path}/assignments")
    qvec = emb.filter(F.col(id_col) == query_id).select(F.col(vec_col).alias("_qv"))
    probe = (
        cents.crossJoin(F.broadcast(qvec))
        .withColumn("_cos_q", cosine(F.col("_cvec"), F.col("_qv")))
        .orderBy(F.desc("_cos_q"), F.asc("_cid"))
        .limit(nprobe)
        .select(F.col("_cid").alias("centroid_id"))
    )
    other_cols = [c for c in emb.columns if c not in (id_col, vec_col)]
    hits = assignments.join(F.broadcast(probe), "centroid_id", "left_semi").select(id_col)
    return (
        emb.join(hits, id_col, "left_semi")
        .filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(qvec))
        .select(
            id_col,
            *other_cols,
            F.round(cosine(F.col(vec_col), F.col("_qv")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def append_to_ivf_index(
    emb_new: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lease: dict | None = None,
) -> None:
    """Incrementally add vectors to a persisted IVF index (see
    ``save_ivf_index``) WITHOUT retraining: assign the new batch against
    the SAVED codebook and append its (id, centroid_id) rows into the
    centroid-partitioned assignments.

    The production index lifecycle is build-once / append-forever with
    periodic retrain: retraining on every ingest would rewrite the whole
    inverted file, while codebook-frozen assignment is one broadcast pass
    over only the new rows and a partitioned APPEND — existing cell files
    are untouched, so a crash mid-append leaves the old index fully
    readable plus at most a partial new file (parquet readers skip
    nothing silently: the batch is re-appendable after dedup by id, and
    with a transactional format the append is atomic). Search needs no
    change — the probe prunes to its cells' files, old and new alike.
    Accumulated small appended files are reclaimed per cell dir by
    ``sources.sinks.compact_parquet``. Frozen-codebook assignment is
    exactly what a from-scratch ``save_ivf_index`` over the union corpus
    would compute for these rows (same centroids → same argmax), pinned
    by the append-equals-rebuild test. On an IVF-PQ index
    (``save_ivfpq_index``) the appended rows carry frozen-sub-quantizer
    codes and the index's payload columns too (``index_batch_rows``), so
    the code table stays complete under appends with no extra protocol.
    """
    import os

    from ..streaming.state_table import maintainer_lease

    spark = emb_new.sparkSession
    # a batch append is a mutator like any other: acquire the artifact's
    # maintainer lease (or thread the caller's) so it cannot race a
    # compaction/rebuild/takedown — see state_table's lease docs
    with maintainer_lease(path, lease, owner="ivf-batch-append"):
        rows = index_batch_rows(spark, path, emb_new, id_col, vec_col)
        # A takedown that emptied the index rewrote assignments as a PLAIN
        # empty table (schema'd part file, centroid_id as a data column) so
        # readers keep working; a partitioned APPEND into that dir would mix
        # root-level part files with centroid_id= subdirs and break partition
        # discovery for every later reader. Detect the empty-plain layout and
        # OVERWRITE it back to partitioned form (nothing is lost: the table
        # is empty by construction of that branch).
        asg_dir = f"{path}/assignments"
        plain_empty = os.path.isdir(asg_dir) and not any(
            n.startswith("centroid_id=") for n in os.listdir(asg_dir)
        )
        (
            rows.repartition("centroid_id")
            .write.mode("overwrite" if plain_empty else "append")
            .partitionBy("centroid_id")
            .parquet(asg_dir)
        )


def ivf_cell_drift(
    spark: SparkSession, path: str, retrain_threshold: float = 0.25
) -> DataFrame:
    """Per-cell drift of a persisted IVF index: live assignment counts vs
    the training-time populations saved by ``save_ivf_index``.

    Appends (``append_to_ivf_index``) grow cells without retraining; once
    a cell's added fraction passes ``retrain_threshold`` the codebook no
    longer reflects the data distribution and the probe's recall decays —
    the flag is the retrain signal. Counting rows per ``centroid_id`` over
    a centroid-PARTITIONED layout is a metadata-cheap scan (no vector
    column read), and the result is one row per cell — bounded by the
    codebook size regardless of corpus volume.
    """
    stats = spark.read.parquet(f"{path}/cell_stats")
    cur = (
        spark.read.parquet(f"{path}/assignments")
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n_current"))
    )
    added = F.col("n_current") - F.col("n_train")
    frac = F.when(
        F.col("n_train") > 0, added.cast("double") / F.col("n_train")
    )
    # FULL outer: a centroid with zero training assignments (no cell_stats
    # row) that gains appended vectors is the MOST drifted cell — a left
    # join from stats would silently drop it. n_train = 0 leaves
    # added_frac null (division by zero is not a fraction) and flags
    # retrain directly whenever anything landed in the empty cell.
    return (
        stats.join(cur, "centroid_id", "full")
        .na.fill({"n_current": 0, "n_train": 0})
        .select(
            "centroid_id",
            "n_train",
            "n_current",
            added.alias("n_added"),
            F.round(frac, 6).alias("added_frac"),
            F.when(
                (F.col("n_train") == 0) & (added > 0), 1
            )
            .when(frac > retrain_threshold, 1)
            .otherwise(0)
            .alias("retrain_flag"),
        )
        .orderBy("centroid_id")
    )


def pca_moment_cells(
    emb: DataFrame,
    vec_col: str = "embedding",
    d: int = 64,
    scale: float = 1e8,
) -> DataFrame:
    """Scaled-integer second-moment cells ``(i, j, s2)`` of a vector column:
    s2(i, j) = SUM over rows of round_half_away(x_i * x_j * scale) as
    BIGINT, cell for cell DuckDB's ``SUM(ROUND(x_i * x_j * scale))``.

    Per-term integer scaling makes the corpus reduce EXACT under any
    partitioning (plain long addition): there is no float accumulation to
    order. |x| < 1 and scale 1e8 keep the sum int64-safe beyond 1e9 rows;
    switch to DECIMAL sums past that.

    Arrow kernel: per-slice NumPy outer products, rounded half away from
    zero EXACTLY like F.round/DuckDB ROUND (the fraction is compared
    exactly — no ``floor(x + 0.5)`` absorption), summed as int64 partials,
    one (i, j, partial) block per task.

    Nulls follow SQL SUM: a product with a null factor is skipped, and a
    cell with no non-null product is null. Null elements are flagged
    JVM-side (Arrow surfaces them as NaN) as a per-element mask on the
    rows that hold one; a null vector contributes no product.
    Equality with DuckDB is pinned by
    tests/test_operators.py::test_pca_moment_cells_matches_duckdb.
    """
    import numpy as np
    import pandas as pd

    v = F.col(vec_col).cast("array<double>")
    has_null = v.isNotNull() & (F.size(F.array_compact(v)) < F.size(v))
    flagged = emb.select(
        v.alias(vec_col),
        F.when(has_null, F.transform(v, lambda x: x.isNull())).alias("_nulls"),
    )

    def fold(batches):
        acc = np.zeros((d, d), dtype=np.int64)
        hit = np.zeros((d, d), dtype=bool)  # cell has a non-null product
        seen = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            seen = True
            present = pdf[vec_col].notna().to_numpy()
            if not present.any():
                continue
            M = np.stack(pdf.loc[present, vec_col].to_numpy()).astype(np.float64)
            masks = pdf.loc[present, "_nulls"].to_numpy()
            masked = [r for r, m in enumerate(masks) if m is not None]
            if masked:
                ok = np.ones(M.shape, dtype=bool)
                for r in masked:
                    ok[r] = ~np.asarray(masks[r], dtype=bool)
                M[~ok] = 0.0
                hit |= (ok.T.astype(np.float64) @ ok) > 0
            else:
                hit[:] = True
            for lo in range(0, M.shape[0], 512):
                sl = M[lo : lo + 512]
                P = np.einsum("ri,rj->rij", sl, sl) * scale
                a = np.abs(P)
                fl = np.floor(a)
                r = (fl + (a - fl >= 0.5)) * np.sign(P)
                acc += r.astype(np.int64).sum(axis=0)
        if seen:
            ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
            p = pd.array(acc.ravel(), dtype="Int64")
            p[~hit.ravel()] = pd.NA
            yield pd.DataFrame(
                {
                    "i": ii.ravel().astype("int32"),
                    "j": jj.ravel().astype("int32"),
                    "p": p,
                }
            )

    partials = flagged.mapInPandas(fold, schema="i int, j int, p long")
    return partials.groupBy("i", "j").agg(F.sum("p").cast("bigint").alias("s2"))


def centroid_distance_profile(
    data: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-row centroid distance profile ``(id, cid, a_dist, b_dist)``:
    the own-cell assignment (rank = dot/|c|, ties to the lower cid — the
    family's standard ranking) plus RAW cosine distances to the own
    centroid (a) and to the nearest OTHER centroid (b). The two numbers
    every cluster-quality audit (silhouette, OOD screen) needs, reduced
    worker-side so the n x k grid never materializes as rows.

    Arrow kernel: scores vectorized across rows, dims folded SEQUENTIALLY
    (bit-identical to DuckDB's ``list_dot_product``), own cell by
    first-max over cid-ascending columns (== rank desc, cid asc), b by
    masked min. Distances are returned UNROUNDED (cosine divides the dot
    by the norm PRODUCT) and the consuming plan applies its own F.round
    JVM-side, so numpy never rounds (F.round is half-up, np.round is
    banker's — the repo rule). Zero-norm centroids are excluded.
    Equality with DuckDB is pinned by
    tests/test_operators.py::test_distance_profile_matches_duckdb.
    """
    import numpy as np
    import pandas as pd

    rows = sorted(cents.select("_cid", "_cvec").collect(), key=lambda r: r["_cid"])
    cids = np.array([r["_cid"] for r in rows], dtype=np.int64)
    C = np.array([list(r["_cvec"]) for r in rows], dtype=np.float64)
    k, dim = C.shape
    acc = np.zeros(k)
    for d in range(dim):
        acc = acc + C[:, d] * C[:, d]
    norms = np.sqrt(acc)
    keep = norms > 0
    cids, C, norms = cids[keep], C[keep], norms[keep]
    k = int(keep.sum())

    def profile(batches):
        for pdf in batches:
            if len(pdf) == 0 or k == 0:
                # zero surviving centroids: no cell to profile against
                continue
            X = np.asarray(pdf[vec_col].to_list(), dtype=np.float64)
            n = X.shape[0]
            dp = np.zeros((n, k))
            en = np.zeros(n)
            for d in range(dim):
                dp = dp + X[:, d : d + 1] * C[None, :, d]
                en = en + X[:, d] * X[:, d]
            en = np.sqrt(en)
            rnk = dp / norms[None, :]
            dist = 1.0 - dp / (en[:, None] * norms[None, :])
            own = np.argmax(rnk, axis=1)
            a = dist[np.arange(n), own]
            masked = dist.copy()
            masked[np.arange(n), own] = np.inf
            b = masked.min(axis=1)
            # Degenerate inputs yield NULL, as an SQL MIN / division
            # would: a single surviving centroid leaves the masked min
            # over an empty set (+inf), and a zero-norm data vector
            # divides 0/0 (NaN). Map every non-finite to null.
            a_s = pd.array(np.where(np.isfinite(a), a, np.nan), dtype="Float64")
            b_s = pd.array(np.where(np.isfinite(b), b, np.nan), dtype="Float64")
            a_s[~np.isfinite(a)] = pd.NA
            b_s[(~np.isfinite(b)) | (k < 2)] = pd.NA
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "cid": cids[own],
                    "a_dist": a_s,
                    "b_dist": b_s,
                }
            )

    return data.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    ).mapInPandas(profile, schema=f"{id_col} long, cid long, a_dist double, b_dist double")
