"""Unit tests for near-dup text dedup and ANN operators on planted fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from date_warehouse___airline_project_spark.operators.similarity import (
    cosine,
    ivf_topk,
    neardup_pairs_bucketed,
)
from date_warehouse___airline_project_spark.operators.text_dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
    word_shingles,
)

BASE = "the quick brown fox jumps over the lazy dog near the old river bank today"
NEAR = BASE.replace("today", "tonight")  # one-token edit → high jaccard
OTHER = "completely different content about spark shuffles and partition pruning"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, NEAR), (3, OTHER), (4, BASE)], ["doc_id", "text"]
    )


def test_word_shingles_count_and_short_doc(spark):
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b")], ["doc_id", "text"])
    rows = {r.doc_id: r.sh for r in df.select("doc_id", word_shingles("text", 3).alias("sh")).collect()}
    assert rows[1] == ["a b c", "b c d"]
    assert rows[2] == []


def test_minhash_lsh_finds_planted_pairs(docs):
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in
             minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0  # exact dup
    assert (1, 2) in pairs and 0.5 <= pairs[(1, 2)] < 1.0  # near dup
    assert all(3 not in p for p in pairs)  # unrelated doc never pairs


def test_simhash_identical_docs_zero_hamming(docs):
    sigs = {r.doc_id: r.simhash for r in simhash(docs, "doc_id", "text").collect()}
    assert sigs[1] == sigs[4]
    assert 0 <= sigs[1] < 2**48
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in
             simhash_pairs(docs, "doc_id", "text", max_hamming=3).collect()}
    assert pairs[(1, 4)] == 0
    assert (1, 2) in pairs  # one-token edit stays within hamming 3 here


def test_ngram_jaccard_exact_value(spark):
    # doc1: shingles {a b c, b c d}; doc2: {a b c}; jaccard = 1/2
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b c")], ["doc_id", "text"])
    rows = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.1, max_doc_freq=None).collect()
    assert len(rows) == 1
    assert rows[0].doc_a == 1 and rows[0].doc_b == 2
    assert rows[0].jaccard == pytest.approx(0.5)


def test_ngram_doc_freq_cap_drops_stop_shingles(spark):
    # the shared shingle appears in 3 docs; cap=2 removes it → no pairs
    df = spark.createDataFrame(
        [(i, "x y z unique%d" % i) for i in range(3)], ["doc_id", "text"]
    )
    assert ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.01, max_doc_freq=2).count() == 0
    assert ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.01, max_doc_freq=None).count() == 3


def test_dedup_clusters_transitive(spark):
    from date_warehouse___airline_project_spark.operators.text_dedup import dedup_clusters

    # chain 1–2–3 (transitive closure) + separate pair 7–9: doc 3 never
    # directly paired with 1 but must land in cluster 1
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "doc_a long, doc_b long"
    )
    got = {r.doc: r.cluster for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


@pytest.fixture(scope="module")
def emb(spark):
    import math

    # 8-dim ring vectors: vec i at angle i*2π/40 in the (0,1) plane, plus a
    # planted exact duplicate of vec 1 at id 100.
    rows = []
    for i in range(40):
        a = 2 * math.pi * i / 40
        v = [math.cos(a), math.sin(a)] + [0.0] * 6
        rows.append((i, v, i % 4))
    rows.append((100, rows[1][1], 99))
    return spark.createDataFrame(rows, ["vec_id", "embedding", "label"])


def test_ivf_topk_matches_bruteforce_when_probing_everything(emb):
    # nprobe ≥ #centroids → IVF degenerates to exact search
    ivf = ivf_topk(emb, query_id=0, k=5, nprobe=100, centroid_mod=10)
    got = [(r.vec_id, r.cos_sim) for r in ivf.collect()]

    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    brute = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(5)
    )
    want = [(r.vec_id, r.cos_sim) for r in brute.collect()]
    assert got == want
    assert got[0][0] in (1, 39)  # ring neighbors of vec 0


def test_ivf_topk_probed_subset(emb):
    # with nprobe=1 every hit must come from the single probed cell
    got = ivf_topk(emb, query_id=0, k=5, nprobe=1, centroid_mod=10).collect()
    assert 0 < len(got) <= 5
    assert all(r.cos_sim <= 1.0 for r in got)


def test_neardup_bucketed_finds_exact_dup(emb):
    pairs = {(r.id_a, r.id_b): r.cos_sim for r in
             neardup_pairs_bucketed(emb, threshold=0.99, nplanes=4).collect()}
    assert pairs == {(1, 100): 1.0}


def test_assign_to_centroids_matches_duckdb_argmax(emb):
    # The NumPy kernel must be BIT-exact to DuckDB's sequential fold
    # (list_dot_product): argmax of dot/|c|, ties to the lower cid,
    # zero-norm centroids excluded — so assignments are identical, not
    # merely close.
    import duckdb

    from date_warehouse___airline_project_spark.operators.similarity import (
        assign_to_centroids,
        kmeans_lloyd,
    )

    cents = kmeans_lloyd(emb, centroid_mod=10, sample_mod=2, iters=1)
    con = duckdb.connect()
    con.register("emb_t", emb.select("vec_id", "embedding").toArrow())
    con.register("cents_t", cents.select("_cid", "_cvec").toArrow())
    want = set(
        con.sql(
            """
            WITH c AS (SELECT _cid, _cvec, sqrt(list_dot_product(_cvec, _cvec)) AS cn
                       FROM cents_t)
            SELECT e.vec_id, c._cid
            FROM emb_t e, c
            WHERE c.cn > 0
            QUALIFY row_number() OVER (
                PARTITION BY e.vec_id
                ORDER BY list_dot_product(e.embedding, c._cvec) / c.cn DESC, c._cid) = 1
            """
        ).fetchall()
    )
    got = {(r.vec_id, r.centroid_id) for r in
           assign_to_centroids(emb, cents).select("vec_id", "centroid_id").collect()}
    assert got == want and len(got) == 41


def test_neardup_multitable_recall_dominates_single_table(emb):
    # Table 0 of the multi-table construction IS the single-table bucketing,
    # so its verified pairs must be a superset; on the ring corpus the extra
    # tables (dims 5-12 are all zero → one shared bucket) recover every
    # adjacent pair the first-table hyperplanes split.
    from date_warehouse___airline_project_spark.operators.similarity import (
        neardup_pairs_multitable,
    )

    single = {(r.id_a, r.id_b) for r in
              neardup_pairs_bucketed(emb, threshold=0.9, nplanes=4).collect()}
    multi = {(r.id_a, r.id_b) for r in
             neardup_pairs_multitable(emb, threshold=0.9, nplanes=4, ntables=3).collect()}
    assert multi >= single
    assert len(multi) > len(single)


def test_derived_cache_bounded_lru_truncates_and_rebuilds(spark):
    # r11 memo internals: the LRU stays bounded, a hit returns the SAME
    # stored object (no rebuild), the stored relation's lineage is
    # checkpoint-truncated (consumer plans see a leaf, not the build
    # tree — the r11 planning-cost fix), an evicted key rebuilds, and
    # the stored relation still returns the correct rows.
    from date_warehouse___airline_project_spark.operators import text_dedup as td

    td.clear_derived_cache()
    assert len(td._DERIVED_CACHE) == 0
    base = spark.createDataFrame([(1, "x")], ["id", "v"])
    calls = []

    def make(i):
        def build():
            calls.append(i)
            return base.withColumn("i", F.lit(i))
        return build

    first = td._memo(base, ("cache-test", 0), make(0))
    # lineage truncated: the memoized plan is an RDD-scan leaf
    opt = first._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in opt or "ExistingRDD" in opt
    # hit returns the same object, no rebuild
    assert td._memo(base, ("cache-test", 0), make(0)) is first
    assert calls == [0]
    # rows are correct through the checkpoint
    assert first.collect()[0]["i"] == 0
    for i in range(1, td._DERIVED_CACHE_MAX + 2):
        td._memo(base, ("cache-test", i), make(i))
    assert len(td._DERIVED_CACHE) == td._DERIVED_CACHE_MAX
    # key 0 was evicted (oldest): asking again rebuilds
    n_calls = len(calls)
    td._memo(base, ("cache-test", 0), make(0))
    assert len(calls) == n_calls + 1
    td.clear_derived_cache()
    assert len(td._DERIVED_CACHE) == 0
    # r12 (per the r11 ADVICE): eviction must RELEASE the checkpointed
    # blocks, not just drop the Python reference — Dataset.unpersist()
    # no-ops on a checkpointed plan, so _release_blocks unpersists the
    # LogicalRDD's backing RDD. Build + materialize a fresh memo, note
    # the stored RDD ids, clear, and assert every id this memo added is
    # gone from executor storage.
    sc = spark.sparkContext

    def stored_ids():
        return {info.id() for info in sc._jsc.sc().getRDDStorageInfo()}

    before = stored_ids()
    fresh = td._memo(base, ("cache-test-release", 0), make(99))
    fresh.collect()  # populate the checkpoint blocks
    added = stored_ids() - before
    assert added, "memoized relation stored no blocks — test setup broken"
    td.clear_derived_cache()
    assert stored_ids() & added == set(), (
        "evicted memo blocks still in executor storage"
    )


def test_training_data_invariants(spark):
    # Conservation / partition / exclusion invariants of the curation suite
    # on a small synthetic corpus with planted structure.
    import date_warehouse___airline_project_spark.plans as plans

    plans.load_all()
    REGISTRY = plans.REGISTRY

    import os, tempfile
    rows = []
    for i in range(60):
        # all-distinct trigrams -> repeated_frac == 0
        text = " ".join(f"w{i}x{j}" for j in range(30))
        if i % 7 == 0:
            text = "spam spam spam spam spam spam spam spam spam spam"  # repetitive
        rows.append((i, text, "en", "src%d" % (i % 4), len(text)))
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    d = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))

    # packing: per-source pack_tokens partition the source's total tokens
    packs = REGISTRY["doc_sequence_packing"].fn(spark, d).collect()
    from pyspark.sql import functions as F_
    totals = {
        r.source: r.t
        for r in df.groupBy("source")
        .agg(F_.sum(F_.size(F_.regexp_extract_all("text", F_.lit(r"\S+"), F_.lit(0)))).alias("t"))
        .collect()
    }
    by_source = {}
    for r in packs:
        by_source[r.source] = by_source.get(r.source, 0) + r.pack_tokens
    assert by_source == totals

    # sharding: every doc appears exactly once; positions are 1..n per shard
    shards = REGISTRY["doc_shard_export_assignment"].fn(spark, d).collect()
    assert sorted(r.doc_id for r in shards) == list(range(60))
    from collections import defaultdict
    pos = defaultdict(list)
    for r in shards:
        pos[r.shard].append(r.pos)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in pos.values())

    # decontamination: benchmark docs (doc_id % 50 == 0) never appear as
    # candidates, and overlap_frac is within [0, 1]
    decon = REGISTRY["doc_decontamination_overlap"].fn(spark, d).collect()
    assert all(r.doc_id % 50 != 0 for r in decon)
    assert all(0.0 <= r.overlap_frac <= 1.0 for r in decon)

    # repetition: the planted spam docs are flagged, normal docs are not
    rep = {r.doc_id: r.flagged_repetitive for r in
           REGISTRY["doc_repeated_ngram_ratio"].fn(spark, d).collect()}
    assert all(rep[i] == 1 for i in range(60) if i % 7 == 0)
    assert all(rep[i] == 0 for i in range(60) if i % 7 != 0)

    # mixing: kept counts never exceed totals and match the hash gate rate
    mix = REGISTRY["doc_source_weighted_sample"].fn(spark, d).collect()
    assert all(0 <= r.n_kept <= r.n_docs for r in mix)
    assert {r.source for r in mix} == {"src0", "src1", "src2", "src3"}


def test_round2_queries_survive_empty_corpus(spark, tmp_path):
    # Empty inputs must yield empty (or zero-stat) results, not errors —
    # the degenerate partition every production run eventually hits.
    import date_warehouse___airline_project_spark.plans as plans

    plans.load_all()
    d = str(tmp_path)
    full = "/root/testdata/sf0.001"
    for t in ["documents", "orders", "customer", "lineitem", "events", "embeddings"]:
        spark.read.parquet(f"{full}/{t}.parquet").limit(0).write.mode("overwrite").parquet(
            f"{d}/{t}.parquet"
        )
    for name in [
        "doc_decontamination_overlap", "doc_repeated_ngram_ratio",
        "doc_sequence_packing", "doc_source_weighted_sample",
        "doc_shard_export_assignment", "doc_curation_pipeline",
        "emb_neardup_multitable", "fuzzy_wratio_correction",
        "q4_order_priority", "cms_frequency_sketch",
    ]:
        rows = plans.REGISTRY[name].fn(spark, d).collect()
        assert rows == [], name
    # bloom emits one stats row of zeros on empty input
    stats = plans.REGISTRY["bloom_membership_sketch"].fn(spark, d).collect()
    assert len(stats) == 1 and stats[0]["n_keys_built"] == 0 and stats[0]["n_maybe"] == 0


def test_assign_to_centroids_degenerate_inputs(spark):
    # zero-norm centroid: excluded; null vector and null-element vector:
    # null centroid_id — not just the happy path.
    from date_warehouse___airline_project_spark.operators.similarity import (
        assign_to_centroids,
    )

    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 1.0]), (2, [0.0, 1.0])], ["_cid", "_cvec"]
    )
    # 12: null vector; 13: vector with a null ELEMENT — the kernel must
    # mask it in the plan, because Arrow hands the kernel NaN for the null
    # element and NaN would win argmax.
    data = spark.createDataFrame(
        [(10, [1.0, 0.1]), (11, [0.1, 1.0]), (12, None), (13, [1.0, None])],
        "vec_id long, embedding array<double>",
    )
    want = {(10, 1), (11, 2), (12, None), (13, None)}
    got = {
        (r.vec_id, r.centroid_id)
        for r in assign_to_centroids(data, cents)
        .select("vec_id", "centroid_id")
        .collect()
    }
    assert got == want


def test_cosine_cross_scores_null_vectors_and_query_sets(spark):
    # A null data vector or one with a null element scores null against
    # every query; a query set whose vectors are all null (or hold a null
    # element) scores null for every pair instead of raising; in a mixed
    # set only the invalid query's column is null.
    from date_warehouse___airline_project_spark.operators.similarity import (
        cosine_cross_scores,
    )

    data = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [3.0, 4.0]), (3, None), (4, [1.0, None])],
        "vec_id long, embedding array<double>",
    )

    def grid(qrows):
        qs = spark.createDataFrame(qrows, "qid long, qv array<double>")
        return {
            (r.vec_id, r.qid): r._cs
            for r in cosine_cross_scores(data, qs).collect()
        }

    for qrows in ([(7, None)], [(9, [None, 1.0])]):
        qid = qrows[0][0]
        assert grid(qrows) == {(v, qid): None for v in (1, 2, 3, 4)}
    got = grid([(1, [1.0, 0.0]), (2, None), (3, [0.0, 2.0])])
    assert got == {
        (1, 1): 1.0, (1, 2): None, (1, 3): 0.0,
        (2, 1): 0.6, (2, 2): None, (2, 3): 0.8,
        (3, 1): None, (3, 2): None, (3, 3): None,
        (4, 1): None, (4, 2): None, (4, 3): None,
    }


def test_salted_topk_matches_duckdb_qualify(spark):
    # salted_topk must equal a plain per-qid ROW_NUMBER cut however the
    # ids fall into salts: exact ties straddling the k-th place across
    # salts (qid 1), every candidate in ONE salt (qid 2), fewer candidates
    # than k (qid 3), and null scores, which rank last (qid 4).
    import duckdb

    from date_warehouse___airline_project_spark.operators.similarity import (
        salted_topk,
    )

    salt = {
        r.id: r.s
        for r in spark.range(400)
        .select("id", F.pmod(F.hash("id"), F.lit(32)).alias("s"))
        .collect()
    }
    by_salt: dict[int, list[int]] = {}
    for i, s_ in sorted(salt.items()):
        by_salt.setdefault(s_, []).append(i)
    spread = [ids[0] for ids in by_salt.values()][:5]  # five distinct salts
    one_salt = next(ids for ids in by_salt.values() if len(ids) >= 5)[:5]
    assert len({salt[i] for i in spread}) == 5
    assert len({salt[i] for i in one_salt}) == 1
    rows = (
        [(1, i, s_) for i, s_ in zip(sorted(spread), [0.5, 0.9, 0.5, 0.5, 0.1])]
        + [(2, i, s_) for i, s_ in zip(one_salt, [0.3, 0.3, 0.2, 0.8, 0.3])]
        + [(3, 7, 0.4), (3, 8, 0.4)]
        + [(4, 21, None), (4, 20, 0.4), (4, 19, None), (4, 22, 0.1)]
    )
    df = spark.createDataFrame(rows, "qid long, id long, s double")
    k = 3
    got = sorted(
        tuple(r)
        for r in salted_topk(df, k, "s", id_col="id").select("qid", "id", "s").collect()
    )
    con = duckdb.connect()
    con.register("t", df.toArrow())
    want = sorted(
        con.sql(
            f"SELECT qid, id, s FROM t QUALIFY ROW_NUMBER() OVER "
            f"(PARTITION BY qid ORDER BY s DESC, id) <= {k}"
        ).fetchall()
    )
    assert got == want
    tied = sorted(spread)[0], sorted(spread)[2], sorted(spread)[3]
    assert (1, tied[0], 0.5) in got and (1, tied[1], 0.5) in got
    assert (1, tied[2], 0.5) not in got
    assert (4, 19, None) in got and (4, 21, None) not in got


def _degenerate_embeddings(tmp_path):
    """Tiny ``embeddings`` table for the probe-set grid queries: vec 5 is
    a null vector, vec 6 holds a null element inside the first 16 dims,
    vecs 3 and 7 are identical, so they tie exactly for every probe and,
    for probe 0, straddle the top-3 cut behind the two planted nearest
    neighbours 9 and 10. Also writes the oracle's copy, in which vec 6
    is a null vector: DuckDB's list_dot_product raises on a null element,
    and the engine scores a null-element vector like a null one."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(11)
    ids = [*range(12), 50, 100, 101]
    vecs = {i: rng.standard_normal(20) for i in ids}
    p = vecs[0]
    vecs[9] = p + 0.01 * rng.standard_normal(20)
    vecs[10] = p + 0.02 * rng.standard_normal(20)
    vecs[3] = p + 0.5 * rng.standard_normal(20)
    vecs[7] = vecs[3]
    vecs[101] = vecs[100] + 0.05 * rng.standard_normal(20)
    emb = {i: [float(np.float32(x)) for x in v] for i, v in vecs.items()}
    emb[5] = None
    emb[6][2] = None
    schema = pa.schema(
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
    )
    paths = []
    for sub, null_elem in (("spark", emb[6]), ("oracle", None)):
        d = tmp_path / sub
        d.mkdir()
        table = pa.table(
            {
                "vec_id": ids,
                "embedding": [null_elem if i == 6 else emb[i] for i in ids],
                "label": [i % 3 for i in ids],
            },
            schema=schema,
        )
        pq.write_table(table, d / "embeddings.parquet")
        paths.append(str(d))
    return paths


def test_grid_queries_degenerate_vectors_match_oracle(spark, tmp_path):
    # Null vectors, null elements and exact ties through the three
    # corpus x probe-set grid queries: each plan must equal its registered
    # oracle, nulls ranking last and ties breaking to the lower vec_id.
    import duckdb

    from date_warehouse___airline_project_spark.plans import REGISTRY, load_all
    from tools.oracle_check import compare

    load_all()
    spark_dir, oracle_dir = _degenerate_embeddings(tmp_path)
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{oracle_dir}/embeddings.parquet')"
    )
    for name in ("emb_knn_join", "emb_knn_label_audit", "emb_dim_truncation_overlap"):
        q = REGISTRY[name]
        got = q.fn(spark, spark_dir).toPandas()
        assert compare(name, got, con.sql(q.oracle).df()) == [], name
        if name == "emb_knn_join":
            top = got[got.qid == 0].vec_id.tolist()
            assert top == [9, 10, 3], top  # 7 ties 3 and loses on id


def test_multitable_pair_verify_handles_null_embeddings(spark):
    # A null (or null-element) embedding still LSH-buckets (null sign →
    # bit 0), so it reaches the Arrow cosine verify — which previously
    # raised on np.asarray over a batch containing None. Both lanes must
    # silently drop such pairs: null cos fails the threshold filter.
    from date_warehouse___airline_project_spark.operators.similarity import (
        neardup_pairs_bucketed,
        neardup_pairs_multitable,
    )

    rows = [
        (1, [1.0, 0.0, 1.0, 0.0]),
        (2, [1.0, 0.001, 1.0, 0.0]),  # near-dup of 1
        (3, None),  # null vector
        (4, [1.0, None, 1.0, 0.0]),  # null element
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    multi = {
        (r.id_a, r.id_b)
        for r in neardup_pairs_multitable(emb, threshold=0.9, nplanes=2, ntables=2).collect()
    }
    single = {
        (r.id_a, r.id_b)
        for r in neardup_pairs_bucketed(emb, threshold=0.9, nplanes=2).collect()
    }
    assert (1, 2) in multi
    assert all(3 not in p and 4 not in p for p in multi)
    assert single <= multi  # OR-construction recall dominance holds too


def test_ivf_index_persistence_roundtrip(spark, tmp_path):
    # save_ivf_index + ivf_topk_indexed must return exactly what the
    # train-inline search returns — the index is a cache, not a different
    # algorithm. The assignments table is partitioned by centroid_id so a
    # probe's scan is partition-pruned.
    from date_warehouse___airline_project_spark.operators.similarity import (
        ivf_topk_indexed,
        ivf_topk_trained,
        save_ivf_index,
    )
    from date_warehouse___airline_project_spark.sources.catalog import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    want = [
        (r.vec_id, r.cos_sim)
        for r in ivf_topk_trained(e, query_id=0, k=10, nprobe=2).collect()
    ]
    idx = str(tmp_path / "ivf")
    save_ivf_index(e, idx)
    got = [
        (r.vec_id, r.cos_sim)
        for r in ivf_topk_indexed(e, idx, query_id=0, k=10, nprobe=2).collect()
    ]
    assert got == want
    import os
    assert any(d.startswith("centroid_id=") for d in os.listdir(idx + "/assignments"))


def test_kmeans_lloyd_memoizes_codebook_per_corpus_and_params(spark):
    # The trained and indexed IVF queries run identical training — the
    # codebook must come back as the SAME cached relation on a repeat
    # call (train once per session), while different params train fresh.
    from date_warehouse___airline_project_spark.operators.similarity import (
        kmeans_lloyd,
    )
    from date_warehouse___airline_project_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    a = kmeans_lloyd(emb, centroid_mod=25, sample_mod=4, iters=1)
    b = kmeans_lloyd(emb, centroid_mod=25, sample_mod=4, iters=1)
    assert a is b, "identical (corpus, params) call retrained the codebook"
    c = kmeans_lloyd(emb, centroid_mod=25, sample_mod=2, iters=1)
    assert c is not a
    rows_a = {r._cid: r._cvec for r in a.collect()}
    rows_c = {r._cid: r._cvec for r in c.collect()}
    assert set(rows_a) == set(rows_c)  # same init codebook ids


def test_round3_queries_survive_empty_corpus(spark, tmp_path):
    import date_warehouse___airline_project_spark.plans as plans

    plans.load_all()
    d = str(tmp_path)
    full = "/root/testdata/sf0.001"
    for t in ["documents", "embeddings"]:
        spark.read.parquet(f"{full}/{t}.parquet").limit(0).write.mode("overwrite").parquet(
            f"{d}/{t}.parquet"
        )
    for name in [
        "incremental_dedup_bloom",
        "doc_negative_sampling",
        "emb_semdedup_prune",
        "doc_packed_sequences",
        "doc_train_val_test_split",
        "doc_containment_pairs",
        "doc_curation_pipeline_v2",
    ]:
        assert plans.REGISTRY[name].fn(spark, d).collect() == [], name
    # the agreement matrix emits its 3 zero rows, never errors
    agree = plans.REGISTRY["dedup_method_agreement"].fn(spark, d).collect()
    assert len(agree) == 3 and all(r.n_a == 0 and r.n_common == 0 for r in agree)


def test_semdedup_prune_keeps_rank1_and_drops_near_centroid_dups(spark, tmp_path):
    # A cluster's rank-1 (most central) vector is always kept; a clustermate
    # within tau of a better-ranked one is dropped. Construct 8 vectors in
    # 2D-ish positions inside a 64-dim space via the real query path at
    # sf0.001 and check the invariants rather than exact ids.
    import date_warehouse___airline_project_spark.plans as plans

    plans.load_all()
    out = plans.REGISTRY["emb_semdedup_prune"].fn(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert rows, "non-empty corpus must yield verdicts"
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.centroid_id, []).append(r)
    # every cluster keeps at least one member (the greedy representative)
    for cid, members in by_cluster.items():
        assert any(m.kept == 1 for m in members), cid
    # verdict column is total: every vector gets exactly one row
    assert len({r.vec_id for r in rows}) == len(rows)


def test_ivf_append_equals_rebuild(spark, tmp_path):
    # Appending a batch to a persisted index (codebook frozen) must yield
    # the same searchable index as rebuilding from scratch over the union
    # corpus WITH THE SAME CODEBOOK: identical assignments, identical
    # search results, existing cell files untouched.
    import glob

    from date_warehouse___airline_project_spark.operators.similarity import (
        append_to_ivf_index,
        ivf_topk_indexed,
        save_ivf_index,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = e.filter(F.col("vec_id") % 3 != 2)
    extra = e.filter(F.col("vec_id") % 3 == 2)

    p1 = str(tmp_path / "incremental")
    save_ivf_index(base, p1, centroid_mod=25, sample_mod=4, iters=2)
    before_files = set(glob.glob(f"{p1}/assignments/centroid_id=*/part-*"))
    append_to_ivf_index(extra, p1)
    # existing cell files untouched by the append
    assert before_files <= set(glob.glob(f"{p1}/assignments/centroid_id=*/part-*"))

    got = [
        (r.vec_id, r.cos_sim)
        for r in ivf_topk_indexed(e, p1, query_id=0, k=10, nprobe=2).collect()
    ]
    # rebuild over the union with the SAME training corpus (codebook is
    # trained on `base`'s sample in both paths)
    from date_warehouse___airline_project_spark.operators.similarity import (
        assign_to_centroids,
    )

    cents = spark.read.parquet(f"{p1}/codebook")
    p2 = str(tmp_path / "rebuilt")
    cents.write.parquet(f"{p2}/codebook")
    assign_to_centroids(e, cents).select(
        "vec_id", "centroid_id"
    ).repartition("centroid_id").write.partitionBy("centroid_id").parquet(
        f"{p2}/assignments"
    )
    want = [
        (r.vec_id, r.cos_sim)
        for r in ivf_topk_indexed(e, p2, query_id=0, k=10, nprobe=2).collect()
    ]
    assert got == want


def test_simhash_overflow_gate_raises_on_megatoken_doc(spark):
    # The packed-lane formulation is only valid for docs under 2^21
    # tokens; the raise_error gate must fail LOUDLY on an oversized doc
    # instead of silently carrying a field into the neighbouring lane.
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from date_warehouse___airline_project_spark.operators.text_dedup import simhash

    big = "a " * (1 << 20)  # 2^20 one-token repeats
    df = spark.createDataFrame([(1, big), (2, "normal doc text")], ["doc_id", "text"])
    with _pytest.raises(Exception) as exc:
        simhash(df, "doc_id", "text", 48).collect()
    assert "2^20 tokens" in str(exc.value)


def test_token_stream_shared_across_families(spark):
    # The shingle index and the simhash token counts must derive from ONE
    # memoized positional token stream — the tokenizer regex is the
    # corpus-scan cost every text-dedup family starts from, and sharing
    # it is the session analogue of persisting the tokenized corpus.
    from date_warehouse___airline_project_spark.operators import text_dedup as td

    td.clear_derived_cache()
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma epsilon")],
        ["doc_id", "text"],
    )
    td.shingle_index(docs, "doc_id", "text", 3).collect()
    keys_after_shingle = {k[2] for k in td._DERIVED_CACHE}
    assert "token_stream" in keys_after_shingle
    n_entries = len(td._DERIVED_CACHE)
    # simhash over the SAME corpus must reuse the stream, not add a second
    td.simhash(docs, "doc_id", "text").collect()
    stream_keys = [k for k in td._DERIVED_CACHE if k[2] == "token_stream"]
    assert len(stream_keys) == 1
    assert len(td._DERIVED_CACHE) > n_entries  # simhash added its own layers
    td.clear_derived_cache()


def test_skew_split_verify_equals_unsplit(spark):
    # A pathologically skewed bucketing (every vector in ONE sign bucket,
    # larger than split_at) must engage the block-pair split path and
    # produce EXACTLY the pair set of the join-then-verify construction —
    # same candidates, same cosines, no pair lost at a block boundary and
    # none double-counted.
    import random

    from date_warehouse___airline_project_spark.operators.similarity import (
        neardup_pairs_bucketed,
        neardup_pairs_multitable,
    )

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(0.5, 1.0) for _ in range(8)])  # all-positive: one bucket
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    split = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in neardup_pairs_multitable(
            emb, threshold=0.97, nplanes=4, ntables=1,
            materialize_input=False, split_at=20, block_target=10,
        ).collect()
    }
    unsplit = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in neardup_pairs_bucketed(emb, threshold=0.97, nplanes=4).collect()
    }
    assert split == unsplit
    assert len(split) > 0


def test_greedy_lanes_agree(spark, monkeypatch):
    # The driver-side small-graph lane and the distributed fixpoint must
    # produce identical keeps on the same graph (the caller gates lanes
    # purely on measured edge count, never on semantics).
    from date_warehouse___airline_project_spark.operators import text_dedup as td
    from date_warehouse___airline_project_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    pairs = td.sig_jaccard_pairs(docs, "doc_id", "text", min_agree=8)

    fast = {r.doc_id: r.kept for r in td.greedy_keep(docs, pairs).collect()}
    monkeypatch.setattr(td, "_GREEDY_DRIVER_MAX_EDGES", -1)  # force distributed
    slow = {r.doc_id: r.kept for r in td.greedy_keep(docs, pairs).collect()}
    assert fast == slow and len(fast) == docs.count()


def test_paragraph_stream_blank_line_mode(spark):
    """Real-corpus mode: split on blank lines, normalize whitespace,
    drop empty paragraphs, keep positional order."""
    from date_warehouse___airline_project_spark.operators.text_dedup import (
        paragraph_stream,
    )

    docs = spark.createDataFrame(
        [
            (1, "First  Para here\n\nsecond one\n\n\n  \n\nTHIRD"),
            (2, "single paragraph only"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    rows = sorted(
        (r["_id"], r["_para_idx"], r["_ptxt"])
        for r in paragraph_stream(docs, "doc_id", "text").collect()
    )
    assert rows == [
        (1, 0, "first para here"),
        (1, 1, "second one"),
        # the whitespace-only middle split collapses to "" and is dropped
        # (greedy \n{2,} merges the triple newline into one separator)
        (1, 3, "third"),
        (2, 0, "single paragraph only"),
    ]


def test_paragraph_stream_block_mode_tail(spark):
    """Block mode keeps the partial tail block and preserves token order."""
    from date_warehouse___airline_project_spark.operators.text_dedup import (
        paragraph_stream,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f g")], "doc_id long, text string"
    )
    rows = sorted(
        (r["_para_idx"], r["_ptxt"])
        for r in paragraph_stream(docs, "doc_id", "text", block_tokens=3).collect()
    )
    assert rows == [(0, "a b c"), (1, "d e f"), (2, "g")]


def test_fingerprint_session_is_pid_pinned(monkeypatch):
    # A leaked/inherited SPARK_GRAFT_PLAN_FINGERPRINT must NOT truncate
    # iterative plans in a session that executes them: only the process
    # that set the variable to its OWN pid is a fingerprint session.
    import os

    from date_warehouse___airline_project_spark.operators.text_dedup import (
        fingerprint_session,
    )

    monkeypatch.delenv("SPARK_GRAFT_PLAN_FINGERPRINT", raising=False)
    assert not fingerprint_session()
    monkeypatch.setenv("SPARK_GRAFT_PLAN_FINGERPRINT", "1")  # leaked form
    assert not fingerprint_session()
    monkeypatch.setenv("SPARK_GRAFT_PLAN_FINGERPRINT", str(os.getpid() + 1))
    assert not fingerprint_session()
    monkeypatch.setenv("SPARK_GRAFT_PLAN_FINGERPRINT", str(os.getpid()))
    assert fingerprint_session()
