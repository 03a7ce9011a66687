"""Testdata catalog: the driver-generated TPC-H-ish star schema.

Tables live as one parquet file per table under ``/root/testdata/sf*/``.
Parquet scans get Catalyst predicate pushdown + column pruning for free;
at 100 TB these would be partitioned/ bucketed Delta tables, but the scan
API is identical (``spark.read.parquet`` on a directory).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough (at any SF — they scale sublinearly or are capped)
# to broadcast in joins against the big facts.
SMALL_DIMS = frozenset({"region", "nation", "supplier", "part", "customer"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load ``events`` whose ``ts`` is parquet TIMESTAMP(NANOS).

    Spark has no nanosecond timestamp type; we read nanos as raw int64
    (``legacy.parquet.nanosAsLong`` — set here, not just in our session
    factory, so the query also works under an externally-created session)
    and truncate to microseconds, which matches DuckDB's ns→µs cast.
    Integer DIV, not ``/``: epoch-nanos ≈ 1.7e18 exceeds double precision.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    use = names or TABLES
    return {n: load_table(spark, sf_dir, n) for n in use}


def rebalance_compute(df: DataFrame) -> DataFrame:
    """Spread a CPU-heavy derivation across the cluster when the upstream
    scan cannot (guide §2: parallelize the compute, §6: input split size).

    A single-file, single-row-group parquet input — the local test
    fixtures — plans as ONE scan task no matter how many cores the
    session has, so every map-side expression downstream of the scan
    (hash cascades, regexes, wide aggregate partials) serializes on one
    core. Round-robin repartition to ``defaultParallelism`` fixes that —
    but only when the planned scan parallelism is actually below it: at
    production scale a large table arrives as ≥ cores splits and this
    returns the input unchanged, so no shuffle is ever added where the
    scan already parallelizes (the check costs a physical plan, not a
    job). Call it on a NARROW projection (keys + the columns the
    derivation needs) so the exchange ships metadata, not payloads
    (guide §2.3). Use only where per-row compute dominates — measured
    at the call site — never blanket: the exchange costs ~0.1-0.3 s.

    Aggregation results are partition-order independent (integer/exact
    sums discipline repo-wide), and every consumer that needs an order
    states it explicitly, so round-robin placement never changes a
    declared query's result.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    from ..operators.text_dedup import fingerprint_session

    if fingerprint_session():
        # fingerprint sessions only analyze plans: skip the probe (it
        # pays a physical-planning pass per call) and always include the
        # repartition — at the sf0.001 fingerprint SF every fixture scan
        # plans below defaultParallelism anyway, so the emitted plan
        # shape (hence the committed hashes) is unchanged, just cheaper
        # to produce (r12, per the r11 ADVICE; the machine-dependent
        # Repartition TARGET digit is normalized by recert v4).
        return df.repartition(target)
    # probe the PLANNED partitioning off the internal-row RDD: df.rdd
    # would additionally build the Python-conversion plan on every call
    # (r11 ADVICE) — toRdd() runs the same physical planning without the
    # serializer layer.
    if df._jdf.queryExecution().toRdd().getNumPartitions() >= target:
        return df
    return df.repartition(target)
