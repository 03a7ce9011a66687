"""The workloads. Each takes a ``Run`` (session, tracer, work dir, seed,
seconds), drives the package's public functions from this process, and
returns its end-to-end samples, per-layer numbers and operation outcomes.
Output checks run between timed spans, never inside them."""

from __future__ import annotations

import itertools
import os
import statistics
import threading
import time
from datetime import datetime, timezone

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen

# The closed-loop query mix; every query has a DuckDB oracle. WAREHOUSE
# queries (relational, tpch_more, subqueries, analytic, temporal, warehouse
# and cleaning families) must never build a session artifact. ARTIFACT
# holds a dedup query that builds its memos in the cold pass and must only
# reuse them after it, and a kNN join on the Arrow cosine grid.
WAREHOUSE = [
    "q1_pricing_summary", "q4_order_priority", "q18_large_volume_customers",
    "cube_returnflag_linestatus", "last_touch_attribution", "late_fact_mv_revision",
    "eligibility_verdicts",
]
ARTIFACT = ["minhash_lsh_dupes", "emb_knn_join"]
TABLES = "region nation customer supplier part orders lineitem events documents embeddings"


def latency_metrics(samples: list[float], p: int) -> dict:
    """Median and the p-th percentile. Each workload fixes its p, so the
    tail is the same statistic on every run: p90 for verdicts (over
    100 samples), p75 for queries (18 or more samples)."""
    return {"op_p50_s": statistics.median(samples),
            "op_tail_s": float(np.percentile(samples, p)),
            "_tail": f"p{p} of {len(samples)}"}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------- queries

def _memo_keys() -> set:
    """Keys of the session artifacts in the package's memo stores: derived
    relations and k-means codebooks. A key that appears is a build."""
    from date_warehouse___airline_project_spark.operators import similarity, text_dedup

    return set(text_dedup._DERIVED_CACHE) | set(similarity._KMEANS_MEMO)


def queries(run) -> dict:
    """Closed loop, one client: a cold pass over the mix in the fresh
    session, then whole steady passes for ``seconds`` (two at least). Each
    pass runs the mix in its own seed-shuffled order, so one order's JIT
    and cache effects do not set a whole run's figures. Every result is
    compared with its DuckDB oracle afterwards."""
    from tools.oracle_check import compare

    from date_warehouse___airline_project_spark import plans
    from date_warehouse___airline_project_spark.operators.text_dedup import (
        drain_memo_timings,
        set_memo_instrumentation,
    )

    data = os.path.join(run.work, "data")
    # sf0.005: 30k lineitem, 7.5k orders, 5k events. Steady queries cost
    # mostly their per-query plan and task-launch constant here.
    sizes = (0.001, 300, 200) if run.tiny else (0.005, 2000, 1000)
    run.generate(gen.gen_tables, data, run.seed, *sizes)
    run.start()
    run.ready()
    spark, tr, sc = run.spark, run.tracer, run.spark.sparkContext
    # traced: memo misses build eagerly and report their seconds. Users run
    # with lazy builds, so the untraced run leaves this off.
    set_memo_instrumentation(tr.on)
    names = WAREHOUSE + ARTIFACT
    rng = np.random.default_rng(run.seed)
    results: list[tuple[str, str, object]] = []  # (call, query, result)
    memo = {"builds": 0, "build_s": 0.0}
    failures: list[tuple[str, str]] = []  # (call, why)

    def one_pass(label: str) -> tuple[float, list[float], dict]:
        lat, stats = [], {}
        order = [str(n) for n in rng.permutation(names)]
        t_pass = time.perf_counter()
        for name in order:
            call = f"{label}:{name}"
            keys = _memo_keys()
            t0 = time.perf_counter()
            try:
                with tr.span("query", call), tr.job_group(sc, name, stats):
                    with tr.span("plans.build"):
                        df = plans.REGISTRY[name].fn(spark, data)
                    tb = time.perf_counter()
                    with tr.span("exec"):
                        pdf = df.toPandas()
                    te = time.perf_counter()
                lat.append(te - t0)
                stats["plans.build_s"] = stats.get("plans.build_s", 0) + tb - t0
                stats["exec_s"] = stats.get("exec_s", 0) + te - tb
                tr.catalyst(df, stats)
                results.append((call, name, pdf))
            except Exception as e:  # noqa: BLE001 - a failed operation, counted
                lat.append(time.perf_counter() - t0)
                failures.append((call, f"{type(e).__name__}: {e}"))
            built = _memo_keys() - keys
            memo["builds"] += len(built)
            if tr.on:
                memo["build_s"] += sum(s for _, s in drain_memo_timings())
            if built and (name in WAREHOUSE or label != "cold"):
                failures.append((call, f"{len(built)} unexpected artifact builds"))
        return time.perf_counter() - t_pass, lat, stats

    cold_s, _, _ = one_pass("cold")
    passes, lats, pass_stats = [], [], []
    t_end = time.perf_counter() + run.seconds
    while len(passes) < 2 or time.perf_counter() + _median(passes) <= t_end:
        wall, lat, stats = one_pass(f"pass{len(passes)}")
        passes.append(wall)
        lats += lat
        pass_stats.append(stats)

    # checks, after the clock: every result against its DuckDB oracle
    import duckdb

    con = duckdb.connect()
    for t in TABLES.split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    oracle = {n: con.sql(plans.REGISTRY[n].oracle).df() for n in names}
    for call, name, pdf in results:
        problems = compare(name, pdf, oracle[name])
        if problems:
            failures.append((call, problems[0]))

    def per_pass(key: str) -> float:
        return _median([s.get(key, 0) for s in pass_stats])

    layers = {
        "plans.build_s": per_pass("plans.build_s"),
        "catalyst.analysis_s": per_pass("analysis_s"),
        "catalyst.optimization_s": per_pass("optimization_s"),
        "catalyst.planning_s": per_pass("planning_s"),
        "catalyst.plan_lines": per_pass("plan_lines"),
        "exec.s": per_pass("exec_s"),
        "exec.jobs": per_pass("jobs"),
        "exec.stages": per_pass("stages"),
        "exec.tasks": per_pass("tasks"),
        "memo.builds": memo["builds"],
        "memo.build_s": memo["build_s"],
    }
    return {
        "e2e": {"cold_pass_s": cold_s, "pass_s": _median(passes), **latency_metrics(lats, 75)},
        "layers": layers,
        "attempted": len(names) * (1 + len(passes)),
        "failed": len({call for call, _ in failures}),
        "failures": [f"{call}: {why}"[:300] for call, why in failures],
        "notes": {"queries": len(names), "passes_s": [round(x, 3) for x in passes]},
    }


# ---------------------------------------------------------- operations

def _dir_bytes(*paths: str) -> int:
    total = 0
    for path in paths:
        for root, _, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _reason_counts(path: str) -> dict:
    import pandas as pd

    if os.path.getsize(path) <= 1:  # the reference writes "\n" for no rows
        return {}
    q = pd.read_csv(path, encoding="utf-8-sig", dtype=str, keep_default_na=False)
    return q["quarantine_reason"].value_counts().to_dict()


def _wrap_sinks(cf, tr, timings: dict) -> dict:
    """Spans around the source and sink calls ``clean_file`` makes, by
    wrapping the names it imported; returns the originals to restore.
    Only the traced run does this."""
    originals = {}
    for name in ("safe_upsert", "write_quarantine_csv", "append_log", "read_csv_all_string"):
        fn = originals[name] = getattr(cf, name)

        def timed(*a, _fn=fn, _name=name, **kw):
            with tr.span(f"sinks.{_name}"):
                t0 = time.perf_counter()
                try:
                    return _fn(*a, **kw)
                finally:
                    timings.setdefault(_name, []).append(time.perf_counter() - t0)

        setattr(cf, name, timed)
    return originals


def _check_upload(summary: dict, exp: dict, ftype: str, staging: str) -> list[str]:
    import date_warehouse___airline_project_spark.pipelines.clean_file as cf

    problems = []
    if summary["rows_in"] != exp["rows_in"]:
        problems.append(f"rows_in {summary['rows_in']} != {exp['rows_in']}")
    if summary["rows_in"] != summary["rows_clean"] + summary["rows_quarantined"]:
        problems.append("rows_in != rows_clean + rows_quarantined")
    reasons = _reason_counts(summary["quarantine_csv"])
    if reasons != exp["reasons"]:
        problems.append(f"reasons {reasons} != {exp['reasons']}")
    key = cf.UPSERT_KEYS[ftype][0]
    staged = pq.read_table(os.path.join(staging, cf.STAGING_TABLES[ftype])).column(key).to_pylist()
    if sorted(staged) != sorted(exp["staged_keys"]):
        problems.append(f"staged {len(staged)} keys, expected {len(exp['staged_keys'])}")
    return problems


def _check_warehouse(out: dict, plan: gen.UploadPlan, cycle: int) -> list[str]:
    import pyarrow.compute as pc

    keys = len(plan.staged["transactions"])
    dim, fact = pq.read_table(out["dim"]), pq.read_table(out["fact"])
    current = pc.sum(dim.column("_is_current")).as_py()
    problems = []
    if pq.read_table(out["prefact"]).num_rows != keys or current != keys:
        problems.append(f"prefact/current dim rows != {keys} staged keys")
    if dim.num_rows - current != plan.closed_total(cycle):
        problems.append(f"{dim.num_rows - current} closed versions, "
                        f"expected {plan.closed_total(cycle)}")
    if fact.num_rows != keys or fact.column("booking_sales_sk").null_count:
        problems.append("fact rows or surrogate keys wrong")
    return problems


class _Ingest:
    """Upload units: one dirty CSV of one type through ``clean_file``, or
    one ``pipelines.warehouse`` batch over the staged transactions. The
    first upload of a type inserts and the first batch runs ``scd2_init``;
    every later upload overlaps the staged keys, so it takes the
    ``safe_upsert`` merge path, and every later batch takes
    ``scd2_merge``."""

    def __init__(self, run) -> None:
        from date_warehouse___airline_project_spark.pipelines.warehouse import WarehouseConfig

        self.run = run
        self.dirs = {d: os.path.join(run.work, d)
                     for d in ("in", "staging", "quarantine", "logs", "wh")}
        for d in self.dirs.values():
            os.makedirs(d, exist_ok=True)
        # 50 flights or passengers a file; 300 transactions, like the
        # reference's 300-row sales upload
        self.plan = gen.UploadPlan(run.seed, size=30 if run.tiny else 50)
        money = ("ticketprice", "taxes", "baggagefees", "totalamount")
        self.cfg = WarehouseConfig(
            subject="booking_sales", natural_key=("transactionid",),
            tracked=("passengerid", "flightid", "ticketprice"), measures=money,
            type_map={c: "decimal(10,2)" for c in money})
        self.failures: list[str] = []
        kinds = (*gen.UPLOAD_TYPES, "warehouse")
        self.batch = {k: 0 for k in kinds}  # the next batch number of each kind
        self.times: dict[str, list[float]] = {k: [] for k in kinds}
        self.stats: dict = {}  # jobs and tasks of all uploads (traced run)
        self.layer: dict[str, list[float]] = {k: [] for k in ("prefact", "dim", "fact")}
        self.sinks: dict[str, list[float]] = {}
        self.rows_in = self.rows_clean = self.csv_bytes = self.written = 0
        self.attempted, self.busy, self.dim_path = 0, 0.0, None

    def unit(self, kind: str) -> float:
        b = self.batch[kind]
        self.batch[kind] += 1
        dt = self._warehouse_batch(b) if kind == "warehouse" else self._upload(kind, b)
        self.busy += dt
        self.times[kind].append(dt)
        return dt

    def _upload(self, ftype: str, b: int) -> float:
        import date_warehouse___airline_project_spark.pipelines.clean_file as cf

        spark, tr, d = self.run.spark, self.run.tracer, self.dirs
        outputs = (d["staging"], d["quarantine"], d["logs"])
        path, exp = self.plan.write(ftype, b, d["in"])
        before = _dir_bytes(*outputs)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span("clean_file", f"b{b}:{ftype}"), \
                    tr.job_group(spark.sparkContext, ftype, self.stats):
                summary = cf.clean_file(spark, path, ftype, d["staging"], d["quarantine"],
                                        d["logs"])
        except Exception as e:  # noqa: BLE001 - a failed operation, counted
            self.failures.append(f"clean_file {ftype} b{b}: {type(e).__name__}: {e}"[:300])
            return time.perf_counter() - t0
        dt = time.perf_counter() - t0
        problems = _check_upload(summary, exp, ftype, d["staging"])
        if problems:
            self.failures.append(f"clean_file {ftype} b{b}: {problems}"[:300])
        self.rows_in += summary["rows_in"]
        self.rows_clean += summary["rows_clean"]
        self.csv_bytes += exp["csv_bytes"]
        self.written += max(_dir_bytes(*outputs) - before, 0)
        return dt

    def _warehouse_batch(self, c: int) -> float:
        import date_warehouse___airline_project_spark.pipelines.clean_file as cf
        from date_warehouse___airline_project_spark.pipelines.warehouse import (
            dim_to_fact,
            prefact_to_dim,
            stage_to_prefact,
        )

        spark, tr, cfg = self.run.spark, self.run.tracer, self.cfg
        staged = os.path.join(self.dirs["staging"], cf.STAGING_TABLES["transactions"])
        out = {k: os.path.join(self.dirs["wh"], f"{k}_{c:03d}") for k in ("prefact", "dim", "fact")}
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span("warehouse.batch", f"b{c}:warehouse"):
                with tr.span("warehouse.prefact"):
                    stage_to_prefact(spark.read.parquet(staged), cfg).write.parquet(out["prefact"])
                tp = time.perf_counter()
                prefact = spark.read.parquet(out["prefact"])
                with tr.span("warehouse.dim"):
                    dim = spark.read.parquet(self.dim_path) if self.dim_path else None
                    prefact_to_dim(dim, prefact, cfg, f"2025-01-{c + 1:02d} 00:00:00") \
                        .write.parquet(out["dim"])
                td = time.perf_counter()
                with tr.span("warehouse.fact"):
                    dim_to_fact(prefact, spark.read.parquet(out["dim"]), cfg) \
                        .write.parquet(out["fact"])
                tf = time.perf_counter()
        except Exception as e:  # noqa: BLE001
            self.failures.append(f"warehouse b{c}: {type(e).__name__}: {e}"[:300])
            return time.perf_counter() - t0
        if c > 0:  # the scd2_merge path
            for k, v in (("prefact", tp - t0), ("dim", td - tp), ("fact", tf - td)):
                self.layer[k].append(v)
        problems = _check_warehouse(out, self.plan, c)
        if problems:
            self.failures.append(f"warehouse b{c}: {problems}"[:300])
        self.dim_path = out["dim"]
        return tf - t0

    def layers(self) -> dict:
        n = max(sum(len(self.times[t]) for t in gen.UPLOAD_TYPES), 1)
        return {
            "clean_file.jobs": self.stats.get("jobs", 0) / n,
            "clean_file.tasks": self.stats.get("tasks", 0) / n,
            **{f"clean_file.s.{t}": _median(self.times[t]) for t in gen.UPLOAD_TYPES},
            "clean_file.clean_ratio": self.rows_clean / max(self.rows_in, 1),
            "sinks.upsert_s": _median(self.sinks.get("safe_upsert", [])),
            "sinks.write_amp": self.written / max(self.csv_bytes, 1),
            "warehouse.prefact_s": _median(self.layer["prefact"]),
            "warehouse.dim_s": _median(self.layer["dim"]),
            "warehouse.fact_s": _median(self.layer["fact"]),
            "warehouse.batch_s": _median(self.times["warehouse"][1:]),
            "etl.rows_per_s": self.rows_in / max(self.busy, 1e-9),
        }


# Eligibility messages per second, open loop: the rate at which the stream
# was measured to keep up (median micro-batch 1.65 s) on a 4-core host.
RATE = 20.0


def _epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


class _Producer(threading.Thread):
    """Open-loop generator: message i is due at t0 + i / RATE and is sent
    then, however far behind the stream is, until ``stop`` is set."""

    def __init__(self, producer, msgs: gen.MessageStream) -> None:
        super().__init__(daemon=True)
        self.producer, self.msgs = producer, msgs
        self.stop = threading.Event()
        self.sent: list[dict] = []
        self.send_s: list[float] = []
        self.late_s: list[float] = []

    def run(self) -> None:
        t0 = time.time()
        for i in itertools.count():
            due = t0 + i / RATE
            pause = due - time.time()
            if self.stop.wait(max(pause, 0.0)):
                break
            v, exp = self.msgs.next()
            ts = time.perf_counter()
            self.producer.send("requests", v)
            self.send_s.append(time.perf_counter() - ts)
            self.late_s.append(max(time.time() - due, 0.0))
            self.sent.append({"value": v, "expected": exp, "due": due})


def _check_stream(sent: list[dict], audit: str, results: str, progress) -> tuple:
    """One audit row per message, one verdict equal to the generator's
    per eligibility check. Returns (failures, verdict latencies, batch of
    each measured message)."""
    aud = pq.read_table(audit).select(["batch_id", "raw_value"]).to_pylist()
    res = pq.read_table(results).to_pylist()
    batch_of: dict[str, list[int]] = {}
    for r in aud:
        batch_of.setdefault(r["raw_value"], []).append(r["batch_id"])
    verdicts: dict[str, list[dict]] = {}
    for r in res:
        verdicts.setdefault(r["passenger_id"], []).append(r)
    ends = {p.batchId: _epoch(p.timestamp) + p.batchDuration / 1000.0 for p in progress}
    failures, lat, measured_batches = [], [], set()
    for m in sent:
        batches = batch_of.get(m["value"], [])
        if len(batches) != 1:
            failures.append(f"{len(batches)} audit rows for {m['value'][:60]}")
            continue
        if m["due"] is not None:
            measured_batches.add(batches[0])
        exp = m["expected"]
        if exp is None:
            continue
        got = verdicts.get(exp[0], [])
        if len(got) != 1 or (got[0]["eligible"], got[0]["reason"],
                             got[0]["delay_minutes"]) != exp[1:]:
            failures.append(f"verdict for {exp[0]}: {got[:1]} != {exp[1:]}"[:300])
        elif m["due"] is not None:
            lat.append(ends[batches[0]] - m["due"])
    return failures, lat, measured_batches, ends


def operations(run) -> dict:
    """The operator and the traveller at once. Set-up ends when
    ``run_eligibility_stream`` has served its first micro-batch over the
    kafkalog topic. The cold pass, with the stream idle, uploads the five
    types and runs the first warehouse batch. Then, for ``seconds`` and at
    least twice, an incremental load (an overlapping transactions upload
    and a warehouse batch) repeats while an open loop sends eligibility
    messages at RATE, so verdicts are timed against steady ingest."""
    from date_warehouse___airline_project_spark.sources.kafka_log import KafkaLogProducer
    from date_warehouse___airline_project_spark.streaming.eligibility_stream import (
        kafka_log_messages_source,
        run_eligibility_stream,
    )

    flights_path = os.path.join(run.work, "flights.parquet")
    expected_flights = run.generate(gen.gen_flights_table, flights_path, run.seed,
                                    60 if run.tiny else 300)
    run.start()
    spark, tr = run.spark, run.tracer
    log_root, audit, results, ckpt = (
        os.path.join(run.work, d) for d in ("log", "audit", "results", "ckpt"))
    producer = KafkaLogProducer(log_root, n_partitions=2)
    warm = gen.MessageStream(run.seed + 1, expected_flights, prefix="W")
    sent: list[dict] = []
    for _ in range(20):
        v, exp = warm.next()
        producer.send("requests", v)
        sent.append({"value": v, "expected": exp, "due": None})
    # keep every micro-batch's progress for the latency join
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
    with tr.span("streaming.start", "setup"):
        src = kafka_log_messages_source(spark, log_root, "requests")
        query = run_eligibility_stream(spark, "unused", spark.read.parquet(flights_path),
                                       audit, results, ckpt, available_now=False, source=src)
        query.processAllAvailable()  # the first micro-batch
    run.ready()

    import date_warehouse___airline_project_spark.pipelines.clean_file as cf

    ingest = _Ingest(run)
    originals = _wrap_sinks(cf, tr, ingest.sinks) if tr.on else {}
    gen_thread = _Producer(producer, gen.MessageStream(run.seed, expected_flights))
    try:
        cold_s = sum(ingest.unit(kind) for kind in (*gen.UPLOAD_TYPES, "warehouse"))
        gen_thread.start()
        loads: list[float] = []
        t_end = time.perf_counter() + run.seconds
        while len(loads) < 2 or time.perf_counter() + _median(loads) <= t_end:
            loads.append(ingest.unit("transactions") + ingest.unit("warehouse"))
    finally:
        gen_thread.stop.set()
        if gen_thread.is_alive():
            gen_thread.join()
        for name, fn in originals.items():
            setattr(cf, name, fn)
    with tr.span("streaming.drain"):
        query.processAllAvailable()
    progress = [p for p in query.recentProgress if p.numInputRows > 0]
    query.stop()
    producer.close()

    sent += gen_thread.sent
    failures, lat, measured_ids, ends = _check_stream(sent, audit, results, progress)
    measured = sorted((p for p in progress if p.batchId in measured_ids), key=lambda p: p.batchId)
    # backlog: messages due before a batch ended that no batch had read yet
    dues = sorted(m["due"] for m in gen_thread.sent)
    done, lag = 0, 0
    for p in measured:
        lag = max(lag, sum(1 for d in dues if d <= ends[p.batchId]) - done)
        done += p.numInputRows
    stream_layers = {
        "kafka_log.send_ms": 1000 * _median(gen_thread.send_s),
        "generator.late_ms": 1000 * max(gen_thread.late_s, default=0.0),
        "stream.batches": len(measured),
        "stream.batch_s": _median([p.batchDuration / 1000.0 for p in measured]),
        "stream.add_batch_s": _median([p.durationMs.get("addBatch", 0) / 1000 for p in measured]),
        "stream.planning_s": _median([p.durationMs.get("queryPlanning", 0) / 1000
                                      for p in measured]),
        "stream.rows_per_batch": _median([p.numInputRows for p in measured]),
        "stream.lag_msgs": lag,
        "stream.first_batch_s": progress[0].batchDuration / 1000.0,
    }
    failures = ingest.failures + failures
    return {
        "e2e": {"cold_pass_s": cold_s, "pass_s": _median(loads), **latency_metrics(lat, 90)},
        "layers": {**ingest.layers(), **stream_layers},
        "attempted": ingest.attempted + len(gen_thread.sent),
        "failed": len(failures),
        "failures": failures,
        "notes": {"loads_s": [round(x, 3) for x in loads],
                  "messages": len(gen_thread.sent), "verdicts": len(lat)},
    }


WORKLOADS = {"queries": queries, "operations": operations}
