"""Fast tests of the benchmark itself, on tiny generated inputs.

    python3 -m pytest perfbench/test_perfbench.py -q

They cover each workload's code path end to end on a shared local
session, confirm that a wrong result is counted as a failed operation,
and check the generators and the tracer. They never run ``bench.py``.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from perfbench import gen, run as runner, workloads
from perfbench.trace import Tracer

ROOT = runner.ROOT


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    base = str(tmp_path_factory.mktemp("perfbench"))
    runner.configure_env(base)  # before the first session in this process
    return base


def make_run(work: str, name: str, trace: bool = False) -> runner.Run:
    d = os.path.join(work, name)
    os.makedirs(d)
    r = runner.Run(seed=3, seconds=0, tracer=Tracer(trace), work=d)
    r.tiny = True
    return r


def test_queries_tiny_all_correct_and_traced(work):
    r = make_run(work, "q", trace=True)
    out = workloads.queries(r)
    assert out["failed"] == 0, out["failures"]
    n = len(workloads.WAREHOUSE) + len(workloads.ARTIFACT)
    assert out["attempted"] == 3 * n  # cold pass + two steady passes
    assert out["layers"]["memo.builds"] > 0
    assert out["layers"]["exec.jobs"] > 0 and out["layers"]["catalyst.plan_lines"] > 0
    assert r.setup_s is not None and out["e2e"]["op_tail_s"] >= out["e2e"]["op_p50_s"]


def test_untraced_run_detects_builds_with_lazy_memos(work, monkeypatch):
    from date_warehouse___airline_project_spark.operators.text_dedup import (
        memo_instrumentation_on,
    )

    monkeypatch.setattr(workloads, "WAREHOUSE", ["minhash_lsh_dupes"])
    monkeypatch.setattr(workloads, "ARTIFACT", [])
    out = workloads.queries(make_run(work, "lazy_q"))
    assert not memo_instrumentation_on()
    # a warehouse query may build nothing: its cold call fails, its steady
    # calls reuse what it built
    assert out["failed"] == 1, out["failures"]
    assert out["failures"][0].startswith("cold:minhash_lsh_dupes: ")
    assert out["failures"][0].endswith("unexpected artifact builds")
    assert out["layers"]["memo.builds"] > 0


def test_wrong_query_result_counts_as_failed(work, monkeypatch):
    from date_warehouse___airline_project_spark import plans

    q = plans.REGISTRY["q1_pricing_summary"]
    monkeypatch.setitem(plans.REGISTRY, q.name, plans.Query(
        q.name, lambda spark, d: q.fn(spark, d).limit(1), q.oracle))
    monkeypatch.setattr(workloads, "WAREHOUSE", ["q1_pricing_summary", "q4_order_priority"])
    monkeypatch.setattr(workloads, "ARTIFACT", [])
    out = workloads.queries(make_run(work, "wrong_q"))
    assert out["failed"] == 3  # q1 in each of the three passes
    assert all(":q1_pricing_summary: row count differs" in f for f in out["failures"])


def test_operations_tiny_all_correct(work):
    out = workloads.operations(make_run(work, "ops", trace=True))
    assert out["failed"] == 0, out["failures"]
    layers = out["layers"]
    assert layers["stream.batches"] > 0 and layers["clean_file.jobs"] > 0
    assert layers["sinks.upsert_s"] > 0 and 0 < layers["clean_file.clean_ratio"] < 1
    # five uploads and a batch, two incremental loads, the messages
    assert out["attempted"] > 10 + 20 and len(out["notes"]["loads_s"]) == 2
    assert out["layers"]["warehouse.dim_s"] > 0  # the scd2_merge batch


def test_wrong_verdicts_and_reasons_count_as_failed(work, monkeypatch):
    real_flights = gen.gen_flights_table

    def flipped(*a):
        return {f: (not e, r, d) for f, (e, r, d) in real_flights(*a).items()}

    real_airlines = gen.UploadPlan.airlines

    def miscounted(self, batch):
        rows, exp = real_airlines(self, batch)
        exp["reasons"] = {**exp["reasons"], "invalid_airlinekey": 99}
        return rows, exp

    monkeypatch.setattr(gen, "gen_flights_table", flipped)
    monkeypatch.setattr(gen.UploadPlan, "airlines", miscounted)
    out = workloads.operations(make_run(work, "wrong_ops"))
    assert any(f.startswith("verdict for") for f in out["failures"])
    assert sum(f.startswith("clean_file airlines") for f in out["failures"]) == 1  # cold only
    assert out["failed"] == len(out["failures"])


def test_generators_are_seeded(tmp_path):
    for seed in (1, 1, 2):
        d = tmp_path / f"t{seed}"
        gen.gen_tables(str(d), seed, 0.001, 50, 20)
    a, b, c = (pq.read_table(tmp_path / x / "lineitem.parquet") for x in ("t1", "t1", "t2"))
    assert a.equals(b) and not a.equals(c)
    plans = [gen.UploadPlan(5, 30) for _ in range(2)]
    for t in gen.UPLOAD_TYPES:
        (p1, e1), (p2, e2) = (p.write(t, 0, str(tmp_path)) for p in plans)
        assert e1 == e2
    flights = gen.gen_flights_table(str(tmp_path / "f.parquet"), 5, 40)
    m1, m2 = gen.MessageStream(5, flights), gen.MessageStream(5, flights)
    assert [m1.next() for _ in range(50)] == [m2.next() for _ in range(50)]
    reasons = {e[1] for e in flights.values()}
    assert {"delay_threshold_met", "delay_below_threshold", "missing_time_data",
            "invalid_time_format"} <= reasons


def test_latency_metrics_use_the_fixed_percentile():
    m = workloads.latency_metrics([float(i) for i in range(1, 101)], 90)
    assert m["op_p50_s"] == 50.5 and m["_tail"] == "p90 of 100"
    assert 90 <= m["op_tail_s"] <= 91


def test_tracer_self_time_and_off_mode():
    tr = Tracer(True)
    with tr.span("outer", "c1"):
        with tr.span("inner"):
            pass
    st = tr.self_times()
    assert st["outer"]["self_s"] <= st["outer"]["total_s"]
    assert tr.spans[1][4] == "c1"  # children inherit the call id
    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []
