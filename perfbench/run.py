#!/usr/bin/env python3
"""Benchmark for the airline warehouse engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One fresh process per run: it generates its
inputs from ``--seed``, starts a ``local[N]`` session through the
package's ``get_spark`` (N = min(4, cores)), drives one workload, checks
every output, and prints as the last stdout line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. A readable report
goes to stderr. Everything the run writes stays under ``.perfbench/``.

Workloads (``workloads.py``); each times a cold pass in the fresh session,
then steady units while another fits in ``--seconds`` (at least two
query passes, or two incremental loads):
  queries     closed loop, one client, each pass in its own seed-shuffled
              order, on sf0.005 tables (30k lineitem), 2,000 documents
              and 1,000 embeddings: 7 warehouse queries (relational,
              TPC-H, subquery, analytic, temporal, warehouse and cleaning
              families) that must build no session artifact, a dedup
              query that builds its memos in the cold pass and must only
              reuse them afterwards, and a kNN join on the Arrow cosine
              grid. Every result is compared with its DuckDB oracle. A
              pass is one round of the mix.
  operations  ``run_eligibility_stream`` serves the kafkalog topic while
              the operator uploads. The cold pass cleans one dirty CSV of
              each of the five types through ``clean_file`` (300
              transactions, 50 flights or passengers) and runs the first
              ``pipelines.warehouse`` batch. A steady unit is an
              incremental load: an overlapping transactions upload (the
              upsert-merge path) and a warehouse batch (SCD2 merge).
              During the steady units an open loop sends eligibility
              messages at 20 msg/s.

End-to-end metrics (``--trace 0``), the same names on both workloads:
  setup_s      process start to ready: JVM, package import, warm-up, and
               for operations the stream's first micro-batch. Input
               generation is excluded.
  cold_pass_s  the cold pass.
  pass_s       the median steady unit: query pass or incremental load.
  op_p50_s     median latency of one steady query, or of one verdict timed
               from when its message was due to the end of the
               micro-batch that wrote it.
  op_tail_s    a fixed percentile of the same samples: p75 of the 18 or
               more query samples, p90 of the 100 or more verdicts. The
               report names it and the sample count.

``--trace 1`` runs the same workload with spans and Spark probes around
each layer call and prints the per-layer metrics (``LAYERS``) instead;
metrics of layers a workload does not touch read 0. The span file with
self times lands in ``.perfbench/traces/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEADLINE_S = 170  # a run must end within 180 s

E2E = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "op_p50_s": "s", "op_tail_s": "s"}
LAYERS = {
    "session.start_s": "s", "session.import_s": "s", "session.warmup_s": "s",
    "plans.build_s": "s", "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "catalyst.plan_lines": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "memo.builds": "count", "memo.build_s": "s", "storage.cached_mb": "MB",
    "clean_file.jobs": "count", "clean_file.tasks": "count",
    "clean_file.s.airlines": "s", "clean_file.s.airports": "s", "clean_file.s.flights": "s",
    "clean_file.s.passengers": "s", "clean_file.s.transactions": "s",
    "clean_file.clean_ratio": "ratio", "sinks.upsert_s": "s", "sinks.write_amp": "ratio",
    "warehouse.prefact_s": "s", "warehouse.dim_s": "s", "warehouse.fact_s": "s",
    "warehouse.batch_s": "s", "etl.rows_per_s": "1/s",
    "kafka_log.send_ms": "ms", "generator.late_ms": "ms", "stream.batches": "count",
    "stream.batch_s": "s", "stream.add_batch_s": "s", "stream.planning_s": "s",
    "stream.rows_per_batch": "count", "stream.lag_msgs": "count", "stream.first_batch_s": "s",
    "host.calib_s": "s", "trace.overhead_s": "s",
}


class Run:
    """What a workload sees: seed, measuring time, tracer, a private work
    directory inside the checkout, and the session once ``start`` ran."""

    def __init__(self, seed: int, seconds: int, tracer, work: str) -> None:
        self.seed, self.seconds, self.tracer, self.work = seed, seconds, tracer, work
        self.spark = None
        self.tiny = False  # the fast tests' input sizes
        self.session: dict[str, float] = {}
        self.setup_s = None
        self._untimed = time.perf_counter() - T_START  # argument parsing, env

    def start(self) -> None:
        """Start the session as a user does: ``get_spark``, load the plan
        registry, and warm the JVM with one small job. Python workers start
        on first use, inside the workload."""
        tr = self.tracer
        with tr.span("session.start", "setup"):
            t0 = time.perf_counter()
            from date_warehouse___airline_project_spark.session import get_spark

            self.spark = get_spark("perfbench")
            self.session["session.start_s"] = time.perf_counter() - t0
        with tr.span("session.import", "setup"):
            t0 = time.perf_counter()
            from date_warehouse___airline_project_spark import plans

            plans.load_all()
            self.session["session.import_s"] = time.perf_counter() - t0
        with tr.span("session.warmup", "setup"):
            t0 = time.perf_counter()
            spark = self.spark
            spark.range(4096).selectExpr("id % 16 AS k").groupBy("k").count().collect()
            self.session["session.warmup_s"] = time.perf_counter() - t0

    def untimed(self, seconds: float) -> None:
        self._untimed += seconds

    def generate(self, fn, *args):
        """Make inputs; the time it takes is not set-up time."""
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.untimed(time.perf_counter() - t0)

    def ready(self) -> None:
        self.setup_s = time.perf_counter() - T_START - self._untimed


def parse_args() -> argparse.Namespace:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def configure_env(work: str) -> None:
    """Keep every file the run writes inside the checkout and make the
    package importable by Spark's Python workers."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = min(4, os.cpu_count() or 1)
    os.environ.update({
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp}"),
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]),
    })
    tempfile.tempdir = None


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def report(args, out: dict, e2e: dict, metrics: dict, tracer, calib: list[float]) -> None:
    lines = [f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
             f"trace={args.trace}: attempted={out['attempted']} failed={out['failed']} "
             f"calibration kernel at start/end: {calib[0]:.4f}/{calib[1]:.4f} s"]
    for k, v in metrics.items():
        lines.append(f"  {k:28s} {v['value']:14.6f} {v['unit']}")
    lines.append(f"  op_tail_s is the {e2e.pop('_tail')}; {out.get('notes')}")
    if tracer.on:
        # the same run's end-to-end figures; their excess over an untraced
        # run of the same seed is the tracing overhead
        lines.append("  end-to-end under tracing: "
                     + ", ".join(f"{k}={v:.4f}" for k, v in e2e.items()))
        rows = sorted(tracer.self_times().items(), key=lambda kv: -kv[1]["self_s"])
        lines.append("  span self time (s), total (s), calls:")
        lines += [f"    {n:24s} {r['self_s']:9.3f} {r['total_s']:9.3f} {r['calls']:5d}"
                  for n, r in rows]
    lines += [f"  FAILED: {f}" for f in out["failures"][:20]]
    print("\n".join(lines), file=sys.stderr)


def _deadline(*_) -> None:
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main() -> int:
    sys.path.insert(0, ROOT)
    args = parse_args()
    # Spark and its JVM may write to fd 1; keep it for the result line only
    result_fd = os.dup(1)
    os.dup2(2, 1)
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)

    from perfbench.trace import Tracer, cached_mb, calibrate
    from perfbench.workloads import WORKLOADS

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work)
    tracer = Tracer(bool(args.trace))
    run = Run(args.seed, args.seconds, tracer, work)
    calib = [calibrate()]
    run.untimed(calib[0])
    try:
        out = WORKLOADS[args.workload](run)
        out["layers"]["storage.cached_mb"] = cached_mb(run.spark)
    finally:
        if run.spark is not None:
            stop_session(run.spark)
        calib.append(calibrate())
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
    if run.setup_s is None:
        raise RuntimeError("workload never became ready")

    e2e = {"setup_s": run.setup_s, **out["e2e"]}
    if args.trace:
        layers = {**run.session, **out["layers"], "host.calib_s": sum(calib) / 2,
                  "trace.overhead_s": tracer.overhead_s}
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in LAYERS.items()}
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        tracer.dump(os.path.join(base, "traces", f"{args.workload}-{args.seed}.json"),
                    {"workload": args.workload, "seed": args.seed, "calib_s": calib,
                     "metrics": {k: v["value"] for k, v in metrics.items()}})
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E.items()}
    report(args, out, e2e, metrics, tracer, calib)
    result = {"correct": out["failed"] == 0, "attempted": int(out["attempted"]),
              "failed": int(out["failed"]), "metrics": metrics}
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - no result line on any failure
        traceback.print_exc()
        sys.exit(1)
