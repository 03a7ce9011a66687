#!/bin/sh
# One-shot verification: unit+e2e tests, full oracle gate at two SFs,
# plan-shape audit. Mirrors what the external driver and judge check.
set -e
cd "$(dirname "$0")/.."
# tier-1 under the same time bound and environment as the ROADMAP
# tier-1 command, so a run that would be killed there fails here too
SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
    timeout -k 10 2670 python -m pytest tests/ -q -p no:cacheprovider --durations=25
# The benchmark reads package internals (similarity._KMEANS_MEMO,
# text_dedup._DERIVED_CACHE, set_memo_instrumentation,
# drain_memo_timings) and wraps four names on the clean_file module
# (safe_upsert, write_quarantine_csv, append_log, read_csv_all_string);
# its fast tests catch a rename before a benchmark run would report it
# as failed operations. They never call bench.py. The operations workload
# also relies on run_eligibility_stream(..., available_now=False,
# source=kafka_log_messages_source(...)), KafkaLogProducer(root,
# n_partitions=2).send, and audit and results directories that pyarrow
# can read, with columns batch_id, raw_value, passenger_id, eligible,
# reason and delay_minutes.
python -m pytest perfbench/test_perfbench.py -q
# The fast tests above plant fewer rows than a benchmark upload. One
# full-size run of each workload checks its results against what it
# expects (operations: every quarantine reason count and staged key
# against what its generator planted; queries: every result against its
# DuckDB oracle); each fails unless the run's last stdout line reports
# "correct": true.
python3 perfbench/run.py --workload operations --seed 7 --seconds 10 2>/dev/null \
    | tail -n 1 | grep -q '"correct": true'
python3 perfbench/run.py --workload queries --seed 7 --seconds 10 2>/dev/null \
    | tail -n 1 | grep -q '"correct": true'
python tools/oracle_check.py /root/testdata/sf0.001
python tools/oracle_check.py /root/testdata/sf0.01
python tools/plan_audit.py
# The committed fingerprint baseline must describe the committed code:
# recert --check exits 1 if any query's plan/oracle/source fingerprint
# drifted since plan_hashes.json was last regenerated (regenerate it as
# the LAST step before a snapshot commit).
python tools/recert.py --check
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 python bench.py 2>/dev/null | tail -1
