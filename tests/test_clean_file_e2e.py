"""End-to-end clean_file tests mirroring the reference's observed behavior
on its dirty sample data: malformed transaction ids repaired by ffill+1,
three date formats normalized, currency parsed, duplicates and
out-of-range ids quarantined; flights fuzzy-corrected against previously
staged dims; run logs appended."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from date_warehouse___airline_project_spark.pipelines.clean_file import clean_file

TRANSACTIONS_CSV = """TransactionID,TransactionDate,PassengerID,FlightID,TicketPrice,Taxes,BaggageFees,TotalAmount
40001,2025-01-15,P10001,AA101,"$1,540.00",$120.00,$50.00,"$1,710.00"
4AN,01/20/2025,P10002,BB202,$300.00,$30.00,$0.00,$330.00
40003,20-Jan-25,P10003,CC303,$200.00,$20.00,$10.00,$230.00
40010,2025-02-01,P10004,DD404,$400.00,$40.00,$20.00,$460.00
40010,2025-02-01,P10004,DD404,$400.00,$40.00,$20.00,$460.00
40005,2025-02-02,P90001,EE505,$500.00,$50.00,$25.00,$575.00
40006,2025-02-03,P10006,FF606,$600.00,$60.00,$30.00,$690.00
"""

AIRLINES_CSV = """AirlineKey,AirlineName,Alliance
AA,American Airlines,oneworld
DL,Delta Air Lines,sky team
UA,United Airlines,Star Alliance
"""

AIRPORTS_CSV = """AirportKey,AirportName
JFK,John F Kennedy
LAX,Los Angeles
ORD,O'Hare
"""

FLIGHTS_CSV = """FlightKey,OriginAirportKey,DestinationAirportKey,AircraftType
AA100,JFK,LAX,boeing 737
AA101,JK,ORD,airbus a320
DK102,LAX,JFK,boeing 777
ZZ999,JFK,JFK,unknown craft
"""


@pytest.fixture()
def dirs(tmp_path):
    for d in ("staging", "quarantine", "logs", "in"):
        (tmp_path / d).mkdir()
    return tmp_path


def _write(dirs, name, content):
    p = dirs / "in" / name
    p.write_text(content)
    return str(p)


def test_transactions_end_to_end(spark, dirs):
    path = _write(dirs, "sales.csv", TRANSACTIONS_CSV)
    s = clean_file(
        spark, path, "transactions", str(dirs / "staging"), str(dirs / "quarantine"),
        str(dirs / "logs"),
    )
    assert s["rows_in"] == 7
    # dup row + out-of-range passenger quarantined; 4AN repaired to 40002
    assert s["rows_clean"] == 5 and s["rows_quarantined"] == 2

    staged = spark.read.parquet(
        str(dirs / "staging" / "staging_facttravelagencysales_source2_agency")
    )
    rows = {r.transactionid: r for r in staged.collect()}
    assert "40002" in rows  # ffill+1 repair of 4AN
    assert rows["40002"].transactiondate == "2025-01-20"  # MM/dd/yyyy normalized
    assert rows["40003"].transactiondate == "2025-01-20"  # dd-MMM-yy normalized
    assert rows["40001"].ticketprice == 1540.0  # currency + thousands strip
    quar = (dirs / "quarantine" / "quarantined_transactions.csv").read_text()
    assert "P90001" in quar and "duplicate" in quar

    logs = spark.read.parquet(str(dirs / "logs" / "etl_process_logs"))
    assert logs.filter(F.col("step_name") == "EXTRACT").count() == 1


def test_flights_fuzzy_against_staged_dims(spark, dirs):
    clean_file(spark, _write(dirs, "al.csv", AIRLINES_CSV), "airlines",
               str(dirs / "staging"), str(dirs / "quarantine"))
    clean_file(spark, _write(dirs, "ap.csv", AIRPORTS_CSV), "airports",
               str(dirs / "staging"), str(dirs / "quarantine"))
    s = clean_file(spark, _write(dirs, "fl.csv", FLIGHTS_CSV), "flights",
                   str(dirs / "staging"), str(dirs / "quarantine"))
    assert s["rows_in"] == 4
    staged = spark.read.parquet(str(dirs / "staging" / "staging_flights"))
    rows = {r.flightkey: r for r in staged.collect()}
    # JK hard-fixed to JFK; aircraft title-cased. DK102 and ZZ999 carry
    # unknown airline prefixes: a 1-edit on a 2-char code scores 50 < 85,
    # so fuzzy cannot repair them (same blind spot that made the reference
    # hard-code JK→JFK) → both quarantined as invalid_airline_prefix.
    assert rows["AA101"].originairportkey == "JFK"
    assert rows["AA100"].aircrafttype == "Boeing 737"
    assert set(rows) == {"AA100", "AA101"}
    assert s["rows_quarantined"] == 2
    quar = (dirs / "quarantine" / "quarantined_flights.csv").read_text()
    assert "invalid_airline_prefix" in quar and "DK102" in quar


def test_upsert_idempotent_reupload(spark, dirs):
    path = _write(dirs, "al.csv", AIRLINES_CSV)
    for _ in range(2):  # re-upload: keyed upsert, no duplicates
        clean_file(spark, path, "airlines", str(dirs / "staging"), str(dirs / "quarantine"))
    staged = spark.read.parquet(str(dirs / "staging" / "staging_airlines"))
    assert staged.count() == 3
    assert {r.alliance for r in staged.collect()} == {"Oneworld", "SkyTeam", "Star Alliance"}


def test_quarantine_csv_byte_parity_with_reference(spark, tmp_path):
    # Golden-bytes pin of write_quarantine_csv against the reference's
    # actual export semantics (cleaning.py:771-779): pandas
    # fillna('').to_csv(index=False, encoding='utf-8-sig') — BOM, header,
    # doubled embedded quotes, empty fields for nulls, trailing newline.
    # The expected bytes are produced BY pandas here, so the pin is to the
    # real engine, not a hand-transcribed literal.
    import pandas as pd

    from date_warehouse___airline_project_spark.sources.sinks import (
        write_quarantine_csv,
    )

    rows = [
        ("40001", "x,y comma", 'he said "hi"', "dup_key"),
        ("40002", None, "plain", "null_field"),
        ("40003", "trailing space ", None, "range"),
    ]
    cols = ["transactionid", "note", "comment", "quarantine_reason"]
    sdf = spark.createDataFrame(rows, cols)
    got_path = tmp_path / "quarantined_transactions.csv"
    write_quarantine_csv(sdf, str(got_path))

    ref_path = tmp_path / "ref.csv"
    pd.DataFrame(rows, columns=cols).fillna("").to_csv(
        ref_path, index=False, encoding="utf-8-sig"
    )
    got, want = got_path.read_bytes(), ref_path.read_bytes()
    assert got.startswith(b"\xef\xbb\xbf")
    assert got == want

    # empty quarantine: the reference writes pd.DataFrame().to_csv
    # (index=False) — exactly one newline, no header, no BOM
    empty_path = tmp_path / "quarantined_empty.csv"
    write_quarantine_csv(sdf.limit(0), str(empty_path))
    ref_empty = tmp_path / "ref_empty.csv"
    pd.DataFrame().to_csv(ref_empty, index=False)
    assert empty_path.read_bytes() == ref_empty.read_bytes() == b"\n"


@pytest.mark.parametrize("n_rows", [0, 2])
def test_quarantine_csv_export_runs_one_job(spark, tmp_path, n_rows):
    # the CSV write is the export's only Spark job: whether the frame had
    # a row is read off the written part file, not asked of Spark again
    from date_warehouse___airline_project_spark.sources.sinks import (
        write_quarantine_csv,
    )

    rows = [(f"4000{i}", "range") for i in range(n_rows)]
    df = spark.createDataFrame(rows, "transactionid string, quarantine_reason string")
    group = f"quarantine-export-{n_rows}"
    sc = spark.sparkContext
    sc.setJobGroup(group, "export")
    try:
        write_quarantine_csv(df, str(tmp_path / "q.csv"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    want = b"\n" if n_rows == 0 else b"\xef\xbb\xbftransactionid,quarantine_reason\n"
    assert (tmp_path / "q.csv").read_bytes().startswith(want)


# --- one-pass counts: edge inputs -------------------------------------------


def test_all_clean_upload_writes_the_empty_quarantine(spark, dirs):
    s = clean_file(spark, _write(dirs, "al.csv", AIRLINES_CSV), "airlines",
                   str(dirs / "staging"), str(dirs / "quarantine"))
    assert (s["rows_in"], s["rows_clean"], s["rows_quarantined"]) == (3, 3, 0)
    assert (dirs / "quarantine" / "quarantined_airlines.csv").read_bytes() == b"\n"


def test_all_quarantined_upload_stages_no_row(spark, dirs):
    bad = "AirlineKey,AirlineName,Alliance\nA,One,oneworld\nTOOLONG,Two,oneworld\n"
    s = clean_file(spark, _write(dirs, "al.csv", bad), "airlines",
                   str(dirs / "staging"), str(dirs / "quarantine"))
    assert (s["rows_in"], s["rows_clean"], s["rows_quarantined"]) == (2, 0, 2)
    assert spark.read.parquet(str(dirs / "staging" / "staging_airlines")).count() == 0
    quar = (dirs / "quarantine" / "quarantined_airlines.csv").read_text(encoding="utf-8-sig")
    assert quar.count("invalid_airlinekey") == 2


def test_header_only_upload(spark, dirs):
    s = clean_file(spark, _write(dirs, "al.csv", "AirlineKey,AirlineName,Alliance\n"),
                   "airlines", str(dirs / "staging"), str(dirs / "quarantine"),
                   str(dirs / "logs"))
    assert (s["rows_in"], s["rows_clean"], s["rows_quarantined"]) == (0, 0, 0)
    assert (dirs / "quarantine" / "quarantined_airlines.csv").read_bytes() == b"\n"


def test_null_checks_export_their_reason(spark, dirs):
    # empty CSV fields read as null: each quarantined row's reason is the
    # check its null failed, never an empty field
    import pandas as pd

    csv = ("PassengerKey,FullName,Email,LoyaltyStatus\n"
           "P00101,Ada Lovelace,ada.lovelace@example.com,Gold\n"
           "P00102,,grace@example.com,Gold\n"
           "P00103,Alan Turing,,Gold\n")
    s = clean_file(spark, _write(dirs, "pax.csv", csv), "passengers",
                   str(dirs / "staging"), str(dirs / "quarantine"))
    assert (s["rows_in"], s["rows_clean"], s["rows_quarantined"]) == (3, 1, 2)
    q = pd.read_csv(s["quarantine_csv"], encoding="utf-8-sig", dtype=str,
                    keep_default_na=False)
    assert list(q.columns) == ["passengerkey", "fullname", "email", "loyaltystatus",
                               "quarantine_reason"]
    assert dict(zip(q["passengerkey"], q["quarantine_reason"])) == {
        "P00102": "invalid_fullname", "P00103": "invalid_email"}


# --- storage released ---------------------------------------------------------


def test_clean_file_releases_its_blocks(spark, dirs, monkeypatch):
    import date_warehouse___airline_project_spark.pipelines.clean_file as cf

    def persistent():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    path = _write(dirs, "sales.csv", TRANSACTIONS_CSV)
    args = ("transactions", str(dirs / "staging"), str(dirs / "quarantine"))
    before = persistent()
    clean_file(spark, path, *args, str(dirs / "logs"))
    assert persistent() == before

    def failing_upsert(*a, **kw):
        raise RuntimeError("injected upsert failure")

    monkeypatch.setattr(cf, "safe_upsert", failing_upsert)
    with pytest.raises(RuntimeError, match="injected"):
        clean_file(spark, path, *args)
    assert persistent() == before


# --- safe_upsert failure paths -----------------------------------------------


def _fail_swap_onto(monkeypatch, path, also_restore=False):
    """Make moving a directory onto ``path`` fail: the new state from its
    ``.tmp-*`` dir and, with ``also_restore``, the backup from ``.old-*``."""
    import os
    import shutil

    real_rename = os.rename
    blocked = (".tmp-", ".old-") if also_restore else (".tmp-",)

    def rename(src, dst, *a, **kw):
        if str(dst) == path and any(b in os.path.basename(str(src)) for b in blocked):
            raise OSError("injected rename failure")
        return real_rename(src, dst, *a, **kw)

    def move(src, dst, *a, **kw):  # no copy fallback: a blocked move fails
        rename(src, dst)
        return dst

    monkeypatch.setattr(os, "rename", rename)
    monkeypatch.setattr(shutil, "move", move)


def _table(spark, tmp_path, n=10):
    from date_warehouse___airline_project_spark.sources.sinks import safe_upsert

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(i, f"v{i}") for i in range(n)], "k long, v string")
    assert safe_upsert(df, path, ["k"]) == "inserted"
    return path


def test_safe_upsert_failed_swap_keeps_the_table(spark, tmp_path, monkeypatch):
    import os

    from date_warehouse___airline_project_spark.sources.sinks import safe_upsert

    path = _table(spark, tmp_path)
    batch = spark.createDataFrame([(9, "new9"), (10, "new10")], "k long, v string")
    _fail_swap_onto(monkeypatch, path)
    # the merge cannot be swapped in; the live table is untouched, so the
    # reference's insert fallback appends the batch to it
    assert safe_upsert(batch, path, ["k"]) == "inserted"
    monkeypatch.undo()
    rows = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert rows == sorted([(i, f"v{i}") for i in range(10)] + [(9, "new9"), (10, "new10")])
    assert os.listdir(tmp_path) == ["t"]  # no orphaned .tmp-* or .old-* dir


def test_safe_upsert_unrestorable_swap_raises(spark, tmp_path, monkeypatch):
    import os

    from date_warehouse___airline_project_spark.sources.merge_target import SwapInError
    from date_warehouse___airline_project_spark.sources.sinks import safe_upsert

    path = _table(spark, tmp_path)
    batch = spark.createDataFrame([(9, "new9"), (10, "new10")], "k long, v string")
    _fail_swap_onto(monkeypatch, path, also_restore=True)
    # no fallback append: it would leave a table holding just the batch
    with pytest.raises(SwapInError, match=r"t\.old-"):
        safe_upsert(batch, path, ["k"])
    monkeypatch.undo()
    assert not os.path.exists(path)
    (backup,) = os.listdir(tmp_path)
    assert backup.startswith("t.old-")
    assert spark.read.parquet(str(tmp_path / backup)).count() == 10


# --- append_log -------------------------------------------------------------------


def test_append_log_reads_like_a_spark_written_log(spark, tmp_path):
    import os

    from date_warehouse___airline_project_spark.sources.sinks import append_log

    def rows(tag):
        return [{"step_name": f"{tag}{i}", "status": "SUCCESS", "rows": i} for i in range(3)]

    path = str(tmp_path / "etl_process_logs")
    # a log directory that already holds a part written by Spark
    spark.createDataFrame(rows("spark")).write.mode("append").parquet(path)
    spark_schema = spark.read.parquet(path).schema
    spark_files = set(os.listdir(path))

    append_log(path, rows("a"))
    append_log(path, rows("b"))
    new_files = set(os.listdir(path)) - spark_files
    assert len(new_files) == 2  # one file per call
    assert not [f for f in new_files if f.startswith((".", "_"))]  # no temp left behind

    spark_schema_only = spark.read.parquet(*(os.path.join(path, f) for f in new_files)).schema
    assert spark_schema_only == spark_schema
    got = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    want = sorted(tuple(r[k] for k in sorted(r)) for t in ("spark", "a", "b") for r in rows(t))
    assert got == want

    with pytest.raises(TypeError):
        append_log(path, [{"status": None}])
    with pytest.raises(TypeError):
        append_log(path, [{"rows": 1}, {"rows": "one"}])
    assert set(os.listdir(path)) - spark_files == new_files
