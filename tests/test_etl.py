"""Behavioral tests for the bronze→silver→gold ETL pipeline — ports of
the reference's unittest suite (SURVEY.md §5: transformer/loader cases)
re-asserted at the DataFrame level.
"""

from __future__ import annotations

import pytest

import datetime as dt
import json
import os
import uuid

import pyarrow.parquet as pq
from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from covid_weather_etl_spark import schemas as S
from covid_weather_etl_spark.etl import pipeline as P


def write_envelope(directory: str, file_name: str, entries: list) -> str:
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, file_name)
    with open(path, "w") as f:
        json.dump({"data": entries}, f, indent=2)
    return path


def weather_entry(date="2021-04-01", **overrides) -> dict:
    e = {"date": date, "tavg": 10.0, "tmin": 5.0, "tmax": 15.0, "prcp": 0.5,
         "snow": 0.0, "wdir": 180.0, "wspd": 12.0, "wpgt": 20.0,
         "pres": 1015.0, "tsun": 60.0}
    e.update(overrides)
    return e


def covid_entry(date="2021-04-01", **overrides) -> dict:
    e = {"date": date, "confirmed": 100, "deaths": 2, "recovered": 50,
         "confirmed_diff": 10, "deaths_diff": 0, "recovered_diff": 5,
         "active": 48, "active_diff": 5, "fatality_rate": 0.02,
         "last_update": "2021-04-01 10:00:00", "region": "NA"}
    e.update(overrides)
    return e


@pytest.fixture
def lake(tmp_path):
    return P.Lake(str(tmp_path / "lake"))


def stage_dir(tmp_path) -> str:
    return str(tmp_path / "staging" / "batch_1700000000")


def first_parquet(directory: str) -> str:
    name = next(n for n in sorted(os.listdir(directory)) if n.endswith(".parquet"))
    return os.path.join(directory, name)


def written_nullability(directory: str) -> dict[str, bool]:
    """Column → nullable, as the parquet footer of one file records it
    (a Spark read reports every column nullable)."""
    return {f.name: f.nullable for f in pq.read_schema(first_parquet(directory))}


# --- transformer semantics (reference tests/test_transformer.py) -----------

@pytest.mark.slow
def test_weather_imputation_and_load(spark, tmp_path, lake):
    """snow/tsun null → 0.0 (reference :90-106); happy path loads all."""
    d = stage_dir(tmp_path)
    write_envelope(d, "MDA_WEATHER_2021-04-01",
                   [weather_entry(snow=None, tsun=None)])
    write_envelope(d, "MDA_WEATHER_2021-04-02",
                   [weather_entry(date="2021-04-02")])
    res = P.run_batch(spark, f"{d}/*", lake, "weather", 1700000000)
    assert res.n_files == 2 and res.n_error_files == 0
    assert res.n_loaded == 2 and not res.high_error_alert
    gold = spark.read.parquet(lake.path("gold", "weather"))
    row = gold.filter(F.col("date") == "2021-04-01 00:00:00").collect()[0]
    assert row["snow"] == 0.0 and row["tsun"] == 0.0
    assert row["country"] == "Moldova"          # MDA → name via dim join
    assert dict(gold.dtypes)["date"] == "timestamp"


def test_covid_drops_metadata_and_date_type(spark, tmp_path, lake):
    """covid transform drops last_update/region, date is DATE
    (reference :65-83; database/schema.py:88)."""
    d = stage_dir(tmp_path)
    write_envelope(d, "DEU_COVID_2021-04-01", [covid_entry()])
    res = P.run_batch(spark, f"{d}/*", lake, "covid", 1700000000)
    assert res.n_loaded == 1
    gold = spark.read.parquet(lake.path("gold", "covid"))
    assert "last_update" not in gold.columns and "region" not in gold.columns
    assert dict(gold.dtypes)["date"] == "date"
    assert gold.collect()[0]["country"] == "Germany"


def test_entry_list_ambiguity(spark, tmp_path):
    """entry may be dict OR [dict] (reference etl/transformer.py:31)."""
    d = stage_dir(tmp_path)
    write_envelope(d, "ITA_WEATHER_2021-04-01", [[weather_entry(tavg=22.5)]])
    bronze = P.read_staging(spark, f"{d}/*", "weather")
    rows = bronze.collect()
    assert len(rows) == 1 and rows[0]["tavg"] == 22.5


def test_corrupt_file_quarantined_whole(spark, tmp_path, lake):
    """ONE bad entry poisons the whole file; good files still process
    (reference :113-131, whole-file granularity :40,57-60)."""
    d = stage_dir(tmp_path)
    write_envelope(d, "MDA_WEATHER_2021-04-01",
                   [weather_entry(), weather_entry(date="2021-04-02", tavg=None)])
    write_envelope(d, "DEU_WEATHER_2021-04-01", [weather_entry()])
    res = P.run_batch(spark, f"{d}/*", lake, "weather", 1700000000)
    assert res.n_files == 2 and res.n_error_files == 1
    assert res.n_loaded == 1                     # only DEU's file
    q = spark.read.parquet(lake.path("quarantine", "weather"))
    assert q.count() == 2                        # BOTH entries of the bad file
    tlog = spark.read.parquet(lake.path("logs", "transform"))
    statuses = {r["source_file"]: r["status"] for r in tlog.collect()}
    assert statuses["MDA_WEATHER_2021-04-01"] == "Error"
    assert statuses["DEU_WEATHER_2021-04-01"] == "Processed"


def test_covid_any_null_rejects(spark, tmp_path, lake):
    """covid: ANY null field rejects the file (reference :35-40)."""
    d = stage_dir(tmp_path)
    write_envelope(d, "ITA_COVID_2021-04-01", [covid_entry(recovered=None)])
    res = P.run_batch(spark, f"{d}/*", lake, "covid", 1700000000)
    assert res.n_error_files == 1 and res.n_loaded == 0


def test_high_error_rate_alert(spark, tmp_path, lake):
    """error rate ≥50% → critical alert, '50.0%' (reference :157-180,
    199-219 'Error percentage: 50.00% (1 out of 2)')."""
    d = stage_dir(tmp_path)
    write_envelope(d, "MDA_WEATHER_2021-04-01", [weather_entry(pres=None)])
    write_envelope(d, "DEU_WEATHER_2021-04-01", [weather_entry()])
    res = P.run_batch(spark, f"{d}/*", lake, "weather", 1700000000)
    assert res.error_rate_pct == 50.0 and res.high_error_alert


def test_empty_worklist(spark, tmp_path, lake):
    """empty staging dir → clean no-op (reference :185-192)."""
    res = P.run_batch(spark, str(tmp_path / "nowhere" / "*"), lake,
                      "weather", 1700000000)
    assert res.n_files == 0 and not res.high_error_alert


# --- loader semantics (reference tests/test_loader.py) ---------------------

def test_duplicate_load_skipped(spark, tmp_path, lake):
    """re-running the same batch loads 0, skips as duplicates
    (reference :67-78 duplicate → skip insert, still Success)."""
    d = stage_dir(tmp_path)
    write_envelope(d, "MDA_WEATHER_2021-04-01", [weather_entry()])
    r1 = P.run_batch(spark, f"{d}/*", lake, "weather", 1700000000)
    r2 = P.run_batch(spark, f"{d}/*", lake, "weather", 1700000001)
    assert r1.n_loaded == 1
    assert r2.n_loaded == 0 and r2.n_skipped_duplicates >= 1
    assert spark.read.parquet(lake.path("gold", "weather")).count() == 1


def test_in_batch_duplicates_collapse(spark, tmp_path, lake):
    """duplicate natural keys within one batch load once
    (reference :161-174 duplicate paths deduped)."""
    d = stage_dir(tmp_path)
    write_envelope(d, "MDA_WEATHER_2021-04-01", [weather_entry()])
    write_envelope(d, "MDA_WEATHER_2021-04-01b", [weather_entry()])
    res = P.run_batch(spark, f"{d}/*", lake, "weather", 1700000000)
    assert res.n_loaded == 1 and res.n_skipped_duplicates == 1
    assert written_nullability(lake.path("logs", "load")) == {
        f.name: f.nullable for f in S.LOAD_LOG_SCHEMA.fields}
    assert written_nullability(lake.path("gold", "weather")) == {
        f.name: f.name != "id" for f in S.WEATHER_SCHEMA.fields}


@pytest.mark.slow
def test_ids_continue_across_batches(spark, tmp_path, lake):
    """surrogate ids continue from max(gold.id) (get_or_create analog)."""
    d1, d2 = stage_dir(tmp_path), str(tmp_path / "staging" / "batch_2")
    write_envelope(d1, "MDA_WEATHER_2021-04-01", [weather_entry()])
    write_envelope(d2, "MDA_WEATHER_2021-04-02",
                   [weather_entry(date="2021-04-02")])
    P.run_batch(spark, f"{d1}/*", lake, "weather", 1)
    P.run_batch(spark, f"{d2}/*", lake, "weather", 2)
    ids = sorted(r["id"] for r in
                 spark.read.parquet(lake.path("gold", "weather")).collect())
    assert ids == [1, 2]


# --- incremental cursor (reference dags/etl_dag.py) ------------------------

def test_cursor_window_and_advance(spark, lake):
    start, end = P.get_window(spark, lake)
    assert (start, end) == ("2021-04-01", "2021-04-30")   # +29 days
    new_start = P.advance_cursor(spark, lake)
    assert new_start == "2021-05-01"
    start2, end2 = P.get_window(spark, lake)
    assert (start2, end2) == ("2021-05-01", "2021-05-30")
    assert written_nullability(lake.path("state", "cursor")) == {"start_date": True}


# --- a broken table raises instead of reading as empty ---------------------

#: how a failed Spark read reaches Python: converted, or the raw py4j error
SPARK_ERRORS = (PySparkException, Py4JJavaError)


def corrupt_one_parquet(directory: str) -> None:
    path = first_parquet(directory)
    with open(path, "wb") as f:
        f.write(b"not a parquet file")
    crc = os.path.join(directory, f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def listing(directory: str) -> list[str]:
    return sorted(os.listdir(directory))


def test_corrupt_gold_raises_and_appends_nothing(spark, tmp_path, lake):
    """An unreadable gold table must fail the batch: read as empty, it
    would restart ids at 1, skip the anti-join and append duplicates."""
    d1, d2 = stage_dir(tmp_path), str(tmp_path / "staging" / "batch_2")
    write_envelope(d1, "MDA_WEATHER_2021-04-01", [weather_entry()])
    write_envelope(d2, "MDA_WEATHER_2021-04-01", [weather_entry()])
    P.run_batch(spark, f"{d1}/*", lake, "weather", 1)
    gold, load_log = lake.path("gold", "weather"), lake.path("logs", "load")
    corrupt_one_parquet(gold)
    before = listing(gold), listing(load_log)
    with pytest.raises(SPARK_ERRORS):
        P.run_batch(spark, f"{d2}/*", lake, "weather", 2)
    assert (listing(gold), listing(load_log)) == before


def test_corrupt_cursor_raises_and_keeps_it(spark, lake):
    """An unreadable cursor must not rewind the backfill to its default."""
    P.advance_cursor(spark, lake)
    cursor = lake.path("state", "cursor")
    corrupt_one_parquet(cursor)
    before = listing(cursor)
    with pytest.raises(SPARK_ERRORS):
        P.get_window(spark, lake)
    with pytest.raises(SPARK_ERRORS):
        P.advance_cursor(spark, lake)
    assert listing(cursor) == before


# --- one listing, one parse (the batch's job budget) -----------------------

#: jobs one batch (run_batch + advance_cursor) schedules, both into an
#: empty lake and into one whose gold already holds every row
BATCH_JOBS = 21


def batch_jobs(spark, run) -> list[str]:
    """Descriptions of the jobs `run()` schedules."""
    sc = spark.sparkContext
    group = f"test-etl-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "batch job budget")
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    out = []
    for job_id in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        desc = store.job(job_id).description()
        out.append(desc.get() if desc.isDefined() else "")
    return out


def test_batch_lists_once_and_keeps_its_job_budget(spark, tmp_path, lake):
    """40 staged files, more than Spark's parallel-discovery threshold
    (32): the batch must not schedule a distributed listing job, and
    the staged JSON is parsed once, so the job count is pinned."""
    d = stage_dir(tmp_path)
    for day in range(40):
        date = (dt.date(2021, 4, 1) + dt.timedelta(days=day)).isoformat()
        write_envelope(d, f"MDA_WEATHER_{date}", [weather_entry(date=date)])

    def batch(ts):
        return lambda: (P.run_batch(spark, f"{d}/*", lake, "weather", ts),
                        P.advance_cursor(spark, lake))
    first, warm = batch_jobs(spark, batch(1)), batch_jobs(spark, batch(2))
    for jobs in (first, warm):
        assert not [j for j in jobs if j.startswith("Listing leaf files")], jobs
    assert (len(first), len(warm)) == (BATCH_JOBS, BATCH_JOBS)
    res = spark.read.parquet(lake.path("logs", "load")).orderBy("batch_ts").collect()
    assert [(r["n_inserted"], r["n_skipped_duplicates"]) for r in res] == [(40, 0), (0, 40)]


# --- staging globs ----------------------------------------------------------

def test_name_pattern_glob_reads_only_matching_files(spark, tmp_path, lake):
    d = stage_dir(tmp_path)
    write_envelope(d, "MDA_WEATHER_2021-04-01", [weather_entry()])
    write_envelope(d, "MDA_WEATHER_2021-04-02", [weather_entry(date="2021-04-02")])
    write_envelope(d, "DEU_WEATHER_2021-04-01", [weather_entry()])
    res = P.run_batch(spark, f"{d}/MDA_*", lake, "weather", 1700000000)
    assert res.n_files == 2 and res.n_loaded == 2
    gold = spark.read.parquet(lake.path("gold", "weather"))
    assert {r["country"] for r in gold.collect()} == {"Moldova"}


def test_directory_wildcard_glob(spark, tmp_path, lake):
    """A wildcard in the directory part keeps the plain glob read."""
    root = tmp_path / "staging"
    write_envelope(str(root / "batch_1"), "MDA_WEATHER_2021-04-01", [weather_entry()])
    write_envelope(str(root / "batch_2"), "DEU_WEATHER_2021-04-01", [weather_entry()])
    write_envelope(str(root / "other"), "ITA_WEATHER_2021-04-01", [weather_entry()])
    res = P.run_batch(spark, f"{root}/batch_*/*", lake, "weather", 1700000000)
    assert res.n_files == 2 and res.n_loaded == 2
    gold = spark.read.parquet(lake.path("gold", "weather"))
    assert {r["country"] for r in gold.collect()} == {"Moldova", "Germany"}
