"""The ETL input generator against the engine's `run_batch`.

    python3 -m pytest perfbench/test_etl_gen.py -q

Two overlapping weather windows and one covid window are staged and
loaded; every `BatchResult` field and the final gold row count must match
the generator's ground truth.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import etl_gen  # noqa: E402


def test_entries_repeat_byte_for_byte():
    day = etl_gen.window_days(1)[0]
    assert day in etl_gen.window_days(0)            # a backfill overlap day
    a = etl_gen.entry(7, "weather", "DEU", day)
    assert a == etl_gen.entry(7, "weather", "DEU", day)
    assert a.text != etl_gen.entry(8, "weather", "DEU", day).text


def test_overlap_is_counted_as_duplicates(tmp_path):
    loaded: set = set()
    first = etl_gen.stage_window(3, "weather", 0, str(tmp_path / "w0"), loaded)
    second = etl_gen.stage_window(3, "weather", 1, str(tmp_path / "w1"), loaded)
    assert first.n_skipped_duplicates == 0
    overlap = [e for d in etl_gen.window_days(1)[:etl_gen.OVERLAP_DAYS]
               for e in (etl_gen.entry(3, "weather", c, d) for c in etl_gen.COUNTRIES)]
    assert second.n_skipped_duplicates == sum(not e.corrupt for e in overlap) > 0
    assert first.n_files == len(os.listdir(tmp_path / "w0"))


@pytest.fixture(scope="module")
def spark():
    from covid_weather_etl_spark.session import get_spark
    return get_spark("perfbench-tests", cpus="4", shuffle_partitions=4)


def test_truth_matches_run_batch(spark, tmp_path):
    from covid_weather_etl_spark.etl import pipeline
    lake = pipeline.Lake(str(tmp_path / "lake"))
    for kind, windows in (("weather", 2), ("covid", 1)):
        loaded: set = set()
        for w in range(windows):
            stage = str(tmp_path / kind / f"w{w}")
            truth = etl_gen.stage_window(11, kind, w, stage, loaded)
            res = pipeline.run_batch(spark, f"{stage}/*", lake, kind, 1_700_000_000 + w)
            assert (res.n_files, res.n_error_files, res.error_rate_pct,
                    res.n_loaded, res.n_skipped_duplicates) == (
                truth.n_files, truth.n_error_files, truth.error_rate_pct,
                truth.n_loaded, truth.n_skipped_duplicates)
            assert truth.n_error_files > 0
        gold = spark.read.parquet(lake.path("gold", kind))
        assert gold.count() == len(loaded)
        names = {r[0] for r in gold.select("country").distinct().collect()}
        assert {"Moldova", "Germany", "Italy", "FRA"} <= names
