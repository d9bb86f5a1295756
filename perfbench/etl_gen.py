"""Seeded staging input for the `etl_ingest` workload, with its ground truth.

Files follow the reference extractor: one `{"data": [entry]}` envelope per
country and day, pretty-printed, named `<ISO>_<API>_<YYYY-MM-DD>`. Batches
are 30-day windows; each starts 25 days after the previous one, so the
first 5 days of a window re-stage the last 5 of the one before.

Every entry is derived from (seed, kind, country, date) alone. A re-staged
day is therefore byte-identical to its first staging, and the load step's
natural key (which includes tavg/tmin/tmax, or confirmed/deaths/recovered)
sees it as a duplicate, exactly as a backfill overlap should.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass

import numpy as np

#: five countries, 150 files a window, so that a run fits its time
#: budget; the first three have names in the engine's country dimension,
#: the rest keep their ISO code as the country
COUNTRIES = ("MDA", "DEU", "ITA", "FRA", "ESP")
KINDS = ("weather", "covid")
API = {"weather": "WEATHER", "covid": "COVID"}
WINDOW_DAYS = 30
OVERLAP_DAYS = 5
FIRST_DAY = dt.date(2021, 4, 1)
CORRUPT_FRAC = 0.05     # a required field is null: the whole file is quarantined
WRAPPED_FRAC = 0.20     # entry staged as a one-element list, `[{...}]`
IMPUTED_NULL_FRAC = 0.3  # weather snow / tsun null, imputed to 0.0 on load


@dataclass(frozen=True)
class Entry:
    corrupt: bool
    text: str     # the staged file's content


@dataclass
class BatchTruth:
    """What `run_batch` must report for one staged window."""
    kind: str
    window: int
    n_files: int
    n_error_files: int
    n_loaded: int
    n_skipped_duplicates: int
    bytes_staged: int

    @property
    def valid_rows(self) -> int:
        return self.n_files - self.n_error_files

    @property
    def error_rate_pct(self) -> float:
        return round(100.0 * self.n_error_files / self.n_files, 2)


def window_days(window: int) -> list[dt.date]:
    start = FIRST_DAY + dt.timedelta(days=window * (WINDOW_DAYS - OVERLAP_DAYS))
    return [start + dt.timedelta(days=i) for i in range(WINDOW_DAYS)]


def entry(seed: int, kind: str, country: str, day: dt.date) -> Entry:
    rng = np.random.default_rng(
        [seed, KINDS.index(kind), COUNTRIES.index(country), day.toordinal()])
    u_corrupt, u_wrap, u_snow, u_tsun = rng.random(4)
    corrupt = bool(u_corrupt < CORRUPT_FRAC)
    r1 = lambda lo, hi: round(float(rng.uniform(lo, hi)), 1)
    if kind == "weather":
        tavg = r1(-7.0, 28.0)
        e = {"date": day.isoformat(), "tavg": tavg,
             "tmin": round(tavg - r1(0.5, 8.0), 1),
             "tmax": round(tavg + r1(0.5, 8.0), 1),
             "prcp": r1(0.0, 7.0),
             "snow": None if u_snow < IMPUTED_NULL_FRAC else r1(0.0, 50.0),
             "wdir": r1(0.0, 360.0), "wspd": r1(0.0, 40.0),
             "wpgt": r1(0.0, 80.0), "pres": r1(1000.0, 1030.0),
             "tsun": None if u_tsun < IMPUTED_NULL_FRAC else r1(0.0, 474.0)}
        if corrupt:
            e["tavg"] = None
    else:
        confirmed = int(rng.integers(1_000, 500_000))
        deaths = int(rng.integers(0, confirmed // 20 + 1))
        recovered = int(rng.integers(0, confirmed - deaths + 1))
        e = {"date": day.isoformat(), "confirmed": confirmed, "deaths": deaths,
             "recovered": recovered,
             "confirmed_diff": int(rng.integers(0, 5_000)),
             "deaths_diff": int(rng.integers(0, 100)),
             "recovered_diff": int(rng.integers(0, 4_000)),
             "active": confirmed - deaths - recovered,
             "active_diff": int(rng.integers(-2_000, 2_000)),
             "fatality_rate": round(deaths / confirmed, 4),
             "last_update": f"{day.isoformat()} 04:2{int(rng.integers(0, 10))}:00",
             "region": country}
        if corrupt:
            e["confirmed"] = None
    staged = [e] if u_wrap < WRAPPED_FRAC else e
    return Entry(corrupt, json.dumps({"data": [staged]}, indent=2))


def stage_window(seed: int, kind: str, window: int, out_dir: str,
                 loaded: set) -> BatchTruth:
    """Write one window's files into `out_dir`; `loaded` holds the
    (country, day) keys already in gold for `kind` and is updated."""
    os.makedirs(out_dir, exist_ok=True)
    truth = BatchTruth(kind, window, 0, 0, 0, 0, 0)
    for day in window_days(window):
        for country in COUNTRIES:
            e = entry(seed, kind, country, day)
            name = f"{country}_{API[kind]}_{day.isoformat()}"
            with open(os.path.join(out_dir, name), "w") as fh:
                fh.write(e.text)
            truth.n_files += 1
            truth.bytes_staged += len(e.text)
            if e.corrupt:
                truth.n_error_files += 1
            elif (country, day) in loaded:
                truth.n_skipped_duplicates += 1
            else:
                loaded.add((country, day))
                truth.n_loaded += 1
    return truth
