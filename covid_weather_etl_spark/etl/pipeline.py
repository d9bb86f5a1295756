"""Bronze→silver→gold ETL pipeline — the reference's flagship restated.

The reference's three imperative stages (`Extractor` → `Transformer` →
`Loader` over `S3/{raw,processed,error}/batch_<ts>/`, SURVEY.md §3.1)
become three declarative DataFrame jobs over a parquet lakehouse:

    bronze    staged raw JSON files, envelope {"data":[entry]}
    silver    validated + imputed entries (reference 'processed' zone)
    quarantine rejected whole files     (reference 'error' zone)
    gold      warehouse fact tables, anti-join-dedup append
    logs      append-only transform/load logs (reference extract.*,
              transform.logs, load.logs), latest-wins semantics

Faithful semantics from the reference:
- entry may be a JSON object or a 1-element array of one
  (`etl/transformer.py:31`) — normalized at parse;
- weather nulls: snow/tsun → 0.0 imputation, any other null rejects
  (`etl/transformer.py:46-57`); covid: ANY null rejects (`:35-40`);
- whole-FILE error granularity: one bad entry poisons its file
  (`etl/transformer.py:40,57-60`);
- load dedup on the natural key with skip-and-count
  (`database/operations.py:175-206`);
- ≥50% file error rate raises the critical alert flag
  (`etl/transformer.py:130-136`);
- incremental 30-day cursor advanced after load (`dags/etl_dag.py:40-46`).

Scale design: files are the unit of validation, so the file-level
verdict is one groupBy on the lineage column (`input_file_name()`), not
a driver loop; gold appends are anti-joins on the natural key — at
100 TB gold would be partitioned by date so the anti-join prunes to the
incoming date range. One batch does each piece of work once:
- one listing: a `dir/<pattern>` glob is read as the directory plus
  `pathGlobFilter`, so Spark lists one path in-process instead of
  scheduling a distributed listing job over every matched file;
- one JSON parse: the validated entries and the per-file verdict are
  cached for the batch; every write, the batch counts (one aggregate
  collect over the verdict) and the gold load read them, and the load
  takes the in-memory silver frame instead of re-reading the zone;
- JVM-only local relations: the country lookup is a literal map and
  the log and cursor rows are `spark.range(1)` projections, because a
  `spark.createDataFrame(list)` frame is backed by a Python RDD and
  every action on it runs Python-worker tasks.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from covid_weather_etl_spark import schemas as S
from covid_weather_etl_spark.operators.dedup import dedup_on_load


@dataclass(frozen=True)
class Lake:
    """Directory layout of the lakehouse."""
    root: str

    def path(self, zone: str, table: str = "") -> str:
        return os.path.join(self.root, zone, table) if table \
            else os.path.join(self.root, zone)


def _entry_schema(kind: str) -> T.StructType:
    return S.RAW_WEATHER_SCHEMA if kind == "weather" else S.RAW_COVID_SCHEMA


def _is_glob(part: str) -> bool:
    return any(c in part for c in "*?[")


def _read_path(staging_glob: str) -> tuple[str, dict[str, str]]:
    """(path, reader options) that read the files `staging_glob` matches.

    A glob that matches more paths than Spark's parallel-discovery
    threshold (32) makes every read schedule a listing job with one
    task per path. When only the last path component has wildcards and
    every match is a file, the parent directory with `pathGlobFilter`
    reads the same files (hidden `_`/`.` names are skipped either way)
    and is listed once, in-process. A matched subdirectory would be
    read by the glob but not by the filter, so that case keeps the glob.
    """
    parent, pattern = os.path.split(staging_glob)
    if _is_glob(parent) or not _is_glob(pattern):
        return staging_glob, {}
    matches = glob.glob(staging_glob.removeprefix("file:"))
    if not matches or not all(os.path.isfile(m) for m in matches):
        return staging_glob, {}
    return parent, {"pathGlobFilter": pattern}


def read_staging(spark: SparkSession, staging_glob: str, kind: str) -> DataFrame:
    """Parse staged raw JSON (bronze) into one row per entry.

    Reads the `{"data": [<entry>]}` envelope with entries kept as raw
    JSON strings, then parses each entry, normalizing the reference's
    dict-vs-[dict] ambiguity (`etl/transformer.py:31`): a leading '['
    means a 1-element array wrapping the object. Carries
    `src_file` (via `input_file_name()`) as the lineage column that
    replaces the reference's import_logs bookkeeping.
    """
    schema = _entry_schema(kind)
    path, options = _read_path(staging_glob)
    # multiLine: the reference writes indent=2 pretty JSON, one envelope
    # per file (etl/extractor.py:94-95) — not JSON-lines.
    raw = (spark.read.schema(S.ENVELOPE_SCHEMA)
           .option("multiLine", "true").options(**options).json(path)
           .withColumn("src_file",
                       F.element_at(F.split(F.input_file_name(), "/"), -1)))
    entry_str = F.col("entry_str")
    parsed = F.when(
        F.ltrim(entry_str).startswith("["),
        F.from_json(entry_str, T.ArrayType(schema)).getItem(0),
    ).otherwise(F.from_json(entry_str, schema))
    return (
        raw.select("src_file", F.explode_outer("data").alias("entry_str"))
        .withColumn("entry", parsed)
        .select("src_file", "entry.*")
        # country from the reference's `<ISO>_<API>_<date>` file naming
        # (etl/extractor.py:48)
        .withColumn("country_code", F.split(F.col("src_file"), "_").getItem(0))
    )


def _invalid_entry(kind: str) -> F.Column:
    """Row-level validation predicate (True = bad entry)."""
    if kind == "weather":
        required = ["date"] + [f for f in S.WEATHER_FIELDS
                               if f not in S.WEATHER_IMPUTED]
    else:
        required = ["date"] + list(S.COVID_INT_FIELDS) + ["fatality_rate"]
    bad = F.lit(False)
    for c in required:
        bad = bad | F.col(c).isNull()
    return bad


def validate(bronze: DataFrame, kind: str) -> tuple[DataFrame, DataFrame]:
    """Flag bad entries and judge each file → (entries, verdict).

    `entries` is bronze plus the `_bad` flag; `verdict` has one row per
    file: its entry count, bad-entry count and status. File-granular
    routing: ONE bad entry makes the whole file an Error (reference
    `etl/transformer.py:40,57-60`), expressed as a groupBy on the
    lineage column — no per-file loop.
    """
    entries = bronze.withColumn("_bad", _invalid_entry(kind))
    verdict = (entries.groupBy("src_file")
               .agg(F.count("*").alias("n_entries"),
                    F.sum(F.col("_bad").cast("long")).alias("n_bad_entries"))
               .withColumn("status",
                           F.when(F.col("n_bad_entries") > 0, "Error")
                            .otherwise("Processed")))
    return entries, verdict


def _country(code: F.Column) -> F.Column:
    """Country name from the reference's dimension (`data/countries.py`),
    or the code itself when it has none."""
    names = F.create_map(*[F.lit(v) for _, c, n in S.COUNTRIES for v in (c, n)])
    return F.coalesce(names[code], code)


def transform(entries: DataFrame, verdict: DataFrame, kind: str,
              batch_ts: int) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Route and clean validated entries → (silver, quarantine, transform_log).

    The verdict is broadcast-joined back onto the entries: a file's
    entries all go to silver or all to quarantine.
    """
    routed = entries.join(F.broadcast(verdict.select("src_file", "status")),
                          "src_file")
    quarantine = routed.filter(F.col("status") == "Error").drop("status", "_bad")
    good = routed.filter(F.col("status") == "Processed").drop("status", "_bad")

    if kind == "weather":
        silver = (
            good
            # snow/tsun null → 0.0 (reference etl/transformer.py:46-51)
            .fillna(0.0, subset=list(S.WEATHER_IMPUTED))
            .select(
                F.to_timestamp("date").alias("date"),
                *[F.col(f).cast("float").alias(f) for f in S.WEATHER_FIELDS],
                _country(F.col("country_code")).alias("country"),
                "src_file",
                F.lit(batch_ts).cast("long").alias("batch_ts"))
        )
    else:
        silver = (
            good
            # last_update/region are dropped (reference etl/transformer.py:42-43)
            .select(
                F.to_date("date").alias("date"),
                *[F.col(f).cast("int").alias(f) for f in S.COVID_INT_FIELDS],
                F.col("fatality_rate").cast("float").alias("fatality_rate"),
                _country(F.col("country_code")).alias("country"),
                "src_file",
                F.lit(batch_ts).cast("long").alias("batch_ts"))
        )
    tlog = verdict.select(
        F.lit(batch_ts).cast("long").alias("batch_ts"),
        F.col("src_file").alias("source_file"),
        "status", "n_entries", "n_bad_entries")
    return silver, quarantine, tlog


def _read_or_none(spark: SparkSession, schema: T.StructType,
                  path: str) -> DataFrame | None:
    """The parquet table at `path`, or None when the path does not exist.

    Any other failure (corrupt footer, IO error) raises: treating a
    broken table as absent would restart gold ids and append duplicates,
    or rewind the cursor.
    """
    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as exc:
        if (exc.getCondition() or "") != "PATH_NOT_FOUND":
            raise
        return None


def _nullable(c: F.Column, always: F.Column) -> F.Column:
    """`c`, flagged nullable in the written parquet schema.

    `always` must hold on every row. Being a condition on a row value,
    Catalyst cannot fold it away; a literal condition would be folded
    and the column written NOT NULL.
    """
    return F.when(always, c)


def load(spark: SparkSession, silver: DataFrame, gold_path: str,
         kind: str) -> int:
    """Anti-join dedup append of one batch's silver rows into gold.

    Replaces the reference's per-row existence probe
    (`database/operations.py:175-206`) with: in-batch dropDuplicates on
    the natural key, then one left-anti join against gold, then a bulk
    columnar append. Surrogate ids continue from max(gold.id) via
    row_number — the set-based get_or_create. Returns the number of
    rows appended.
    """
    key = S.WEATHER_NATURAL_KEY if kind == "weather" else S.COVID_NATURAL_KEY
    schema = S.WEATHER_SCHEMA if kind == "weather" else S.COVID_SCHEMA
    existing = _read_or_none(spark, schema, gold_path)
    if existing is None:
        max_id, batch = 0, silver.dropDuplicates(key)
    else:
        max_id = existing.agg(F.max("id")).collect()[0][0] or 0
        batch = dedup_on_load(silver, existing, key)
    # Dense unique ids WITHOUT a global window (a bare
    # W.orderBy(...) row_number funnels the whole batch through one
    # task — fatal at 100 TB appends). Two-phase, like
    # skew_resilient_running_total: partition-local row_number, then a
    # cumulative offset over the tiny one-row-per-partition count
    # table, broadcast back. Ids stay dense and continue from
    # max(gold.id); which row gets which id follows partition layout
    # (the reference's SERIAL made no ordering promise either).
    from pyspark.sql import Window as W
    w_in = (W.partitionBy("_pid")
            .orderBy(*[F.col(c) for c in ("date", "country")]))
    local = (batch.withColumn("_pid", F.spark_partition_id())
             .withColumn("_rn", F.row_number().over(w_in)))
    w_off = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = (local.groupBy("_pid").agg(F.max("_rn").alias("_cnt"))
               .withColumn("_off", F.coalesce(
                   F.sum("_cnt").over(w_off), F.lit(0)).cast("long"))
               .select("_pid", "_off"))
    # Every gold column but id is written nullable, the schema every gold
    # file carries; silver's imputed snow/tsun are NOT NULL.
    to_append = (local
                 .join(F.broadcast(offsets), "_pid")
                 .withColumn("id", (F.col("_rn") + F.col("_off")
                                    + F.lit(max_id)).cast("long"))
                 .select("id", *[_nullable(F.col(f.name), F.col("_rn") > 0).alias(f.name)
                                 for f in schema.fields if f.name != "id"]))
    # Unpartitioned at test scale so an all-quarantined batch still
    # leaves a readable (empty) gold footer; the at-scale layout adds
    # .partitionBy("country") — the reference's dominant filter (P4) —
    # plus a month component (see SCALE.md §1).
    # Count BEFORE the append, from a cached frame: re-executing this
    # lineage after the write would anti-join against a gold directory
    # that now contains the batch itself (and re-run the whole
    # non-deterministic spark_partition_id/row_number assignment).
    to_append = to_append.cache()
    n_loaded = to_append.count()
    to_append.write.mode("append").parquet(gold_path)
    to_append.unpersist()
    return n_loaded


def _one_row(spark: SparkSession, schema: T.StructType, *values) -> DataFrame:
    """One row of `values`, typed and null-flagged as `schema` says.

    A projection of `spark.range`, planned in the JVM alone: a
    `spark.createDataFrame([...])` frame is backed by a Python RDD, so
    every action on it runs Python-worker tasks.
    """
    def column(field: T.StructField, value) -> F.Column:
        c = F.lit(value).cast(field.dataType)
        return (_nullable(c, F.col("id") == 0) if field.nullable else c).alias(field.name)
    return spark.range(0, 1, 1, 1).select(
        *[column(f, v) for f, v in zip(schema.fields, values)])


@dataclass
class BatchResult:
    kind: str
    batch_ts: int
    n_files: int
    n_error_files: int
    error_rate_pct: float
    high_error_alert: bool   # reference: ≥50% → logger.critical
    n_loaded: int
    n_skipped_duplicates: int


def run_batch(spark: SparkSession, staging_glob: str, lake: Lake, kind: str,
              batch_ts: int) -> BatchResult:
    """One end-to-end batch: bronze → silver/quarantine → gold + logs."""
    if not glob.glob(staging_glob.removeprefix("file:")):
        # empty work-list: the reference logs and exits cleanly
        # (tests/test_transformer.py:185-192)
        return BatchResult(kind=kind, batch_ts=batch_ts, n_files=0,
                           n_error_files=0, error_rate_pct=0.0,
                           high_error_alert=False, n_loaded=0,
                           n_skipped_duplicates=0)
    entries, verdict = validate(read_staging(spark, staging_glob, kind), kind)
    # The staged JSON is parsed once: every job below reads these caches.
    # A cached plan keeps its shuffle partitioning, which AQE would have
    # coalesced; the verdict (one row per file) is one partition, so the
    # transform log still gets one file per batch.
    entries, verdict = entries.cache(), verdict.coalesce(1).cache()
    try:
        stats = verdict.agg(
            F.count("*").alias("n_files"),
            F.count(F.when(F.col("status") == "Error", 1)).alias("n_err"),
            F.sum(F.when(F.col("status") == "Processed", F.col("n_entries"))
                  .otherwise(0)).alias("n_in"),
        ).collect()[0]
        silver, quarantine, tlog = transform(entries, verdict, kind, batch_ts)
        silver.write.mode("append").parquet(lake.path("silver", kind))
        if stats["n_err"]:
            quarantine.write.mode("append").parquet(lake.path("quarantine", kind))
        tlog.write.mode("append").parquet(lake.path("logs", "transform"))
        n_loaded = load(spark, silver, lake.path("gold", kind), kind)
    finally:
        verdict.unpersist()
        entries.unpersist()
    n_files, n_err = stats["n_files"], stats["n_err"]
    n_skipped = (stats["n_in"] or 0) - n_loaded
    (_one_row(spark, S.LOAD_LOG_SCHEMA, batch_ts, f"{kind}_batch", "Success",
              n_loaded, n_skipped)
     .write.mode("append").parquet(lake.path("logs", "load")))
    rate = 100.0 * n_err / n_files if n_files else 0.0
    return BatchResult(
        kind=kind, batch_ts=batch_ts, n_files=n_files, n_error_files=n_err,
        error_rate_pct=round(rate, 2),
        high_error_alert=rate >= 50.0,
        n_loaded=n_loaded,
        n_skipped_duplicates=n_skipped)


# ---------------------------------------------------------------------------
# Incremental cursor (reference dags/etl_dag.py:31-46): a one-row state
# table instead of an Airflow Variable; the 30-day window arithmetic is
# identical.
# ---------------------------------------------------------------------------

CURSOR_DEFAULT = "2021-04-01"
WINDOW_DAYS = 30


def _add_days(day: str, n: int) -> str:
    return (dt.date.fromisoformat(day) + dt.timedelta(days=n)).isoformat()


def get_window(spark: SparkSession, lake: Lake) -> tuple[str, str]:
    """Current [start, end] backfill window (end = start + 29 days)."""
    cursor = _read_or_none(spark, S.CURSOR_SCHEMA, lake.path("state", "cursor"))
    start = CURSOR_DEFAULT if cursor is None else cursor.collect()[0]["start_date"]
    return start, _add_days(start, WINDOW_DAYS - 1)


def advance_cursor(spark: SparkSession, lake: Lake) -> str:
    """Advance the cursor past the current window (reference
    set_start_date after load, `dags/etl_dag.py:44-46,84`)."""
    new_start = _add_days(get_window(spark, lake)[1], 1)
    (_one_row(spark, S.CURSOR_SCHEMA, new_start)
     .write.mode("overwrite").parquet(lake.path("state", "cursor")))
    return new_start
