#!/usr/bin/env python3
"""Workload benchmark: one closed-loop client on local[nproc] at sf0.1.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 20 --trace 0

A run sets up (session start and registry import), runs one cold pass
over the workload's ops, then the workload's settle passes (untimed
warm-up while the JVM is still compiling), then a fixed number of warm
passes (`--seconds` over the workload's nominal pass time, at least
two), and checks the outputs outside the timed region. An op is one registered query built with `q.fn(spark, sf_dir)`
and fully materialized into the noop sink, or, in `etl_ingest`, one
`etl.pipeline.run_batch` followed by `advance_cursor`. The seed sets the
order of ops in each pass and the ETL input; it never changes which ops
run.

With `--trace 0` the last stdout line holds the end-to-end metrics; with
`--trace 1` it holds the per-layer metrics of a traced run, and a per-op
sidecar is written to `.perfbench/traces/`. See README.md.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random
import shutil
import statistics
import sys
import time
from dataclasses import asdict


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


T_PROCESS_START = time.perf_counter() - _process_age_s()

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
import harness  # noqa: E402

with open(os.path.join(BENCH_DIR, "workloads.json")) as _fh:
    WORKLOADS = json.load(_fh)["workloads"]

E2E_UNITS = {"setup_s": "s", "cold_wall_s": "s", "wall_s": "s",
             "op_p50_s": "s", "op_p90_s": "s", "py_peak_rss_mb": "MB"}
QUERY_LAYERS = {
    "sources.open_s": "s", "sources.open_jobs": "count",
    "sources.tables_opened": "count", "sources.open_share": "ratio",
    "build.self_s": "s", "build.jobs": "count", "build.stages": "count",
    "build.tasks": "count", "build.task_s": "s", "build.shuffle_bytes": "bytes",
    "build.share": "ratio",
    "action.s": "s", "action.share": "ratio", "action.jobs": "count",
    "action.stages": "count", "action.tasks": "count", "action.task_s": "s",
    "action.core_util": "ratio", "action.shuffle_read_bytes": "bytes",
    "action.shuffle_write_bytes": "bytes", "action.spill_bytes": "bytes",
    "action.count_s": "s",
}
ETL_LAYERS = {
    "etl.batch_s": "s", "etl.jobs": "count", "etl.tasks_per_file": "count",
    "etl.files_in": "count", "etl.bytes_in": "bytes", "etl.bytes_written": "bytes",
    "etl.write_amp": "ratio", "etl.lake_files": "count", "etl.rows_loaded": "count",
    "etl.dup_skipped": "count", "etl.load_yield": "ratio",
}
LAYER_UNITS = {"session.start_s": "s", "registry.import_s": "s", "jvm.peak_rss_mb": "MB",
               **QUERY_LAYERS,
               "sched.empty_job_s": "s", "sched.jobs_per_op": "count",
               **ETL_LAYERS,
               "trace.wall_s": "s", "trace.self_s": "s"}


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile, `pct` in 0..100."""
    xs = sorted(values)
    k = (len(xs) - 1) * pct / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


class Run:
    """One benchmark run: set-up, timed passes, checks and metrics.
    Subclasses supply the inputs, a pass, and the per-layer numbers."""

    def __init__(self, args, spec: dict):
        self.args, self.spec = args, spec
        self.rng = random.Random(args.seed)
        self.settle = spec.get("settle", 0)      # passes between cold and warm
        self.trace = bool(args.trace)
        self.op_times: list[list[tuple[str, float]]] = []  # (op, seconds) per pass
        self.pass_steal: list[float] = []        # share of CPU ticks stolen, per pass
        self.attempted = self.failed = 0
        self.records: list[dict] = []            # traced ops
        self.layer = dict.fromkeys(LAYER_UNITS, 0.0)
        self.host: dict = {}
        self.notes: list[str] = []
        self.spark = None

    def setup(self, work: str) -> None:
        self.work = work
        t_gen = time.perf_counter()
        self.prepare_inputs()
        gen_s = time.perf_counter() - t_gen
        t0 = time.perf_counter()
        self.spark = harness.start_session()
        t1 = time.perf_counter()
        if self.trace:
            import phases
            self.spy = phases.OpenSpy()
            self.spy.install()
        from covid_weather_etl_spark.queries.registry import all_queries
        self.queries = all_queries()
        t2 = time.perf_counter()
        self.setup_s = t2 - T_PROCESS_START - gen_s
        self.layer["session.start_s"] = t1 - t0
        self.layer["registry.import_s"] = t2 - t1

    def measure(self) -> None:
        """The cold pass, the settle passes, then `--seconds` ÷ the
        workload's nominal pass time warm passes, at least two. The count
        does not depend on how fast the passes run, so every run of a
        workload does the same work."""
        self.host["before"] = self.host_record()
        n_warm = max(2, round(self.args.seconds / self.spec["pass_s"]))
        for pass_no in range(1 + self.settle + n_warm):
            ticks = harness.cpu_ticks()
            self.op_times.append(self.run_pass(pass_no))
            self.pass_steal.append(harness.steal_frac(ticks, harness.cpu_ticks()))

    def host_record(self) -> dict:
        rec = {"loadavg": harness.loadavg(), "nproc": harness.cores(),
               "cpu_ticks": harness.cpu_ticks()}
        if self.trace:
            import phases
            rec["empty_job_s"] = phases.empty_job_s(self.spark)
        return rec

    def pass_walls(self) -> list[float]:
        return [sum(t for _, t in times) for times in self.op_times]

    def warm_walls(self) -> list[float]:
        return self.pass_walls()[1 + self.settle:]

    def end_to_end(self) -> dict[str, float]:
        warm = [t for times in self.op_times[1 + self.settle:] for _, t in times]
        self.layer["jvm.peak_rss_mb"] = harness.jvm_peak_rss_mb(self.spark)
        beyond = sum(1 for t in warm if t > percentile(warm, 90))
        self.notes.append(f"{len(warm)} warm ops, {beyond} beyond p90")
        return {
            "setup_s": self.setup_s,
            "cold_wall_s": self.pass_walls()[0],
            "wall_s": statistics.median(self.warm_walls()),
            "op_p50_s": statistics.median(warm),
            "op_p90_s": percentile(warm, 90),
            "py_peak_rss_mb": harness.vm_hwm_mb(),
        }

    def warm_records(self) -> list[dict]:
        return [r for r in self.records if r["pass_no"] > self.settle]

    def per_layer(self) -> dict[str, float]:
        recs = self.warm_records()
        self.layer["sched.empty_job_s"] = statistics.median(
            self.host["before"]["empty_job_s"] + self.host["after"]["empty_job_s"])
        self.layer["sched.jobs_per_op"] = mean(r["jobs"] for r in recs)
        self.layer["trace.wall_s"] = statistics.median(self.warm_walls())
        self.layer["trace.self_s"] = mean(r["trace_s"] for r in recs)
        return self.layer

    def stop(self) -> None:
        """Stop the session and the JVM it launched, and wait for it."""
        from pyspark import SparkContext
        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            if gateway.proc is not None:
                gateway.proc.stdin.close()
                gateway.proc.wait(timeout=60)


class QueryRun(Run):
    """A pool of registered queries, each run once per pass."""

    def prepare_inputs(self) -> None:
        self.sf_dir = harness.make_tables(self.work)

    def run_pass(self, pass_no: int) -> list[tuple[str, float]]:
        order = list(self.spec["ops"])
        self.rng.shuffle(order)
        times = []
        for i, name in enumerate(order):
            q = self.queries[name]
            self.attempted += 1
            try:
                if self.trace:
                    import phases
                    rec = phases.run_query_traced(self.spark, self.spy, q, self.sf_dir,
                                                  f"p{pass_no}o{i}")
                    rec.update(pass_no=pass_no, cls=self.spec["ops"][name])
                    self.records.append(rec)
                    times.append((name, rec["wall_s"]))
                else:
                    t0 = time.perf_counter()
                    harness.materialize(q.fn(self.spark, self.sf_dir))
                    times.append((name, time.perf_counter() - t0))
            except Exception as ex:  # a failed op is counted, the run goes on
                self.failed += 1
                self.notes.append(f"{name} raised {ex!r:.300}")
        return times

    def check(self) -> None:
        """Compare each query's output with its DuckDB oracle, once, by the
        rule of the repository's parity tests; a mismatch fails every op
        of that query."""
        import duckdb
        import tables
        from tests.conftest import assert_parity
        con = duckdb.connect()
        for t in tables.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.sf_dir}/{t}.parquet')")
        for name in self.spec["ops"]:
            try:
                assert_parity(self.spark, con, self.queries[name], self.sf_dir)
            except Exception as ex:  # AssertionError, or the query raised
                self.failed += sum(n == name for times in self.op_times for n, _ in times)
                self.notes.append(f"{name} failed its check: {ex!s:.300}")
        con.close()

    def count_times(self) -> dict[str, float]:
        """`count()` on a fresh build of each query: the action as the old
        harness timed it, for the count-vs-materialize table."""
        out = {}
        for name in self.spec["ops"]:
            try:
                df = self.queries[name].fn(self.spark, self.sf_dir)
                t0 = time.perf_counter()
                df.count()
                out[name] = time.perf_counter() - t0
            except Exception as ex:  # the query is broken: counted, the run goes on
                self.failed += 1
                self.notes.append(f"{name} count() raised {ex!r:.300}")
        return out

    def per_layer(self) -> dict[str, float]:
        layer = super().per_layer()
        recs = self.warm_records()
        total = sum(r["wall_s"] for r in recs)
        s = lambda key: sum(r[key] for r in recs)
        m = lambda key: s(key) / len(recs)
        counts = self.count_times()
        for r in self.records:
            r["count_s"] = counts.get(r["op"])
        layer.update({
            "sources.open_s": m("open_s"), "sources.open_jobs": m("open_jobs"),
            "sources.tables_opened": m("tables_opened"),
            "sources.open_share": s("open_s") / total,
            "build.self_s": m("build_s"), "build.jobs": m("build_jobs"),
            "build.stages": m("build_stages"), "build.tasks": m("build_tasks"),
            "build.task_s": m("build_task_s"),
            "build.shuffle_bytes": (s("build_shuffle_read_bytes")
                                    + s("build_shuffle_write_bytes")) / len(recs),
            "build.share": s("build_s") / total,
            "action.s": m("action_s"), "action.share": s("action_s") / total,
            "action.jobs": m("action_jobs"), "action.stages": m("action_stages"),
            "action.tasks": m("action_tasks"), "action.task_s": m("action_task_s"),
            "action.core_util": s("action_task_s") / (s("action_s") * harness.cores()),
            "action.shuffle_read_bytes": m("action_shuffle_read_bytes"),
            "action.shuffle_write_bytes": m("action_shuffle_write_bytes"),
            "action.spill_bytes": m("action_spill_bytes"),
            "action.count_s": mean(counts.values()),
        })
        return layer


class EtlRun(Run):
    """Staged JSON windows through `run_batch` into one lake. Pass p stages
    window p of both kinds and loads them as two ops, in an order the seed
    picks. From pass 1 on, each window re-stages the last days of the one
    before, and gold keeps growing."""

    def prepare_inputs(self) -> None:
        import etl_gen
        self.gen = etl_gen
        self.loaded = {kind: set() for kind in etl_gen.KINDS}
        self.passed = dict.fromkeys(etl_gen.KINDS, 0)  # batches that matched their truth
        self.advances = 0   # advance_cursor calls that returned

    def run_pass(self, pass_no: int) -> list[tuple[str, float]]:
        from covid_weather_etl_spark.etl import pipeline
        if pass_no == 0:
            self.lake = pipeline.Lake(os.path.join(self.work, "lake"))
        kinds = list(self.gen.KINDS)
        self.rng.shuffle(kinds)
        return [t for kind in kinds for t in self.run_op(pass_no, kind)]

    def run_op(self, pass_no: int, kind: str) -> list[tuple[str, float]]:
        from covid_weather_etl_spark.etl import pipeline
        path = os.path.join(self.work, "staging", kind, f"w{pass_no}")
        truth = self.gen.stage_window(self.args.seed, kind, pass_no, path, self.loaded[kind])
        tag = f"p{pass_no}/{kind}"
        sc = self.spark.sparkContext
        self.attempted += 1
        lake_before = self.lake_usage()[0] if self.trace else 0
        try:
            if self.trace:
                sc.setJobGroup(f"{tag}/etl", "etl")
            t0 = time.perf_counter()
            res = pipeline.run_batch(self.spark, os.path.join(path, "*"), self.lake,
                                     kind, 1_700_000_000 + self.attempted)
            t1 = time.perf_counter()
            pipeline.advance_cursor(self.spark, self.lake)
            t2 = time.perf_counter()
            self.advances += 1
        except Exception as ex:  # a failed op is counted, the run goes on
            self.failed += 1
            self.notes.append(f"{kind} window {pass_no} raised {ex!r:.300}")
            return []
        finally:
            if self.trace:
                sc.setJobGroup("perfbench/idle", "idle")
        if self.batch_matches(res, truth):
            self.passed[kind] += 1
        else:
            self.failed += 1
        if self.trace:
            self.records.append(self.etl_record(tag, pass_no, f"{kind}/w{pass_no}", t1 - t0,
                                                t2 - t0, lake_before, res, truth))
        return [(kind, t2 - t0)]

    def batch_matches(self, res, truth) -> bool:
        got = (res.n_files, res.n_error_files, res.error_rate_pct,
               res.high_error_alert, res.n_loaded, res.n_skipped_duplicates)
        want = (truth.n_files, truth.n_error_files, truth.error_rate_pct,
                truth.error_rate_pct >= 50.0, truth.n_loaded,
                truth.n_skipped_duplicates)
        if got != want:
            self.notes.append(f"{res.kind} window {truth.window}: {got} != {want}")
        return got == want

    def check(self) -> None:
        """Each batch's `BatchResult` was checked as it ended. Here the
        final gold row count of each kind and the cursor are checked
        against the generator's truth; a mismatch fails every batch of
        that kind not failed already."""
        from covid_weather_etl_spark.etl import pipeline
        cursor = pipeline.get_window(self.spark, self.lake)[0]
        want_cursor = (dt.date.fromisoformat(pipeline.CURSOR_DEFAULT) + dt.timedelta(
            days=pipeline.WINDOW_DAYS * self.advances)).isoformat()
        for kind in self.gen.KINDS:
            try:
                got = self.spark.read.parquet(self.lake.path("gold", kind)).count()
            except Exception as ex:  # no gold table: nothing was loaded
                got = repr(ex)[:200]
            want = len(self.loaded[kind])
            if (got, cursor) != (want, want_cursor):
                self.notes.append(f"{kind}: gold {got} rows, cursor {cursor}; "
                                  f"want {want}, {want_cursor}")
                self.failed += self.passed[kind]

    def lake_usage(self) -> tuple[int, int]:
        size = files = 0
        for d, _, names in os.walk(self.lake.root):
            for n in names:
                size += os.path.getsize(os.path.join(d, n))
                files += 1
        return size, files

    def etl_record(self, tag, pass_no, op, batch_s, op_s, lake_before, res, truth) -> dict:
        import phases
        t0 = time.perf_counter()
        phases.drain_listener(self.spark)
        st = phases.group_stats(self.spark, f"{tag}/etl")
        size, files = self.lake_usage()
        rec = {"op": op, "pass_no": pass_no, "wall_s": op_s,
               "batch_s": batch_s, **asdict(st),
               "files_in": truth.n_files, "bytes_in": truth.bytes_staged,
               "bytes_written": size - lake_before, "lake_files": files,
               "rows_loaded": res.n_loaded, "dup_skipped": res.n_skipped_duplicates,
               "valid_rows": truth.valid_rows}
        rec["trace_s"] = time.perf_counter() - t0
        return rec

    def per_layer(self) -> dict[str, float]:
        layer = super().per_layer()
        recs = self.warm_records()
        s = lambda key: sum(r[key] for r in recs)
        m = lambda key: s(key) / len(recs)
        layer.update({
            "etl.batch_s": m("batch_s"), "etl.jobs": m("jobs"),
            "etl.tasks_per_file": s("tasks") / s("files_in"),
            "etl.files_in": m("files_in"), "etl.bytes_in": m("bytes_in"),
            "etl.bytes_written": m("bytes_written"),
            "etl.write_amp": s("bytes_written") / s("bytes_in"),
            "etl.lake_files": m("lake_files"), "etl.rows_loaded": m("rows_loaded"),
            "etl.dup_skipped": m("dup_skipped"),
            "etl.load_yield": s("rows_loaded") / s("valid_rows"),
        })
        return layer


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = WORKLOADS[args.workload]
    run = (EtlRun if spec["kind"] == "etl" else QueryRun)(args, spec)

    work = harness.prepare(f"run-{os.getpid()}")
    try:
        run.setup(work)
        run.measure()
        e2e = run.end_to_end()
        run.check()
        run.host["after"] = run.host_record()
        metrics, units = (run.per_layer(), LAYER_UNITS) if run.trace else (e2e, E2E_UNITS)
    finally:
        run.stop()
        shutil.rmtree(work, ignore_errors=True)

    summary = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "settle": run.settle,
               "pass_walls_s": run.pass_walls(), "pass_steal_frac": run.pass_steal,
               "op_s": run.op_times,
               "attempted": run.attempted, "failed": run.failed,
               "failed_frac": run.failed / max(run.attempted, 1),
               "host": run.host, "steal_frac": harness.steal_frac(
                   run.host["before"]["cpu_ticks"], run.host["after"]["cpu_ticks"]),
               "end_to_end": e2e, "notes": run.notes}
    if run.trace:
        os.makedirs(os.path.join(harness.WORK, "traces"), exist_ok=True)
        path = os.path.join(harness.WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({**summary, "per_layer": metrics, "ops": run.records}, fh, indent=1)
    for note in run.notes:
        print(f"perfbench: {note}", file=sys.stderr)
    print(f"perfbench: run {json.dumps(summary)}", file=sys.stderr)
    for name, value in metrics.items():
        print(f"perfbench: {name} = {value:.6g} {units[name]}", file=sys.stderr)
    print(f"perfbench: failed_frac = {summary['failed_frac']:.6g} ratio "
          f"({run.failed} of {run.attempted} ops)", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
