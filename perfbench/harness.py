"""Shared set-up for the benchmark and its profiler: environment, inputs,
session, and host probes.

Importing this module touches nothing; `prepare` does the set-up.
"""

from __future__ import annotations

import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
ENGINE = "covid_weather_etl_spark"
#: generated inputs, Spark scratch and the ETL lake live here, inside the checkout
WORK = os.path.join(REPO, ".perfbench")
SF = 0.1
#: the query tables are fixed, like the reference test data (seed 42);
#: the run seed drives op order and the ETL input
TABLE_SEED = 42


def prepare(run_id: str) -> str:
    """Check the checkout, set the environment the JVM and Python workers
    inherit, and return this run's private work directory.

    Raises SystemExit(2) when the engine package is not beside the
    benchmark, so a bare copy of the benchmark fails without a result.
    """
    if not os.path.isfile(os.path.join(REPO, ENGINE, "__init__.py")):
        sys.stderr.write(f"perfbench: no {ENGINE} package in {REPO}\n")
        raise SystemExit(2)
    work = os.path.join(WORK, run_id)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the engine inside UDFs: they need the repo on
    # their path whatever the working directory is, before the JVM starts.
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = REPO + (os.pathsep + path if path else "")
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # the JVM's temp files go to the run directory; its perf counters stay
    # in memory instead of a file under /tmp
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"{opts} -Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem").strip()
    return work


def cores() -> int:
    return len(os.sched_getaffinity(0))


def make_tables(work: str) -> str:
    """Write the query tables for this run; return their directory. A
    child process writes them, so the generator's memory does not count
    in the driver's peak RSS."""
    out = os.path.join(work, f"sf{SF}")
    subprocess.run([sys.executable, os.path.join(BENCH_DIR, "tables.py"),
                    out, str(SF), str(TABLE_SEED)], check=True)
    return out


def start_session():
    from covid_weather_etl_spark.session import get_spark
    return get_spark("perfbench", cpus=str(cores()))


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_peak_rss_mb(spark) -> float:
    return vm_hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid())


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_ticks() -> dict[str, int]:
    """Host CPU time so far, in clock ticks: all of it, and stolen by the
    hypervisor (time this machine's CPUs spent running someone else)."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return {"total": sum(ticks[:8]), "steal": ticks[7]}


def steal_frac(before: dict[str, int], after: dict[str, int]) -> float:
    total = after["total"] - before["total"]
    return (after["steal"] - before["steal"]) / total if total else 0.0


def materialize(df) -> None:
    """Compute every row and column of `df` without collecting it."""
    df.write.format("noop").mode("overwrite").save()
