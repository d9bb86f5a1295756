#!/usr/bin/env python3
"""Compare the benchmark's generated tables with a reference table set.

    python3 perfbench/compare_inputs.py REF_DIR [--passes 4]

REF_DIR holds the reference `<table>.parquet` files at the same scale
factor (sf0.1). Prints, as markdown, each table's row count and schema in
both sets, then the warm op time and its open, build and action split of
every query of the `analytics` pool on both inputs, in one session. Each
pass runs every query on both inputs in turn, the order flipping from
pass to pass; the first pass is warm-up and the rest give medians.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import harness  # noqa: E402


def table_rows(dirs: dict[str, str]) -> list[str]:
    import pyarrow.parquet as pq
    import tables
    out = ["| table | rows (generated) | rows (reference) | same schema |",
           "|---|---|---|---|"]
    for t in tables.TABLES:
        meta = {k: pq.ParquetFile(os.path.join(d, f"{t}.parquet")) for k, d in dirs.items()}
        same = meta["generated"].schema_arrow == meta["reference"].schema_arrow
        diff = "" if same else "no: " + "; ".join(
            f"{f.name} {f.type} vs {meta['reference'].schema_arrow.field(f.name).type}"
            for f in meta["generated"].schema_arrow
            if f not in meta["reference"].schema_arrow)
        out.append(f"| `{t}` | {meta['generated'].metadata.num_rows} | "
                   f"{meta['reference'].metadata.num_rows} | {diff or 'yes'} |")
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("ref_dir")
    ap.add_argument("--passes", type=int, default=4)
    args = ap.parse_args()

    work = harness.prepare("compare")
    dirs = {"generated": harness.make_tables(work),
            "reference": os.path.abspath(args.ref_dir)}
    lines = table_rows(dirs)

    with open(os.path.join(harness.BENCH_DIR, "workloads.json")) as fh:
        pool = json.load(fh)["workloads"]["analytics"]["ops"]
    spark = harness.start_session()
    import phases
    spy = phases.OpenSpy()
    spy.install()
    from covid_weather_etl_spark.queries.registry import all_queries
    queries = all_queries()
    recs: dict[tuple[str, str], list[dict]] = {}
    for p in range(args.passes):
        for i, name in enumerate(pool):
            for src, sf_dir in sorted(dirs.items(), reverse=bool(p % 2)):
                rec = phases.run_query_traced(spark, spy, queries[name], sf_dir,
                                              f"p{p}q{i}{src}")
                if p:
                    recs.setdefault((name, src), []).append(rec)
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)

    lines += ["", "| query | class | input | op s | open s | build s | action s |",
              "|---|---|---|---|---|---|---|"]
    for name, cls in pool.items():
        for src in dirs:
            med = {k: statistics.median(r[k] for r in recs[name, src])
                   for k in ("wall_s", "open_s", "build_s", "action_s")}
            lines.append(f"| `{name}` | {cls} | {src} | {med['wall_s']:.3f} | "
                         f"{med['open_s']:.3f} | {med['build_s']:.3f} | "
                         f"{med['action_s']:.3f} |")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
