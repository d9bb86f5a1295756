#!/usr/bin/env python3
"""Summarize traced-run sidecars as markdown.

    python3 perfbench/report.py .perfbench/traces/*.json > perfbench/RESULTS.md

Per workload: phase shares per op class, per-query medians with the
`count()` versus noop-materialization action times, and the tracer's
own bookkeeping.
"""

from __future__ import annotations

import collections
import json
import statistics
import sys


def _med(rows, key):
    return statistics.median(r[key] for r in rows)


def query_tables(runs: list[dict]) -> list[str]:
    warm = [r for run in runs for r in run["ops"] if r["pass_no"] > run["settle"]]
    out = ["| class | ops | open share | build share | action share | jobs/op |",
           "|---|---|---|---|---|---|"]
    by_cls = collections.defaultdict(list)
    for r in warm:
        by_cls[r["cls"]].append(r)
    for cls, rows in sorted(by_cls.items()):
        total = sum(r["wall_s"] for r in rows)
        share = lambda k: sum(r[k] for r in rows) / total
        out.append(f"| {cls} | {len(rows)} | {share('open_s'):.2f} | {share('build_s'):.2f} "
                   f"| {share('action_s'):.2f} | {statistics.mean(r['jobs'] for r in rows):.1f} |")
    out += ["", "Per query, medians over warm ops. `count()` is timed once per run on a "
            "fresh build; materialize is the noop write the benchmark times.", "",
            "| query | class | op s | open s | build s | action (materialize) s "
            "| action `count()` s | materialize ÷ count | build jobs | action jobs |",
            "|---|---|---|---|---|---|---|---|---|---|"]
    by_op = collections.defaultdict(list)
    for r in warm:
        by_op[r["op"]].append(r)
    for op, rows in sorted(by_op.items(), key=lambda kv: kv[1][0]["cls"]):
        act = _med(rows, "action_s")
        counts = [r["count_s"] for r in rows if r["count_s"] is not None]
        cnt = f"{statistics.median(counts):.3f}" if counts else "raised"
        ratio = f"{act / statistics.median(counts):.2f}" if counts else "-"
        out.append(f"| `{op}` | {rows[0]['cls']} | {_med(rows, 'wall_s'):.3f} "
                   f"| {_med(rows, 'open_s'):.3f} | {_med(rows, 'build_s'):.3f} "
                   f"| {act:.3f} | {cnt} | {ratio} "
                   f"| {_med(rows, 'build_jobs'):g} | {_med(rows, 'action_jobs'):g} |")
    return out


def etl_table(runs: list[dict]) -> list[str]:
    warm = [r for run in runs for r in run["ops"] if r["pass_no"] > run["settle"]]
    out = ["| batch | ops | op s | run_batch s | jobs | tasks/file | bytes in | "
           "bytes written | rows loaded | dup skipped |", "|---|---|---|---|---|---|---|---|---|---|"]
    by_kind = collections.defaultdict(list)
    for r in warm:
        by_kind[r["op"].split("/")[0]].append(r)
    for kind, rows in sorted(by_kind.items()):
        out.append(f"| {kind} | {len(rows)} | {_med(rows, 'wall_s'):.3f} "
                   f"| {_med(rows, 'batch_s'):.3f} | {_med(rows, 'jobs'):g} "
                   f"| {statistics.median(r['tasks'] / r['files_in'] for r in rows):.2f} "
                   f"| {_med(rows, 'bytes_in'):g} | {_med(rows, 'bytes_written'):g} "
                   f"| {_med(rows, 'rows_loaded'):g} | {_med(rows, 'dup_skipped'):g} |")
    return out


def main() -> None:
    runs = collections.defaultdict(list)
    for path in sys.argv[1:]:
        with open(path) as fh:
            run = json.load(fh)
        runs[run["workload"]].append(run)
    lines = []
    for workload, rs in sorted(runs.items()):
        seeds = ", ".join(str(r["seed"]) for r in rs)
        host = rs[0]["host"]["before"]
        lines += [f"## {workload}", "",
                  f"{len(rs)} traced runs (seeds {seeds}), {host['nproc']} cores, "
                  f"`--seconds {rs[0]['seconds']:g}`. Tracer bookkeeping per op: "
                  f"{statistics.median(r['per_layer']['trace.self_s'] for r in rs):.3f} s "
                  f"(after each op, outside its time).", ""]
        lines += query_tables(rs) if "cls" in rs[0]["ops"][0] else etl_table(rs)
        lines.append("")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
