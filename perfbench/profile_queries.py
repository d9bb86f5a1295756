#!/usr/bin/env python3
"""Profile every registered query that has a usable DuckDB oracle, split
into open, build and action, on the benchmark's own sf0.1 tables.

    python3 perfbench/profile_queries.py --out perfbench/profile.json
    python3 perfbench/profile_queries.py --select perfbench/profile.json

Each query runs twice in one session, in two passes over the whole list;
the second pass is the warm profile the workload lists are chosen from.
A query that leaves files behind (a persisted model or table) is marked
`stateful`, since its later runs would skip the work its first run did.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import harness  # noqa: E402


def _files(*roots: str) -> set[str]:
    out = set()
    for root in roots:
        for d, _, names in os.walk(root):
            out.update(os.path.join(d, n) for n in names)
    return out


def usable_oracle(q) -> bool:
    """An oracle over the benchmark's tables only (no persisted artifact
    read from a fixed path)."""
    return isinstance(q.oracle, str) and "read_parquet" not in q.oracle \
        and "oracle-at-sf0.01" not in q.tags


#: the classes of the analytics pool: qualifying modules (None: any),
#: the class's dominant phase, the slowest warm op admitted, and how many
#: to keep. Budget: a warm pass of about 5 s on 4 cores.
CLASSES = {
    "dashboard": ({"relational", "tpch_shapes", "dashboard", "warehouse",
                   "decision_support"}, "open_s", 0.5, 3),
    "corpus": ({"text", "similarity", "minhash", "dedup", "corpus", "pq",
                "multimodal", "semdedup"}, "action_s", 2.0, 1),
    "iterative": (None, "build_s", 2.0, 1),
}
#: a corpus or iterative query qualifies with more than this much time
#: in its phase, and at least 60% of its op time there
MIN_PHASE_S = 1.0


def select(profile: dict) -> dict[str, str]:
    """The analytics pool, {query: class}: per class, the qualifying
    queries with the most time in the class's phase. Stateful queries are
    left out."""
    pool: dict[str, str] = {}
    for cls, (modules, phase, max_wall_s, keep) in CLASSES.items():
        ranked = []
        for name, r in profile["queries"].items():
            if "wall_s" not in r or r.get("stateful") or name in pool \
                    or r["wall_s"] > max_wall_s:
                continue
            if modules is not None and r["module"].rsplit(".", 1)[-1] not in modules:
                continue
            if cls != "dashboard" and (r[phase] < 0.6 * r["wall_s"]
                                       or r[phase] <= MIN_PHASE_S):
                continue
            ranked.append((r[phase], name))
        pool.update((name, cls) for _, name in sorted(ranked, reverse=True)[:keep])
    return pool


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", help="profile to write")
    ap.add_argument("--select", metavar="PROFILE",
                    help="print the analytics pool chosen from a written profile")
    args = ap.parse_args()
    if args.select:
        with open(args.select) as fh:
            print(json.dumps(select(json.load(fh)), indent=1))
        return
    if not args.out:
        ap.error("--out or --select is required")

    work = harness.prepare("profile")
    sf_dir = harness.make_tables(work)
    spark = harness.start_session()
    import phases
    spy = phases.OpenSpy()
    spy.install()
    from covid_weather_etl_spark.queries.registry import all_queries
    qs = {n: q for n, q in all_queries().items() if usable_oracle(q)}
    watched = (os.path.join(harness.REPO, "spark-warehouse"), sf_dir)

    rows: dict[str, dict] = {}
    for pass_no in (0, 1):
        for i, (name, q) in enumerate(qs.items()):
            before = _files(*watched) if pass_no == 0 else None
            try:
                rec = phases.run_query_traced(spark, spy, q, sf_dir, f"p{pass_no}q{i}")
            except Exception as ex:  # record and go on: the profile covers all
                rows[name] = {"module": q.fn.__module__, "error": repr(ex)[:300]}
                print(f"profile: {name} failed: {ex!r:.200}", file=sys.stderr)
                continue
            row = rows.setdefault(name, {"module": q.fn.__module__})
            if pass_no == 0:
                row["stateful"] = bool(_files(*watched) - before)
                row["cold_s"] = round(rec["wall_s"], 4)
                continue
            row.update({k: round(rec[k], 4) for k in (
                "wall_s", "open_s", "build_s", "action_s", "tables_opened",
                "open_jobs", "build_jobs", "action_jobs")})
            print(f"profile: {name} {row}", file=sys.stderr)

    meta = {"sf": harness.SF, "table_seed": harness.TABLE_SEED,
            "cores": harness.cores(),
            "date": datetime.date.today().isoformat(),
            "note": "warm pass (second of two) of each query, one session"}
    with open(args.out, "w") as fh:
        json.dump({"meta": meta, "queries": rows}, fh, indent=1, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
