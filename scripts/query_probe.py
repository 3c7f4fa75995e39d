#!/usr/bin/env python
"""Probe catalog queries one at a time.

  time <query> [--conf k=v ...] [--runs N]
      Fresh-session A/B: warmup, then min-of-N (default 2) collects, as
      one JSON line {"query", "sec", "all", "conf"}. Only a fresh session
      A/Bs a session conf honestly: static confs set after getOrCreate()
      silently no-op.
  plans <tag> <suffix> [query ...]
      Write explain("formatted") and the AQE-final plan of each query
      (default: the headline set) to plans/<tag>/<query>_<suffix>.txt;
      print the Spark jobs its execution launched (at small sf, jobs are
      driver latency) and its shuffles, broadcasts, sorts, Python nodes
      and joins.
  audit [sf_dir] [query ...] > PLANS.md
      The PLANS.md table of final-plan node counts: the named queries, or
      the headline set and then every other query.

`time` and `plans` read $SPARK_GRAFT_SF_DIR (default sf0.1); `audit`
reads `sf_dir` (default sf0.001).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from elective_waiting_times_pipeline_spark import get_spark, harness
from elective_waiting_times_pipeline_spark.plans import catalog

AUDIT_SF = os.path.join(os.path.dirname(harness.DEFAULT_SF_DIR), "sf0.001")
AUDIT_COLS = ("parquet_scans", "rdd_scans", "shuffles", "broadcasts", "reused", "pushed", "codegen")


def time_query(name: str, conf: dict[str, str], runs: int) -> None:
    sf = harness.sf_dir()
    spark = get_spark(app_name=f"ab:{name}", extra_conf=conf or None)
    run = lambda: harness.execute(catalog.SPARK_QUERIES[name](spark, sf))  # noqa: E731
    times = [round(t, 3) for t in harness.warm_times(spark, run, runs)]
    print(json.dumps({"query": name, "sec": min(times), "all": times, "conf": conf}))


def dump_plans(tag: str, suffix: str, names: list[str]) -> None:
    sf = harness.sf_dir()
    outdir = os.path.join(ROOT, "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark(app_name=f"dump_plans_{tag}")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for name in names:
        sc.setJobDescription(f"{name} [{suffix}]")
        df = catalog.SPARK_QUERIES[name](spark, sf)
        jobs0 = len(tracker.getJobIdsForGroup(None) or [])
        final = harness.final_plan(df)
        jobs = len(tracker.getJobIdsForGroup(None) or []) - jobs0
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(f"== query: {name} @ {sf} ==\n\n")
            f.write("== explain(formatted) ==\n")
            f.write(harness.explain(df) + "\n")
            f.write("\n== final executed plan (AQE) ==\n")
            f.write(final)
        c = harness.plan_counts(final)
        print(f"{name}: jobs={jobs} shuffles={c['shuffles']} broadcasts={c['broadcasts']} "
              f"sorts={c['sorts']} py={c['python']} joins={c['joins']}")
        sc.setJobDescription(None)


def audit(sf: str, names: list[str]) -> None:
    spark = get_spark(shuffle_partitions=8)
    print("# PLANS — final-physical-plan audit of the FULL query catalog")
    print()
    print(f"Regenerate: `python scripts/query_probe.py audit {sf} > PLANS.md`.")
    print("Plans are the EXECUTED (AQE-final) plans through the noop sink.")
    print("Shuffle = hash/range/single-partition Exchange node (a reuse is")
    print("counted under reused exch only); checkpointed subtrees appear as")
    print("RDD scans (their upstream cost runs once).")
    print("Headline queries (bench.py's set) are listed first, then every")
    print("other registered catalog query alphabetically.")
    print()
    print("| query | headline | parquet scans | rdd scans | shuffles | broadcasts | reused exch | pushed-filter scans | codegen spans | top-k |")
    print("|---|---|---|---|---|---|---|---|---|---|")
    for name in names:
        hl = "yes" if name in catalog.HEADLINE else "—"
        try:
            df = catalog.SPARK_QUERIES[name](spark, sf)
            c = harness.plan_counts(harness.final_plan(df))
            cells = " | ".join(str(c[k]) for k in AUDIT_COLS)
            print(f"| {name} | {hl} | {cells} | {'yes' if c['topk'] else '—'} |")
        except Exception as ex:  # pragma: no cover — audit must not die mid-table
            print(f"| {name} | {hl} | ERR: {str(ex)[:60]} | | | | | | | |")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    modes = ap.add_subparsers(dest="mode", required=True)
    t = modes.add_parser("time")
    t.add_argument("query")
    t.add_argument("--conf", action="append", default=[], metavar="k=v")
    t.add_argument("--runs", type=int, default=2)
    p = modes.add_parser("plans")
    p.add_argument("tag")
    p.add_argument("suffix")
    p.add_argument("names", nargs="*", metavar="query")
    a = modes.add_parser("audit")
    a.add_argument("names", nargs="*", metavar="[sf_dir] query")
    args = ap.parse_args()

    if args.mode == "time":
        name = harness.query_names([args.query])[0]
        time_query(name, dict(kv.partition("=")[::2] for kv in args.conf), args.runs)
    elif args.mode == "plans":
        dump_plans(args.tag, args.suffix, harness.query_names(args.names))
    else:
        names = args.names
        sf = names.pop(0) if names and os.path.isdir(names[0]) else AUDIT_SF
        if names:
            names = harness.query_names(names)
        else:
            names = list(catalog.HEADLINE) + sorted(set(catalog.SPARK_QUERIES) - set(catalog.HEADLINE))
        audit(sf, names)


if __name__ == "__main__":
    main()
