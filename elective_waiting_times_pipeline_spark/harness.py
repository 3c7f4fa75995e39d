"""Query harness: the one place the runners decide which catalog queries
to run, which lake they read, how a query is executed, how the session
is cleaned between queries, and how a query's final physical plan is
read and counted. `bench.py`, `scripts/query_probe.py` and the scale,
stream and probe scripts all go through it.
"""

from __future__ import annotations

import gc
import os
import re
import time

# Default lake: the sf0.1 test data, the scale the bench contract names.
DEFAULT_SF_DIR = "/root/testdata/sf0.1"

_INITIAL = "== Initial Plan =="
_PY_NODES = r"(BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas|FlatMapGroupsInPandas)"
_JOINS = r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)"
_ACTIONS = {
    "collect": lambda df: df.collect(),
    "count": lambda df: df.count(),
    # full execution without pulling rows to the driver: unlike count()
    # Catalyst cannot prune the computed columns of a narrow projection
    "noop": lambda df: df.write.format("noop").mode("overwrite").save(),
}


def query_names(names: list[str] | None = None) -> list[str]:
    """`names` if given, else SPARK_GRAFT_QUERIES=a,b,c, else the headline
    set; order is kept. Unknown names fail fast rather than silently
    running nothing."""
    from elective_waiting_times_pipeline_spark.plans import catalog

    source = "queries"
    if not names:
        source = "SPARK_GRAFT_QUERIES"
        names = [n.strip() for n in os.environ.get(source, "").split(",") if n.strip()]
        if not names:
            return list(catalog.HEADLINE)
    unknown = [n for n in names if n not in catalog.SPARK_QUERIES]
    if unknown:
        raise SystemExit(f"{source}: unknown queries {unknown}")
    return list(names)


def sf_dir(default: str = DEFAULT_SF_DIR) -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", default)


def sf_value(path: str) -> float | str:
    """The scale factor in a lake dir's name (`.../sf0.1` → 0.1); the raw
    suffix when it is not a number."""
    sf = path.rstrip("/").rsplit("sf", 1)[-1]
    try:
        return float(sf)
    except ValueError:
        return sf


def execute(df, action: str = "collect"):
    """Fully execute `df` by `action`: collect, count or noop."""
    return _ACTIONS[action](df)


def reclaim(spark) -> None:
    """Drop leaked localCheckpoint blocks between queries. They pile up in
    the block manager across a long session and inflate later queries up
    to 3x (measured: weighted_median_value 2.2 s isolated vs 6.4 s after
    five checkpoint-heavy queries). Python gc drops the py4j refs, JVM gc
    lets the ContextCleaner unpersist the now-unreferenced RDDs, so only
    garbage is reclaimed. Call it outside the timed window."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def warm_times(spark, fn, runs: int) -> list[float]:
    """Call `fn` once to warm up (JIT, parquet footers, broadcast infra),
    then `runs` more times; return the timed calls' wall seconds.
    `reclaim` runs after every call, outside the timed window."""
    times = []
    for i in range(runs + 1):
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        reclaim(spark)
        if i:
            times.append(dt)
    return times


def explain(df, mode: str = "formatted") -> str:
    """What `df.explain(mode)` prints, as a string."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def plan_string(df) -> str:
    """`df`'s physical plan as Spark prints it, without executing it."""
    return df._jdf.queryExecution().executedPlan().toString()


def final_plan(df) -> str:
    """Execute THIS DataFrame's QueryExecution (a `df.write` would run a
    clone and leave this plan's AQE unfinalized) and return the AQE-final
    plan, without the trailing initial-plan section."""
    df.toPandas()
    return plan_string(df).split(_INITIAL)[0]


def plan_counts(plan: str) -> dict:
    """Node counts of a final plan. Only the final section counts: a
    finalized AQE plan repeats every node under "== Initial Plan ==".
    A shuffle is a hash/range/single-partition Exchange node, so
    broadcasts are counted apart, and so is a reuse, which Spark prints
    as `ReusedExchange [...], Exchange hashpartitioning(...)`;
    checkpointed subtrees show as RDD scans."""
    plan = plan.split(_INITIAL)[0]
    return {
        "parquet_scans": plan.count("FileScan parquet"),
        "rdd_scans": plan.count("Scan ExistingRDD"),
        "shuffles": len(re.findall(r"^[ :+-]*Exchange (?:hash|range|Single)", plan, re.M)),
        "broadcasts": plan.count("BroadcastExchange"),
        "reused": plan.count("ReusedExchange"),
        "pushed": len(re.findall(r"PushedFilters: \[(?!\])", plan)),
        "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "topk": "TakeOrderedAndProject" in plan,
        "sorts": len(re.findall(r"\bSort ", plan)),
        "python": len(re.findall(_PY_NODES, plan)),
        "joins": sorted(set(re.findall(_JOINS, plan))),
    }
