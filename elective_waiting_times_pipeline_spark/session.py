"""SparkSession factory with scale-aware defaults.

Local test/bench runs use ``local[N]``; the same configuration set is
what we would ship to a 1000-executor cluster (AQE on, skew-join on,
sane shuffle partitioning, Arrow for the few Pandas-UDF paths, UTC
session timezone so results are oracle-comparable).

A fresh driver JVM starts from the host's class-data-sharing archive
(`class_archive`; built once per host by the first session). A
``local[...]`` driver JVM, which also runs every task, gets a JIT
compiler pool of two threads (one C1, one C2) unless the caller's java
options (conf, ``JAVA_TOOL_OPTIONS``, ``_JAVA_OPTIONS`` or
``SPARK_SUBMIT_OPTS``) set ``-XX:CICompilerCount`` themselves. Confs
whose value is a list (`LIST_CONFS`) merge with the caller's value
instead of being replaced by it; in java options a caller's
``-XX:`` flag replaces ours of the same name.

`spark_conf` builds the launch conf without starting anything;
`get_spark` adds the class archive and starts (or reuses) the session.
"""

from __future__ import annotations

import contextlib
import os
import re

from pyspark.sql import SparkSession

from elective_waiting_times_pipeline_spark import class_archive

_JAVA_OPTS = "spark.driver.extraJavaOptions"
_INFER_FILTERS_FROM_GENERATE = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
# Confs whose value is a list (by separator). A caller's value and ours
# MERGE: the caller's items come first, ours are appended when missing.
# bind_once's single-evaluation contract (functions/barrier.py) depends
# on InferFiltersFromGenerate staying excluded, so a caller excluding an
# unrelated rule must not re-enable it; a caller's java options (say
# perfbench's -Djava.io.tmpdir) must survive the class-archive flag.
LIST_CONFS = {"spark.sql.optimizer.excludedRules": ",", _JAVA_OPTS: " "}
_XX_FLAG = re.compile(r"-XX:[+-]?([^=]+)(=.*)?")
_COMPILER_POOL = "-XX:CICompilerCount=2"
_LOCAL_MASTER = re.compile(r"local(\[.*\])?")


def _flag_name(item: str) -> str:
    """The identity of one list item: `-XX:Name` for `-XX:Name=value`,
    `-XX:+Name` and `-XX:-Name` (HotSpot obeys only the last of several,
    so a merge keeps the caller's and drops ours), the stripped item
    otherwise."""
    m = _XX_FLAG.fullmatch(item.strip())
    return f"-XX:{m.group(1)}" if m else item.strip()


def merge_conf(key: str, value: str, ours: str | None) -> str:
    """`value` for `key`, merged with `ours` when `key` is a list conf."""
    sep = LIST_CONFS.get(key)
    if sep is None or not ours:
        return value
    have = {_flag_name(item) for item in value.split(sep)}
    missing = [item for item in ours.split(sep) if item.strip() and _flag_name(item) not in have]
    kept = [value.strip()] if value.strip() else []
    return sep.join(kept + missing)


def default_driver_memory(phys_bytes: int | None = None, jvms: int = 1) -> str:
    """Driver heap for one of `jvms` concurrent local-mode JVMs: half of
    physical RAM (`phys_bytes`, read from the OS when None) split evenly,
    in whole GiB, between 1g and 48g. The other half is left to the
    JVM's off-heap memory, the Python workers and the OS page cache."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48, max(1, phys_bytes // (2 * jvms * 2**30)))}g"


def spark_conf(master: str, shuffle_partitions: int,
               extra_conf: dict[str, str] | None = None) -> dict[str, str]:
    """The launch conf `get_spark` uses for `master`, before the class
    archive: our defaults, the caller's `extra_conf` merged over them,
    and the local driver's compiler pool."""
    conf = {
        # local mode = driver-only JVM; the default 1g heap OOMs on
        # wide plans and big shuffles long before the box is near full,
        # and a heap above physical RAM gets the process OOM-killed.
        # Effective only at JVM launch.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        # Shuffle sizing: ~cores locally; AQE coalesces at runtime so a
        # too-high static number is cheap, a too-low one is not.
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Adaptive execution: runtime partition coalescing, skew-join
        # splitting, and dynamic join-strategy switching. These are the
        # knobs that make the same plan survive a 100x scale-up.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Arrow for the pandas_udf / createDataFrame(pandas) edges.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Oracle comparability: DuckDB timestamps are UTC-naive.
        "spark.sql.session.timeZone": "UTC",
        # Parquet TIMESTAMP(NANOS) (events table) has no Spark type:
        # read as long; sources.readers converts to TimestampType at
        # the scan edge (truncating ns → µs).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Quiet the UI for headless runs.
        "spark.ui.enabled": "false",
        # InferFiltersFromGenerate adds `size(e) > 0 AND isnotnull(e)`
        # below every explode/Generate, and predicate pushdown inlines
        # the generator's DEFINING EXPRESSION into that filter. Every
        # explode in this engine feeds on a COMPUTED array (tokenize /
        # shingle / hash-chain pipelines), so the inferred filter
        # re-evaluates the full expression per row — doubling the
        # dominant per-row cost of the text family — and never reaches
        # the parquet scan (no raw-column explodes exist here, so the
        # rule's pushdown upside is structurally zero in this engine).
        # Verified in optimized plans (the tokenize chain appeared in
        # both Filter and Generate) and by A/B: text-family headline
        # subset 15.2 s → 14.0 s at sf0.1; at scale the win is a full
        # tokenize pass per explode consumer. Scale-independent plan
        # hygiene, not a local[32] tune.
        "spark.sql.optimizer.excludedRules": _INFER_FILTERS_FROM_GENERATE,
        # Whole-stage-codegen class cache. The default 100 entries
        # thrash in a session that runs the whole catalog: the
        # range_bucket 63-term CASE-WHEN (the distributed-rank
        # bucketer) costs seconds to janino-compile, and eviction by
        # ~interleaved other queries forces a recompile on every pass
        # (measured: weighted_median_value 2.2 s warm vs 5.9 s when 4
        # other lineitem queries run in between; 2.6 s with this cache
        # raised). Static JVM-wide cache, read once at first use.
        "spark.sql.codegen.cache.maxEntries": "2000",
    }
    for k, v in (extra_conf or {}).items():
        conf[k] = merge_conf(k, v, conf.get(k))
    # JIT compiler pool: HotSpot sizes it from the core count (3 threads
    # on 4 cores: 1 C1 + 2 C2) as if the cores were idle, but a local
    # driver JVM also runs every task. Two threads, the tiered minimum
    # (1 C1 + 1 C2), cut a fresh perfbench run's compile time
    # (-XX:+CITime, local[4]) from 35-43 to 24-26 s: C2 time 29-36 ->
    # 17-19 s and ~3,200 -> ~2,150 C2 methods, because compile tasks that
    # go stale in the one C2 queue are dropped before they run; C1 time
    # stays ~7 s. Median run_cpu_s: catalog_build_heavy 47.8 -> 36.9 s,
    # rtt_dashboard 33.1 -> 26.6 s; rtt_dashboard's pass wall time
    # 10.1 -> 10.4 s. A caller's own -XX:CICompilerCount wins.
    callers = {_flag_name(item) for item in class_archive.java_options(conf).split()}
    if _LOCAL_MASTER.fullmatch(master) and _flag_name(_COMPILER_POOL) not in callers:
        conf[_JAVA_OPTS] = merge_conf(_JAVA_OPTS, conf.get(_JAVA_OPTS, ""), _COMPILER_POOL)
    return conf


def get_spark(
    app_name: str = "elective_waiting_times_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Defaults are driven by env vars so the driver/bench harness can
    steer them: ``SPARK_GRAFT_CPUS`` sets local parallelism and
    ``SPARK_GRAFT_DRIVER_MEM`` the driver heap (default:
    `default_driver_memory()`).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    conf = spark_conf(master, shuffle_partitions, extra_conf)
    archive = class_archive.launch(conf)
    if archive is not None:
        conf[_JAVA_OPTS] = merge_conf(_JAVA_OPTS, conf.get(_JAVA_OPTS, ""), archive.java_option)
    builder = SparkSession.builder.appName(app_name).master(master).config(map=conf)
    with archive.environment() if archive else contextlib.nullcontext():
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
