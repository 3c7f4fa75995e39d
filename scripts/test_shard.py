#!/usr/bin/env python
"""Run the test suite as N concurrent pytest processes (file-level
shards) — the correctness gate at per-commit cost on a many-core box.

Why not pytest-xdist: not installed in this environment, and xdist's
per-test distribution would put tests from one module (which share
session-scoped Spark fixtures and module-level lakes) on different
workers, re-paying the fixture build per worker anyway. File-level
sharding keeps every module's fixture reuse intact and needs zero
test changes; each worker is a plain `pytest f1.py f2.py ...` run
with its own Spark session (SPARK_GRAFT_CPUS=cpus/N threads each).

Shard assignment is LPT (longest-processing-time greedy bin-packing)
over recorded per-file durations in scripts/test_durations.json —
regenerate with --record after adding slow test files; files missing
from the record get a default weight so new files don't silently
unbalance a shard. Identical coverage to `pytest tests/`: same files,
same tests, just partitioned; a worker failure fails the whole run
and prints that worker's tail.

Usage:
  python scripts/test_shard.py [-n WORKERS] [pytest args...]
  python scripts/test_shard.py --record   # serial run; refresh durations
  python scripts/test_shard.py --from-junit out.xml
      # refresh durations from `pytest tests/ --junitxml=out.xml` —
      # one full run instead of --record's one session per file (each
      # pays Spark's start-up: a serial `pytest tests/test_barrier.py`
      # takes 9 s at local[4] with the driver's class archive, 14 s
      # without; the junit route reuses one session)
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from elective_waiting_times_pipeline_spark import class_archive  # noqa: E402
from elective_waiting_times_pipeline_spark.session import default_driver_memory  # noqa: E402

DURATIONS = os.path.join(HERE, "test_durations.json")
DEFAULT_WEIGHT = 30.0  # unseen file: assume mid-weight, not free


def test_files() -> list[str]:
    return sorted(
        os.path.relpath(p, ROOT) for p in glob.glob(os.path.join(ROOT, "tests", "test_*.py"))
    )


def record() -> None:
    """Serial full run, recording wall seconds per test file."""
    durations: dict[str, float] = {}
    rc_all = 0
    for f in test_files():
        t0 = time.perf_counter()
        rc = subprocess.call([sys.executable, "-m", "pytest", f, "-q"], cwd=ROOT)
        durations[f] = round(time.perf_counter() - t0, 1)
        rc_all |= 0 if rc in (0, 5) else rc  # 5 = no tests collected
    with open(DURATIONS, "w") as fh:
        json.dump(durations, fh, indent=1, sort_keys=True)
    print(f"wrote {DURATIONS}")
    sys.exit(rc_all)


def record_from_junit(xml_paths: list[str]) -> None:
    """Refresh durations from junitxml report(s): per-file weight =
    Σ testcase time. Accepts several reports (one per shard worker of
    a `--junit-dir` run — their testcase sets are disjoint, so summing
    across files reconstructs the full suite). Misses session-fixture
    build time for the first file that triggers it, but shard balance
    only needs relative weights. NOTE: the ORACLE_FILE weight recorded
    from a sharded run is the whole file's serial total (the union of
    its sub-shards), which is exactly the semantic shards() divides
    by n."""
    import xml.etree.ElementTree as ET

    durations: dict[str, float] = {}
    for xml_path in xml_paths:
        for tc in ET.parse(xml_path).getroot().iter("testcase"):
            # classname is the dotted module path (tests.test_x[.Class]);
            # module-level skips carry an empty classname
            parts = [
                p for p in tc.get("classname", "").split(".") if p.startswith("test_")
            ]
            mod = parts[0] if parts else ""
            if not mod:
                continue
            f = os.path.join("tests", mod + ".py")
            durations[f] = durations.get(f, 0.0) + float(tc.get("time") or 0.0)
    durations = {f: round(t, 1) for f, t in durations.items()}
    with open(DURATIONS, "w") as fh:
        json.dump(durations, fh, indent=1, sort_keys=True)
    print(f"wrote {DURATIONS} ({len(durations)} files)")


# The one file whose parametrization (every oracle-backed catalog
# query) dwarfs the rest of the suite: file-level sharding floors the
# wall time at this single file, so it is split ACROSS workers via
# SPARK_GRAFT_ORACLE_SHARD="i/k" (crc32-of-test-name modulo, see
# tests/test_catalog_oracle.py) — one sub-shard per worker, identical
# test IDs and union coverage.
ORACLE_FILE = os.path.join("tests", "test_catalog_oracle.py")


def shards(n: int) -> list[tuple[list[str], str | None]]:
    """Partition test files into n bins: (files, oracle_shard_spec)
    per bin. Each bin carries exactly one oracle sub-shard i/n of
    ORACLE_FILE (weighted at 1/n of its recorded duration); remaining
    files are LPT bin-packed on top."""
    try:
        with open(DURATIONS) as fh:
            weights = json.load(fh)
    except (OSError, ValueError):
        weights = {}
    all_files = test_files()
    split_oracle = n > 1 and ORACLE_FILE in all_files
    files = sorted(
        (f for f in all_files if not (split_oracle and f == ORACLE_FILE)),
        key=lambda f: weights.get(f, DEFAULT_WEIGHT),
        reverse=True,
    )
    if split_oracle:
        w = weights.get(ORACLE_FILE, DEFAULT_WEIGHT) / n
        loads = [w] * n
        members: list[list[str]] = [[ORACLE_FILE] for _ in range(n)]
        specs: list[str | None] = [f"{i}/{n}" for i in range(n)]
    else:
        loads = [0.0] * n
        members = [[] for _ in range(n)]
        specs = [None] * n
    for f in files:  # LPT: heaviest file to the lightest bin
        i = min(range(n), key=loads.__getitem__)
        loads[i] += weights.get(f, DEFAULT_WEIGHT)
        members[i].append(f)
    return [(m, s) for m, s in zip(members, specs) if m]


def main() -> None:
    argv = sys.argv[1:]
    if "--record" in argv:
        record()
        return
    if "--from-junit" in argv:
        record_from_junit(argv[argv.index("--from-junit") + 1 :])
        return
    n = 4
    if "-n" in argv:
        i = argv.index("-n")
        n = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2 :]
    junit_dir = None
    if "--junit-dir" in argv:
        i = argv.index("--junit-dir")
        junit_dir = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
        os.makedirs(junit_dir, exist_ok=True)
    cpus = os.cpu_count() or 8
    per_worker = max(2, cpus // max(1, n))
    # N concurrent JVMs must not each claim the single-session heap;
    # they split it, so together they stay within RAM
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(jvms=max(1, n))
    # build the driver JVMs' class archive here, once: N workers would
    # race for it, and the N-1 that lose the race start without it
    class_archive.launch({"spark.driver.memory": heap})
    groups = shards(n)
    procs = []
    t0 = time.perf_counter()
    for i, (files, oracle_spec) in enumerate(groups):
        env = dict(os.environ)
        if oracle_spec is not None:
            env["SPARK_GRAFT_ORACLE_SHARD"] = oracle_spec
        # each worker gets its own Spark session on a CPU slice; the
        # conftest reads SPARK_GRAFT_CPUS with setdefault so an outer
        # override still wins
        env["SPARK_GRAFT_CPUS"] = env.get("SPARK_GRAFT_CPUS", str(per_worker))
        env["SPARK_GRAFT_DRIVER_MEM"] = heap
        # isolate Spark's local dirs so shuffle/checkpoint files of
        # concurrent JVMs never collide
        env["SPARK_LOCAL_DIRS"] = tempfile.mkdtemp(prefix=f"shard{i}_spark_")
        out = tempfile.NamedTemporaryFile(
            mode="w+", prefix=f"shard{i}_", suffix=".log", delete=False
        )
        extra = (
            [f"--junitxml={os.path.join(junit_dir, f'shard{i}.xml')}"]
            if junit_dir
            else []
        )
        p = subprocess.Popen(
            [sys.executable, "-m", "pytest", *files, "-q", *argv, *extra],
            cwd=ROOT,
            stdout=out,
            stderr=subprocess.STDOUT,
            env=env,
        )
        procs.append((i, p, out.name, files))
    rc_all = 0
    for i, p, log, files in procs:
        rc = p.wait()
        tail = open(log).read().strip().splitlines()
        status = "ok" if rc == 0 else f"FAIL rc={rc}"
        print(f"[shard {i}] {status} ({len(files)} files) — {tail[-1] if tail else ''}")
        if rc != 0:
            print("\n".join(tail[-40:]))
            rc_all = rc
    print(f"total wall: {round(time.perf_counter() - t0, 1)}s across {len(procs)} shards")
    sys.exit(rc_all)


if __name__ == "__main__":
    main()
