"""Per-host class-data-sharing (CDS) archive for the driver JVM.

A fresh driver JVM spends seconds loading, parsing and verifying the
same few thousand Spark classes on every start. JDK 17 can dump those
classes once into an archive (`-XX:ArchiveClassesAtExit`) and map it at
the next start (`-XX:SharedArchiveFile`). `launch(conf)` decides, for
the launch conf `get_spark` is about to use, whether the archive
applies, builds it the first time on a host, and returns the java
option plus the environment the launch needs.

Where and when:

* The archive lives in ``$XDG_CACHE_HOME`` (default ``~/.cache``)
  ``/elective_waiting_times_pipeline_spark/cds/<key>.jsa``. The key
  digests the JDK (its ``release`` file and ``libjvm.so``) and the Spark
  jar set (name, size and mtime of every jar), so a JDK or Spark upgrade
  selects a new archive instead of handing the JVM a stale one.
* The first session on a host builds it in a child process (its own
  process group, a timeout, output to ``<key>.log`` beside the archive)
  running `_warm`: session start, parquet write/read, a CSV read, an
  aggregate, a join and ``toPandas``. The child writes to a temp path;
  the archive is published with ``os.replace`` only after the child
  exits 0, because a truncated archive crashes the JVM at start instead
  of being ignored. A failed build leaves ``<key>.failed`` and is not
  retried; delete the cache directory to retry.
* A non-blocking ``flock`` guards the build: a process that loses the
  race starts without the archive, it never waits.

When the launch stays exactly as without the archive:

* a session is already running in this process (its JVM is reused);
* the caller's java options, or ``JAVA_TOOL_OPTIONS`` /
  ``_JAVA_OPTIONS`` / ``SPARK_SUBMIT_OPTS``, already choose sharing or
  compressed-pointer flags (``-Xshare:off`` is the opt-out);
* the classpath is not the plain Spark one: ``spark.driver.extraClassPath``,
  ``spark.jars`` or ``spark.jars.packages`` is set, or an environment
  variable the launcher adds to the classpath is;
* the heap is 32 GiB or more, where compressed oops are off and the
  archive (dumped with them on) would be refused on every start;
* the Spark conf directory holds anything but ``*.template`` files.
  The conf directory is a classpath entry: JDK 17 will not dump with a
  non-empty directory on the classpath, and refuses the archive unless
  the classpath matches. So the build and every use launch with
  ``SPARK_CONF_DIR`` set to one empty directory owned by the cache,
  which is equivalent only while the real one holds nothing live.
"""

from __future__ import annotations

import contextlib
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile
from dataclasses import dataclass

# Bump when `_warm` changes, so hosts rebuild with the new class set.
RECIPE = 1
BUILD_TIMEOUT_S = 300.0

_JAVA_OPTS = "spark.driver.extraJavaOptions"
# Any of these in the JVM's options means the caller has chosen the
# sharing mode or the pointer regime itself.
_OWN_SHARING = ("-Xshare:", "SharedArchiveFile", "ArchiveClassesAtExit",
                "UseCompressedOops", "UseCompressedClassPointers")
_OPTION_ENV = ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "SPARK_SUBMIT_OPTS")
_CLASSPATH_CONFS = ("spark.driver.extraClassPath", "spark.jars", "spark.jars.packages")
_CLASSPATH_ENV = ("SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
                  "SPARK_PREPEND_CLASSES", "SPARK_TESTING")
_COOPS_LIMIT = 32 * 2**30
_UNITS = {"": 2**20, "k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}


@dataclass(frozen=True)
class Launch:
    java_option: str  # -XX:SharedArchiveFile=<archive>
    conf_dir: str  # the empty SPARK_CONF_DIR the archive was dumped with

    @contextlib.contextmanager
    def environment(self):
        """Set SPARK_CONF_DIR for the JVM launch, restore it after."""
        old = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = self.conf_dir
        try:
            yield
        finally:
            if old is None:
                os.environ.pop("SPARK_CONF_DIR", None)
            else:
                os.environ["SPARK_CONF_DIR"] = old


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(base, "elective_waiting_times_pipeline_spark", "cds")


def heap_bytes(memory: str) -> int | None:
    """Bytes of a Spark memory string (`4g`, `512m`, `2048`: MiB)."""
    m = re.fullmatch(r"\s*(\d+)\s*([kmgt]?)b?\s*", memory.lower())
    return int(m.group(1)) * _UNITS[m.group(2)] if m else None


def spark_home() -> str:
    from pyspark.find_spark_home import _find_spark_home

    return _find_spark_home()


def java_home() -> str | None:
    """The JDK the Spark launcher runs: $JAVA_HOME, else `java` on PATH."""
    if os.environ.get("JAVA_HOME"):
        return os.environ["JAVA_HOME"]
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def conf_dir_is_inert(path: str) -> bool:
    """True when the conf dir holds nothing Spark reads (only templates)."""
    try:
        return all(name.endswith(".template") for name in os.listdir(path))
    except FileNotFoundError:
        return True


def archive_key(jdk: str, jars: str) -> str | None:
    """Digest of the JDK build and the Spark jar set; None when either
    cannot be read (then no archive is used)."""
    h = hashlib.sha256(f"recipe={RECIPE}\n".encode())
    try:
        with open(os.path.join(jdk, "release"), "rb") as f:
            h.update(f.read())
        libjvm = os.stat(os.path.join(jdk, "lib", "server", "libjvm.so"))
        h.update(f"libjvm {libjvm.st_size} {libjvm.st_mtime_ns}\n".encode())
        for entry in sorted(os.scandir(jars), key=lambda e: e.name):
            st = entry.stat()
            h.update(f"{entry.name} {st.st_size} {st.st_mtime_ns}\n".encode())
    except OSError:
        return None
    return h.hexdigest()[:20]


def java_options(conf: dict[str, str]) -> str:
    """Every JVM option the caller chose for the driver: the launch conf's
    `spark.driver.extraJavaOptions` plus the environment variables the
    driver JVM also reads."""
    return " ".join([conf.get(_JAVA_OPTS, "")] + [os.environ.get(v, "") for v in _OPTION_ENV])


def plain_reason(conf: dict[str, str]) -> str | None:
    """Why this launch must stay without the archive, or None."""
    opts = java_options(conf)
    if any(flag in opts for flag in _OWN_SHARING):
        return "java options choose sharing or pointer flags"
    if any(conf.get(k) for k in _CLASSPATH_CONFS):
        return "caller extends the classpath"
    if any(os.environ.get(v) for v in _CLASSPATH_ENV):
        return "environment extends the classpath"
    if os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell") != "pyspark-shell":
        return "custom PYSPARK_SUBMIT_ARGS"
    heap = heap_bytes(conf.get("spark.driver.memory", "1g"))
    if heap is None or heap >= _COOPS_LIMIT:
        return "heap without compressed oops"
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home(), "conf")
    if not conf_dir_is_inert(conf_dir):
        return "conf dir holds live files"
    return None


class Cache:
    """The files of one key in the cache directory."""

    def __init__(self, root: str, key: str):
        self.root = root
        self.conf_dir = os.path.join(root, "conf")
        stem = os.path.join(root, key)
        self.archive, self.manifest = stem + ".jsa", stem + ".json"
        self.tmp, self.log = stem + ".jsa.tmp", stem + ".log"
        self.lock, self.failed = stem + ".lock", stem + ".failed"

    def valid(self) -> bool:
        """The archive is whole: its size is the one the build recorded."""
        try:
            with open(self.manifest) as f:
                size = json.load(f)["size"]
            return os.path.getsize(self.archive) == size > 0
        except (OSError, ValueError, KeyError, TypeError):
            return False

    def build(self, timeout: float = BUILD_TIMEOUT_S) -> bool:
        """Dump the archive in a child process group and publish it."""
        env = dict(os.environ, SPARK_CONF_DIR=self.conf_dir, SPARK_GRAFT_DRIVER_MEM="1g",
                   SPARK_GRAFT_CPUS="2")
        pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env["PYTHONPATH"] = os.pathsep.join(filter(None, [pkg_root, env.get("PYTHONPATH")]))
        with open(self.log, "w") as log:
            child = subprocess.Popen(
                [sys.executable, "-m", __name__, self.tmp], env=env, cwd=self.root,
                stdin=subprocess.DEVNULL, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True)
            try:
                rc = child.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                # the JVM is in the child's group: take it down too
                os.killpg(child.pid, signal.SIGKILL)
                child.wait()
                rc = "timeout"
        size = os.path.getsize(self.tmp) if os.path.exists(self.tmp) else 0
        if rc != 0 or size == 0:
            with contextlib.suppress(FileNotFoundError):
                os.remove(self.tmp)
            with open(self.failed, "w") as f:
                f.write(f"build exited {rc}; see {self.log}\n")
            return False
        with open(self.manifest + ".tmp", "w") as f:
            json.dump({"size": size}, f)
        os.replace(self.tmp, self.archive)
        os.replace(self.manifest + ".tmp", self.manifest)
        return True


def launch(conf: dict[str, str]) -> Launch | None:
    """The archive launch for `conf`, building the archive if this host
    has none yet; None means launch exactly as without it."""
    from pyspark import SparkContext

    if SparkContext._gateway is not None or plain_reason(conf):
        return None
    jdk = java_home()
    key = jdk and archive_key(jdk, os.path.join(spark_home(), "jars"))
    if not key:
        return None
    cache = Cache(cache_dir(), key)
    try:
        os.makedirs(cache.conf_dir, exist_ok=True)
        if not cache.valid():
            if os.path.exists(cache.failed):
                return None
            with open(cache.lock, "w") as lock:
                try:
                    fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
                except BlockingIOError:
                    return None  # another process is building
                if not cache.valid() and not cache.build():
                    return None
        if os.listdir(cache.conf_dir):
            return None
    except OSError:
        return None
    return Launch(f"-XX:SharedArchiveFile={cache.archive}", cache.conf_dir)


def _warm(out: str) -> None:
    """The build child: a small session touching the common paths, then
    a clean JVM exit, which is when the archive is written."""
    import pandas as pd
    from pyspark import SparkContext
    from pyspark.sql import functions as F

    from elective_waiting_times_pipeline_spark.session import get_spark

    spark = get_spark(app_name="class-archive",
                      extra_conf={_JAVA_OPTS: f"-XX:ArchiveClassesAtExit={out}"})
    work = tempfile.mkdtemp(prefix="class-archive-")
    try:
        nums = spark.range(5000).selectExpr("id", "id % 7 AS k", "CAST(id AS STRING) AS s")
        nums.write.parquet(os.path.join(work, "nums"))
        pd.DataFrame({"k": range(7), "label": list("abcdefg")}).to_csv(
            os.path.join(work, "labels.csv"), index=False)
        labels = spark.read.option("header", "true").option("inferSchema", "true").csv(
            os.path.join(work, "labels.csv"))
        agg = spark.read.parquet(os.path.join(work, "nums")).groupBy("k").agg(
            F.count("*").alias("n"), F.sum("id").alias("total"), F.max("s").alias("top"))
        rows = agg.join(labels, "k").orderBy("k").toPandas()
        if len(rows) != 7:
            raise RuntimeError(f"warm workload returned {len(rows)} rows, expected 7")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    sys.exit(gateway.proc.wait(timeout=BUILD_TIMEOUT_S))


if __name__ == "__main__":
    _warm(sys.argv[1])
