"""The driver JVM's per-host class archive (`class_archive`): when it is
used, when a launch stays plain, and that no bad archive can stop a
session from starting."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time

import pytest

from elective_waiting_times_pipeline_spark import class_archive
from elective_waiting_times_pipeline_spark.session import LIST_CONFS, merge_conf

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JAVA_OPTS = "spark.driver.extraJavaOptions"
HEAP = {"spark.driver.memory": "1g"}


@pytest.fixture
def plain_env(monkeypatch, tmp_path):
    """No session running, no environment that changes the launch, and a
    private cache directory."""
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", None)
    for var in (*class_archive._OPTION_ENV, *class_archive._CLASSPATH_ENV,
                "PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    return tmp_path


def _cache() -> class_archive.Cache:
    key = class_archive.archive_key(
        class_archive.java_home(), os.path.join(class_archive.spark_home(), "jars"))
    assert key
    return class_archive.Cache(class_archive.cache_dir(), key)


def _publish(cache: class_archive.Cache, size: int, recorded: int) -> None:
    """An archive of `size` bytes whose manifest records `recorded`."""
    os.makedirs(cache.conf_dir, exist_ok=True)
    with open(cache.archive, "wb") as f:
        f.write(b"\0" * size)
    with open(cache.manifest, "w") as f:
        json.dump({"size": recorded}, f)


def _no_build(monkeypatch) -> list:
    calls = []
    monkeypatch.setattr(class_archive.Cache, "build",
                        lambda self: calls.append(self) or False)
    return calls


def test_key_changes_with_a_jars_size_or_mtime(tmp_path):
    jdk, jars = tmp_path / "jdk", tmp_path / "jars"
    (jdk / "lib" / "server").mkdir(parents=True)
    (jdk / "release").write_text('JAVA_VERSION="17"\n')
    (jdk / "lib" / "server" / "libjvm.so").write_bytes(b"jvm")
    jars.mkdir()
    (jars / "a.jar").write_bytes(b"aaaa")
    (jars / "b.jar").write_bytes(b"bb")
    k0 = class_archive.archive_key(str(jdk), str(jars))
    assert k0 == class_archive.archive_key(str(jdk), str(jars))
    (jars / "b.jar").write_bytes(b"bbb")
    k1 = class_archive.archive_key(str(jdk), str(jars))
    st = os.stat(jars / "b.jar")
    os.utime(jars / "b.jar", ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    k2 = class_archive.archive_key(str(jdk), str(jars))
    (jdk / "release").write_text('JAVA_VERSION="17.0.1"\n')
    k3 = class_archive.archive_key(str(jdk), str(jars))
    assert len({k0, k1, k2, k3}) == 4
    assert class_archive.archive_key(str(jdk), str(tmp_path / "no-jars")) is None


def test_whole_archive_is_used_with_the_empty_conf_dir(plain_env, monkeypatch):
    calls = _no_build(monkeypatch)
    cache = _cache()
    _publish(cache, 64, 64)
    launch = class_archive.launch(HEAP)
    assert launch == class_archive.Launch(f"-XX:SharedArchiveFile={cache.archive}",
                                          cache.conf_dir)
    assert not calls and os.listdir(cache.conf_dir) == []
    with launch.environment():
        assert os.environ["SPARK_CONF_DIR"] == cache.conf_dir
    assert "SPARK_CONF_DIR" not in os.environ


def test_truncated_archive_leads_to_a_plain_launch(plain_env, monkeypatch):
    calls = _no_build(monkeypatch)
    cache = _cache()
    _publish(cache, 40, 64)
    assert not cache.valid()
    assert class_archive.launch(HEAP) is None
    assert len(calls) == 1  # a rebuild was tried, the truncated file never used


def test_conf_dir_with_a_live_file_leads_to_a_plain_launch(plain_env, monkeypatch):
    calls = _no_build(monkeypatch)
    _publish(_cache(), 64, 64)
    conf = plain_env / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    assert class_archive.launch(HEAP) is not None
    (conf / "spark-defaults.conf").write_text("spark.foo bar\n")
    assert class_archive.plain_reason(HEAP) == "conf dir holds live files"
    assert class_archive.launch(HEAP) is None
    assert not calls


@pytest.mark.parametrize("opts", ["-Xshare:off", "-Dx=1 -XX:SharedArchiveFile=/a.jsa",
                                  "-XX:ArchiveClassesAtExit=/b.jsa"])
def test_callers_own_sharing_flags_lead_to_a_plain_launch(plain_env, monkeypatch, opts):
    calls = _no_build(monkeypatch)
    _publish(_cache(), 64, 64)
    assert class_archive.launch({**HEAP, JAVA_OPTS: opts}) is None
    monkeypatch.setenv("JAVA_TOOL_OPTIONS", opts)
    assert class_archive.launch(HEAP) is None
    assert not calls


@pytest.mark.parametrize("conf", [{"spark.driver.extraClassPath": "/x.jar"},
                                  {"spark.jars": "/y.jar"}])
def test_a_changed_classpath_leads_to_a_plain_launch(plain_env, monkeypatch, conf):
    _no_build(monkeypatch)
    _publish(_cache(), 64, 64)
    assert class_archive.launch({**HEAP, **conf}) is None


def test_failed_build_is_not_retried_and_a_lost_race_does_not_wait(plain_env, monkeypatch):
    import fcntl

    calls = _no_build(monkeypatch)
    cache = _cache()
    os.makedirs(cache.root)
    with open(cache.lock, "w") as held:
        fcntl.flock(held, fcntl.LOCK_EX)
        t0 = time.perf_counter()
        assert class_archive.launch(HEAP) is None
        assert time.perf_counter() - t0 < 1 and not calls
    open(cache.failed, "w").close()
    assert class_archive.launch(HEAP) is None and not calls


def test_running_session_is_reused_without_archive_work(plain_env, monkeypatch):
    from pyspark import SparkContext

    calls = _no_build(monkeypatch)
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert class_archive.launch(HEAP) is None and not calls


def test_merge_keeps_the_callers_list_items_first():
    tmp = "-Djava.io.tmpdir=/work/tmp"
    flag = "-XX:SharedArchiveFile=/c/k.jsa"
    assert merge_conf(JAVA_OPTS, tmp, flag) == f"{tmp} {flag}"
    assert merge_conf(JAVA_OPTS, "", flag) == flag
    assert merge_conf(JAVA_OPTS, f"{tmp} {flag}", flag) == f"{tmp} {flag}"
    # -XX: flags match by name, whatever their value or sign: the caller's stays
    assert (merge_conf(JAVA_OPTS, f"{tmp} -XX:CICompilerCount=3", "-XX:CICompilerCount=2")
            == f"{tmp} -XX:CICompilerCount=3")
    assert (merge_conf(JAVA_OPTS, f"{tmp} -XX:-UseFoo", f"-XX:+UseFoo {flag}")
            == f"{tmp} -XX:-UseFoo {flag}")
    assert merge_conf(JAVA_OPTS, "-XX:+UseFoo", "-XX:UseFoo=1") == "-XX:+UseFoo"
    rules = "spark.sql.optimizer.excludedRules"
    builtin = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    assert merge_conf(rules, "a.B", builtin) == f"a.B,{builtin}"
    assert merge_conf(rules, f"{builtin}, a.B", builtin) == f"{builtin}, a.B"
    assert set(LIST_CONFS) == {rules, JAVA_OPTS}
    assert merge_conf("spark.sql.shuffle.partitions", "8", "4") == "8"


def test_killed_build_leaves_no_process_and_no_archive(plain_env):
    cache = _cache()
    os.makedirs(cache.conf_dir)
    assert not cache.build(timeout=3.0)
    assert not os.path.exists(cache.tmp) and not cache.valid()
    assert "timeout" in open(cache.failed).read()
    # every process of the build (child, launcher, JVM) names the temp path
    ps = subprocess.run(["ps", "-eo", "args="], capture_output=True, text=True).stdout
    assert cache.tmp not in ps


# The caller's own compiler count rides along: it must reach the JVM
# instead of get_spark's local default, and not disturb the archive.
_SESSION = """
from elective_waiting_times_pipeline_spark import get_spark
spark = get_spark(app_name="archive-test",
                  extra_conf={"%s": "-Xlog:cds -XX:CICompilerCount=3"})
jvm = spark._jvm
bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
print("CICompilerCount", bean.getVMOption("CICompilerCount").getValue(), flush=True)
print("COUNT", spark.range(10).count(), flush=True)
""" % JAVA_OPTS


def _session(tmp_path) -> str:
    env = dict(os.environ, XDG_CACHE_HOME=str(tmp_path / "cache"), SPARK_GRAFT_CPUS="2",
               SPARK_GRAFT_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])))
    env.pop("SPARK_CONF_DIR", None)
    done = subprocess.run([sys.executable, "-c", _SESSION], env=env, cwd=str(tmp_path),
                          capture_output=True, text=True, timeout=600)
    out = done.stdout + done.stderr
    assert done.returncode == 0 and "COUNT 10" in out, out[-3000:]
    return out


def test_built_archive_is_mapped_and_a_stale_one_still_starts(tmp_path):
    if class_archive.plain_reason(HEAP):
        pytest.skip(f"no archive on this host: {class_archive.plain_reason(HEAP)}")
    out = _session(tmp_path)  # first session on the "host": builds, then uses
    (archive,) = glob.glob(str(tmp_path / "cache" / "*" / "cds" / "*.jsa"))
    assert f"Opened archive {archive}." in out
    assert "CICompilerCount 3" in out
    # the dump's warnings went to the build log, not to this session
    assert "Signed JAR" in open(archive[: -len(".jsa")] + ".log").read()
    assert "Signed JAR" not in out
    # A stale archive (made by another JVM build; the key missed it):
    # the JVM refuses it at start and runs without it.
    os.chmod(archive, 0o644)
    with open(archive, "r+b") as f:
        head = f.read(4096)
        at = head.find(b"OpenJDK")
        assert at > 0
        f.seek(at)
        f.write(b"OpenXDK")
    out = _session(tmp_path)
    assert "COUNT 10" in out
    assert glob.glob(str(tmp_path / "cache" / "*" / "cds" / "*.jsa")) == [archive]
