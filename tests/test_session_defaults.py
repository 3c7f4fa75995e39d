"""Launch defaults of the driver JVM: the heap is derived from physical
RAM, so a local run never asks for more heap than the machine has, and a
local driver gets a two-thread JIT compiler pool unless the caller sets
its own."""

from __future__ import annotations

import os

import pytest

from elective_waiting_times_pipeline_spark import class_archive
from elective_waiting_times_pipeline_spark.session import default_driver_memory, spark_conf

GIB = 2**30
JAVA_OPTS = "spark.driver.extraJavaOptions"
POOL = "-XX:CICompilerCount=2"


@pytest.fixture
def no_option_env(monkeypatch):
    for var in class_archive._OPTION_ENV:
        monkeypatch.delenv(var, raising=False)


def test_driver_heap_is_half_of_ram_in_whole_gib():
    assert default_driver_memory(15 * GIB) == "7g"
    assert default_driver_memory(64 * GIB) == "32g"


def test_driver_heap_is_clamped_to_1g_and_48g():
    assert default_driver_memory(GIB) == "1g"
    assert default_driver_memory(128 * GIB) == "48g"


def test_concurrent_jvms_split_the_heap():
    assert default_driver_memory(16 * GIB, jvms=4) == "2g"
    assert default_driver_memory(512 * GIB, jvms=2) == "48g"


def test_default_reads_this_machine_and_fits_in_it():
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap = default_driver_memory()
    assert heap == default_driver_memory(phys)
    assert int(heap[:-1]) * GIB <= max(phys, GIB)


def test_heaps_without_compressed_oops_skip_the_class_archive(monkeypatch):
    """From 32 GiB the JVM turns compressed oops off and would refuse the
    archive (dumped with them on) on every start, so no archive is used."""
    from elective_waiting_times_pipeline_spark import class_archive

    for var in (*class_archive._OPTION_ENV, *class_archive._CLASSPATH_ENV, "PYSPARK_SUBMIT_ARGS"):
        monkeypatch.delenv(var, raising=False)
    assert class_archive.heap_bytes("31g") == 31 * GIB
    assert class_archive.heap_bytes("2048") == class_archive.heap_bytes("2g") == 2 * GIB
    big = default_driver_memory(128 * GIB)
    assert class_archive.plain_reason({"spark.driver.memory": big}) == "heap without compressed oops"
    assert class_archive.plain_reason({"spark.driver.memory": "32g"}) == "heap without compressed oops"
    assert class_archive.plain_reason({"spark.driver.memory": "31g"}) != "heap without compressed oops"


@pytest.mark.parametrize("master, pooled", [
    ("local[4]", True), ("local", True), ("local[*]", True),
    ("spark://h:7077", False), ("yarn", False), ("local-cluster[2,1,1024]", False)])
def test_only_a_local_driver_gets_the_two_thread_compiler_pool(no_option_env, master, pooled):
    assert (POOL in spark_conf(master, 4).get(JAVA_OPTS, "").split()) == pooled


def test_callers_compiler_count_wins_from_the_conf_or_the_environment(no_option_env,
                                                                      monkeypatch):
    own = "-Djava.io.tmpdir=/w/tmp -XX:CICompilerCount=3"
    assert spark_conf("local[4]", 4, {JAVA_OPTS: own})[JAVA_OPTS] == own
    monkeypatch.setenv("JAVA_TOOL_OPTIONS", "-Xss4m -XX:CICompilerCount=3")
    assert JAVA_OPTS not in spark_conf("local[4]", 4)
    assert spark_conf("local[4]", 4, {JAVA_OPTS: "-Dx=1"})[JAVA_OPTS] == "-Dx=1"


def test_compiler_pool_follows_the_callers_options_once(no_option_env):
    tmp = "-Djava.io.tmpdir=/w/tmp"
    assert spark_conf("local[4]", 4, {JAVA_OPTS: tmp})[JAVA_OPTS] == f"{tmp} {POOL}"
    assert spark_conf("local[4]", 4, {JAVA_OPTS: f"{tmp} {POOL}"})[JAVA_OPTS] == f"{tmp} {POOL}"


def test_session_driver_compiles_with_two_threads(spark):
    """The effective value in the running driver JVM, not just the conf."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    assert bean.getVMOption("CICompilerCount").getValue() == "2"
