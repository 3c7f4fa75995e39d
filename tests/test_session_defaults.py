"""The driver heap default is derived from physical RAM, so a local run
never asks for more heap than the machine has."""

from __future__ import annotations

import os

from elective_waiting_times_pipeline_spark.session import default_driver_memory

GIB = 2**30


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
