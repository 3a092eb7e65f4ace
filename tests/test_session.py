"""get_spark's driver JVM options: a fixed heap with a bounded eden."""

import os

from string_grouper_spark import session
from string_grouper_spark.session import _driver_java_options, _mem_bytes


def test_mem_bytes_reads_jvm_memory_strings():
    assert _mem_bytes("3g") == 3 << 30
    assert _mem_bytes("4096m") == 4096 << 20
    assert _mem_bytes("512") == 512 << 20  # Spark's default unit is MiB
    assert _mem_bytes("2GB") == 2 << 30
    assert _mem_bytes("lots") is None


def test_driver_java_options_fix_the_heap_that_fits(monkeypatch):
    # a host of 16 GiB of 4 KiB pages
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 4 << 20}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
    assert _driver_java_options("3g") == "-Xms3072m -XX:MaxNewSize=384m"
    # a heap above physical memory cannot be committed up front
    assert _driver_java_options("64g") == "-XX:MaxNewSize=8192m"
    assert _driver_java_options("lots") == ""


def test_session_jvm_runs_with_the_options(spark):
    want = _driver_java_options(os.environ.get("SPARK_GRAFT_DRIVER_MEM", "64g"))
    assert spark.sparkContext.getConf().get("spark.driver.defaultJavaOptions") == want
    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    for opt in want.split():
        assert opt in args
