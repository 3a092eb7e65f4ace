"""get_spark's session: driver JVM options (a fixed heap with a bounded
eden, the class-data-sharing archive's flags), and the Python worker
daemon that reads zip archives once where the workers can import it."""

import importlib
import os
import re
import subprocess
import sys
import zipfile
import zipimport

import pytest

from string_grouper_spark import _worker_daemon, session
from string_grouper_spark.session import _daemon_module, _driver_java_options, _mem_bytes


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
    base = _driver_java_options(os.environ.get("SPARK_GRAFT_DRIVER_MEM", "64g"))
    got = spark.sparkContext.getConf().get("spark.driver.defaultJavaOptions")
    # then the class-data-sharing archive's flags, where the environment
    # allows one: start from the archive, or dump one at exit
    archive = re.fullmatch(
        re.escape(base)
        + r" -XX:(?:SharedArchiveFile|ArchiveClassesAtExit)=(\S+) "
        + re.escape(session._QUIET_CDS),
        got,
    )
    assert got == base or archive
    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    for opt in got.split():
        assert opt in args
    if archive:
        store = os.path.dirname(archive.group(1))
        assert os.path.basename(store) == "string_grouper_spark"
        # the dump needs a class path without a non-empty directory
        conf = jvm.System.getProperty("java.class.path").split(os.pathsep)[0]
        assert os.path.samefile(conf, os.path.join(store, "conf"))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimporter re-reads lazily from 3.13"
)
def test_worker_daemon_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"sgs_zip_a": "A = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(_worker_daemon, "_read_at", {})
    read = zipimport._read_directory
    reads = []
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or read(p)
    )
    try:
        assert importlib.import_module("sgs_zip_a").A == 1
        reads.clear()
        _worker_daemon.cache_zip_directories()
        assert reads.count(archive) == 1
        for _ in range(3):  # one call per task in a Spark worker
            importlib.invalidate_caches()
        assert reads.count(archive) == 1
        # a rewritten archive is read again, and its new module imports
        _write_zip(archive, {"sgs_zip_a": "A = 1\n", "sgs_zip_b": "B = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 2
        assert importlib.import_module("sgs_zip_b").B == 2
    finally:
        for name in ("sgs_zip_a", "sgs_zip_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_daemon_module_needs_local_workers_that_find_the_package(
    tmp_path, monkeypatch
):
    root = os.path.dirname(os.path.dirname(_worker_daemon.__file__))
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(root)
    for master in ("local", "local[4]", "local[*]"):
        assert _daemon_module(master) == _worker_daemon.__name__
    # executors of a cluster start elsewhere
    for master in ("local-cluster[2,1,1024]", "spark://host:7077", "yarn"):
        assert _daemon_module(master) == "pyspark.daemon"
    # a driver outside the repository, importing the package through its
    # own sys.path: the workers would not find it at daemon start
    monkeypatch.chdir(tmp_path)
    assert _daemon_module("local[4]") == "pyspark.daemon"
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), root]))
    assert _daemon_module("local[4]") == _worker_daemon.__name__


def test_session_workers_fork_from_the_worker_daemon(spark):
    # the test session runs from the repository root on a local master
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == _worker_daemon.__name__

    def report(batches):
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        code = zipimport.zipimporter.invalidate_caches.__code__
        yield pa.RecordBatch.from_pydict({"file": [code.co_filename]})

    got = spark.range(8, numPartitions=2).mapInArrow(report, "file string")
    files = {r.file for r in got.collect()}
    if sys.version_info < (3, 13):
        assert len(files) == 1
        assert os.path.samefile(files.pop(), _worker_daemon.__file__)


def test_worker_daemon_writes_nothing_to_stdout():
    # the daemon's stdout carries its port to the JVM: a stray print there
    # breaks every Python task
    root = os.path.dirname(os.path.dirname(_worker_daemon.__file__))
    out = subprocess.run(
        [sys.executable, "-c",
         "from string_grouper_spark import _worker_daemon as d; "
         "d.cache_zip_directories()"],
        cwd=root, capture_output=True, check=True,
    )
    assert out.stdout == b""


def test_workers_import_the_package_shipped_with_add_py_file(tmp_path):
    # a driver outside the repository reaches the package through its own
    # sys.path; the workers get it only from addPyFile, once tasks start
    root = os.path.dirname(os.path.dirname(_worker_daemon.__file__))
    shipped = tmp_path / "shipped.zip"
    with zipfile.ZipFile(shipped, "w") as z:
        for d, _, files in os.walk(os.path.join(root, "string_grouper_spark")):
            for f in files:
                if f.endswith(".py"):
                    z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), root))
    script = f"""
import sys
sys.path.insert(0, {root!r})
from string_grouper_spark.session import get_spark

def where(batches):
    import pyarrow as pa
    import string_grouper_spark
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({{"file": [string_grouper_spark.__file__]}})

spark = get_spark("add-py-file", master="local[1]")
spark.sparkContext.addPyFile({str(shipped)!r})
print(spark.range(1).mapInArrow(where, "file string").first().file)
spark.stop()
"""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "shipped.zip" in out.stdout.splitlines()[-1]
