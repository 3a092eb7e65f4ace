"""SparkSession helper with the engine's recommended conf.

Defaults are tuned for correctness-at-scale: AQE on (skew-join splitting +
partition coalescing replace the reference's manual ``n_blocks`` machinery,
string_grouper.py:387-415), Arrow on (every Python kernel crosses the JVM
boundary as Arrow batches: mapInArrow, mapInPandas or pandas_udf).  The
driver JVM starts from a class-data-sharing archive of the host's first
session (``_class_archive``).
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import shutil
import struct
import subprocess
from typing import NamedTuple, Optional

from pyspark import SparkContext
from pyspark.sql import SparkSession

_MEM_UNITS = {"": 20, "k": 10, "m": 20, "g": 30, "t": 40}


def _mem_bytes(size: str) -> int | None:
    """A JVM memory string ("3g", "4096m", "512" = MiB) -> bytes; None if
    it is not one."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", size.strip().lower())
    return int(m.group(1)) << _MEM_UNITS[m.group(2)] if m else None


def _driver_java_options(driver_mem: str) -> str:
    """JVM options that make the driver heap's footprint follow its live data.

    G1 commits heap as it goes: whenever a burst of collections takes more
    than a few percent of wall time (bursts of humongous allocations set
    them off: Spark's 4-32 MB buffers and pages), it grows the heap, and
    eden moves onto the new regions at its top, which then stay resident.
    So how far a session's RSS grew depended on GC timing and on how many
    operations it ran, not on what it held: repeated identical sessions of
    perfbench's names_exact (live heap about 200 MB) peaked anywhere from
    1.5 to 2.4 GB of JVM RSS with a 3 GB heap.

    - ``-Xms`` = the maximum heap: the heap never resizes, so eden keeps
      reusing the same regions.  Only when the heap fits in physical
      memory: committing more than that fails at start-up under Linux's
      default overcommit heuristic.  Committed pages stay unbacked until
      they are touched.
    - ``-XX:MaxNewSize`` = 1/8 of the heap: eden is the part of the heap
      touched on every cycle, so with the old generation's peak it bounds
      the resident heap; G1 would otherwise let it reach 60% of the heap.
    """
    heap = _mem_bytes(driver_mem)
    if heap is None:
        return ""
    opts = [f"-XX:MaxNewSize={heap // 8 >> 20}m"]
    if heap <= os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"):
        opts.insert(0, f"-Xms{heap >> 20}m")
    return " ".join(opts)


def _daemon_module(master: str) -> str:
    """``_worker_daemon`` when local workers find the package at start: a
    directory in the working directory, on PYTHONPATH or in site-packages,
    not only one shipped by ``--py-files``/``addPyFile``; else Spark's."""
    import site

    home = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    paths += [*site.getsitepackages(), site.getusersitepackages()]
    if re.fullmatch(r"local(\[.*\])?", master) and any(
        os.path.isdir(p) and os.path.samefile(p, home) for p in paths if p
    ):
        return "string_grouper_spark._worker_daemon"
    return "pyspark.daemon"


# a JDK dynamic archive's first header field; the JVM writes the header
# after everything else, so a dump cut short leaves zeros here
_ARCHIVE_MAGIC = struct.pack("=I", 0xF00BABA8)
# a dump logs each class it cannot archive as a [warning][cds] line on the
# JVM's stdout, which the driver inherits: hundreds of lines after a CLI
# run's JSON
_QUIET_CDS = "-Xlog:cds=off -Xlog:cds+dynamic=off"


class _ClassArchive(NamedTuple):
    options: str  # driver JVM options
    conf_dir: str  # SPARK_CONF_DIR while the driver JVM starts
    classpath_file: Optional[str]  # where a dumping session records its class path


def _class_archive(heap: Optional[int]) -> Optional[_ClassArchive]:
    """How a new driver JVM uses the host's class-data-sharing archive
    (JDK dynamic CDS, JEP 350): loading Spark's classes from the archive
    of a past session halves both session start and the first query.

    One archive per key under ``$XDG_CACHE_HOME/string_grouper_spark/``
    (default ``~/.cache``).  The key covers the JVM, Spark's jars (path,
    size, mtime) and whether the heap is at least 32 GB: compressed oops
    turn off there, and the JVM silently ignores an archive dumped on the
    other side of that line.

    - Archive present: start from it (``-XX:SharedArchiveFile``).
    - None: dump one at JVM exit into a temp file of this process
      (``-XX:ArchiveClassesAtExit``); ``get_spark`` records the JVM's class
      path beside it.  A later session publishes a finished temp file (its
      header written) once a JVM with ``-Xshare:on``, the session's heap
      and that class path starts from it: an archive that does not match
      fails that start, and a truncated one aborts it, as it would abort
      the session.

    The dump refuses a non-empty directory on the class path, where Spark
    puts its conf directory: the session gets an empty one, but only when
    the user set none and Spark's own holds nothing but templates.  Any
    other addition to the driver's class path means no archive.  Deleting
    the cache directory is always safe.
    """
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    jars, spark_conf = os.path.join(spark_home, "jars"), os.path.join(spark_home, "conf")
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    classpath_vars = ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
    if (
        heap is None or java is None or not os.path.isdir(jars)
        or any(os.environ.get(v) for v in classpath_vars)
        or re.search(r"driver-class-path|extraClassPath",
                     os.environ.get("PYSPARK_SUBMIT_ARGS", ""))
        or os.path.isdir(spark_conf)
        and not all(f.endswith(".template") for f in os.listdir(spark_conf))
    ):
        return None
    root = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "string_grouper_spark",
    )
    conf = os.path.join(root, "conf")
    os.makedirs(conf, exist_ok=True)
    if os.listdir(conf):
        return None
    java = os.path.realpath(java)
    key = hashlib.sha256(b"coops" if heap < 32 << 30 else b"no coops")
    jdk = os.path.dirname(os.path.dirname(java))
    for path in [java, *glob.glob(os.path.join(jdk, "lib", "*", "libjvm.so")),
                 *sorted(glob.glob(os.path.join(jars, "*")))]:
        st = os.stat(path)
        key.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    archive = os.path.join(root, f"driver-{key.hexdigest()[:16]}.jsa")
    if not os.path.exists(archive):
        _publish(archive, java, heap)
    if os.path.exists(archive):
        for leftover in glob.glob(glob.escape(archive) + ".*"):
            _remove(leftover)
        return _ClassArchive(f"-XX:SharedArchiveFile={archive} {_QUIET_CDS}", conf, None)
    own = f"{archive}.{os.getpid()}"
    return _ClassArchive(
        f"-XX:ArchiveClassesAtExit={own}.tmp {_QUIET_CDS}", conf, f"{own}.classpath"
    )


def _publish(archive: str, java: str, heap: int) -> None:
    """Move the first finished temp dump of ``archive`` that a JVM starts
    from into place, deleting finished ones that it does not.  Unfinished
    ones may still be being written; they go once an archive is in place."""
    for dump in glob.glob(glob.escape(archive) + ".*.tmp"):
        classpath_file = dump[: -len(".tmp")] + ".classpath"
        try:
            with open(dump, "rb") as fh:
                if fh.read(len(_ARCHIVE_MAGIC)) != _ARCHIVE_MAGIC:
                    continue
            if _starts_from(java, dump, heap, classpath_file):
                os.replace(dump, archive)
                return
        except FileNotFoundError:  # another session published or removed it
            continue
        _remove(dump)
        _remove(classpath_file)


def _starts_from(java: str, archive: str, heap: int, classpath_file: str) -> bool:
    try:
        with open(classpath_file) as fh:
            classpath = fh.read()
        return subprocess.run(
            [java, "-Xshare:on", f"-XX:SharedArchiveFile={archive}", f"-Xmx{heap >> 20}m",
             f"-XX:ErrorFile={os.devnull}", "-XX:-CreateCoredumpOnCrash",
             "-cp", classpath, "-version"],
            stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL, timeout=120,
        ).returncode == 0
    except (OSError, subprocess.SubprocessError):
        return False


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


def get_spark(
    app_name: str = "string_grouper_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "64g")
    # SPARK_GRAFT_MASTER overrides (e.g. local-cluster[4,8,16384] for
    # multi-executor-JVM runs — single-JVM local[32] hits execution-memory
    # pool lock contention past ~8 task threads; see bench_scaling.py)
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(32, int(cpus) if cpus.isdigit() else 32))
    ))
    # shuffle spill dir: prefer tmpfs — in local mode every shuffle write
    # lands on one shared disk, which serializes otherwise-parallel stages
    # (measured: shuffle-heavy stages ANTI-scaled 8->32 cores on /tmp)
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if local_dir is None and os.path.isdir("/dev/shm"):
        # per-process dir: concurrent/previous sessions' shutdown cleaners
        # must never race with this one's live shuffle files
        local_dir = f"/dev/shm/spark_local_{os.getpid()}"
    java_options = _driver_java_options(driver_mem)
    archive = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        try:  # this call starts the driver JVM
            archive = _class_archive(_mem_bytes(driver_mem))
        except OSError:
            pass
    if archive is not None:
        java_options = f"{java_options} {archive.options}".lstrip()
        os.environ["SPARK_CONF_DIR"] = archive.conf_dir
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.local.dir", local_dir or "/tmp")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # iterative pipelines (CC) run many short stages; waiting 3s per
        # task wave for cache locality dwarfs the stages themselves on
        # multi-executor local-cluster runs
        .config("spark.locality.wait", "0s")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # join strategy: prefer shuffled-hash over sort-merge when the
        # planner's size checks allow it, and let AQE rewrite SMJ->SHJ when
        # every post-shuffle partition is under 128 MB.  The engine's
        # dominant joins attach packed array columns (codes/ws vectors) to
        # slim id pairs — hashing the bounded side beats sorting array-heavy
        # rows (guide: sort-merge always works but is slowest; measured ~10%
        # on the flagship re-score at sf0.1).  Scale-safe: both paths fall
        # back to sort-merge when the per-partition build side could exceed
        # the threshold, so no local-only assumption is baked in.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "128m"
        )
        # every LIMIT in the engine is a cap-guard (e.g. the bounded-vocab
        # IDF collect) that nearly always needs EVERY partition: start the
        # limit scan at the full shuffle width instead of 1-partition
        # incremental probing (1 -> 4 -> 16 ... sequential mini-jobs)
        .config("spark.sql.limit.initialNumPartitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bound each Arrow batch: packed-posting rows carry ~10KB of arrays,
        # so the default 10k-row batches would hold ~100MB per python worker
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # local mode = one JVM: size the heap to the machine, not a container
        # default (measured: 8g heap + 32 tasks of array-heavy joins => GC
        # livelock, stages stop scaling past 8 cores)
        .config("spark.driver.memory", driver_mem)
        # defaultJavaOptions, not extraJavaOptions: a --driver-java-options
        # in PYSPARK_SUBMIT_ARGS replaces the latter and is appended to this
        .config("spark.driver.defaultJavaOptions", java_options)
        # local-cluster mode: the master string caps WORKER memory; executor
        # heap is still spark.executor.memory (default 1g!) — size it too
        .config("spark.executor.memory", os.environ.get("SPARK_GRAFT_EXECUTOR_MEM", "4g"))
        .config("spark.ui.enabled", "false")
        # local workers skip the per-task zip re-read (_worker_daemon)
        .config("spark.python.daemon.module", _daemon_module(master))
    )
    try:
        spark = builder.getOrCreate()
    finally:
        if archive is not None:
            del os.environ["SPARK_CONF_DIR"]
    if archive is not None and archive.classpath_file:
        # the class path the dump will record, for the session that
        # publishes it to start a JVM with
        classpath = spark.sparkContext._jvm.System.getProperty("java.class.path")
        try:
            with open(archive.classpath_file, "w") as fh:
                fh.write(classpath)
        except OSError:
            pass
    return spark
