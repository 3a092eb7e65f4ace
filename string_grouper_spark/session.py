"""SparkSession helper with the engine's recommended conf.

Defaults are tuned for correctness-at-scale: AQE on (skew-join splitting +
partition coalescing replace the reference's manual ``n_blocks`` machinery,
string_grouper.py:387-415), Arrow on (all our Python kernels are
pandas_udf/mapInPandas).
"""

from __future__ import annotations

import os
import re

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
    return (
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
        .config("spark.driver.defaultJavaOptions", _driver_java_options(driver_mem))
        # local-cluster mode: the master string caps WORKER memory; executor
        # heap is still spark.executor.memory (default 1g!) — size it too
        .config("spark.executor.memory", os.environ.get("SPARK_GRAFT_EXECUTOR_MEM", "4g"))
        .config("spark.ui.enabled", "false")
        # local workers skip the per-task zip re-read (_worker_daemon)
        .config("spark.python.daemon.module", _daemon_module(master))
        .getOrCreate()
    )
