#!/usr/bin/env python3
"""Benchmark of the string_grouper_spark dedup engine, timed from outside.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload pages_union --seed 11 --seconds 10 --trace 0

One invocation = one driver process at ``local[<nproc>]``:

1. start the Spark session the library's ``session.get_spark`` builds,
   sized from this host (cores = nproc, driver heap from MemTotal);
2. generate the workload's input from ``--seed`` and write it to parquet
   (not timed as set-up);
3. ``--trace 0``: run the operation once cold, then warm until ``--seconds``
   have passed (at least two warm runs); gate every output; print the
   end-to-end metrics.
   ``--trace 1``: with Spark's event log on, run the operation cold and warm,
   then once more as its public-layer calls, one job group per span; parse
   the event log into the per-layer metrics.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed``, ``metrics``.  The line before it stamps the host and versions.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager
from types import SimpleNamespace


def _process_age_s() -> float:
    """Seconds since this process was started (from /proc)."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


T_START = time.perf_counter() - _process_age_s()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SPANS = (
    "fast_dedup.terms",
    "fast_dedup.vectors",
    "fast_dedup.bands",
    "fast_dedup.rescore",
    "candidates.substring",
    "suffix_array.spans",
    "tfidf.postings",
    "similarity.cosine_join",
    "grouping.group_labels",
    "grouping.cc",
)
SKEW_SPANS = ("fast_dedup.bands", "similarity.cosine_join", "grouping.cc")


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _configure_env(work: str, trace: bool) -> dict:
    """Environment the library's session helper and the workers read."""
    cpus = _nproc()
    mem_gb = _meminfo_kb("MemTotal") / (1 << 20)
    # the session helper defaults to a 64g heap; size it to the host
    driver_gb = max(1, min(4, int(mem_gb / 5)))
    local = os.path.join(work, "spark-local", str(os.getpid()))
    tmp = os.path.join(work, "tmp", str(os.getpid()))
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    # keep the JVM's and the workers' temporary files (native codec
    # libraries, gateway handshake) inside the checkout
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    ]
    events = os.path.join(work, "eventlog", str(os.getpid()))
    if trace:
        os.makedirs(events, exist_ok=True)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events}",
            "--conf", "spark.eventLog.compress=false",
        ]
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
        "SPARK_LOCAL_DIRS": local,
        # workers import the library by name: without this they fail with
        # ModuleNotFoundError unless started from the repository root
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
    }
    os.environ.update(env)
    tempfile.tempdir = tmp
    return {
        "local": local, "tmp": tmp, "events": events,
        "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"],
    }


def _descendants(pid: int) -> list:
    children: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _peak_rss_mb() -> float:
    """VmHWM summed over this driver, its JVM and the JVM's Python workers."""
    total_kb = 0
    for pid in [os.getpid()] + _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


def _git_sha() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True,
            timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def _stop(spark) -> None:
    """Stop the session, then the JVM and every worker it started, and wait."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if jvm is not None:
        jvm.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    deadline = time.monotonic() + 15
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
    for pid in procs:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def _persisted(spark) -> int:
    """Cache entries still registered after a Python and a JVM collection."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.3)  # the context cleaner unpersists collected RDDs async
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _shuffle_mb(spark, group: str) -> float:
    """Shuffle bytes written by every stage of a job group (status store)."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stages = set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        info = sc.statusTracker().getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    total = 0
    for sid in stages:
        try:
            total += store.lastStageAttempt(sid).shuffleWriteBytes()
        except Py4JJavaError:  # stage evicted from the store or never ran
            pass
    return total / 1e6


def _timed_op(spark, wl, path, meta, seed, group, fn=None):
    """Run one operation under job group ``group``; returns its record."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    t_epoch = time.time()
    t0 = time.perf_counter()
    # a failed operation or gate is counted, not fatal
    out, error = None, None
    try:
        out = (fn or wl.run)(spark, path, meta)
    except Exception as exc:
        error = exc
    wall = time.perf_counter() - t0
    sc.setJobGroup("idle", "idle")
    if error is None:
        try:
            gate = wl.check(out, meta, seed)
        except Exception as exc:
            error = exc
    if error is not None:
        traceback.print_exception(error, file=sys.stderr)
        gate = {"ok": False, "error": f"{type(error).__name__}: {error}"[:500]}
    return {
        "group": group, "wall_s": wall, "start_ms": t_epoch * 1e3,
        "end_ms": (t_epoch + wall) * 1e3, "shuffle_mb": _shuffle_mb(spark, group),
        **gate,
    }


def _consistent(records: list) -> None:
    """Every operation of a run must give the first one's exact output."""
    digests = [r.get("digest") for r in records if r.get("digest")]
    for r in records:
        if r.get("digest") and r["digest"] != digests[0]:
            r["ok"] = False
            r["error"] = "output differs from the run's first operation"


def _e2e(records: list, setup_s: float, peak_mb: float) -> dict:
    warm = [r["wall_s"] for r in records[1:]]
    return {
        "wall_s": (statistics.median(warm), "s"),
        "cold_wall_s": (records[0]["wall_s"], "s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak_mb, "MB"),
        "shuffle_mb": (statistics.median(r["shuffle_mb"] for r in records), "MB"),
        "dup_pair_recall": (min(r.get("recall", 0.0) for r in records), "ratio"),
        "op_pass_ratio": (sum(r["ok"] for r in records) / len(records), "ratio"),
    }


def _plain(spark, wl, path, meta, seed, seconds):
    """One cold operation, then warm ones until ``seconds`` have passed (at
    least two); returns (records, persisted entries per op)."""
    before = _persisted(spark)
    records = [_timed_op(spark, wl, path, meta, seed, "op-0")]
    t_warm = time.perf_counter()
    while len(records) < 3 or time.perf_counter() - t_warm < seconds:
        records.append(_timed_op(spark, wl, path, meta, seed, f"op-{len(records)}"))
    _consistent(records)
    return records, (_persisted(spark) - before) / len(records)


class Tracer:
    """``with tracer(name) as s:`` runs the block's Spark jobs under job
    group ``name``, adds its wall time to ``walls[name]`` and ``s.rows`` to
    ``rows[name]``.  ``counters`` collects attempt counts a workload
    measures outside its spans (in job group ``aux``)."""

    def __init__(self, sc):
        self.sc = sc
        self.walls: dict = {}
        self.rows: dict = {}
        self.counters: dict = {}

    @contextmanager
    def __call__(self, name: str):
        rec = SimpleNamespace(rows=0)
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            self.walls[name] = self.walls.get(name, 0.0) + time.perf_counter() - t0
            self.rows[name] = self.rows.get(name, 0) + int(rec.rows)
            self.sc.setJobGroup("traced", "traced")


def _traced(spark, wl, path, meta, seed):
    """Plain cold + warm operation, then the same operation as its
    public-layer calls; returns (records, tracer, persisted entries per op)."""
    tracer = Tracer(spark.sparkContext)
    before = _persisted(spark)
    records = [
        _timed_op(spark, wl, path, meta, seed, "plain.cold"),
        _timed_op(spark, wl, path, meta, seed, "plain"),
    ]
    persisted_per_op = (_persisted(spark) - before) / 2
    records.append(
        _timed_op(
            spark, wl, path, meta, seed, "traced",
            fn=lambda s, p, m: wl.traced(s, p, m, tracer),
        )
    )
    _consistent(records)
    return records, tracer, persisted_per_op


def _layer_metrics(log, records, tracer, persisted_per_op, cores) -> dict:
    walls, rows, counters = tracer.walls, tracer.rows, tracer.counters
    out: dict = {}
    for name in SPANS:
        g = log.group(name).summary()
        wall = walls.get(name, 0.0)
        out[f"{name}.wall_s"] = (wall, "s")
        out[f"{name}.task_s"] = (g["task_s"], "s")
        out[f"{name}.core_util"] = (g["task_s"] / (wall * cores) if wall else 0.0, "ratio")
        out[f"{name}.py_s"] = (g["py_s"], "s")
        out[f"{name}.py_mb"] = (g["py_mb"], "MB")
        out[f"{name}.shuffle_mb"] = (g["shuffle_mb"], "MB")
        out[f"{name}.spill_mb"] = (g["spill_mb"], "MB")
        out[f"{name}.gc_s"] = (g["gc_s"], "s")
        out[f"{name}.failed_tasks"] = (g["failed_tasks"], "count")
        out[f"{name}.rows_out"] = (rows.get(name, 0), "count")
    cand = rows.get("fast_dedup.bands", 0)
    out["fast_dedup.bands.pairs_kept_ratio"] = (
        rows.get("fast_dedup.rescore", 0) / cand if cand else 0.0, "ratio"
    )
    out["similarity.cosine_join.join_rows"] = (counters.get("join_rows", 0), "count")
    # the self-join emits each kept pair in both directions
    cand = counters.get("candidate_pairs", 0)
    out["similarity.cosine_join.pairs_kept_ratio"] = (
        rows.get("similarity.cosine_join", 0) / 2 / cand if cand else 0.0, "ratio"
    )
    for name in SKEW_SPANS:
        grp = log.group(name)
        out[f"{name}.task_skew"] = (grp.task_skew() if grp.tasks else 0.0, "ratio")
    out["grouping.cc.jobs"] = (log.group("grouping.cc").summary()["jobs"], "count")
    plain = records[1]
    covered = log.group("plain").interval_cover_ms(plain["start_ms"], plain["end_ms"])
    out["driver.gap_s"] = (max(0.0, plain["wall_s"] - covered / 1e3), "s")
    out["session.persisted_rdds_delta"] = (persisted_per_op, "count")
    out["trace.overhead_s"] = (sum(walls.get(n, 0.0) for n in SPANS) - plain["wall_s"], "s")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=None)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "string_grouper_spark", "__init__.py")):
        print(f"perfbench: no string_grouper_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import DEFAULT_SEED, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    seed = DEFAULT_SEED if args.seed is None else args.seed
    wl = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work")
    dirs = _configure_env(work, bool(args.trace))
    load_before = os.getloadavg()

    from string_grouper_spark.session import get_spark

    spark = get_spark(f"perfbench-{wl.name}")
    session_s = time.perf_counter() - T_START
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism
    path = os.path.join(work, "data", f"{wl.name}-{seed}-{os.getpid()}")
    try:
        spark.sparkContext.setJobGroup("generate", "generate")
        t0 = time.perf_counter()
        meta = wl.generate(spark, seed, path)
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        spark.read.parquet(path).schema  # noqa: B018  input readable
        setup_s = session_s + time.perf_counter() - t0

        if args.trace:
            records, tracer, persisted_per_op = _traced(spark, wl, path, meta, seed)
            app_id = spark.sparkContext.applicationId
        else:
            records, persisted_per_op = _plain(spark, wl, path, meta, seed, args.seconds)
        peak_mb = _peak_rss_mb()
        versions = {
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
    finally:
        _stop(spark)
        shutil.rmtree(path, ignore_errors=True)
        for d in (dirs["local"], dirs["tmp"]):
            shutil.rmtree(d, ignore_errors=True)

    if args.trace:
        from eventlog import find_log, read

        log = read(find_log(dirs["events"], app_id))
        shutil.rmtree(dirs["events"], ignore_errors=True)
        metrics = _layer_metrics(log, records, tracer, persisted_per_op, cores)
    else:
        metrics = _e2e(records, setup_s, peak_mb)

    failed = sum(not r["ok"] for r in records)
    stamp = {
        "workload": wl.name, "seed": seed, "trace": args.trace,
        "nproc": _nproc(), "cores": cores, "driver_mem": dirs["driver_mem"],
        "mem_total_kb": _meminfo_kb("MemTotal"),
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        "git_sha": _git_sha(), **versions,
        "generate_s": gen_s, "persisted_rdds_per_op": persisted_per_op,
        "ops": [
            {k: r.get(k) for k in ("group", "wall_s", "shuffle_mb", "ok", "n_clusters",
                                   "digest", "recall", "error")}
            for r in records
        ],
    }
    result = {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
