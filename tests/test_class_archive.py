"""The driver JVM's class-data-sharing archive (``session._class_archive``):
the host's first sessions dump one, a later session checks and publishes
one, and every later session loads Spark's classes from it.  Sessions run
as subprocesses with their own ``XDG_CACHE_HOME``."""

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

from string_grouper_spark import session
from string_grouper_spark.session import (
    _ARCHIVE_MAGIC,
    _class_archive,
    _driver_java_options,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
HEAP = 1 << 30  # SPARK_GRAFT_DRIVER_MEM=1g below

SESSION = f"""
import json, sys
sys.path.insert(0, {ROOT!r})
from string_grouper_spark.session import get_spark
spark = get_spark("class-archive", master="local[1]")
assert spark.range(10).selectExpr("sum(id)").first()[0] == 45
sc = spark.sparkContext
print(json.dumps({{
    "options": sc.getConf().get("spark.driver.defaultJavaOptions"),
    "marker": sc.getConf().get("spark.sgs.marker", None),
    "classpath": sc._jvm.System.getProperty("java.class.path"),
}}))
"""


# settings that add to the driver's class path, and so rule the archive out
CLASSPATH_VARS = ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
                  "SPARK_DIST_CLASSPATH", "PYSPARK_SUBMIT_ARGS")


def _env(cache, **extra):
    env = {k: v for k, v in os.environ.items() if k not in CLASSPATH_VARS}
    return dict(env, XDG_CACHE_HOME=str(cache), SPARK_GRAFT_DRIVER_MEM="1g",
                SPARK_GRAFT_CPUS="1", **extra)


def _own_cache(monkeypatch, cache):
    monkeypatch.setenv("XDG_CACHE_HOME", str(cache))
    for var in CLASSPATH_VARS:
        monkeypatch.delenv(var, raising=False)


def _start(cache, cwd, **extra):
    # stdout is a pipe the JVM inherits: reading it to the end waits for
    # the JVM's exit, and so for its dump
    return subprocess.Popen(
        [sys.executable, "-c", SESSION], cwd=cwd, env=_env(cache, **extra),
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )


def _report(proc):
    out, err = proc.communicate(timeout=600)
    assert proc.returncode == 0, err[-3000:]
    return json.loads(out.strip().splitlines()[-1])


def _finished(path):
    with open(path, "rb") as fh:
        return fh.read(len(_ARCHIVE_MAGIC)) == _ARCHIVE_MAGIC


@pytest.fixture(scope="module")
def published(tmp_path_factory):
    """Two concurrent first sessions, then one more that logs where its
    classes came from."""
    cwd = tmp_path_factory.mktemp("sessions")
    cache = cwd / "cache"
    firsts = [_start(cache, cwd), _start(cache, cwd)]
    first = [_report(p) for p in firsts]
    store = cache / "string_grouper_spark"
    after_first = sorted(os.listdir(store))
    dumps = [store / f for f in after_first if f.endswith(".tmp")]
    finished = [_finished(d) for d in dumps]
    classpath = (store / dumps[0].name.replace(".tmp", ".classpath")).read_text()
    kept = cwd / "kept.jsa"  # a finished dump, for the damaged copies below
    shutil.copyfile(dumps[0], kept)
    log = cwd / "class-load.log"
    submit = f'--driver-java-options "-Xlog:class+load=info:file={log}" pyspark-shell'
    third = _report(_start(cache, cwd, PYSPARK_SUBMIT_ARGS=submit))
    return {
        "first": first, "after_first": after_first, "dumps": dumps,
        "finished": finished,
        "classpath": classpath, "kept": kept, "third": third,
        "after_third": sorted(os.listdir(store)), "log": log.read_text(),
        "store": store,
    }


def test_first_sessions_dump_and_the_next_publishes_one_archive(published):
    first, store = published["first"], published["store"]
    targets = [o["options"].split("-XX:ArchiveClassesAtExit=")[1].split()[0]
               for o in first]
    # each concurrent first session dumps into a temp file of its own
    assert len(set(targets)) == 2
    assert all(os.path.dirname(t) == str(store) for t in targets)
    assert sorted(map(str, published["dumps"])) == sorted(targets)
    assert published["finished"] == [True, True]
    assert len([f for f in published["after_first"] if f.endswith(".classpath")]) == 2
    # Spark's conf directory holds only templates: the session's is empty
    assert first[0]["classpath"].startswith(f"{store}/conf/:")

    # the next session checked one dump, published it and removed the rest
    (archive,) = [f for f in published["after_third"] if f.endswith(".jsa")]
    assert published["after_third"] == sorted(["conf", archive])
    assert f"-XX:SharedArchiveFile={store / archive}" in published["third"]["options"]
    assert "-XX:ArchiveClassesAtExit" not in published["third"]["options"]
    # and loaded Spark's classes from it
    assert "org.apache.spark.SparkContext source: shared objects file (top)" in published["log"]


def _damaged_dump(published, cache, damage):
    """A copy of a finished dump, damaged, as a temp dump of another
    process in a fresh cache with the same key."""
    store = cache / "string_grouper_spark"
    store.mkdir(parents=True)
    archive = next(f for f in published["after_third"] if f.endswith(".jsa"))
    dump = store / f"{archive}.1.tmp"
    data = published["kept"].read_bytes()
    dump.write_bytes(damage(data))
    (store / f"{archive}.1.classpath").write_text(published["classpath"])
    return store, dump


@pytest.mark.parametrize("damage, kept", [
    # a dump cut short: the JVM writes the header last.  It may still be
    # being written, so it stays until an archive is in place
    pytest.param(lambda b: bytes(4096) + b[4096:], True, id="zero-header"),
    # a truncated file with a valid header aborts a JVM that maps it
    pytest.param(lambda b: b[: len(b) // 2], False, id="truncated"),
])
def test_damaged_dumps_are_never_published(
    published, tmp_path, monkeypatch, damage, kept
):
    cache = tmp_path / "cache"
    store, dump = _damaged_dump(published, cache, damage)
    _own_cache(monkeypatch, cache)
    got = _class_archive(HEAP)
    # the session dumps again rather than start from the damaged file
    assert got.options.startswith(f"-XX:ArchiveClassesAtExit={store}/")
    assert not [f for f in os.listdir(store) if f.endswith(".jsa")]
    assert dump.exists() == kept


def test_a_session_never_starts_from_a_damaged_dump(published, tmp_path):
    # the truncated dump above, end to end: the session starts and dumps
    cache = tmp_path / "cache"
    store, dump = _damaged_dump(published, cache, lambda b: b[: len(b) // 2])
    report = _report(_start(cache, tmp_path))
    assert "-XX:ArchiveClassesAtExit=" in report["options"]
    assert not dump.exists()


def _fake_spark_home(root, conf_files):
    (root / "jars").mkdir(parents=True)
    (root / "jars" / "spark-core.jar").write_bytes(b"jar")
    (root / "conf").mkdir()
    for name in conf_files:
        (root / "conf" / name).write_text("x=1\n")
    return str(root)


def test_a_conf_dir_with_settings_means_no_archive(tmp_path, monkeypatch):
    import pyspark.find_spark_home

    _own_cache(monkeypatch, tmp_path / "cache")
    templates = _fake_spark_home(tmp_path / "a", ["spark-defaults.conf.template"])
    settings = _fake_spark_home(tmp_path / "b", ["spark-defaults.conf.template",
                                                 "spark-defaults.conf"])
    home = pyspark.find_spark_home
    monkeypatch.setattr(home, "_find_spark_home", lambda: templates)
    assert _class_archive(HEAP) is not None
    monkeypatch.setattr(home, "_find_spark_home", lambda: settings)
    assert _class_archive(HEAP) is None
    # a conf directory the user chose, whatever it holds
    monkeypatch.setattr(home, "_find_spark_home", lambda: templates)
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "a" / "conf"))
    assert _class_archive(HEAP) is None


def test_a_user_conf_dir_is_left_as_it_is(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.sgs.marker  yes\n")
    cache = tmp_path / "cache"
    report = _report(_start(cache, tmp_path, SPARK_CONF_DIR=str(conf)))
    assert report["marker"] == "yes"
    assert report["options"] == _driver_java_options("1g")
    assert report["classpath"].startswith(f"{conf}/:")
    assert os.listdir(conf) == ["spark-defaults.conf"]
    assert not cache.exists()


def test_cli_run_that_dumps_prints_only_its_json(tmp_path):
    src = tmp_path / "docs"
    src.mkdir()
    pd.DataFrame({"doc_id": range(4), "text": ["a b", "a b", "c d", "e f"]}).to_parquet(
        src / "part-0.parquet"
    )
    cache = tmp_path / "cache"
    out = subprocess.run(
        [sys.executable, "-m", "string_grouper_spark", "exact-dedup",
         "--input", str(src), "--output", str(tmp_path / "out")],
        cwd=ROOT, env=_env(cache), capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    # the run dumped an archive at JVM exit (the pipe closes after it)
    store = cache / "string_grouper_spark"
    assert [f for f in store.iterdir() if f.name.endswith(".tmp") and _finished(f)]
    lines = out.stdout.splitlines()
    assert len(lines) == 1
    assert json.loads(lines[0])["command"] == "exact-dedup"
