"""The session factory: the engine worker daemon
(smqtk_indexing_spark.worker_daemon) and the class-data-sharing archive of
local sessions. Each CDS case starts its own session in a subprocess, with
its own cache dir (``XDG_CACHE_HOME``)."""

import json
import os
import shutil
import subprocess
import sys

import pytest

from smqtk_indexing_spark.session import _cds_plan, _finish_dump, _master_conf, _take_lock

DAEMON = "smqtk_indexing_spark.worker_daemon"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# one session, one JVM job, one JSON line on stdout
CHILD = """
import json, sys
from smqtk_indexing_spark.session import get_spark
spark = get_spark(master="local[2]", extra_conf=json.loads(sys.argv[1]))
sc = spark.sparkContext
print(json.dumps({
    "sum": spark.range(100).selectExpr("sum(id)").first()[0],
    "opts": sc.getConf().get("spark.driver.extraJavaOptions", ""),
    "probe_prop": sc._jvm.System.getProperty("smqtk.probe"),
    "probe_conf": sc.getConf().get("spark.smqtk.probe", None),
    "jvm": sc._gateway.proc.pid,
}))
"""


def test_python_tasks_run_under_engine_daemon(spark):
    # nested so cloudpickle ships it by value: tests/ is not on the worker path
    def _worker_probe(batches):
        import importlib
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        main_spec = getattr(sys.modules["__main__"], "__spec__", None)
        zips = [k for k in zipimport._zip_directory_cache if k.endswith("pyspark.zip")]
        before = [zipimport._zip_directory_cache[k] for k in zips]
        importlib.invalidate_caches()
        kept = all(zipimport._zip_directory_cache.get(k) is d for k, d in zip(zips, before))
        yield pd.DataFrame({
            "main": [main_spec.name if main_spec else ""],
            "zips": [len(zips)],
            "kept": [kept],
        })

    rows = (
        spark.range(8, numPartitions=4)
        .mapInPandas(_worker_probe, "main string, zips int, kept boolean")
        .collect()
    )
    assert len(rows) == 4
    assert {r.main for r in rows} == {DAEMON}
    if sys.version_info < (3, 12):
        # the pyspark zip's directory survives invalidate_caches(): not re-read
        assert all(r.zips >= 1 and r.kept for r in rows)


@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]", "local[4,2]"])
def test_local_masters_select_engine_daemon(master):
    assert _master_conf(master) == {"spark.python.daemon.module": DAEMON}


@pytest.mark.parametrize(
    "master", ["spark://host:7077", "yarn", "local-cluster[2,1,1024]", "k8s://https://h:443"]
)
def test_cluster_masters_keep_stock_daemon(master):
    assert _master_conf(master) == {}
    assert _cds_plan(master) is None  # no CDS flags, no conf dir swap


def _spark_home(home, conf: dict):
    """A Spark home linking the real one's files, with ``conf`` as its
    conf dir's files."""
    from pyspark.find_spark_home import _find_spark_home

    real = _find_spark_home()
    (home / "conf").mkdir(parents=True)
    for name in os.listdir(real):
        if name != "conf":
            os.symlink(os.path.join(real, name), home / name)
    for name, text in conf.items():
        (home / "conf" / name).write_text(text)
    return str(home)


@pytest.fixture(scope="module")
def stock_home(tmp_path_factory):
    """A Spark home whose conf dir holds only a template, as shipped."""
    home = tmp_path_factory.mktemp("home") / "spark"
    return _spark_home(home, {"spark-defaults.conf.template": "# spark.master local\n"})


def _session(cache: str, home: str, extra_conf: dict | None = None) -> dict:
    """Run CHILD with ``cache`` as XDG_CACHE_HOME and ``home`` as
    SPARK_HOME; its stdout must be the one JSON line (no JVM log line
    there)."""
    child_env = dict(os.environ, XDG_CACHE_HOME=cache, SPARK_HOME=home, SPARK_DRIVER_MEMORY="1g")
    child_env.pop("SPARK_CONF_DIR", None)
    child_env["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    out = subprocess.run(
        [sys.executable, "-c", CHILD, json.dumps(extra_conf or {})],
        env=child_env, cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.splitlines()
    assert len(lines) == 1, out.stdout[-3000:]
    got = json.loads(lines[0])
    assert got["sum"] == 4950
    return got


def _archive(cache: str) -> str:
    d = os.path.join(cache, "smqtk_indexing_spark")
    (name,) = [n for n in os.listdir(d) if n.endswith(".jsa")]
    return os.path.join(d, name)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


@pytest.fixture(scope="module")
def cds_cache(tmp_path_factory, stock_home):
    """A cache whose archive was written by a first (recording) session."""
    cache = str(tmp_path_factory.mktemp("cds") / "cache")
    got = _session(cache, stock_home)
    assert "-XX:DumpLoadedClassList=" in got["opts"]
    return cache, got


def test_missing_archive_is_written_and_no_jvm_outlives_python(cds_cache, stock_home):
    cache, first = cds_cache
    # the gateway JVM ended before its Python process did, and the dump
    # (run and waited for at exit) left no part behind
    assert not _alive(first["jvm"])
    archive = _archive(cache)
    with open(archive + ".size") as f:
        assert os.path.getsize(archive) == int(f.read()) > 0
    name = os.path.basename(archive)
    assert sorted(os.listdir(os.path.dirname(archive))) == sorted(
        [name, name + ".size", name + ".lock", "empty-conf"]
    )
    # the next session maps it and records nothing
    got = _session(cache, stock_home)
    assert f"-XX:SharedArchiveFile={archive}" in got["opts"]
    assert "DumpLoadedClassList" not in got["opts"]


def test_caller_java_options_are_kept(cds_cache, stock_home):
    cache, _ = cds_cache
    got = _session(cache, stock_home, {"spark.driver.extraJavaOptions": "-Dsmqtk.probe=kept"})
    assert got["probe_prop"] == "kept"
    # appended to, not replaced
    assert "-Dsmqtk.probe=kept -XX:SharedArchiveFile=" in got["opts"]


def test_truncated_archive_is_not_mapped_and_is_rewritten(cds_cache, stock_home, tmp_path):
    # the JVM dies of SIGBUS mapping a truncated archive: it must not be
    # passed to it, and the session writes a whole one in its place
    cache = str(tmp_path / "cache")
    shutil.copytree(cds_cache[0], cache)
    archive = _archive(cache)
    size = os.path.getsize(archive)
    os.chmod(archive, 0o644)
    with open(archive, "r+b") as f:
        f.truncate(size // 2)
    got = _session(cache, stock_home)
    assert "SharedArchiveFile" not in got["opts"]
    assert "-XX:DumpLoadedClassList=" in got["opts"]
    assert os.path.getsize(archive) > size // 2
    with open(archive + ".size") as f:
        assert os.path.getsize(archive) == int(f.read())


def test_archive_written_under_another_key_still_starts(cds_cache, stock_home, tmp_path):
    # a whole archive of another classpath (one Spark jar) under this key's
    # name: the JVM refuses it and the session starts without it
    cache = str(tmp_path / "cache")
    shutil.copytree(cds_cache[0], cache)
    archive = _archive(cache)
    os.unlink(archive)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    jars = os.path.join(stock_home, "jars")
    jar = os.path.join(jars, sorted(os.listdir(jars))[0])
    subprocess.run([java, "-Xshare:dump", f"-XX:SharedArchiveFile={archive}", "-cp", jar],
                   check=True, capture_output=True, timeout=300)
    with open(archive + ".size", "w") as f:
        f.write(str(os.path.getsize(archive)))
    got = _session(cache, stock_home)
    assert f"-XX:SharedArchiveFile={archive}" in got["opts"]


def test_unwritable_cache_dir_skips_cds(stock_home, tmp_path):
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    got = _session(str(blocker / "cache"), stock_home)
    assert "DumpLoadedClassList" not in got["opts"]  # no CDS flag
    assert "SharedArchiveFile" not in got["opts"]


def test_user_spark_conf_is_honored_and_skips_cds(tmp_path):
    # a Spark home whose conf dir holds a real spark-defaults.conf: it is
    # never hidden behind the empty conf dir, so CDS is skipped
    home = _spark_home(tmp_path / "spark", {"spark-defaults.conf": "spark.smqtk.probe honored\n"})
    cache = str(tmp_path / "cache")
    got = _session(cache, home)
    assert got["probe_conf"] == "honored"
    assert "DumpLoadedClassList" not in got["opts"]  # no CDS flag
    assert "SharedArchiveFile" not in got["opts"]
    assert not os.path.exists(os.path.join(cache, "smqtk_indexing_spark"))


def test_lock_of_a_killed_dumper_is_free(tmp_path):
    # the recording lock is a flock: held while its process lives, dropped
    # by the kernel when it is killed, so no stale lock is taken over
    lock = str(tmp_path / "cds.jsa.lock")
    holder = subprocess.Popen(
        [sys.executable, "-c",
         "import sys; from smqtk_indexing_spark.session import _take_lock; "
         "assert _take_lock(sys.argv[1]) is not None; print('held', flush=True); "
         "sys.stdin.read()", lock],
        env=dict(os.environ, PYTHONPATH=ROOT), stdin=subprocess.PIPE, stdout=subprocess.PIPE,
    )
    try:
        assert holder.stdout.readline() == b"held\n"
        assert _take_lock(lock) is None
    finally:
        holder.kill()
        holder.wait()
    fd = _take_lock(lock)
    assert fd is not None
    os.close(fd)


def test_refused_dump_is_recorded_and_leaves_no_part(tmp_path):
    # a gateway that exits 0 and a dump that fails (``false`` in place of
    # java): the failure is kept in <archive>.failed, which stops later
    # sessions from retrying, and no part or lock stays held
    archive = str(tmp_path / "cds.jsa")
    classlist, tmp = archive + ".1.classlist.part", archive + ".1.jsa.part"
    open(classlist, "w").close()
    lock = _take_lock(archive + ".lock")
    gateway = subprocess.Popen(["cat"], stdin=subprocess.PIPE, stdout=subprocess.DEVNULL)
    _finish_dump(gateway, shutil.which("false"), "", classlist, tmp, archive, lock)
    assert gateway.returncode == 0
    assert sorted(os.listdir(tmp_path)) == ["cds.jsa.failed", "cds.jsa.lock"]
    fd = _take_lock(archive + ".lock")
    assert fd is not None
    os.close(fd)
