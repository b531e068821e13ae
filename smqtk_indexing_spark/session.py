"""SparkSession factory with the engine's scale-oriented defaults.

AQE is on for runtime skew-join splitting and shuffle-partition coalescing —
the runtime half of the skew strategy in operators/candidates.py.

Local masters (``local``, ``local[...]``) run Python workers under
``worker_daemon``, which stops each task re-reading ``pyspark.zip``. That
conf is local-only: in local mode the daemon inherits the driver's
environment and working directory, where every engine UDF already imports
this package. On a cluster (``spark-submit --py-files``, north rule) the
archives join a worker's path per task, after the daemon has started, so
the daemon could not import this package there; those sessions keep the
stock ``pyspark.daemon``.

Local masters also start the gateway JVM with a JDK class-data-sharing
(CDS) archive of the classes a session loads, which cuts JVM launch and the
class loading of the first jobs (measured session start 5.2-6.0 s -> 2.5 s
on 4 vCPU). The first such session only records the classes its JVM loads
(``-XX:DumpLoadedClassList``, no measurable cost to the session); when its
Python process exits, it stops the JVM and dumps those classes into a
static archive (``java -Xshare:dump``: about 35 s and 170 MB, once). Every
later session maps it (``-XX:SharedArchiveFile``). It lives outside the
checkout, at ``<$XDG_CACHE_HOME or ~/.cache>/smqtk_indexing_spark/cds-<key>.jsa``,
keyed by the JDK's ``release`` file, the Spark version and the path and
listing of ``$SPARK_HOME/jars``; a new JDK or Spark gets a new archive. A
``.size`` sidecar records the size of a whole archive, since the JVM dies
of SIGBUS mapping a truncated one; one session at a time records, under a
``flock`` on ``<archive>.lock``; a dump the JDK refuses leaves its output in
``<archive>.failed`` and no later session retries it. Delete that directory
to reclaim the space or force a rewrite. CDS is skipped, and the session
starts as before, when a gateway JVM already runs in this process, on a
cluster master, on a JDK older than 17, when the cache dir is not
writable, or when ``SPARK_CONF_DIR`` is set or ``$SPARK_HOME/conf`` holds
more than ``*.template`` files: the JDK archives no class path that holds a
non-empty directory, so the gateway is launched with an empty conf dir
from the cache, which is only done when that hides no user conf.
"""

from __future__ import annotations

import atexit
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess

import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# a static dump of a JVM's class list (lambda-proxy lines included) is
# tested on JDK 17, the oldest JDK Spark 4 runs on
_CDS_MIN_JDK = 17
# how long the Python process waits at exit for the JVM to end, and then
# for the archive dump (about 35 s on 4 vCPU)
_CDS_WAIT_S = 120.0
# no CDS log line on stdout, which the JVM shares with the caller (bench.py
# prints one JSON line there); a session mapping the archive warns on stderr
_CDS_LOG = "-Xlog:cds*=off:stdout -Xlog:cds*=warning:stderr"


def _is_local(master: str) -> bool:
    return re.fullmatch(r"local(\[[^\]]*\])?", master) is not None


def _master_conf(master: str) -> dict:
    """Conf that depends on the master: the engine worker daemon, local only."""
    if _is_local(master):
        return {"spark.python.daemon.module": "smqtk_indexing_spark.worker_daemon"}
    return {}


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(base, "smqtk_indexing_spark")


def _jdk_release() -> bytes | None:
    """The ``release`` file of the JDK ``spark-class`` launches."""
    home = os.environ.get("JAVA_HOME")
    if not home:
        java = shutil.which("java")
        if java is None:
            return None
        home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    try:
        with open(os.path.join(home, "release"), "rb") as f:
            return f.read()
    except OSError:
        return None


def _cds_key(release: bytes, spark_home: str) -> str:
    jars = os.path.join(spark_home, "jars")
    h = hashlib.sha256(release)
    # the jars dir's path too: the archive records the classpath itself
    h.update(f"{pyspark.__version__}\0{jars}\n".encode())
    with os.scandir(jars) as it:
        for e in sorted(it, key=lambda e: e.name):
            st = e.stat()
            h.update(f"{e.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _archive_ok(archive: str) -> bool:
    """Whether ``archive`` is whole: the JVM maps a truncated one and dies
    of SIGBUS, so its size is checked against the one recorded at dump."""
    try:
        with open(archive + ".size") as f:
            return os.path.getsize(archive) == int(f.read())
    except (OSError, ValueError):
        return False


def _take_lock(lock: str) -> int | None:
    """An open fd holding an exclusive ``flock`` on ``lock``, or None if
    another process holds it. The kernel drops the lock when the process
    ends, so a dumper that was killed leaves no stale lock."""
    fd = os.open(lock, os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        os.close(fd)
        return None
    return fd


class _Cds:
    """The CDS part of one gateway launch: JVM options, the empty conf dir
    the launch uses, and (for the recording session) what the archive dump
    at exit needs: ``(classlist, tmp, archive, lock fd)``."""

    def __init__(self, java_opts: str, conf_dir: str, dump: tuple | None):
        self.java_opts = java_opts
        self.conf_dir = conf_dir
        self.dump = dump

    def launch(self, builder) -> SparkSession:
        """``builder.getOrCreate()`` with ``SPARK_CONF_DIR`` at the empty
        conf dir for the gateway launch only."""
        os.environ["SPARK_CONF_DIR"] = self.conf_dir
        try:
            spark = builder.getOrCreate()
        except BaseException:
            if self.dump:
                os.close(self.dump[3])
            raise
        finally:
            del os.environ["SPARK_CONF_DIR"]
        if self.dump:
            sc = spark.sparkContext
            system = sc._jvm.System
            java = os.path.join(system.getProperty("java.home"), "bin", "java")
            classpath = system.getProperty("java.class.path")
            atexit.register(_finish_dump, sc._gateway.proc, java, classpath, *self.dump)
        return spark


def _cds_plan(master: str) -> _Cds | None:
    """The CDS launch for a new gateway on a local master, or None."""
    if (
        not _is_local(master)
        or SparkContext._gateway is not None
        or "PYSPARK_GATEWAY_PORT" in os.environ
        or "SPARK_CONF_DIR" in os.environ
    ):
        return None
    release = _jdk_release()
    if release is None:
        return None
    m = re.search(rb'^JAVA_VERSION="(?:1\.)?(\d+)', release, re.M)
    if m is None or int(m.group(1)) < _CDS_MIN_JDK:
        return None
    spark_home = _find_spark_home()
    try:
        if not all(n.endswith(".template") for n in os.listdir(os.path.join(spark_home, "conf"))):
            return None  # a user conf: never hidden
    except FileNotFoundError:
        pass
    cache = _cache_dir()
    conf_dir = os.path.join(cache, "empty-conf")
    try:
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir) or not os.access(cache, os.W_OK):
            return None
        archive = os.path.join(cache, f"cds-{_cds_key(release, spark_home)}.jsa")
        if os.path.exists(archive + ".failed"):
            return None  # the JDK could not dump it; see that file
        mapped = _Cds(f"-XX:SharedArchiveFile={archive} {_CDS_LOG}", conf_dir, None)
        if _archive_ok(archive):
            return mapped
        lock = _take_lock(archive + ".lock")
    except OSError:
        return None
    if lock is None:
        return None  # another session is recording it
    if _archive_ok(archive):  # written while this session looked
        os.close(lock)
        return mapped
    # parts left by a dumper that was killed
    for part in glob.glob(glob.escape(archive) + ".*.part"):
        os.unlink(part)
    pid = os.getpid()
    classlist, tmp = f"{archive}.{pid}.classlist.part", f"{archive}.{pid}.jsa.part"
    return _Cds(f"-XX:DumpLoadedClassList={classlist}", conf_dir, (classlist, tmp, archive, lock))


def _finish_dump(
    proc: subprocess.Popen, java: str, classpath: str,
    classlist: str, tmp: str, archive: str, lock: int,
) -> None:
    """At Python exit: end the gateway JVM (it exits on stdin EOF), then
    dump the classes it loaded into a static archive with the same JVM and
    classpath, and move a whole one into place. Each wait is bounded by
    ``_CDS_WAIT_S``; a JVM cut short is killed and its part discarded."""
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(_CDS_WAIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    try:
        if proc.returncode == 0:  # a killed JVM may leave a cut class list
            cmd = [java, "-Xshare:dump", f"-XX:SharedClassListFile={classlist}",
                   f"-XX:SharedArchiveFile={tmp}", "-cp", classpath]
            dump = subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                                  stderr=subprocess.STDOUT, timeout=_CDS_WAIT_S)
            if dump.returncode == 0 and os.path.exists(tmp):
                size = os.path.getsize(tmp)
                if os.path.exists(archive + ".size"):
                    os.unlink(archive + ".size")
                os.replace(tmp, archive)
                with open(archive + ".size", "w") as f:
                    f.write(str(size))
            else:  # the JDK would fail the same way next time
                with open(archive + ".failed", "wb") as f:
                    f.write(b"delete this file to retry; the dump said:\n" + dump.stdout[-4000:])
    except subprocess.TimeoutExpired:
        pass  # the next session records and dumps again
    finally:
        for part in (classlist, tmp):
            if os.path.exists(part):
                os.unlink(part)
        os.close(lock)


def get_spark(
    app_name: str = "smqtk_indexing_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # Workaround: Spark 4.1 Union.rewriteConstraints throws
        # NoSuchElementException on self-unions with swapped column aliases
        # (the connected-components symmetrize step). Constraint propagation
        # only feeds optional filter inference; correctness is unaffected.
        .config("spark.sql.constraintPropagation.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        # shuffle/spill to tmpfs in this sandbox (a real cluster has local
        # NVMe for this); avoids rotating-disk I/O variance in local mode
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
        # Finer file splits than the 128m default: Spark sizes scan splits
        # as min(maxPartitionBytes, bytes/defaultParallelism), i.e. EXACTLY
        # one wave per core — and this engine's scans feed CPU-bound Arrow
        # kernel passes where one wave is straggler-bound and any
        # broadcast-filtered scan inherits the coarse splits. 16m gives the
        # scheduler several waves per core at bench scale (measured
        # local[32] signature pass on the 800 MB corpus: 18.6 s -> 10.9 s
        # quiet-window). A 100 TB job should raise this (SPARK_GRAFT_MAX
        # env) to bound task count; the right value keeps ~2-4 waves/core.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
        # 64m broadcast threshold for AQE re-planning ONLY (Spark's 10m
        # default assumes ~1 GB executors). Scoped to spark.sql.adaptive.*
        # (ADVICE r5): the STATIC threshold keeps Spark's default, because
        # static planning sizes relations from compressed on-disk
        # estimates — a ~64 MB parquet estimate can decompress to several
        # hundred MB per executor plus driver collect memory. AQE decides
        # from exact RUNTIME shuffle sizes, so only genuinely-small builds
        # broadcast and oversized ones fall back to shuffle joins
        # automatically.
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            os.environ.get("SPARK_GRAFT_BCAST_THRESHOLD", "64m"),
        )
    )
    # shuffle compression codec: the candidate-stage bucket exchange is the
    # one unavoidable all-to-all; codec choice trades CPU for bytes on the
    # wire (overridable for A/B via SPARK_GRAFT_IO_CODEC)
    builder = builder.config(
        "spark.io.compression.codec", os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4")
    )
    conf = _master_conf(master)
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    if env_conf:
        import json

        conf.update((k, str(v)) for k, v in json.loads(env_conf).items())
    conf.update(extra_conf or {})
    cds = _cds_plan(master)
    if cds is not None:
        opts = conf.get("spark.driver.extraJavaOptions", "")
        conf["spark.driver.extraJavaOptions"] = f"{opts} {cds.java_opts}".strip()
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate() if cds is None else cds.launch(builder)
    spark.sparkContext.setLogLevel("WARN")
    return spark
