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
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def _master_conf(master: str) -> dict:
    """Conf that depends on the master: the engine worker daemon, local only."""
    if re.fullmatch(r"local(\[[^\]]*\])?", master):
        return {"spark.python.daemon.module": "smqtk_indexing_spark.worker_daemon"}
    return {}


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
    for k, v in _master_conf(master).items():
        builder = builder.config(k, v)
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    if env_conf:
        import json

        for k, v in json.loads(env_conf).items():
            builder = builder.config(k, str(v))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
