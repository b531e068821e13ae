"""The session factory's engine worker daemon (smqtk_indexing_spark.worker_daemon)."""

import sys

import pytest

from smqtk_indexing_spark.session import _master_conf

DAEMON = "smqtk_indexing_spark.worker_daemon"


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
