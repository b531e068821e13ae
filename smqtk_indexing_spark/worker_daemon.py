"""PySpark's worker daemon without the per-task re-read of zip archives.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). Before Python 3.12
that makes every ``zipimporter`` re-read its archive's whole directory, so
each task re-parses ``pyspark.zip`` (about 1,300 entries) once per importer.
On those versions this module turns ``zipimporter.invalidate_caches`` into
a no-op, then runs ``pyspark.daemon.manager()``; on 3.12 and later the
re-read is lazy (gh-103200) and it only runs the manager.

The no-op is safe because Spark never rewrites a zip archive in place
during an application: ``pyspark.zip``, the py4j zip and ``--py-files``
archives are each fetched once, so a re-read can never find new entries.
An archive added to the path later still gets a fresh importer, which
reads its directory when it is created.

``session.get_spark`` selects it with ``spark.python.daemon.module`` on
local masters only; see that module for why.
"""

import sys
import zipimport

from pyspark import daemon


def _keep_directory(self) -> None:
    """Keep the directory the importer read when it was created."""


if __name__ == "__main__":
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _keep_directory
    daemon.manager()
