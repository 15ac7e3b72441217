"""PySpark worker daemon that keeps Spark's own archives' directories.

Before every task a Python worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on Python 3.11 that makes
every ``zipimporter`` re-read its whole archive directory.  Spark puts two
kinds of archive on a worker's path: ``pyspark.zip`` and the py4j zip under
``$SPARK_HOME/python/lib`` (about 27k entries), and the spark-core jar
under ``$SPARK_HOME/jars`` (``PythonUtils.sparkPythonPath`` adds the jar
that holds it; its two importers took 40–90 ms per task to re-read).  Spark
ships those archives at start-up and they cannot change while the
application runs, so :func:`install` lets importers under either directory
skip the re-read; every other archive, e.g. one added with ``addPyFile``,
still refreshes.  ``session.get_spark`` names this module as
``spark.python.daemon.module``: the daemon installs the patch and forks the
workers, which inherit it.
"""

from __future__ import annotations

import os
import zipimport

_refresh = zipimport.zipimporter.invalidate_caches


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` to skip archives under
    ``$SPARK_HOME/python/lib`` and ``$SPARK_HOME/jars`` (all archives
    refresh when it is unset)."""
    home = os.environ.get("SPARK_HOME")
    # str.startswith(()) is False: with no SPARK_HOME every archive refreshes
    kept: tuple[str, ...] = ()
    if home:
        root = os.path.realpath(home)
        kept = (os.path.join(root, "python", "lib", ""), os.path.join(root, "jars", ""))

    def invalidate_caches(self) -> None:
        if not os.path.realpath(self.archive).startswith(kept):
            _refresh(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # ``python -m`` runs this file as __main__: install the patch from the
    # module under its own name, then run PySpark's daemon
    from pyspark.daemon import manager

    from tts_data_pipeline_spark.worker_daemon import install as _install

    _install()
    manager()
