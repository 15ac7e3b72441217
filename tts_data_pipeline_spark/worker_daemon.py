"""PySpark worker daemon that keeps Spark's own zip archives' directories.

Before every task a Python worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on Python 3.11 that makes
every ``zipimporter`` re-read its whole archive directory: the importers
over ``$SPARK_HOME/python/lib/pyspark.zip`` and the py4j zip re-read about
27k entries per task.  Spark ships those archives at start-up and they
cannot change while the application runs, so :func:`install` lets
importers under that directory skip the re-read; every other archive,
e.g. one added with ``addPyFile``, still refreshes.  ``session.get_spark``
names this module as ``spark.python.daemon.module``: the daemon installs
the patch and forks the workers, which inherit it.
"""

from __future__ import annotations

import os
import zipimport

_refresh = zipimport.zipimporter.invalidate_caches


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` to skip archives under
    ``$SPARK_HOME/python/lib`` (all archives refresh when it is unset)."""
    home = os.environ.get("SPARK_HOME")
    lib = os.path.join(os.path.realpath(home), "python", "lib", "") if home else None

    def invalidate_caches(self) -> None:
        if lib is None or not os.path.realpath(self.archive).startswith(lib):
            _refresh(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # ``python -m`` runs this file as __main__: install the patch from the
    # module under its own name, then run PySpark's daemon
    from pyspark.daemon import manager

    from tts_data_pipeline_spark.worker_daemon import install as _install

    _install()
    manager()
