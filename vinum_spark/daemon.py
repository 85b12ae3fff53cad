"""Python worker daemon for local masters (``spark.python.daemon.module``).

Spark starts this module once per executor and forks one Python worker
from it per task slot (``pyspark/daemon.py``).  Everything done here
before the first fork is inherited by every worker:

- The modules the workers import are imported once, here.  The set was
  read from ``sys.modules`` inside the workers after the benchmark
  workloads and the test suite.  ``vinum_spark.operators`` pulls in the
  whole package; ``pyarrow.pandas_compat`` is what every Arrow-to-pandas
  batch conversion imports on first use, and ``pyspark.testing.utils``
  what ``GroupState.update`` imports on every call
  (``pyspark/sql/streaming/state.py:134``).
- The ``zipimporter`` finders importlib cached for pyspark's sub-packages
  inside ``pyspark.zip`` are dropped.  ``setup_spark_files`` calls
  ``importlib.invalidate_caches()`` on every task
  (``pyspark/worker_util.py:144``), and on CPython 3.11 every cached
  zipimporter then re-reads the archive's whole central directory.
  Importlib rebuilds a dropped finder when an import needs it, so no
  import depends on what was preloaded.
- ``gc.freeze()`` moves the preloaded objects to the permanent
  generation, so the ``gc.collect()`` that pyspark runs after every
  reused task (``pyspark/daemon.py:244``) no longer walks them and the
  pages holding them stay shared with the daemon.

Then ``pyspark.daemon.manager()`` runs unchanged.  Nothing here may
write to stdout: the JVM reads the daemon's port from it.
"""

import gc
import sys
import zipimport

import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401
import pyarrow.pandas_compat  # noqa: F401
import pyspark.daemon
import pyspark.sql.pandas.serializers  # noqa: F401
import pyspark.testing.utils  # noqa: F401
import pyspark.worker  # noqa: F401
import vinum_spark.operators  # noqa: F401


def _drop_subpackage_zip_finders() -> None:
    """Remove cached zipimporters not keyed by a ``sys.path`` entry."""
    roots = set(sys.path)
    for key, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and key not in roots:
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    _drop_subpackage_zip_finders()
    gc.freeze()
    pyspark.daemon.manager()
