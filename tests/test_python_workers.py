"""Python workers on local masters fork from ``vinum_spark.daemon``
(README "Python workers"); any other master gets none of the local-only
executor confs."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

from vinum_spark.session import local_executor_confs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_fork_from_preloaded_daemon(spark):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def report(ids: pd.Series) -> pd.Series:
        import gc
        import zipimport

        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        state = [gc.get_freeze_count(), zips, os.environ.get("OPENBLAS_NUM_THREADS")]
        return pd.Series([json.dumps(state)] * len(ids))

    n = spark.sparkContext.defaultParallelism
    rows = spark.range(4 * n).repartition(n).select(report("id").alias("r")).collect()
    blas = os.environ.get("OPENBLAS_NUM_THREADS", "1")
    for frozen, zips, worker_blas in {tuple(json.loads(r.r)) for r in rows}:
        assert frozen > 0  # gc.freeze() ran in the daemon before the fork
        # the daemon keeps only the sys.path-level finders (pyspark.zip,
        # py4j); a worker of pyspark's own daemon holds 16
        assert zips <= 3
        assert worker_blas == blas


@pytest.mark.parametrize("master", ["local", "local[4]", "local-cluster[2,1,1024]"])
def test_local_masters_get_daemon_and_blas_pins(master):
    confs = local_executor_confs(master)
    assert confs["spark.python.daemon.module"] == "vinum_spark.daemon"
    assert confs["spark.executorEnv.PYTHONPATH"] == ROOT
    assert confs["spark.executorEnv.OPENBLAS_NUM_THREADS"] == os.environ.get(
        "OPENBLAS_NUM_THREADS", "1"
    )
    assert confs["spark.executorEnv.OMP_NUM_THREADS"] == os.environ.get(
        "OMP_NUM_THREADS", "1"
    )


@pytest.mark.parametrize("master", ["yarn", "spark://h:7077", "k8s://https://h:443", ""])
def test_non_local_masters_get_no_local_confs(master):
    assert local_executor_confs(master) == {}


def test_daemon_import_writes_nothing_to_stdout():
    """The JVM reads the daemon's port from its stdout, so the preload
    must print nothing there."""
    out = subprocess.run(
        [sys.executable, "-c", "import vinum_spark.daemon"],
        cwd=ROOT,
        capture_output=True,
        timeout=120,
        check=True,
    )
    assert out.stdout == b""
