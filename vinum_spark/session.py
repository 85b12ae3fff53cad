"""SparkSession bootstrap.

One shared session per process (the reference is an in-process engine,
``/root/reference/vinum/api/table.py:15``; our analogue is one local
SparkSession). Config targets both local testing (local[N]) and a real
cluster: everything here is standard public Spark configuration — AQE,
Arrow exchange, sensible shuffle parallelism.  What is local-mode-specific
is the master URL default and :func:`local_executor_confs`.
"""

from __future__ import annotations

import os
from typing import Dict

from pyspark.sql import SparkSession

# Tuned for the test harness (local[32], 128 GiB). On a real cluster the
# master/memory come from spark-submit; these configs remain valid.
_DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")


def _env_bool(name: str, default: str) -> str:
    """Read a boolean env knob tolerantly: Spark's boolean confs accept
    only 'true'/'false', so '1' (the flag style of SPARK_GRAFT_NO_POOL)
    would fail session creation with an error that never names the
    variable. Normalize the common spellings; reject the rest loudly."""
    raw = os.environ.get(name, default).strip().lower()
    if raw in ("true", "1", "yes", "on"):
        return "true"
    if raw in ("false", "0", "no", "off"):
        return "false"
    raise ValueError(f"{name} must be a boolean (got {raw!r})")


def local_executor_confs(master: str) -> Dict[str, str]:
    """Executor confs for a ``local[...]`` or ``local-cluster[...]`` master;
    empty for any other master.

    - ``PYTHONPATH``: executor-side Python workers must import
      vinum_spark.  In local[N] they share the driver's sys.path, but
      under local-cluster[...] (separate executor JVMs, the multi-executor
      validation harness) they start from the worker env alone.
    - ``spark.python.daemon.module``: fork the workers from
      :mod:`vinum_spark.daemon`, which preloads their modules once and
      removes two per-task costs of pyspark (README "Python workers").
    - ``OPENBLAS_NUM_THREADS`` / ``OMP_NUM_THREADS``: one BLAS thread per
      Python worker unless the driver's environment says otherwise.  An
      OpenBLAS build with MAX_THREADS=2 and NO_AFFINITY otherwise lets
      every worker's matmul use host threads outside Spark's task
      accounting, so a local[8] run of a BLAS-heavy stage borrowed up to
      16 host cores (tools/scaling_sanity.py on a 32-core host: lshcos_q83
      8-vs-32 ratio 1.27 unpinned).  Parallelism comes from Spark tasks,
      and no BLAS thread pool exists in the daemon when it forks.

    On a real cluster none of these apply: the package ships via
    --py-files, which a worker may add to its path only inside a task,
    so the executor's daemon cannot rely on importing vinum_spark; and
    builder config takes precedence over spark-submit --conf, so setting
    them would clobber a user-supplied executor environment.
    """
    if not master.startswith("local"):  # local[N] and local-cluster[...]
        return {}
    return {
        "spark.executorEnv.PYTHONPATH": os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))
        ),
        "spark.python.daemon.module": "vinum_spark.daemon",
        "spark.executorEnv.OPENBLAS_NUM_THREADS": os.environ.get(
            "OPENBLAS_NUM_THREADS", "1"
        ),
        "spark.executorEnv.OMP_NUM_THREADS": os.environ.get("OMP_NUM_THREADS", "1"),
    }


def get_spark(app_name: str = "vinum_spark") -> SparkSession:
    """Return the shared SparkSession, creating it on first use.

    Scale notes (100 TB design):
    - AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
      and dynamic broadcast conversion replace hand-tuned partition counts.
    - Arrow exchange on: every JVM<->Python hop (pandas_udf, toPandas) is
      Arrow-batched — the analogue of the reference's zero-copy
      Python<->C++ boundary (``vinum/core/vinum_lib.cpp:60-66``).
    - UTC session timezone: deterministic timestamp semantics across
      engines (matters for the DuckDB correctness oracle too).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = os.environ.get(
        "SPARK_GRAFT_MASTER", f"local[{cpus}]" if cpus else "local[*]"
    )
    # In local mode the driver JVM hosts every executor thread, so
    # spark.driver.memory IS the cluster memory — and Spark's default is
    # 1g, which 32 concurrent tasks exhaust on any shuffle-heavy stage
    # (observed: executor OOM -> context shutdown -> blockmgr deleted
    # under running tasks at 10x sf0.1). 32g leaves room for several
    # concurrent JVMs (pytest + bench) plus Arrow/pandas native memory
    # on the 128 GiB harness. Applied at JVM launch; a real cluster sets
    # it via spark-submit instead.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.session.timeZone", "UTC")
        # The reference's expression semantics are numpy's (permissive
        # casts, null on malformed input, wrapping arithmetic) — ANSI off
        # matches them (vinum/core/expressions.py:13-25).
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.shuffle.partitions", _DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at Spark's DEFAULT (true): AQE coalesces
        # small shuffle partitions but never below cluster parallelism.
        # Round-18 tried false (bytes-only advisory sizing, guide §2.2) —
        # it won 10-15% on the small shuffle-heavy relational queries
        # (q14 819→701ms, q22 579→508ms at sf0.1) but SERIALIZED every
        # compute-heavy stage whose shuffle bytes are tiny: the LSH
        # pair-enumeration and cosine-verify stages of q83/q85 coalesced
        # to 2 partitions (millions of candidate pairs x a 64-term dot on
        # 2 cores), measured 43s → 152s end-to-end. Byte-based sizing
        # assumes bytes ∝ work; Python/expression-heavy operators break
        # that assumption, and partitions ≥ cores is the right floor on a
        # real cluster too. The advisory target below still governs skew
        # splitting and the coalescing granularity above the parallelism
        # floor, parameterised for cluster-specific tuning.
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION_SIZE", "64m"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let the planner pick shuffled-hash join when its size conditions
        # hold (guide §3.1/§9): SHJ skips both sort passes of SMJ. The
        # planner still requires the build side to fit its per-partition
        # threshold, so huge-build joins stay sort-merge. Env-overridable
        # (round-19 ADVICE): SHJ builds an in-memory hash map per
        # partition, so a deployment whose build-side size ESTIMATES are
        # unreliable (post-filter/UDF cardinality misestimates at the
        # 100 TB point) can restore Spark's sort-merge preference —
        # which spills gracefully — without a code change.
        # Normalized at the knob: Spark's boolean conf rejects values
        # like "1"/"yes" with an IllegalArgumentException deep inside
        # query execution that never mentions the env var — accept the
        # common truthy/falsy spellings here and fail loudly, by name,
        # on anything else.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            _env_bool("SPARK_GRAFT_PREFER_SORT_MERGE_JOIN", "false"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Spark's default, stated because the Python worker cost model
        # rests on it: a worker serves task after task, so what a worker
        # pays once (imports, on local masters the daemon's preload; see
        # local_executor_confs) is paid per worker, not per task.
        .config("spark.python.worker.reuse", "true")
        # Broadcast threshold: TPC-H dims (region/nation/supplier/part at
        # test SFs) should always broadcast; AQE upgrades joins at runtime
        # when the build side turns out small.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
        .config(map=local_executor_confs(master))
    )
    if master:
        builder = builder.master(master)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
