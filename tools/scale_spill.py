"""Shuffle/sort SPILL anchor under real memory pressure — the last
unmeasured 100 TB axis (VERDICT r13 item 4): state-store spill is
measured (RocksDB rows in BASELINE.md), but the relational shuffles had
only ever run on the 128 GiB local[32] harness, where nothing spills.

This harness re-runs the three shuffle-heavy sf10 anchors (q14
orders-lineitem SMJ, q18 window top-k sort, q86 AQE skew join — 60M
lineitem rows, ~1.7 GB parquet) on a CONSTRAINED multi-JVM cluster,
``local-cluster[4,2,1536]``: 4 executor JVMs x 2 cores x 1536 MB — 6 GB
of executor memory total for shuffles that move tens of millions of
rows, so Spark MUST spill (UnsafeExternalSorter / shuffle spill files)
to complete. What this proves at 100 TB: the plans degrade to disk
gracefully under memory pressure instead of OOMing — the property that
lets the same partition strategy survive an under-provisioned or
skew-surprised production cluster.

Spill metrics come from the driver's REST API (the one consumer for
which the tool enables the UI; the library session keeps it off):
per-stage memoryBytesSpilled/diskBytesSpilled summed over the run of
each query, plus shuffle write volume for context.

Usage:  python tools/scale_spill.py [--copies N]   (default 100 = sf10)
Builds the corpus via tools/scale_relational.build into
/tmp/testdata_sf{N//10} if absent, prints one JSON line per query, and
a final summary line. Results are recorded in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = ("q14_join_multiway", "q18_window_topk_per_group", "q86_skew_join_aqe")


def _wide_agg(spark, sf_dir):
    """Exact-dedup-shaped WIDE aggregation: groupBy on a ~unique key
    over all 60M lineitem rows — the one relational shape the qNN
    anchors do NOT stress under memory pressure (q14/q86 broadcast
    their filtered sides and shuffle KBs; q18's window prunes map-side
    via WindowGroupLimit). ~60M distinct groups force a corpus-sized
    hash-aggregate shuffle, the same shape as dedup_exact's
    fingerprint groupBy at 100 TB."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.groupBy("l_orderkey", "l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("q"), F.count(F.lit(1)).alias("n"))
        .select(F.count(F.lit(1)).alias("groups"), F.sum("q").alias("qty"))
    )


def _global_sort(spark, sf_dir):
    """Full 60M-row range-partitioned external sort (the pack/shard
    ordering shape): every row through one range shuffle + per-
    partition sort — the purest spill generator Spark has."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.select("l_orderkey", "l_extendedprice", "l_quantity").orderBy(
        "l_extendedprice", "l_orderkey"
    )


EXTRA = {"wide_agg_dedup_shape": _wide_agg, "global_sort": _global_sort}


def _build_corpus(copies: int) -> str:
    """Build (or reuse) the key-shifted copy universe with a plain
    local[32] session, then stop it — the measurement session must own
    the JVM's master setting."""
    from pyspark.sql import SparkSession

    from tools.scale_relational import build

    out_dir = f"/tmp/testdata_sf{copies // 10}"
    if os.path.exists(os.path.join(out_dir, "lineitem.parquet", "_SUCCESS")):
        return out_dir
    spark = (
        SparkSession.builder.appName("spill_build")
        .master("local[32]")
        .config("spark.driver.memory", "32g")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    build(spark, out_dir, copies)
    spark.stop()
    return out_dir


def _constrained_session():
    """4 executor JVMs x 2 cores x 1536 MB — small enough that the sf10
    shuffles cannot fit in memory. UI on: it is the spill-metrics API."""
    from pyspark.sql import SparkSession

    from vinum_spark.session import local_executor_confs

    master = "local-cluster[4,2,1536]"
    return (
        SparkSession.builder.appName("spill_anchor")
        .master(master)
        .config("spark.executor.memory", "1536m")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "true")
        .config(map=local_executor_confs(master))
        .getOrCreate()
    )


def _stage_metrics(spark) -> dict:
    """Sum spill/shuffle bytes over all finished stages so far. The UI
    listener processes task events asynchronously, so settle first —
    polling immediately after an action returns can miss the action's
    own stages (they then pollute the NEXT query's delta)."""
    time.sleep(3.0)
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{base}/api/v1/applications/{app}/stages", timeout=30
    ) as r:
        stages = json.load(r)
    out = {"memory_spilled": 0, "disk_spilled": 0, "shuffle_write": 0}
    for s in stages:
        out["memory_spilled"] += s.get("memoryBytesSpilled", 0)
        out["disk_spilled"] += s.get("diskBytesSpilled", 0)
        out["shuffle_write"] += s.get("shuffleWriteBytes", 0)
    return out


def main() -> None:
    copies = 100
    if "--copies" in sys.argv:
        copies = int(sys.argv[sys.argv.index("--copies") + 1])
    sf_dir = _build_corpus(copies)

    from vinum_spark.inventory import QUERIES as INV

    spark = _constrained_session()
    spark.sparkContext.setLogLevel("ERROR")
    total = {}
    runnable = [(n, INV[n].fn) for n in QUERIES] + list(EXTRA.items())
    for name, fn in runnable:
        before = _stage_metrics(spark)
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = round(time.perf_counter() - t0, 1)
        after = _stage_metrics(spark)
        rec = {
            "query": name,
            "wall_s": wall,
            "memory_spilled_gb": round(
                (after["memory_spilled"] - before["memory_spilled"]) / 2**30, 2
            ),
            "disk_spilled_gb": round(
                (after["disk_spilled"] - before["disk_spilled"]) / 2**30, 2
            ),
            "shuffle_write_gb": round(
                (after["shuffle_write"] - before["shuffle_write"]) / 2**30, 2
            ),
        }
        total[name] = rec
        print(json.dumps(rec), flush=True)
    print(
        json.dumps(
            {
                "cluster": "local-cluster[4,2,1536]",
                "executor_mem_total_gb": 6.0,
                "sf_dir": sf_dir,
                "oom": False,  # reaching this line means every query completed
                "queries": {n: r["wall_s"] for n, r in total.items()},
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
