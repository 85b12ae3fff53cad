"""Core-count scaling sanity for the compute-bound operator set
(round 19, VERDICT r18 item 2).

The driver benches the committed queries at several core counts and
compares; at sf0.1 every optimized query's execution is dominated by
fixed per-stage cost (task launch, Python worker spin-up, shuffle
setup — PERF_r18's near-1.0 ratios on sub-second walls), so quartering
the cores barely moves the wall and the scaling CONTRACT looks
violated even though ``session.py`` honors ``$SPARK_GRAFT_CPUS``
(master ``local[$SPARK_GRAFT_CPUS]``, verified in the bench JSON's
``default_parallelism``/``master`` fields). This tool measures the
same operators at a corpus size where compute dominates, which is
where core count CAN show: 8-vs-32-core wall ratios well above 1
demonstrate the work is genuinely parallel.

Stages (same operator + parameters as the named query, 10x-grade
synthetic corpora built entirely executor-side):

- ``minhash_q29``  — ``minhash_verified_dedup`` (n=3, t=0.8, 64
  hashes, 16 bands) over M=10 salted copies of the sf0.1 documents
  (50k docs; the scale_docs.py corpus — ~92% shingle-identical
  copies, so bands collide and the verify path has real work);
- ``winnow_q54``   — ``winnowing_shared_pairs`` (k=16, window=4,
  max_doc_freq=10, min_shared=5) over the same 50k docs;
- ``lshcos_q83``   — ``lsh_blocked_cosine_pairs`` (dim=64, t=0.9,
  126 planes, 8-bit bands — the q56/q83/q85 fused kernel) over M=50
  perturbed copies of the sf0.1 embeddings (100k vectors; copies are
  near-identical so buckets carry ~M rows and the per-block BLAS
  kernels have real Gram work).

Methodology matches bench.py: noop sink per timed action, one warm-up,
median of 3. Corpora are written once under /tmp/scaling_sanity and
reused by BOTH core-count invocations (identical bytes in, so the
ratio is pure core-count).

Usage:
    python tools/scaling_sanity.py            # one run at $SPARK_GRAFT_CPUS
    python tools/scaling_sanity.py --both     # subprocess at 32 then 8,
                                              # print ratios, write
                                              # tools/scaling_r19.json
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DOCS = "/root/testdata/sf0.1/documents.parquet"
EMB = "/root/testdata/sf0.1/embeddings.parquet"
OUT_DIR = "/tmp/scaling_sanity"
#: corpus multipliers, env-overridable so the ratio can be sampled at
#: several compute scales (the 8-vs-32 ratio RISES with the compute
#: share of the wall — the fixed driver/plan cost per run does not
#: scale with cores, so small corpora understate the parallelism)
M_DOCS = int(os.environ.get("SCALING_SANITY_M_DOCS", "10"))
M_EMB = int(os.environ.get("SCALING_SANITY_M_EMB", "50"))


def _build_docs(spark, m: int) -> str:
    """M salted copies of the documents corpus (scale_docs.py recipe:
    copy 0 verbatim, copy k>0 rewrites ~8% of words deterministically),
    built and written entirely executor-side."""
    from pyspark.sql import functions as F

    path = os.path.join(OUT_DIR, f"docs_m{m}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    base = spark.read.parquet(DOCS)
    copies = spark.range(m).withColumnRenamed("id", "copy")
    salted = (
        base.crossJoin(copies)
        .withColumn(
            "text",
            F.when(F.col("copy") == 0, F.col("text")).otherwise(
                F.array_join(
                    F.transform(
                        F.split(F.col("text"), " "),
                        lambda w: F.when(
                            F.pmod(F.xxhash64(w, F.col("copy")), F.lit(12))
                            == 0,
                            F.concat(
                                w, F.lit("~"), F.col("copy").cast("string")
                            ),
                        ).otherwise(w),
                    ),
                    " ",
                )
            ),
        )
        .withColumn("doc_id", F.col("doc_id") + F.col("copy") * 10_000_000)
        .drop("copy")
    )
    salted.repartition(8).write.mode("overwrite").parquet(path)
    return path


def _build_emb(spark, m: int) -> str:
    """M perturbed copies of the embeddings corpus: copy 0 verbatim,
    copy k>0 nudges each component by a deterministic ±3e-3 — copies
    stay near-identical (cos ≈ 1), so LSH buckets carry ~M rows and
    the fused verify kernel has real per-block Gram work."""
    from pyspark.sql import functions as F

    path = os.path.join(OUT_DIR, f"emb_m{m}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    base = spark.read.parquet(EMB).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    copies = spark.range(m).withColumnRenamed("id", "copy")
    jig = (
        base.crossJoin(copies)
        .withColumn(
            "embedding",
            F.when(F.col("copy") == 0, F.col("embedding")).otherwise(
                F.transform(
                    F.col("embedding"),
                    lambda x, i: x
                    + (
                        F.pmod(
                            F.xxhash64(F.col("vec_id"), F.col("copy"), i),
                            F.lit(7),
                        )
                        - F.lit(3)
                    ).cast("double")
                    * F.lit(1e-3),
                )
            ),
        )
        .withColumn("vec_id", F.col("vec_id") + F.col("copy") * 10_000_000)
        .drop("copy")
    )
    jig.repartition(8).write.mode("overwrite").parquet(path)
    return path


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn, n: int = 3) -> float:
    fn()  # warm-up
    runs = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        runs.append(time.perf_counter() - t0)
    return round(statistics.median(runs), 3)


def run_one() -> None:
    from vinum_spark.operators import dedup as D
    from vinum_spark.operators import text as X
    from vinum_spark.operators.similarity import lsh_blocked_cosine_pairs
    from vinum_spark.session import get_spark

    spark = get_spark("scaling_sanity")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism
    docs_path = _build_docs(spark, M_DOCS)
    emb_path = _build_emb(spark, M_EMB)
    docs = spark.read.parquet(docs_path)
    emb = spark.read.parquet(emb_path)

    stages = {}
    spark.sparkContext.setJobDescription(f"scaling_sanity minhash_q29 c{cpus}")
    stages["minhash_q29"] = _timed(
        lambda: _noop(
            D.minhash_verified_dedup(
                docs, n=3, threshold=0.8, n_hashes=64, bands=16
            ).select("doc_id", "source")
        )
    )
    spark.sparkContext.setJobDescription(f"scaling_sanity winnow_q54 c{cpus}")
    stages["winnow_q54"] = _timed(
        lambda: _noop(
            X.winnowing_shared_pairs(
                docs, col="text", id_col="doc_id", k=16, window=4,
                max_doc_freq=10, min_shared=5,
            )
        )
    )
    spark.sparkContext.setJobDescription(f"scaling_sanity lshcos_q83 c{cpus}")
    stages["lshcos_q83"] = _timed(
        lambda: _noop(
            lsh_blocked_cosine_pairs(
                emb, dim=64, threshold=0.9, n_planes=126, band_bits=8
            )
        )
    )
    print(
        json.dumps(
            {
                "metric": "scaling_sanity",
                "cpus": cpus,
                "master": spark.sparkContext.master,
                "m_docs": M_DOCS,
                "m_emb": M_EMB,
                "stages": stages,
            }
        )
    )


def run_both() -> None:
    here = os.path.abspath(__file__)
    recs = {}
    for cpus in (32, 8):
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
        env.pop("SPARK_GRAFT_MASTER", None)
        out = subprocess.run(
            [sys.executable, here],
            env=env,
            capture_output=True,
            text=True,
            check=True,
        )
        line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        recs[cpus] = json.loads(line)
        print(line)
    ratios = {
        k: round(recs[8]["stages"][k] / recs[32]["stages"][k], 2)
        for k in recs[32]["stages"]
    }
    result = {
        "metric": "scaling_sanity_ratio_8v32",
        "ratios": ratios,
        "runs": {str(c): recs[c] for c in recs},
    }
    print(json.dumps(result))
    out_path = os.path.join(os.path.dirname(here), "scaling_r19.json")
    results = []
    if os.path.exists(out_path):
        with open(out_path) as f:
            prev = json.load(f)
        results = prev if isinstance(prev, list) else [prev]
    results.append(result)
    with open(out_path, "w") as f:
        json.dump(results, f, indent=2)
    print(f"wrote {out_path}", file=sys.stderr)


if __name__ == "__main__":
    if "--both" in sys.argv[1:]:
        run_both()
    else:
        run_one()
