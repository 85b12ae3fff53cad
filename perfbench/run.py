"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  One invocation is one fresh process:
it generates (or reuses) the seeded inputs, sets up a ``local[nproc]``
session, runs the workload as a closed loop with one client thread for
``--seconds`` of measured time, checks every output against an
independent reference, and prints one JSON object as its last line.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run (spans are written to
``perfbench/.work/traces/``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import common  # noqa: E402
import gen  # noqa: E402
from tracing import NullTracer, Tracer, self_times  # noqa: E402

WORKLOADS = ("sql_interactive", "corpus_batch")

# operator calls timed per layer: (module, function)
OPERATORS = [
    ("pipeline", "prepare_corpus"),
    ("dedup", "minhash_lsh_dedup"),
    ("dedup", "dedup_clusters"),
    ("text", "bpe_tokenize"),
    ("text", "chunk_token_ids"),
    ("sampling", "pack_token_blocks"),
    ("sampling", "export_shards"),
    ("similarity", "knn_join"),
    ("similarity", "blocked_pair_cosine"),
    ("similarity", "semantic_dedup"),
    ("pipeline", "prepare_corpus_stream"),
    ("streaming", "run_stream_to_parquet"),
]


def _workload(name: str, seed: int):
    if name == "sql_interactive":
        from wl_sql import SqlInteractive
        return SqlInteractive(seed)
    if name == "corpus_batch":
        from wl_corpus import CorpusBatch
        return CorpusBatch(seed)
    raise SystemExit(f"unknown workload {name!r}; choose from {', '.join(WORKLOADS)}")


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _size_session() -> None:
    """Size the session to this host through the package's own knobs, and
    keep every scratch file (Spark's local dirs, Python and JVM temp files)
    inside the checkout."""
    os.environ["SPARK_GRAFT_CPUS"] = str(common.nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = common.driver_memory_for_host()
    tmp = os.path.join(gen.WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    # JIT compiler threads that live as long as the JVM, so that their CPU
    # can be read from /proc and left out of cpu_s_per_item (see README)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-XX:-UseDynamicNumberOfCompilerThreads' pyspark-shell")


def _instrument(tracer) -> None:
    """Spans around the program's own calls into the sqlprep and
    functions layers (the names ``api`` imported)."""
    from vinum_spark.api import multi, table

    for mod in (table, multi):
        tracer.wrap_module_function(mod, "rewrite_sql", "sqlprep.rewrite_sql")
        tracer.wrap_module_function(mod, "output_column_names", "sqlprep.output_column_names")
        tracer.wrap_module_function(mod, "ensure_udfs_registered",
                                    "functions.ensure_udfs_registered")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_proc = common.process_start_time()
    if not os.path.isfile(os.path.join(ROOT, "vinum_spark", "__init__.py")):
        _log(f"no vinum_spark package under {ROOT}: run from a checkout of the repo")
        return 2
    sys.path.insert(0, ROOT)

    wl = _workload(args.workload, args.seed)
    t_gen = time.time()
    wl.prepare()                                   # seeded inputs, never timed
    gen_s = time.time() - t_gen
    _size_session()

    with common.ProcSampler() as procs:
        t_setup = time.time()
        import vinum_spark as vs

        t_get = time.perf_counter()
        spark = vs.get_spark()
        get_spark_s = time.perf_counter() - t_get
        try:
            spark.range(1).count()                 # the first trivial job
            setup_s = (t_gen - t_proc) + (time.time() - t_setup)
            result = _measure(args, wl, spark, procs, setup_s, get_spark_s, gen_s)
        finally:
            _shutdown(spark)
    if result is None:
        return 1
    print(json.dumps(result), flush=True)
    return 0


def _measure(args, wl, spark, procs, setup_s, get_spark_s, gen_s):
    """The closed loop, the checks and the report; None when no operation
    completed."""
    traced = bool(args.trace)
    spark.sparkContext.setLogLevel("ERROR")
    run_id = f"{args.workload}-{args.seed}-{int(time.time())}"
    tracer = Tracer(spark, run_id) if traced else NullTracer()
    if traced:
        _instrument(tracer)
    stamp = common.host_stamp(spark, ROOT, args.seed, args.workload, traced)
    _log("run: " + json.dumps(stamp))

    wl.open(spark, tracer)
    procs.mark()
    ticks = common.cpu_ticks()
    samples, attempted, failed, items, measured, errors, steps = [], 0, 0, 0, 0.0, 0, 0
    cpu = dict.fromkeys(("driver_py", "jvm", "pyworker", "jit"), 0.0)
    costs = {}      # kind of operation -> its CPU seconds per item, one per sample
    while (measured < args.seconds or steps < wl.min_steps) and errors < 3:
        steps += 1
        before = procs.cpu_by_class()
        procs.measuring = True
        t0 = time.perf_counter()
        try:
            r = wl.step(tracer, procs.work_cpu)
        except Exception:                          # one failed step; keep going
            measured += time.perf_counter() - t0
            attempted += wl.ops_per_step
            failed += wl.ops_per_step
            errors += 1
            _log(traceback.format_exc())
            continue
        finally:
            procs.measuring = False
        used = {k: v - before[k] for k, v in procs.cpu_by_class().items()}
        for k, v in used.items():
            cpu[k] += v
        for kind, c in r["costs"]:
            costs.setdefault(kind, []).append(c)
        measured += sum(r["latencies"])
        _log(f"step {steps}: {sum(r['latencies']):.3f} s; per item "
             f"{(used['driver_py'] + used['jvm'] - used['jit'] + used['pyworker']) / r['items']:.4f}"
             f" CPU s and {used['jit'] / r['items']:.4f} s of JIT compilation")
        samples.extend(r["latencies"])
        items += r["items"]
        attempted += r["ops"]
        wl.after_step()                            # untimed checks, not charged
    steal = common.steal_share(ticks, common.cpu_ticks())
    failures = wl.check()
    failed += len(failures)
    for f in failures:
        _log("check failed: " + f)
    layer = wl.layer_metrics(spark, tracer) if traced else {}
    if not samples:
        _log("no operation completed")
        return None

    wall = {"p50": common.median(samples), "p90": common.percentile(samples, 90),
            "n": len(samples), "beyond_p90": common.beyond(samples, 90),
            "per_s": items / measured}
    # wall-clock figures are logged, not bounded: on a shared host they
    # track the hypervisor's steal share (see README).  Each kind of
    # operation counts at its median cost over the run
    e2e = {
        "setup_s": (setup_s, "s"),
        "cpu_s_per_item": (sum(common.median(v) for v in costs.values()) / len(costs), "s"),
        "py_peak_rss_mb": (procs.peak_py_rss / 2**20, "MB"),
    }
    _log(f"{args.workload}: {wl.describe(wall)}; "
         f"error_rate={failed / max(attempted, 1):.4f} ({failed}/{attempted}); "
         f"input generation {gen_s:.2f} s (not timed); hypervisor steal {100 * steal:.1f} % "
         f"of host CPU while measuring; JIT compilation {cpu['jit']:.2f} CPU s; "
         f"peak resident MB by process: "
         + ", ".join(f"{k} {v / 2**20:.0f}" for k, v in procs.peak_by_class.items()))
    _log("  median CPU s per item by kind: " + ", ".join(
        f"{k} {common.median(v):.4f}" for k, v in costs.items()))
    for k, (v, u) in e2e.items():
        _log(f"  {k:<16} {v:12.4f} {u}")

    metrics = e2e
    if traced:
        metrics = _per_layer(tracer, layer, get_spark_s, cpu, measured)
        metrics["host.steal_share"] = (steal, "ratio")
        metrics["process.peak_rss_mb"] = (procs.peak_rss / 2**20, "MB")
        os.makedirs(os.path.join(gen.WORK, "traces"), exist_ok=True)
        path = os.path.join(gen.WORK, "traces", f"{run_id}.json")
        tracer.dump(path, {"stamp": stamp, "metrics": metrics, "wall": wall,
                           "end_to_end": {k: v for k, (v, _) in e2e.items()}})
        _log(f"  trace written to {os.path.relpath(path, ROOT)}")
        for k, (v, u) in metrics.items():
            _log(f"  {k:<44} {v:14.6f} {u}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _shutdown(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait until
    each process has ended."""
    from pyspark import SparkContext

    children = common.process_tree(os.getpid())[1:]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()             # the JVM exits at end of its stdin
            proc.wait(timeout=60)
    left = common.wait_gone(children, timeout=30)
    if left:
        _log(f"processes still running after shutdown: {left}")


def _per_layer(tracer, layer: dict, get_spark_s: float, cpu: dict, wall: float) -> dict:
    spans = tracer.spans
    by_id = {s.id: s for s in spans}
    selfs = self_times(spans)
    jobs = tracer.job_counts()

    def named(name):
        return [s for s in spans if s.name == name]

    def med(vals):
        return common.median(vals) if vals else 0.0

    def under(span, prefix):
        """Summed self time of the spans below ``span`` named ``prefix*``."""
        out = 0.0
        for s in spans:
            p, inside = s.parent, False
            while p is not None:
                if p == span.id:
                    inside = True
                    break
                p = by_id[p].parent
            if inside and s.name.startswith(prefix):
                out += selfs[s.id]
        return out

    def subtree_jobs(span):
        total = jobs[span.id][0]
        for s in spans:
            if s.parent == span.id:
                total += subtree_jobs(s)
        return total

    queries = named("query")
    m = {
        "session.get_spark_s": (get_spark_s, "s"),
        "sqlprep.rewrite_ms": (1e3 * med([under(q, "sqlprep.") for q in queries]), "ms"),
        "api.sql_build_ms": (1e3 * med([s.duration for s in named("api.sql_build")]), "ms"),
        "api.to_arrow_s": (med([s.duration for s in named("api.to_arrow")]), "s"),
        "api.query_p50_s": (med([q.duration for q in queries]), "s"),
        "api.query_p90_s": (
            common.percentile([q.duration for q in queries], 90) if queries else 0.0, "s"),
        "api.from_arrow_s": (sum(s.duration for s in named("api.from_arrow")), "s"),
        "functions.udf_query_p50_s": (
            med([q.duration for q in queries if q.attrs.get("cls") == "udf"]), "s"),
        "functions.builtin_query_p50_s": (
            med([q.duration for q in queries if q.attrs.get("cls") == "builtin"]), "s"),
        "io.read_parquet_ms": (1e3 * med([s.duration for s in named("io.read_parquet")]), "ms"),
        "io.write_s": (sum(s.duration for s in named("io.write")), "s"),
        "io.write_bytes_per_input_byte": (layer.get("io.write_bytes_per_input_byte", 0.0),
                                          "ratio"),
    }
    for mod, fn in OPERATORS:
        build = named(f"{mod}.{fn}.build")
        exe = named(f"{mod}.{fn}.exec")
        m[f"{mod}.{fn}.build_s"] = (sum(s.duration for s in build), "s")
        m[f"{mod}.{fn}.exec_s"] = (sum(s.duration for s in exe), "s")
        m[f"{mod}.{fn}.jobs"] = (sum(subtree_jobs(s) for s in build + exe), "count")
    for k in ("dedup.minhash.verified_per_candidate", "similarity.lsh.verified_per_candidate"):
        m[k] = (layer.get(k, 0.0), "ratio")
    stream = layer.get("streaming", {})
    m.update({
        "pipeline.batch_docs_per_s": (layer.get("pipeline.batch_docs_per_s", 0.0), "1/s"),
        "similarity.vectors_per_s": (layer.get("similarity.vectors_per_s", 0.0), "1/s"),
        "streaming.docs_per_s": (stream.get("docs_per_s", 0.0), "1/s"),
        "streaming.batch_p50_s": (stream.get("batch_p50_s", 0.0), "s"),
        "streaming.batches": (stream.get("batches", 0), "count"),
        "streaming.batch.add_batch_ms": (stream.get("add_batch_ms", 0.0), "ms"),
        "streaming.batch.planning_ms": (stream.get("planning_ms", 0.0), "ms"),
        "streaming.batch.commit_ms": (stream.get("commit_ms", 0.0), "ms"),
        "streaming.state_rows": (stream.get("state_rows", 0), "count"),
        "streaming.state_mem_mb": (stream.get("state_mem_mb", 0.0), "MB"),
        "streaming.drain_tail_s": (stream.get("drain_tail_s", 0.0), "s"),
    })
    top = [s for s in spans if s.parent is None]
    n_jobs = sum(subtree_jobs(s) for s in top)
    n_tasks = sum(jobs[s.id][1] for s in spans)
    n_failed = sum(jobs[s.id][2] for s in spans)
    sj, st, sf = tracer.stream_job_counts()
    total_cpu = cpu["driver_py"] + cpu["jvm"] + cpu["pyworker"]
    m.update({
        "spark.jobs": (n_jobs + sj, "count"),
        "spark.tasks": (n_tasks + st, "count"),
        "spark.failed_tasks": (n_failed + sf, "count"),
        "cpu.driver_py_s": (cpu["driver_py"], "s"),
        "cpu.jvm_s": (cpu["jvm"], "s"),
        "cpu.pyworker_s": (cpu["pyworker"], "s"),
        "cpu.jit_s": (cpu["jit"], "s"),
        "cpu.util": (total_cpu / (wall * common.nproc()), "ratio"),
        "trace.overhead_share": (tracer.bookkeeping_s / wall, "ratio"),
    })
    return m


if __name__ == "__main__":
    sys.exit(main())
