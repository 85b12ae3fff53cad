"""corpus_batch: one day of training-data preparation per iteration, on
freshly generated inputs: the batch job over a corpus directory, the
streaming ingest of the day's staged files (``wl_stream.StreamPhase``) and
the embedding-space search and dedup of the day's vectors
(``wl_embed.EmbedPhase``)."""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from collections import Counter

import common
import gen
import refs
from wl_embed import EmbedPhase
from wl_stream import StreamPhase

DESPAN_NGRAM = 10
DESPAN_MIN_COUNT = 3          # a planted near-duplicate pair shares spans twice
DECONTAM_NGRAM = 8
N_SHARDS = 4
CHUNK_LEN = 64
BLOCK_SIZE = 128
MIN_RECALL = 0.9
TOKEN_PATTERN = "[^ ]+"


class CorpusBatch:
    ops_per_step = 11      # seven batch operator calls, the stream drain, three kernels
    min_steps = 1

    def __init__(self, seed: int):
        self.seed = seed
        self.iteration = 0
        self.failures = []
        self.bytes_in = self.bytes_out = 0
        self.batch_walls = []
        self.batch_docs = 0
        self.last = None

    def prepare(self) -> None:
        """The first iteration's inputs; later ones are generated before
        their timed step starts."""
        self.merges_path = gen.merges_path(self.seed)
        gen.corpus_inputs(self.seed, 0)
        gen.stream_inputs(self.seed, 0)
        gen.embed_inputs(self.seed, 0)

    def open(self, spark, tracer) -> None:
        import vinum_spark as vs

        self.vs = vs
        with tracer.span("io.read_parquet"):
            self.merges = vs.read_parquet(self.merges_path).df
        self.encoder = refs.BpeEncoder(refs.read_merges(self.merges_path))
        self.out_root = os.path.join(gen.WORK, "run", f"corpus-{self.seed}")
        shutil.rmtree(self.out_root, ignore_errors=True)
        self.stream = StreamPhase(spark, self.merges, self.encoder, self.out_root)
        self.embed = EmbedPhase(vs)

    def step(self, tracer, cpu) -> dict:
        from vinum_spark.operators import (CorpusConfig, bpe_tokenize, chunk_token_ids,
                                           dedup_clusters, export_shards,
                                           minhash_lsh_dedup, pack_token_blocks,
                                           prepare_corpus)
        from pyspark.sql import functions as F

        src = gen.corpus_inputs(self.seed, self.iteration)
        stream_src = os.path.join(gen.stream_inputs(self.seed, self.iteration), "src")
        vectors = gen.embed_inputs(self.seed, self.iteration)
        out = os.path.join(self.out_root, f"shards-{self.iteration}")
        c0 = cpu()
        t0 = time.perf_counter()
        with tracer.span("corpus_job"):
            with tracer.span("io.read_parquet"):
                docs = self.vs.read_parquet(os.path.join(src, "docs.parquet")).df
            with tracer.span("io.read_parquet"):
                evals = self.vs.read_parquet(os.path.join(src, "eval.parquet")).df
            with tracer.span("pipeline.prepare_corpus.build"):
                prepared = prepare_corpus(docs, CorpusConfig(
                    quality_filter=True, dedup=True,
                    despan_ngram=DESPAN_NGRAM, despan_min_count=DESPAN_MIN_COUNT,
                    decontaminate_against=evals, decontaminate_ngram=DECONTAM_NGRAM,
                    n_shards=N_SHARDS))
            with tracer.span("pipeline.prepare_corpus.exec"):
                # two consumers follow: materialize once, as a user would
                prepared = prepared.localCheckpoint()
            with tracer.span("dedup.minhash_lsh_dedup.build"):
                kept = minhash_lsh_dedup(prepared)
            with tracer.span("dedup.dedup_clusters.build"):
                clusters = dedup_clusters(prepared)
            with tracer.span("dedup.dedup_clusters.exec"):
                cluster_rows = clusters.collect()
            with tracer.span("text.bpe_tokenize.build"):
                tokens = bpe_tokenize(kept, self.merges, token_pattern=TOKEN_PATTERN,
                                      byte_level=True, emit_ids=True)
            with tracer.span("text.chunk_token_ids.build"):
                chunks = chunk_token_ids(tokens.select("doc_id", "token_ids"), CHUNK_LEN)
            with tracer.span("sampling.pack_token_blocks.build"):
                blocks = pack_token_blocks(
                    chunks.withColumn("chunk_key", F.col("doc_id") * 100000 + F.col("chunk_id")),
                    BLOCK_SIZE, key_col="chunk_key", n_shards=N_SHARDS, drop_last=False)
            blocks = (blocks.withColumnRenamed("shard", "pack_shard")
                      .withColumn("block_key", F.col("pack_shard") * 1_000_000
                                  + F.col("block_id")))
            with tracer.span("sampling.export_shards.exec"), tracer.span("io.write"):
                export_shards(blocks, out, "block_key", N_SHARDS)
        self.batch_walls.append(time.perf_counter() - t0)
        with tracer.span("stream_job"):
            streamed = self.stream.run(tracer, stream_src, self.iteration)
        with tracer.span("embed_job"):
            embedded = self.embed.run(tracer, vectors)
        wall = time.perf_counter() - t0
        used = cpu() - c0
        with open(os.path.join(src, "manifest.json")) as f:
            manifest = json.load(f)
        self.batch_docs += manifest["n_docs"]
        self.bytes_in += common.parquet_bytes(os.path.join(src, "docs.parquet")) + streamed["bytes_in"]
        self.bytes_out += common.parquet_bytes(out) + streamed["bytes_out"]
        self.last = (prepared, src, out, cluster_rows, manifest, stream_src, streamed["out"])
        n = manifest["n_docs"] + streamed["docs"] + embedded["vectors"]
        return {"latencies": [wall], "items": n, "ops": 7 + streamed["batches"] + 3,
                "costs": [("iteration", used / n)]}

    def after_step(self) -> None:
        """Untimed: check the iteration's outputs."""
        _, src, out, cluster_rows, manifest, stream_src, stream_out = self.last
        for what, check in (("batch", lambda: self.check_iteration(src, out, cluster_rows,
                                                                    manifest)),
                            ("stream", lambda: self.stream.check(stream_src, stream_out)),
                            ("embedding", self.embed.check)):
            try:
                failures = check()
            except Exception as e:             # a check that cannot run fails
                failures = [f"raised {e!r}"]
            self.failures += [f"{what} iteration {self.iteration}: {f}" for f in failures]
        shutil.rmtree(out, ignore_errors=True)
        self.iteration += 1

    def expected_docs(self, src: str, manifest: dict) -> dict:
        """doc_id -> text of the documents that should survive quality,
        exact dedup and decontamination, computed by DuckDB."""
        import duckdb

        con = duckdb.connect()
        con.execute(f"CREATE VIEW docs AS SELECT * FROM read_parquet('{src}/docs.parquet')")
        con.execute(f"CREATE VIEW evals AS SELECT * FROM read_parquet('{src}/eval.parquet')")
        n = DECONTAM_NGRAM
        rows = con.execute(f"""
            WITH passed AS ({refs.quality_passed_sql('docs')}),
            fp AS (SELECT doc_id, text, {refs.FINGERPRINT_SQL} AS fp FROM passed),
            survivors AS (
              SELECT f.doc_id, f.text FROM fp f
              JOIN (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fp) USING (doc_id)),
            corpus_words AS (
              SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM survivors),
            eval_words AS (
              SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM evals),
            eval_grams AS (
              SELECT DISTINCT array_to_string(w[i:i + {n - 1}], ' ') AS g
              FROM (SELECT w, unnest(range(1, len(w) - {n - 2})) AS i FROM eval_words)),
            corpus_grams AS (
              SELECT doc_id, array_to_string(w[i:i + {n - 1}], ' ') AS g
              FROM (SELECT doc_id, w, unnest(range(1, len(w) - {n - 2})) AS i
                    FROM corpus_words)),
            hits AS (
              SELECT DISTINCT doc_id FROM corpus_grams JOIN eval_grams USING (g))
            SELECT doc_id, text FROM survivors WHERE doc_id NOT IN (SELECT doc_id FROM hits)
        """).fetchall()
        con.close()
        return dict(rows)

    def check_iteration(self, src, out, cluster_rows, manifest) -> list:
        import pyarrow.dataset as ds

        failures = []
        docs = self.expected_docs(src, manifest)
        pairs = [p for p in manifest["near_pairs"] if p[0] in docs and p[1] in docs]
        # near-duplicate recall of dedup_clusters: both members in one cluster
        comp = {r["doc_id"]: r["component"] for r in cluster_rows}
        found = sum(1 for a, b in pairs if a in comp and comp.get(a) == comp.get(b))
        if pairs and found / len(pairs) < MIN_RECALL:
            failures.append(f"dedup_clusters recall {found}/{len(pairs)} below {MIN_RECALL}")
        # the LSH dedup drops the later id of each planted pair; the
        # shards then hold exactly the tokens of the rest, with the
        # repeated boilerplate spans cut out
        dropped = {max(a, b) for a, b in pairs}
        want = Counter()
        for doc_id, text in docs.items():
            if doc_id in dropped:
                continue
            words = " ".join(re.findall("[a-z0-9]+", text.lower()))
            for bp in manifest["boilerplate"]:
                if words.endswith(" " + bp):
                    words = words[: -len(bp) - 1]
                    break
            want.update(self.encoder.text(words, TOKEN_PATTERN))
        got = Counter()
        for ids in ds.dataset(out, format="parquet", partitioning="hive") \
                .to_table(columns=["token_ids"])["token_ids"].to_pylist():
            got.update(ids)
        if got != want:
            failures.append(
                f"exported shards hold {sum(got.values())} token ids, the reference "
                f"{sum(want.values())}; {len(got - want) + len(want - got)} ids differ "
                "in count")
        return failures

    def describe(self, wall: dict) -> str:
        return (f"records_per_s={wall['per_s']:.1f} over {wall['n']} iterations "
                f"(iteration p50 {wall['p50']:.3f} s; batch job "
                f"{common.median(self.batch_walls):.3f} s, stream drain "
                f"{common.median(self.stream.walls):.3f} s, embedding phase "
                f"{common.median(self.embed.walls):.3f} s)")

    def layer_metrics(self, spark, tracer) -> dict:
        """Traced-only: useful-work ratios of MinHash and LSH candidate
        verification on the last inputs, output-to-input bytes, each phase's
        own throughput, and the stream's progress."""
        from vinum_spark.operators import minhash_candidate_pairs, ngram_jaccard_verify

        prepared = self.last[0]
        with tracer.span("dedup.minhash_candidate_pairs"):
            cands = minhash_candidate_pairs(prepared).localCheckpoint()
            n_cand = cands.count()
            n_ver = ngram_jaccard_verify(prepared, cands, threshold=0.8).count()
        return {
            "dedup.minhash.verified_per_candidate": n_ver / n_cand if n_cand else 0.0,
            "io.write_bytes_per_input_byte": self.bytes_out / self.bytes_in,
            "pipeline.batch_docs_per_s": self.batch_docs / sum(self.batch_walls),
            "streaming": self.stream.layer_metrics(tracer),
            **self.embed.layer_metrics(tracer),
        }

    def check(self) -> list:
        self.stream.close()
        out, self.failures = self.failures, []
        return out
