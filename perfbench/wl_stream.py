"""The streaming-ingest phase of ``corpus_batch``: ``prepare_corpus_stream``
(quality, watermark dedup, map-side tokenize with ids) from a
one-file-per-trigger parquet stream into ``run_stream_to_parquet``, over
freshly staged files per iteration; checked against a DuckDB
recomputation of the surviving fingerprints and a Python encoding of
their ids."""

from __future__ import annotations

import os
import time

import gen
import refs
from common import median, parquet_bytes
from tracing import StreamProgress

TOKEN_PATTERN = "[^ ]+"
WATERMARK = "1 hour"
STATE_PARTITIONS = 4


class StreamPhase:
    def __init__(self, spark, merges, encoder, out_root: str):
        self.spark = spark
        self.merges = merges
        self.encoder = encoder
        self.out_root = out_root
        self.progress = StreamProgress(spark)
        self.events = []
        self.walls = []
        self.tails = []

    def run(self, tracer, src: str, iteration: int) -> dict:
        """Drain the staged files; returns the wall time, the output
        directory, the data batch count, the document count and the parquet
        bytes read and written."""
        from vinum_spark.operators import CorpusConfig, prepare_corpus_stream
        from vinum_spark.streaming.windows import run_stream_to_parquet, stream_table

        out = os.path.join(self.out_root, f"stream-{iteration}")
        ckpt = os.path.join(self.out_root, f"ckpt-{iteration}")
        t0 = time.perf_counter()
        with tracer.span("pipeline.prepare_corpus_stream.build"):
            stream = stream_table(self.spark, src, max_files_per_trigger=1)
            docs = prepare_corpus_stream(
                stream,
                CorpusConfig(quality_filter=True, dedup=True, tokenize_with=self.merges,
                             tokenize_byte_level=True, tokenize_pattern=TOKEN_PATTERN,
                             tokenize_emit_ids=True),
                ts_col="ts", watermark=WATERMARK,
            ).select("doc_id", "fingerprint", "token_ids")
        with tracer.span("streaming.run_stream_to_parquet.exec"), tracer.span("io.write"):
            run_stream_to_parquet(docs, out, ckpt, state_partitions=STATE_PARTITIONS)
        t_end = time.perf_counter()
        events = self.progress.take()
        data = [e for e in events if e["rows"] > 0]
        if not data:
            raise RuntimeError("the stream committed no data batch")
        self.walls.append(t_end - t0)
        self.tails.append(t_end - data[-1]["seen"])
        self.events += events
        return {"wall": t_end - t0, "out": out, "batches": len(data),
                "docs": gen.STREAM_FILES * gen.STREAM_DOCS_PER_FILE,
                "bytes_in": parquet_bytes(src), "bytes_out": parquet_bytes(out)}

    def check(self, src: str, out: str) -> list:
        import duckdb

        con = duckdb.connect()
        con.execute(f"CREATE VIEW docs AS SELECT * FROM read_parquet('{src}/*.parquet')")
        want = dict(con.execute(f"""
            SELECT {refs.FINGERPRINT_SQL} AS fp, min(text)
            FROM ({refs.quality_passed_sql('docs')}) GROUP BY 1""").fetchall())
        got = con.execute(f"""
            SELECT fingerprint, token_ids FROM read_parquet('{out}/*.parquet')""").fetchall()
        con.close()
        failures = []
        fps = [fp for fp, _ in got]
        if len(fps) != len(set(fps)) or set(fps) != set(want):
            failures.append(f"stream kept {len(fps)} rows ({len(set(fps))} fingerprints), "
                            f"the reference {len(want)} fingerprints")
        bad = sum(1 for fp, ids in got
                  if fp in want and list(ids) != self.encoder.text(want[fp], TOKEN_PATTERN))
        if bad:
            failures.append(f"{bad} streamed documents carry token ids that differ from "
                            "the reference encoding")
        return failures

    def layer_metrics(self, tracer) -> dict:
        tracer.stream_groups += self.progress.run_ids
        data = [e for e in self.events if e["rows"] > 0]

        def part(*keys):
            return median([sum(e["duration_ms"].get(k, 0) for k in keys) for e in data])

        docs = gen.STREAM_FILES * gen.STREAM_DOCS_PER_FILE * len(self.walls)
        return {
            "docs_per_s": docs / sum(self.walls),
            "batch_p50_s": median([e["duration_ms"]["triggerExecution"] / 1e3 for e in data]),
            "batches": len(self.events),
            "add_batch_ms": part("addBatch"),
            "planning_ms": part("queryPlanning"),
            "commit_ms": part("walCommit", "commitOffsets"),
            "state_rows": max(e["state_rows"] for e in self.events),
            "state_mem_mb": max(e["state_bytes"] for e in self.events) / 2**20,
            "drain_tail_s": median(self.tails),
        }

    def close(self) -> None:
        self.progress.close()
