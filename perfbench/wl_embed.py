"""The embedding phase of ``corpus_batch``: the three grouped cosine
kernels (k-NN join, exact blocked all-pairs, semantic dedup) over fresh
clustered vectors per iteration, checked against NumPy brute force."""

from __future__ import annotations

import json
import os
import time

import numpy as np

import gen

K = 10
N_BLOCKS = 4
THRESHOLD = 0.95
TOL = 1e-5
MIN_RECALL = 0.9


def _load(path: str):
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    ids = t["vec_id"].to_numpy()
    vecs = np.asarray(t["embedding"].combine_chunks().flatten(), dtype=np.float64)
    vecs = vecs.reshape(len(ids), gen.EMBED_DIM)
    return ids, vecs / np.linalg.norm(vecs, axis=1, keepdims=True)


class EmbedPhase:
    """The embedding phase of ``corpus_batch``."""

    def __init__(self, vs):
        self.vs = vs
        self.walls = []
        self.last = None

    def run(self, tracer, src: str) -> dict:
        from vinum_spark.operators import blocked_pair_cosine, knn_join, semantic_dedup

        t0 = time.perf_counter()
        with tracer.span("io.read_parquet"):
            corpus = self.vs.read_parquet(os.path.join(src, "corpus.parquet")).df
        with tracer.span("io.read_parquet"):
            queries = self.vs.read_parquet(os.path.join(src, "queries.parquet")).df
        with tracer.span("similarity.knn_join.build"):
            knn = knn_join(queries, corpus, k=K, n_blocks=N_BLOCKS)
        with tracer.span("similarity.knn_join.exec"):
            knn_rows = knn.collect()
        with tracer.span("similarity.blocked_pair_cosine.build"):
            pairs = blocked_pair_cosine(corpus, THRESHOLD, n_blocks=N_BLOCKS)
        with tracer.span("similarity.blocked_pair_cosine.exec"):
            pair_rows = pairs.collect()
        with tracer.span("similarity.semantic_dedup.build"):
            sem = semantic_dedup(corpus, gen.EMBED_DIM, threshold=THRESHOLD)
        with tracer.span("similarity.semantic_dedup.exec"):
            sem_rows = sem.collect()
        self.walls.append(time.perf_counter() - t0)
        self.last = (corpus, src, knn_rows, pair_rows, sem_rows)
        return {"vectors": gen.EMBED_CORPUS}

    def check(self) -> list:
        _, src, knn_rows, pair_rows, sem_rows = self.last
        return check_iteration(src, knn_rows, pair_rows, sem_rows)

    def layer_metrics(self, tracer) -> dict:
        """Traced-only: verified pairs per LSH candidate pair on the last
        vectors, and the phase's own throughput."""
        from vinum_spark.operators import lsh_blocked_cosine_pairs, lsh_candidate_pairs

        corpus = self.last[0]
        with tracer.span("similarity.lsh_candidate_pairs"):
            n_cand = lsh_candidate_pairs(corpus, gen.EMBED_DIM).count()
            n_ver = lsh_blocked_cosine_pairs(corpus, gen.EMBED_DIM, THRESHOLD).count()
        return {
            "similarity.lsh.verified_per_candidate": n_ver / n_cand if n_cand else 0.0,
            "similarity.vectors_per_s": gen.EMBED_CORPUS * len(self.walls) / sum(self.walls),
        }


def check_iteration(src, knn_rows, pair_rows, sem_rows) -> list:
    failures = []
    ids, v = _load(os.path.join(src, "corpus.parquet"))
    qids, q = _load(os.path.join(src, "queries.parquet"))
    pos = {int(i): n for n, i in enumerate(ids)}
    # k-NN: per query, the same cosines in rank order, and every returned
    # id at least as close as the reference k-th neighbour
    sims = q @ v.T
    got = {}
    for r in knn_rows:
        got.setdefault(int(r["query_id"]), []).append((int(r["rank"]), int(r["vec_id"])))
    bad = 0
    for qi, qid in enumerate(qids):
        row = sorted(got.get(int(qid), []))
        ref = np.sort(sims[qi])[::-1][:K]
        mine = np.array([sims[qi, pos[i]] for _, i in row])
        if len(row) != K or not np.allclose(mine, ref, atol=TOL):
            bad += 1
    if bad:
        failures.append(f"knn_join: {bad}/{len(qids)} queries differ from brute force")
    # all pairs at or above the threshold, blockwise to bound memory:
    # every pair clearly above must be found, none clearly below may be
    strict, loose = set(), set()
    near = np.zeros(len(ids), dtype=bool)
    for s in range(0, len(ids), 1000):
        g = v[s:s + 1000] @ v.T
        for i, j in zip(*np.nonzero(g >= THRESHOLD - TOL)):
            i += s
            if i == j:
                continue
            near[i] = True
            pair = (int(min(ids[i], ids[j])), int(max(ids[i], ids[j])))
            loose.add(pair)
            if g[i - s, j] >= THRESHOLD + TOL:
                strict.add(pair)
    have = {(int(r["id_a"]), int(r["id_b"])) for r in pair_rows}
    missing, extra = strict - have, have - loose
    if missing or extra:
        failures.append(f"blocked_pair_cosine: {len(missing)} pairs missing, "
                        f"{len(extra)} extra against brute force")
    # semantic dedup: every dropped vector has a near neighbour, and the
    # planted twins are found
    kept = {int(r["vec_id"]): bool(r["kept"]) for r in sem_rows}
    if len(kept) != len(ids):
        failures.append(f"semantic_dedup returned {len(kept)} rows for {len(ids)} vectors")
    wrong = [i for i, k in kept.items() if not k and not near[pos[i]]]
    if wrong:
        failures.append(f"semantic_dedup dropped {len(wrong)} vectors with no neighbour")
    with open(os.path.join(src, "twins.json")) as f:
        twins = json.load(f)
    found = sum(1 for a, b in twins if kept.get(a, True) != kept.get(b, True))
    if found / len(twins) < MIN_RECALL:
        failures.append(f"semantic_dedup twin recall {found}/{len(twins)} below {MIN_RECALL}")
    return failures
