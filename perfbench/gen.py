"""Seeded input generation for the benchmark workloads.

Every input is a pure function of ``(seed, workload, iteration)``: the
same seed writes byte-identical files.  Files are cached under
``perfbench/.work/inputs/seed-<n>/`` and written atomically (a temporary
directory renamed into place), so a cached input is always complete.
The program under test only ever receives these files.

Generation is never timed by the benchmark: callers generate before the
session is set up and between timed iterations.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORK = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work")

# -- sizes (shared by the workloads and their checks) ----------------------

FACT_ROWS = 600_000          # ~75 MB parquet: above the 64 MB broadcast threshold
FACT_FILES = 8
NOTE_CHARS = 112
DIM_ROWS = 200               # the join dimension: a few KB, always broadcast
ARROW_ROWS = 20_000          # driver-resident Table.from_arrow table

VOCAB = 3000                 # Zipf word vocabulary of the text corpora
CORPUS_DOCS = 700           # base documents per corpus_batch iteration
EVAL_DOCS = 40               # decontamination eval set
BPE_MERGES = 64
BOILERPLATE_WORDS = 12

EMBED_DIM = 64
EMBED_CORPUS = 3000
EMBED_QUERIES = 128
EMBED_CENTERS = 40

STREAM_FILES = 3
STREAM_DOCS_PER_FILE = 300

CITIES = ["Berlin", "Munich", "Riva", "Naples", "San Francisco", "Oslo",
          "Lyon", "Porto", "Krakow", "Gent", "Turin", "Malmo"]
REGIONS = ["north", "south", "east", "west", "central"]
SOURCES = ["web", "books", "code"]

_SALT = {"sql": 1, "corpus": 2, "embed": 3, "stream": 4, "text": 5}


def rng_for(seed: int, kind: str, iteration: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, _SALT[kind], iteration])


def seed_dir(seed: int) -> str:
    return os.path.join(WORK, "inputs", f"seed-{seed}")


def _cached(path: str, build) -> str:
    """Return ``path``, building it first with ``build(tmp_path)`` unless a
    complete copy is cached.  The rename makes a partial write invisible."""
    if os.path.exists(path):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, path)
    return path


def _random_strings(rng, n: int, width: int) -> pa.Array:
    chars = rng.integers(ord("a"), ord("z") + 1, n * width, dtype=np.uint8)
    offsets = np.arange(0, n * width + 1, width, dtype=np.int32)
    return pa.StringArray.from_buffers(n, pa.py_buffer(offsets), pa.py_buffer(chars))


def _write(table: pa.Table, path: str, row_group_size: int | None = None) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=row_group_size)


# -- sql_interactive ---------------------------------------------------------


def sql_inputs(seed: int) -> str:
    """``fact/`` (FACT_FILES parquet parts), ``dim.parquet`` and
    ``trips.parquet`` (the table the workload loads through
    ``Table.from_arrow``)."""

    def build(d: str) -> None:
        rng = rng_for(seed, "sql")
        n = FACT_ROWS
        total = np.round(rng.gamma(2.0, 15.0, n), 2)
        total_mask = rng.random(n) < 0.10           # NULL
        total[rng.random(n) < 0.05] = np.nan        # NaN, distinct from NULL
        city_idx = rng.integers(0, len(CITIES), n)
        city = pa.DictionaryArray.from_arrays(
            pa.array(city_idx, pa.int32(), mask=rng.random(n) < 0.08),
            pa.array(CITIES),
        ).cast(pa.string())
        fact = pa.table({
            "id": np.arange(n, dtype=np.int64),
            "ts": 1_590_000_000 + rng.integers(0, 40_000_000, n),
            # Zipf-skewed and uniform group keys
            "vendor_z": np.minimum(rng.zipf(1.3, n), 1000).astype(np.int64),
            "vendor_u": rng.integers(1, DIM_ROWS + 1, n).astype(np.int64),
            "city_from": city,
            "lat": np.round(rng.uniform(35.0, 60.0, n), 4),
            "lng": np.round(rng.uniform(-10.0, 30.0, n), 4),
            "tip": np.round(rng.exponential(3.0, n), 2),
            "total": pa.array(total, mask=total_mask),
            "is_vendor": pa.array(rng.random(n) < 0.5, mask=rng.random(n) < 0.3),
            # a wide free-text column no query reads: it makes the table
            # large on disk while column pruning keeps the scans narrow
            "note": _random_strings(rng, n, NOTE_CHARS),
        })
        os.makedirs(os.path.join(d, "fact"))
        step = -(-n // FACT_FILES)
        for i in range(FACT_FILES):
            _write(fact.slice(i * step, step),
                   os.path.join(d, "fact", f"part-{i:02d}.parquet"))
        dim = pa.table({
            "vendor_id": np.arange(1, DIM_ROWS + 1, dtype=np.int64),
            "region": [REGIONS[i % len(REGIONS)] for i in rng.permutation(DIM_ROWS)],
            "rate": np.round(rng.uniform(0.5, 2.0, DIM_ROWS), 3),
        })
        _write(dim, os.path.join(d, "dim.parquet"))
        m = ARROW_ROWS
        t_total = np.round(rng.gamma(2.0, 15.0, m), 2)
        t_total[rng.random(m) < 0.05] = np.nan
        trips = pa.table({
            "id": np.arange(m, dtype=np.int64),
            "timestamp": pa.array(1_596_000_000 + rng.integers(0, 9_000_000, m),
                                  mask=rng.random(m) < 0.25),
            "city_from": pa.array([CITIES[i] for i in rng.integers(0, 4, m)],
                                  mask=rng.random(m) < 0.25),
            "name": pa.array([f"Jo{'nseph'[: 1 + i]}" for i in rng.integers(0, 5, m)],
                             mask=rng.random(m) < 0.25),
            "lat": np.round(rng.uniform(35.0, 60.0, m), 4),
            "total": pa.array(t_total, mask=rng.random(m) < 0.25),
        })
        _write(trips, os.path.join(d, "trips.parquet"))

    return _cached(os.path.join(seed_dir(seed), "sql"), build)


# -- text shared by the batch and streaming phases of corpus_batch -------------


def _vocabulary(seed: int):
    """Synthetic lowercase words and their Zipf probabilities."""
    rng = rng_for(seed, "text")
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words, seen = [], set()
    while len(words) < VOCAB:
        w = "".join(rng.choice(letters, int(rng.integers(3, 10))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    p = 1.0 / (np.arange(VOCAB) + 2.7) ** 1.1
    return words, p / p.sum()


def _sentence(rng, words, p, n: int) -> list:
    return [words[i] for i in rng.choice(len(words), n, p=p)]


def _lines(tokens: list, width: int = 12) -> str:
    return "\n".join(" ".join(tokens[i:i + width]) for i in range(0, len(tokens), width))


def learn_merges(seed: int, n_merges: int = BPE_MERGES) -> list:
    """Byte-level BPE merges ``(rank, lhs, rhs, count)`` learned from the
    vocabulary's expected frequencies: count DESC then lexical, skipping a
    pair whose product already is a symbol (two ranks with one product
    would give one token two ids).  The table is an input of the corpus
    workloads, as a released tokenizer is."""
    words, p = _vocabulary(seed)
    vocab = {tuple(chr(0x100 + b) for b in w.encode()): int(q * 1e6) + 1
             for w, q in zip(words, p)}
    symbols = {s for w in vocab for s in w}
    merges = []
    while len(merges) < n_merges:
        pairs = Counter()
        for w, f in vocab.items():
            for a, b in zip(w, w[1:]):
                pairs[(a, b)] += f
        ranked = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        pick = next(((ab, c) for ab, c in ranked if ab[0] + ab[1] not in symbols), None)
        if pick is None:
            break
        (a, b), c = pick
        merges.append((len(merges) + 1, a, b, c))
        symbols.add(a + b)
        vocab = {_merge_word(w, a, b): f for w, f in vocab.items()}
    return merges


def _merge_word(w: tuple, a: str, b: str) -> tuple:
    out, i = [], 0
    while i < len(w):
        if i + 1 < len(w) and w[i] == a and w[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(w[i])
            i += 1
    return tuple(out)


def _merges_table(merges: list) -> pa.Table:
    return pa.table({
        "merge_rank": pa.array([m[0] for m in merges], pa.int32()),
        "lhs": [m[1] for m in merges],
        "rhs": [m[2] for m in merges],
        "pair_count": pa.array([m[3] for m in merges], pa.int64()),
    })


def merges_path(seed: int) -> str:
    def build(d: str) -> None:
        _write(_merges_table(learn_merges(seed)), os.path.join(d, "merges.parquet"))

    return os.path.join(_cached(os.path.join(seed_dir(seed), "bpe"), build),
                        "merges.parquet")


def _quality_junk(rng, words, p) -> str:
    if rng.random() < 0.5:
        return "#### # ## #\n" + " ".join(["##"] * int(rng.integers(5, 15)))
    line = " ".join(_sentence(rng, words, p, 8))
    return "\n".join([line] * int(rng.integers(3, 8)))


# -- corpus_batch ------------------------------------------------------------


def corpus_inputs(seed: int, iteration: int) -> str:
    """One corpus directory: ``docs.parquet`` (doc_id, text, source),
    ``eval.parquet`` (doc_id, text) and ``manifest.json`` with the
    planted near-duplicate pairs and boilerplate spans."""

    def build(d: str) -> None:
        rng = rng_for(seed, "corpus", iteration)
        words, p = _vocabulary(seed)
        evals = [" ".join(_sentence(rng, words, p, 30)) for _ in range(EVAL_DOCS)]
        boiler = [" ".join(_sentence(rng, words, p, BOILERPLATE_WORDS))
                  for _ in range(3)]
        n = CORPUS_DOCS
        lengths = np.clip(rng.lognormal(4.3, 0.5, n), 20, 400).astype(int)
        kind = rng.choice(["clean", "boiler", "contam", "junk"], n,
                          p=[0.80, 0.12, 0.03, 0.05])
        contam_eval = iter(rng.permutation(EVAL_DOCS))
        texts, meta = [], []
        for i in range(n):
            toks = _sentence(rng, words, p, int(lengths[i]))
            k = kind[i]
            if k == "contam":
                e = next(contam_eval, None)
                if e is None:
                    k = "clean"
                else:
                    ev = evals[e].split()
                    at = int(rng.integers(0, len(ev) - 10))
                    pos = int(rng.integers(0, len(toks)))
                    toks = toks[:pos] + ev[at:at + 10] + toks[pos:]
            if k == "boiler":
                # the unique marker token keeps every n-gram that
                # crosses into the boilerplate unique to its document
                text = _lines(toks) + f"\nref{i} " + boiler[int(rng.integers(0, 3))]
            elif k == "junk":
                text = _quality_junk(rng, words, p)
            else:
                text = _lines(toks)
            texts.append(text)
            meta.append(k)
        # planted exact duplicates and salted near-duplicate copies, drawn
        # from disjoint sets of long clean documents
        clean = [i for i in range(n) if meta[i] == "clean" and lengths[i] >= 60]
        picks = rng.permutation(clean)
        n_exact = n_near = n // 20
        exact_src = picks[:n_exact]
        near_src = picks[n_exact:n_exact + n_near]
        rows = list(texts)
        copies = []
        for s in exact_src:
            rows.append(texts[s])
        for s in near_src:
            toks = texts[s].split()
            for _ in range(max(1, len(toks) // 60)):
                j = int(rng.integers(0, len(toks)))
                toks[j] = words[int(rng.integers(0, VOCAB))]
            copies.append((int(s), len(rows)))
            rows.append(_lines(toks))
        # ids are a seeded permutation, so a copy may precede its original
        ids = rng.permutation(len(rows)).astype(np.int64) + 1
        sources = rng.choice(SOURCES, len(rows), p=[0.6, 0.3, 0.1])
        _write(pa.table({"doc_id": ids, "text": rows, "source": sources}),
               os.path.join(d, "docs.parquet"))
        _write(pa.table({"doc_id": np.arange(1, EVAL_DOCS + 1, dtype=np.int64),
                         "text": evals}),
               os.path.join(d, "eval.parquet"))
        manifest = {
            "near_pairs": [[int(ids[a]), int(ids[b])] for a, b in copies],
            "boilerplate": boiler,
            "n_docs": len(rows),
        }
        with open(os.path.join(d, "manifest.json"), "w") as f:
            json.dump(manifest, f)

    return _cached(os.path.join(seed_dir(seed), f"corpus-{iteration}"), build)


# -- the embedding phase of corpus_batch ------------------------------------


def embed_inputs(seed: int, iteration: int) -> str:
    """``corpus.parquet`` (vec_id, embedding) of clustered unit vectors
    with planted near-duplicate twins, ``queries.parquet`` likewise, and
    ``twins.json`` listing the planted pairs."""

    def build(d: str) -> None:
        rng = rng_for(seed, "embed", iteration)
        centers = rng.normal(size=(EMBED_CENTERS, EMBED_DIM))
        n_twin = EMBED_CORPUS // 20
        base = EMBED_CORPUS - n_twin
        assign = rng.integers(0, EMBED_CENTERS, base)
        vecs = centers[assign] + rng.normal(scale=0.6, size=(base, EMBED_DIM))
        src = rng.choice(base, n_twin, replace=False)
        twins = vecs[src] + rng.normal(scale=0.01, size=(n_twin, EMBED_DIM))
        allv = np.vstack([vecs, twins]).astype(np.float32)
        ids = rng.permutation(EMBED_CORPUS).astype(np.int64) + 1
        q = (centers[rng.integers(0, EMBED_CENTERS, EMBED_QUERIES)]
             + rng.normal(scale=0.6, size=(EMBED_QUERIES, EMBED_DIM))).astype(np.float32)

        def frame(idv, m):
            flat = pa.array(m.reshape(-1))
            emb = pa.ListArray.from_arrays(
                pa.array(np.arange(0, m.size + 1, EMBED_DIM, dtype=np.int32)), flat)
            return pa.table({"vec_id": idv, "embedding": emb})

        _write(frame(ids, allv), os.path.join(d, "corpus.parquet"))
        _write(frame(np.arange(1, EMBED_QUERIES + 1, dtype=np.int64), q),
               os.path.join(d, "queries.parquet"))
        with open(os.path.join(d, "twins.json"), "w") as f:
            json.dump([[int(ids[s]), int(ids[base + k])] for k, s in enumerate(src)], f)

    return _cached(os.path.join(seed_dir(seed), f"embed-{iteration}"), build)


# -- the streaming phase of corpus_batch -------------------------------------


def stream_inputs(seed: int, iteration: int) -> str:
    """``src/part-XX.parquet`` (doc_id, text, ts): STREAM_FILES files in
    event-time order; a tenth of each file's documents repeat a document of
    the previous two files, inside the watermark, and a twentieth fail the
    quality rules."""

    def build(d: str) -> None:
        rng = rng_for(seed, "stream", iteration)
        words, p = _vocabulary(seed)
        os.makedirs(os.path.join(d, "src"))
        t0, doc_id, history = 1_700_000_000, 1, []
        for f in range(STREAM_FILES):
            rows = []
            for _ in range(STREAM_DOCS_PER_FILE):
                r = rng.random()
                if r < 0.10 and history:
                    text = history[int(rng.integers(0, len(history)))]
                elif r < 0.15:
                    text = _quality_junk(rng, words, p)
                else:
                    n = int(np.clip(rng.lognormal(4.0, 0.5), 10, 300))
                    text = _lines(_sentence(rng, words, p, n))
                rows.append(text)
            ts = t0 + f * 300 + np.sort(rng.integers(0, 300, len(rows)))
            ids = np.arange(doc_id, doc_id + len(rows), dtype=np.int64)
            doc_id += len(rows)
            _write(pa.table({"doc_id": ids, "text": rows,
                             "ts": pa.array(ts * 1_000_000, pa.timestamp("us", "UTC"))}),
                   os.path.join(d, "src", f"part-{f:02d}.parquet"))
            history = (history + rows)[-2 * STREAM_DOCS_PER_FILE:]

    return _cached(os.path.join(seed_dir(seed), f"stream-{iteration}"), build)
