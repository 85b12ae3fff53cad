"""Similarity search over an embedding column (``array<float>``).

Baseline: brute-force cosine top-k — one codegen'd projection
(``zip_with`` + ``aggregate``) followed by Catalyst's fused
TakeOrderedAndProject (no full sort, no shuffle of the data itself;
per-partition top-k then driver merge of k*partitions rows).

Scale path: random-hyperplane LSH — a bucket signature computed
map-side; candidates = rows whose signature is within a Hamming radius
of the query's, verified by exact cosine. At 100 TB the signature can be
precomputed and bucketed/partitioned on disk so a query touches only
matching partitions.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _lit_array(vals: Sequence[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in vals])


#: Above this dimension the flat literal-indexed expansion stops being
#: codegen-friendly: whole-stage codegen splits/bails on the oversized
#: expression and the interpreted fallback pays ~2×dim GetArrayItem
#: bound/null checks per row. Measured on 3.2M pairs (64-dim, sf0.1):
#: expansion 0.63 s at dim 16 but 4.5 s at 32 and 8.1 s at 64, while
#: the HOF aggregate/zip_with form is flat at ~2.2 s (and a pandas-UDF
#: einsum 4.7 s — Arrow transfer dominates). Crossover sits between 16
#: and 32.
_DOT_EXPAND_MAX_DIM = 16


def _dot(a: Column, b: Column, dim: Optional[int] = None) -> Column:
    """Dot product of two array columns.

    For small known ``dim`` (≤ ``_DOT_EXPAND_MAX_DIM``), expand to a
    flat literal-indexed sum that whole-stage codegen fuses. For larger
    or unknown dims use the ``aggregate``/``zip_with`` higher-order
    form: past the codegen expression-size limit the expansion falls
    back to interpreted per-item array accesses and becomes ~4× SLOWER
    than the HOF loop (see ``_DOT_EXPAND_MAX_DIM`` for numbers). Both
    forms fold terms in index order, so results are bit-identical.
    """
    if dim is not None and dim <= _DOT_EXPAND_MAX_DIM:
        terms = [
            a[i].cast("double") * b[i].cast("double") for i in range(dim)
        ]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column, dim: Optional[int] = None) -> Column:
    return F.sqrt(_dot(a, a, dim))


def with_cosine_similarity(
    df: DataFrame,
    query_vec: Sequence[float],
    vec_col: str = "embedding",
    out: str = "cosine",
) -> DataFrame:
    """Add cosine similarity to a fixed query vector (codegen'd, no UDF)."""
    v = F.col(vec_col)
    q = _lit_array(query_vec)
    qnorm = float(np.linalg.norm(np.asarray(query_vec, dtype="float64")))
    cos = _dot(v, q) / (_norm(v) * F.lit(qnorm))
    return df.withColumn(out, cos)


def cosine_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k: the exact baseline every ANN variant is
    measured against. ``orderBy().limit(k)`` fuses to
    TakeOrderedAndProject — scales as a single map + small driver merge.

    Ties at the k boundary are broken by ``id_col`` so results are
    deterministic across partitionings.
    """
    scored = with_cosine_similarity(df, query_vec, vec_col)
    return (
        scored.select(id_col, F.round("cosine", 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    return np.random.RandomState(seed).standard_normal((n_planes, dim))


def lsh_signature(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    vec_col: str = "embedding",
    out: str = "lsh_sig",
    seed: int = 42,
) -> DataFrame:
    """Random-hyperplane signature: bit p = sign(v · plane_p), packed
    into one long. At scale, write once and bucket by it.

    Computed as ONE dense matmul against the (dim × n_planes) plane
    matrix in an Arrow-batched pandas UDF — n_planes dots per vector is
    BLAS territory, not expression territory: the equivalent built-in
    expression chain (n_planes interpreted HOF dots + a 32-way
    conditional sum per row) measured 3.8 s vs 0.26 s for this matmul
    on 4 000 × 64-dim vectors, and the gap widens with corpus size
    since both are map-side. Signatures are bit-identical to the
    expression form on real data; a sign could differ only for a
    vector lying within float-rounding distance of a hyperplane
    (|v·p| ~ 1e-16), where either bit is an equally valid LSH choice —
    banding redundancy makes candidate recall insensitive to it (the
    q32/q56 oracle gates pin this empirically).
    """
    if not 1 <= n_planes <= 63:
        raise ValueError(f"n_planes must be in [1, 63], got {n_planes}")
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    planes_t = np.asarray(
        _hyperplanes(dim, n_planes, seed), dtype="float64"
    ).T  # dim x n_planes
    weights = (np.int64(1) << np.arange(n_planes, dtype="int64"))

    # no parameter annotations: `from __future__ import annotations`
    # stringifies them and pandas_udf rejects the string form
    @pandas_udf("long")
    def _sig(v):
        vals = v.to_numpy()
        ok = np.fromiter(
            (x is not None and len(x) == planes_t.shape[0] for x in vals),
            dtype=bool,
            count=len(vals),
        )
        sigs = np.zeros(len(vals), dtype="int64")
        if ok.any():
            mat = np.stack(
                [np.asarray(x, dtype="float64") for x in vals[ok]]
            )
            bits = (mat @ planes_t) > 0
            sigs[ok] = (bits * weights).sum(axis=1)
        # NULL / wrong-length vectors get a NULL signature, so they drop
        # out of band-bucket joins instead of crashing the batch (the
        # old expression form silently hashed them to signature 0,
        # which clustered every bad row into one hot bucket)
        return pd.Series(
            [int(s) if k else None for s, k in zip(sigs, ok)], dtype="object"
        )

    return df.withColumn(out, _sig(vec_col))


def ivf_index(
    df: DataFrame,
    dim: int,
    n_cells: int = 16,
    vec_col: str = "embedding",
    out: str = "ivf_cell",
    seed: int = 42,
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest of
    ``n_cells`` fixed random centroids (deterministic seed).

    The assignment is one Arrow-batched matmul against the (dim ×
    n_cells) centroid matrix + a row-wise argmax — the same
    BLAS-over-expressions tradeoff as :func:`lsh_signature` (n_cells
    interpreted HOF dots per row measured ~8× slower than the matmul;
    first-index tie-breaking matches the previous
    ``array_position(min(dists))`` form). At scale, write once
    partitioned/bucketed by ``ivf_cell`` so a query scans only
    ``nprobe`` cells' files (partition pruning), the classic IVF
    layout. Real pipelines train centroids with k-means; fixed random
    centroids keep this deterministic and dependency-free, and the
    query path is identical.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    centroids = _hyperplanes(dim, n_cells, seed)
    centroids = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    cent_t = centroids.T.astype("float64")  # dim x n_cells

    # no parameter annotations: `from __future__ import annotations`
    # stringifies them and pandas_udf rejects the string form
    @pandas_udf("int")
    def _cell(v):
        vals = v.to_numpy()
        ok = np.fromiter(
            (x is not None and len(x) == cent_t.shape[0] for x in vals),
            dtype=bool,
            count=len(vals),
        )
        cells = np.zeros(len(vals), dtype="int32")
        if ok.any():
            mat = np.stack(
                [np.asarray(x, dtype="float64") for x in vals[ok]]
            )
            cells[ok] = np.argmax(mat @ cent_t, axis=1)
        # NULL / wrong-length vectors -> NULL cell (excluded from every
        # probe) rather than a crashed batch
        return pd.Series(
            [int(c) if k else None for c, k in zip(cells, ok)], dtype="object"
        )

    return df.withColumn(out, _cell(vec_col))


def _probe_cells(q: np.ndarray, n_cells: int, nprobe: int, seed: int) -> list:
    """The ``nprobe`` IVF cells whose centroids are nearest ``q`` —
    shared by :func:`ivf_topk` and :func:`ivfpq_topk` so query-time
    probes can never diverge from :func:`ivf_index`'s assignment."""
    centroids = _hyperplanes(len(q), n_cells, seed)
    centroids = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    order = np.argsort(-(centroids @ q))
    return [int(c) for c in order[:nprobe]]


def ivf_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate NN via IVF: score only vectors in the ``nprobe`` cells
    whose centroids are nearest the query, then exact cosine top-k."""
    q = np.asarray(query_vec, dtype="float64")
    probe_cells = _probe_cells(q, n_cells, nprobe, seed)
    indexed = ivf_index(df, len(q), n_cells, vec_col, seed=seed)
    candidates = indexed.filter(F.col("ivf_cell").isin(probe_cells))
    return cosine_topk(candidates, query_vec, k, vec_col, id_col)


def _infer_dim(df: DataFrame, vec_col: str) -> Optional[int]:
    """Vector length from one row (single-row driver fetch, same class as
    a query-vector lookup). None on an empty frame — callers fall back to
    the HOF dot, which handles any length including zero rows.

    CONTRACT: the embedding column must be fixed-dimension (true of any
    real embedding corpus, and of the testdata schema). With ragged
    input, the unrolled ``a[i]`` dot would read past a shorter vector —
    NULL cosine with ANSI off (the pair silently filtered), an
    INVALID_ARRAY_INDEX error with ANSI on. Pass ``dim`` explicitly (or
    pre-validate ``F.size``) if the input's uniformity is not known."""
    head = df.select(vec_col).head(1)
    return len(head[0][0]) if head and head[0][0] is not None else None


def blocked_pair_cosine(
    df: DataFrame,
    threshold: float,
    n_blocks: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """EXACT all-pairs cosine similarity ≥ ``threshold`` via a block-grid
    self-join — the distributed plan for exact pair enumeration.

    Each vector is hashed to one of ``n_blocks`` blocks; every unordered
    block pair (p ≤ q) becomes one join bucket, side A holding block p's
    rows and side B block q's. The join is an EQUI-join on the
    (block_a, block_b) key: no broadcast of the full table, no
    BroadcastNestedLoopJoin, no cartesian product. Work per task is
    (n/n_blocks)² pair evaluations — even by construction (blocks are
    hash-assigned), so 1000 executors each get ~pairs/tasks work.
    Replication cost: each row is shuffled ~n_blocks times; pick
    n_blocks ≈ sqrt(desired tasks).

    Exact all-pairs is inherently O(n²) COMPUTE — that is the query's
    semantics. This operator makes the compute distribute evenly and the
    memory bounded (a task materializes two blocks, not the table). When
    the threshold is high enough for hyperplane LSH to prune (cos ≳ 0.7,
    i.e. angle ≲ 45°), prefer :func:`lsh_candidate_pairs` +
    :func:`cosine_verify`, which replaces the grid with bucket-local
    pairs. At weak thresholds (e.g. 0.22 ≈ 77° — near-orthogonal) no LSH
    family can prune without losing recall, and this blocked exact plan
    is the right one.

    Each bucket runs :func:`_gram_kernel`: one BLAS ``A @ B.T`` per
    block pair replaces millions of per-pair expression evaluations,
    and only pairs ≥ threshold ever materialize as rows (measured ~10×
    faster than enumerating the pairs as a JVM join at sf0.1; the join
    shape also shuffles every PAIR, this shape shuffles every ROW
    ×n_blocks). This is the documented carve-out where built-in
    expressions genuinely can't express the computation efficiently.

    Vector contract (README "Embedding vector contract"): a NULL,
    ragged or element-NULL vector fails the batch with ``ValueError``;
    a zero-norm vector matches nothing.
    """
    v = F.col(vec_col)
    base = df.select(
        F.col(id_col).cast("long").alias("__id"),
        v.cast("array<double>").alias("__v"),
    ).withColumn(
        "__blk", F.pmod(F.xxhash64(F.col("__id")), F.lit(n_blocks)).cast("int")
    )
    # A row in block b joins bucket (pa=b, pb=q) as side A for q ≥ b and
    # bucket (pa=p, pb=b) as side B for p < b: every unordered block pair
    # meets in exactly one bucket, the diagonal bucket holds each row once.
    a_copies = base.select(
        "__id",
        "__v",
        F.col("__blk").alias("__pa"),
        F.explode(F.sequence(F.col("__blk"), F.lit(n_blocks - 1))).alias("__pb"),
        F.lit("a").alias("__side"),
    )
    b_copies = base.filter(F.col("__blk") > 0).select(
        "__id",
        "__v",
        F.explode(F.sequence(F.lit(0), F.col("__blk") - 1)).alias("__pa"),
        F.col("__blk").alias("__pb"),
        F.lit("b").alias("__side"),
    )
    replicated = a_copies.unionByName(b_copies)
    schema = "id_a long, id_b long, cosine double"
    kernel = _gram_kernel(
        "pairs", schema, threshold=threshold, who="blocked_pair_cosine",
        invalid="raise",
    )
    return replicated.groupBy("__pa", "__pb").applyInArrow(kernel, schema)


#: Row-block height of the Gram product: a block's scores hold
#: ``_GRAM_BLOCK × |B|`` doubles, however large the group.
_GRAM_BLOCK = 4096


def _gram_kernel(
    emit: str,
    schema: str,
    invalid: str,
    who: str,
    threshold: float = 0.0,
    k: int = 0,
    dim: Optional[int] = None,
):
    """The one grouped cosine kernel (``applyInArrow``) behind
    :func:`blocked_pair_cosine`, :func:`lsh_blocked_cosine_pairs`,
    :func:`knn_join` and :func:`semantic_dedup`. A group holds ``__id``
    and ``__v`` (list of float); ``__side`` "a"/"b" splits it into
    sides A and B, unless it has no ``__side`` or ``__pa == __pb``
    (diagonal: A = B = every row). In order, the kernel

    1. validates the vectors and 2. normalises each row once
       (:func:`_unit_rows`; ``invalid`` is the caller's "raise" or
       "drop" for bad rows, ``who`` names it in errors);
    3. multiplies ``A @ B.T`` in row blocks of ``_GRAM_BLOCK``;
    4. emits ``"pairs"`` — cosine ≥ ``threshold`` as ``(min id, max id,
       cosine)``, only the upper triangle of a diagonal group, zero-norm
       rows never matching — or ``"topk"`` — each A row's ``k`` best B
       rows as ``(A id, B id, cosine)`` in :func:`cosine_topk`'s order,
       zero-norm rows scoring 0 — into the columns ``schema`` names (a
       two-column schema drops the cosine)."""
    thr, want_dim = float(threshold), int(dim) if dim else None
    out = [field.split()[0] for field in schema.split(",")]

    def _kernel(tbl):
        import pyarrow as pa
        import pyarrow.compute as pc

        cols = ([], [], [])
        if tbl.num_rows:
            valid, unit, nz = _unit_rows(tbl.column("__v"), want_dim, invalid, who)
            ids = tbl.column("__id").to_numpy()[valid]
            names = tbl.column_names
            diagonal = "__side" not in names or (
                "__pa" in names
                and tbl.column("__pa")[0].as_py() == tbl.column("__pb")[0].as_py()
            )
            if diagonal:
                a = b = np.ones(len(ids), bool)
            else:
                a = pc.equal(tbl.column("__side"), "a").to_numpy()[valid]
                b = ~a
            ids_a, ua, nz_a = ids[a], unit[a], nz[a]
            ids_b, ub, nz_b = ids[b], unit[b], nz[b]
            if emit == "topk" and len(ids_b):
                # integer sort key over the 6dp-rounded cosine with id
                # tiebreak, so local pruning can never drop the
                # id-tiebroken winner. np.rint before the cast: a bare
                # astype truncates toward zero, and ~1% of x*1e6 products
                # land at k.999... in binary, which would collapse
                # adjacent 6dp keys that F.round (half-up) ranks apart.
                # The tiebreak is the ids' RANK within the group (< group
                # size), so arbitrary 64-bit ids can't bleed into the
                # cosine bits or overflow the key.
                id_rank = np.empty(len(ids_b), dtype="int64")
                id_rank[np.argsort(ids_b, kind="stable")] = np.arange(len(ids_b))
                kk = min(k, len(ids_b))
            for i0 in range(0, len(ids_a) if len(ids_b) else 0, _GRAM_BLOCK):
                g = ua[i0 : i0 + _GRAM_BLOCK] @ ub.T
                if emit == "topk":
                    key = (
                        np.rint(np.round(g, 6) * 1e6).astype("int64") * (1 << 40)
                        - id_rank[None, :]
                    )
                    idx = np.argpartition(-key, kk - 1, axis=1)[:, :kk]
                    hits = (
                        np.repeat(ids_a[i0 : i0 + _GRAM_BLOCK], kk),
                        ids_b[idx.ravel()],
                        np.take_along_axis(g, idx, axis=1).ravel(),
                    )
                else:
                    hit = (g >= thr) & nz_a[i0 : i0 + _GRAM_BLOCK, None] & nz_b
                    if diagonal:  # row r is row i0 + r: keep columns > i0 + r
                        hit = np.triu(hit, k=i0 + 1)
                    ii, jj = np.nonzero(hit)
                    hits = (
                        np.minimum(ids_a[i0 + ii], ids_b[jj]),
                        np.maximum(ids_a[i0 + ii], ids_b[jj]),
                        g[ii, jj],
                    )
                for c, h in zip(cols, hits):
                    c.append(h)
        arrays = [
            pa.array(np.concatenate(c) if c else np.empty(0, t), t)
            for c, t in zip(cols, ("int64", "int64", "float64"))
        ]
        return pa.table(dict(zip(out, arrays)))

    return _kernel


def _unit_rows(vcol, dim: Optional[int], invalid: str, who: str):
    """Validate + normalise an Arrow list column. A row is invalid if
    NULL, holding a NULL element, or not ``dim`` long (the modal
    non-NULL length if ``dim`` is None). Returns the validity mask, the
    valid rows divided by their norms as an (n, dim) float64 matrix
    (zero-norm rows stay zero), and their nonzero-norm mask."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(vcol, pa.ChunkedArray):
        vcol = vcol.combine_chunks()
    n = len(vcol)
    lens = pc.list_value_length(vcol).fill_null(-1).to_numpy()
    # flatten() honours the slice offset and skips NULL rows' slots, so
    # the non-NULL rows' values sit back to back in row order
    flat, sizes = vcol.flatten(), np.maximum(lens, 0)
    elem_null = np.zeros(n, bool)
    if flat.null_count:
        owner = np.repeat(np.arange(n), sizes)
        elem_null[owner[flat.is_null().to_numpy(zero_copy_only=False)]] = True
    if dim is None:
        present = lens[lens >= 0]
        dim = int(np.bincount(present).argmax()) if len(present) else 0
    valid = (lens == dim) & ~elem_null
    if invalid == "raise" and not valid.all():
        problems = {
            "NULL": (lens < 0).sum(),
            f"ragged (length != {dim})": ((lens >= 0) & (lens != dim)).sum(),
            "null element": elem_null.sum(),
        }
        raise ValueError(
            f"{who} requires non-null fixed-dimension vectors; a batch of "
            f"{n} rows holds "
            + ", ".join(f"{c} {p}" for p, c in problems.items() if c)
            + " row(s)"
        )
    vals = flat.to_numpy(zero_copy_only=False).astype("float64", copy=False)
    if valid.all():
        mat = vals.reshape(n, dim)
    else:
        starts = np.cumsum(sizes) - sizes
        mat = vals[starts[valid][:, None] + np.arange(dim)]
    norms = np.linalg.norm(mat, axis=1)
    nonzero = norms > 0
    unit = np.zeros_like(mat)
    np.divide(mat, norms[:, None], out=unit, where=nonzero[:, None])
    return valid, unit, nonzero


def _lsh_bucket_frame(
    df: DataFrame,
    dim: int,
    n_planes: int,
    band_bits: int,
    vec_col: str,
    id_col: str,
    seed: int,
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """The ``(id, band, key)`` band-bucket frame — the ONE construction
    site shared by :func:`lsh_candidate_pairs` and
    :func:`lsh_blocked_cosine_pairs`, so the two operators' candidate
    sets (same planes, same seed offsets, same band packing) cannot
    drift. ``extra_cols`` are carried through unchanged (the fused
    verify carries the vector)."""
    if band_bits > 63:
        raise ValueError(f"band_bits must be <= 63, got {band_bits}")
    # split planes into <=63-bit signature columns; bands stay inside
    # one column, so trailing bits that don't fill a band are unused
    # (same as the single-column form)
    groups = [63] * (n_planes // 63)
    if n_planes % 63:
        groups.append(n_planes % 63)
    mask = (1 << band_bits) - 1
    # signature + band explode are CPU-bound map work; a single-file
    # scan (or a union of two) serializes them on 1-2 cores. Same
    # spread-before-heavy-map pattern as dedup's shingle stage
    # (measured 29 s -> 14 s end-to-end for candidates+verify at sf0.1).
    from vinum_spark.operators.dedup import _spread

    df = _spread(df, id_col)
    signed = df
    for g, planes_g in enumerate(groups):
        signed = lsh_signature(
            signed, dim, planes_g, vec_col, out=f"__lsh_sig{g}",
            seed=seed + g * 7919,
        )
    band_structs = []
    for g, planes_g in enumerate(groups):
        for bnd in range(planes_g // band_bits):
            band_structs.append(
                F.struct(
                    F.lit(len(band_structs)).alias("band"),
                    F.shiftright(f"__lsh_sig{g}", bnd * band_bits)
                    .bitwiseAND(F.lit(mask))
                    .alias("key"),
                )
            )
    if not band_structs:
        raise ValueError(
            f"no full band fits: n_planes={n_planes} band_bits={band_bits}"
        )
    return signed.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.explode(F.array(*band_structs)).alias("bk"),
    ).select(id_col, *extra_cols, "bk.band", "bk.key")


def lsh_candidate_pairs(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    band_bits: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    checkpoint_buckets: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs from hyperplane-LSH band co-membership —
    the embedding analogue of ``minhash_candidate_pairs``.

    Bands of ``band_bits`` bits over the ``n_planes``-bit signature;
    candidates share ≥1 band (equi-join on (band, key), pair enumeration
    quadratic only within a bucket). For a pair at angle θ each bit
    agrees with probability 1−θ/π, so recall is high only for HIGH
    cosine thresholds (small angles) — use with
    :func:`cosine_verify` for near-dup detection (cos ≳ 0.7); for weak
    thresholds use :func:`blocked_pair_cosine` (see its docstring).

    ``n_planes`` may exceed one long's 63-bit capacity: the planes are
    split across ``ceil(n_planes/63)`` independent signature columns
    (seed offset per column) and bands never straddle columns. This is
    the corpus-size knob: bucket occupancy is ~corpus/2^band_bits PER
    BAND, so at fixed recall, growing the corpus 10x needs ~3.3 more
    band bits AND more bands to hold the per-band match probability —
    i.e. more total planes. A 200k-row measured example
    (tools/scale_embeddings.py): 63 planes / 9-bit bands put ~390
    random rows in every bucket (~270M candidate pairs — random
    collisions, not near-dups); 126 planes / 14-bit bands keep buckets
    ~12 rows at the same ~0.99 planted recall. ≤63 planes is
    bit-identical to the single-signature form.
    """
    bucket = _lsh_bucket_frame(
        df, dim, n_planes, band_bits, vec_col, id_col, seed
    )
    if checkpoint_buckets:
        # The self-join below usually plans as a broadcast join whose
        # build and stream sides are the SAME subtree, and a broadcast
        # has no exchange to reuse — the signature pipeline (n_planes
        # dot products per row) computes twice. A lazy localCheckpoint
        # of the (id, band, key) frame cuts that in half. Opt-in, not
        # default: worthwhile only when the signatures are the
        # expensive part (q56's 126 planes over a raw parquet scan:
        # measured ~0.4 s of 4.0 s at sf0.1); when the input is
        # already a checkpointed feature frame with few planes
        # (q83/q85: 32 planes over a persisted id+64-float RDD) the
        # persistence overhead measured LARGER than the saved
        # recompute (+5-9% end-to-end). NOT a shuffle-join hint:
        # ReuseExchange would also dedup the pipeline, but hashing on
        # (band, key) concentrates each bucket's quadratic pair
        # enumeration onto one task — with band_bits=4 (16 keys/band)
        # that serialized q83/q85's verify stage (measured
        # 6.2 s -> 15.3 s) — while the broadcast join streams
        # enumeration evenly over the upstream partitioning.
        bucket = bucket.localCheckpoint(eager=False)
    a, b = bucket.alias("a"), bucket.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def cosine_verify(
    df: DataFrame,
    pairs: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: Optional[int] = None,
) -> DataFrame:
    """Exact cosine for a GIVEN candidate pair set — two equi-joins on id
    plus one codegen'd dot product per candidate; linear in candidates,
    independent of corpus pair count. Returns (id_a, id_b, cosine) where
    cosine ≥ ``threshold``."""
    if dim is None:
        dim = _infer_dim(df, vec_col)
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).withColumn("__n", _norm(F.col("__v"), dim))
    a = base.select(
        F.col("__id").alias("id_a"),
        F.col("__v").alias("__v_a"),
        F.col("__n").alias("__n_a"),
    )
    b = base.select(
        F.col("__id").alias("id_b"),
        F.col("__v").alias("__v_b"),
        F.col("__n").alias("__n_b"),
    )
    joined = pairs.join(a, "id_a").join(b, "id_b")
    cos = _dot(F.col("__v_a"), F.col("__v_b"), dim) / (
        F.col("__n_a") * F.col("__n_b")
    )
    return (
        joined.withColumn("__cos", cos)
        .filter(F.col("__cos") >= threshold)
        .select("id_a", "id_b", F.col("__cos").alias("cosine"))
    )


def lsh_blocked_cosine_pairs(
    df: DataFrame,
    dim: int,
    threshold: float,
    n_planes: int = 16,
    band_bits: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    block_rows: int = 1024,
) -> DataFrame:
    """Fused ``lsh_candidate_pairs`` + ``cosine_verify``: the same
    LSH-bucket candidate set (the bucket frame comes from the SAME
    construction helper — same planes, seeds, band packing), but the
    quadratic within-bucket pair work never materializes as rows.
    Returns ``(id_a, id_b, cosine)`` with ``id_a < id_b`` and
    ``cosine ≥ threshold`` — the verified near-dup pairs.

    Why: the two-operator pipeline enumerates every
    bucket-co-membership as a JOIN ROW — at sf0.1 the q83 corpus makes
    8.5M random 4-bit-key collisions for ~1250 true pairs — then pays
    a ``distinct`` Exchange over all of them and two more joins to
    re-attach vectors for the exact verify. Here each
    ``(band, key)`` bucket is split into ``ceil(|bucket|/block_rows)``
    deterministic sub-blocks (``pmod(xxhash64(id), nb)`` — the
    :func:`blocked_pair_cosine` grid applied within buckets); every
    unordered block pair becomes one task-sized group, and ONE BLAS
    Gram kernel per group evaluates all its pairs, emitting only those
    ≥ ``threshold``. Only verified pairs ever exist as rows; the one
    wide Exchange is the groupBy on ``(band, key, block_a, block_b)``,
    so no single task owns a hot bucket — work per task is bounded by
    ``block_rows²`` pair evaluations regardless of bucket skew.

    A pair sharing several bands is evaluated once per band; the final
    per-pair ``max`` collapses the duplicates (BLAS accumulation order
    may differ across blocks, so the copies can differ in the last ulp
    — ``max`` is deterministic where ``distinct`` would not be).

    Exactness note: the verify decision is :func:`_gram_kernel`'s float
    contract, shared with :func:`blocked_pair_cosine` (float64 rows
    normalised once, then the BLAS Gram product).
    Versus ``cosine_verify``'s JVM fold it can differ at the last ulp,
    which matters only for pairs razor-thin at ``threshold`` or at a
    rounding boundary of a rounded declared output. Callers that only
    keep the pair set (q83/q85, twins at cos≈0.999 vs non-dups ≤0.73)
    adopt this path unconditionally; a caller whose DECLARED output
    includes the cosine value must gate the switch on measured
    equality — q56 (declares ``round(cosine, 4)``) uses it because its
    rounded output is EXACTLY equal to the expression path's at
    sf0.001/0.01/0.1 (the fixed deterministic harness corpora); a
    caller needing bit-identity to the JVM fold on arbitrary data
    should stay on :func:`cosine_verify`. Bad vectors (README
    "Embedding vector contract"): NULL and ragged vectors get a NULL
    signature and drop out, element-NULL vectors raise, zero-norm
    vectors match nothing.

    100 TB shape: signatures and banding are map-side; the groupBy
    Exchange shuffles each row ``n_bands × nb`` times carrying
    ``id + dim`` doubles; per-task memory is ``2 × block_rows × dim``
    doubles for the matmul operands plus the hits. ``block_rows`` is
    the granularity knob: smaller spreads hot buckets wider (more
    replication), larger amortizes kernel overhead.

    The broadcast ``sizes`` branch recomputes the signature+band
    subtree (a broadcast has no exchange to reuse) — deliberate:
    lazily checkpointing the bucket frame instead was measured WORSE
    (1.74 → 1.89 s on the q56 gate at sf0.1: materializing + re-reading
    corpus × n_bands rows carrying the vector costs more than the
    map-side hash recompute, and at scale it would also pin
    corpus × n_bands × dim doubles in executor storage)."""
    base = df.select(
        F.col(id_col).cast("long").alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    bucket = _lsh_bucket_frame(
        base, dim, n_planes, band_bits, "__v", "__id", seed,
        extra_cols=("__v",),
    )
    # per-bucket occupancy -> number of sub-blocks; the size table is
    # ≤ n_bands × 2^band_bits rows, always broadcastable
    sizes = bucket.groupBy("band", "key").agg(F.count(F.lit(1)).alias("__n"))
    bucketed = (
        bucket.join(F.broadcast(sizes), ["band", "key"])
        .withColumn(
            "__nb",
            F.greatest(
                F.lit(1), F.ceil(F.col("__n") / F.lit(int(block_rows)))
            ).cast("int"),
        )
        .withColumn(
            "__blk",
            F.pmod(F.xxhash64(F.col("__id")), F.col("__nb")).cast("int"),
        )
    )
    # block-grid replication within each bucket (see blocked_pair_cosine:
    # every unordered block pair meets in exactly one group, the diagonal
    # group holds each row once). ONE explode emits both sides' copies —
    # a union of two projections would compute the signature+join
    # subtree twice per action (a broadcast branch has no exchange to
    # reuse), measured as most of the fused stage's residual.
    blk, nb = F.col("__blk"), F.col("__nb")
    a_structs = F.transform(
        F.sequence(blk, nb - 1),
        lambda j: F.struct(
            blk.alias("__pa"),
            j.cast("int").alias("__pb"),
            F.lit("a").alias("__side"),
        ),
    )
    b_structs = F.when(
        blk > 0,
        F.transform(
            F.sequence(F.lit(0), blk - 1),
            lambda i: F.struct(
                i.cast("int").alias("__pa"),
                blk.alias("__pb"),
                F.lit("b").alias("__side"),
            ),
        ),
    ).otherwise(
        F.array().cast("array<struct<__pa:int,__pb:int,__side:string>>")
    )
    replicated = bucketed.select(
        "__id",
        "__v",
        "band",
        "key",
        F.explode(F.concat(a_structs, b_structs)).alias("__bp"),
    ).select(
        "__id", "__v", "band", "key", "__bp.__pa", "__bp.__pb", "__bp.__side"
    )
    schema = "id_a long, id_b long, cosine double"
    kernel = _gram_kernel(
        "pairs", schema, threshold=threshold, dim=dim,
        who="lsh_blocked_cosine_pairs", invalid="raise",
    )
    hits = replicated.groupBy("band", "key", "__pa", "__pb").applyInArrow(
        kernel, schema
    )
    return hits.groupBy("id_a", "id_b").agg(F.max("cosine").alias("cosine"))


def lsh_bucket_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    n_planes: int = 16,
    hamming_radius: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate NN: candidates within ``hamming_radius`` of the query's
    hyperplane signature, then exact cosine top-k on candidates only.

    The signature filter is a codegen'd ``bit_count(xor)`` — at 100 TB
    with signatures precomputed and files bucketed on them this becomes a
    partition-pruned scan instead of a full pass.
    """
    q = np.asarray(query_vec, dtype="float64")
    planes = _hyperplanes(len(q), n_planes, seed)
    q_sig = 0
    for p in range(n_planes):
        if float(planes[p] @ q) > 0:
            q_sig |= 1 << p
    signed = lsh_signature(df, len(q), n_planes, vec_col, seed=seed)
    candidates = signed.filter(
        F.bit_count(F.col("lsh_sig").bitwiseXOR(F.lit(q_sig))) <= hamming_radius
    )
    return cosine_topk(candidates, query_vec, k, vec_col, id_col)


def _pq_codebooks(dim: int, m: int, n_codes: int, seed: int = 77) -> np.ndarray:
    """(m, n_codes, dim//m) deterministic random sub-codebooks — the
    dependency-free stand-in for k-means-trained codebooks (same
    rationale as :func:`ivf_index`'s fixed centroids: the encode and
    query paths are identical to trained PQ, and determinism makes the
    operator oracle-gateable)."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m} subspaces")
    rng = np.random.RandomState(seed)
    return rng.standard_normal((m, n_codes, dim // m)).astype("float64")


def train_pq_codebooks(
    df: DataFrame,
    dim: int,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample: int = 2048,
    iters: int = 10,
    seed: int = 77,
) -> np.ndarray:
    """Train PQ sub-codebooks with per-subspace k-means over a
    DETERMINISTIC sample (smallest ``sample`` ids, seeded init, fixed
    iteration count) — trained codebooks separate real data far better
    than random ones, and the bounded driver-side sample keeps the
    operator reproducible and collect-safe (2048 × dim floats ≈ 1 MB;
    the corpus itself never leaves the cluster). Returns the
    (m, n_codes, dim//m) array :func:`pq_encode`/:func:`pq_topk`
    accept via ``codebooks=``."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m} subspaces")
    rows = (
        df.filter(F.col(vec_col).isNotNull() & (F.size(vec_col) == dim))
        .orderBy(F.col(id_col).asc())
        .limit(sample)
        .select(vec_col)
        .collect()
    )
    if not rows:
        raise ValueError(f"no non-null {dim}-dim vectors to train PQ codebooks on")
    mat = np.stack([np.asarray(r[0], dtype="float64") for r in rows])
    # cosine is the search metric: quantize DIRECTIONS (unit sphere), so
    # the ADC L2 ordering is rank-equivalent to cosine at query time
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    sub = dim // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, n_codes, sub))
    for j in range(m):
        s = mat[:, j * sub : (j + 1) * sub]
        s_sq = (s * s).sum(axis=1)
        cent = s[rng.choice(len(s), size=n_codes, replace=len(s) < n_codes)]
        for _ in range(iters):
            # argmin over ||s - c||^2 via the matmul identity
            # ||s||^2 - 2 s·c + ||c||^2 (round 19): the broadcast form
            # materialized a (sample, n_codes, sub) temp twice per
            # iteration — ~0.9 s of driver CPU per training call, paid
            # by every q77/q79 run; this is one small GEMM. Distances
            # differ from the broadcast form at the last ulp, which can
            # only flip exact argmin ties between equidistant
            # centroids; the trained-codebook consumers re-rank
            # candidates with EXACT cosine, and the q46/q77/q79 gate
            # outputs were verified identical at sf0.001/0.01/0.1.
            d = s_sq[:, None] - 2.0 * (s @ cent.T) + (cent * cent).sum(axis=1)
            assign = np.argmin(d, axis=1)
            for c in range(n_codes):
                members = s[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[j] = cent
    return books


def pq_encode(
    df: DataFrame,
    dim: int,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    out: str = "pq_code",
    seed: int = 77,
    codebooks: Optional[np.ndarray] = None,
) -> DataFrame:
    """Product-quantization encoding: split each vector into ``m``
    subvectors and store only the index of the nearest codeword per
    subspace — ``m`` small ints instead of ``dim`` floats (64-dim
    float32 → 8 bytes at m=8/n_codes≤256, a 32× memory cut). THE
    technique for ANN over corpora whose raw vectors don't fit the
    cluster (Jégou, Douze & Schmid, TPAMI'11).

    Map-side only: one Arrow-batched argmin against each (n_codes ×
    sub_dim) codebook per batch; NULL / wrong-length vectors encode to
    NULL (excluded from search) instead of crashing the batch.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    books = codebooks if codebooks is not None else _pq_codebooks(dim, m, n_codes, seed)
    sub = dim // m

    def _enc_fn(v):
        vals = v.to_numpy()
        ok = np.fromiter(
            (x is not None and len(x) == dim for x in vals),
            dtype=bool,
            count=len(vals),
        )
        out_codes = [None] * len(vals)
        if ok.any():
            mat = np.stack([np.asarray(x, dtype="float64") for x in vals[ok]])
            # match training: encode unit directions (cosine metric)
            mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            codes = np.empty((mat.shape[0], m), dtype="int32")
            for j in range(m):
                s = mat[:, j * sub : (j + 1) * sub]
                # ||s - c||^2 = ||s||^2 - 2 s.c + ||c||^2; ||s||^2 constant per row
                d = -2.0 * (s @ books[j].T) + (books[j] ** 2).sum(axis=1)
                codes[:, j] = np.argmin(d, axis=1)
            rows = iter(codes.tolist())
            out_codes = [next(rows) if k else None for k in ok]
        return pd.Series(out_codes, dtype="object")

    _enc_fn.__annotations__ = {"v": pd.Series, "return": pd.Series}
    _enc = pandas_udf(_enc_fn, "array<int>")
    return df.withColumn(out, _enc(F.col(vec_col)))


def pq_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    rerank: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 77,
    codebooks: Optional[np.ndarray] = None,
) -> DataFrame:
    """PQ approximate top-k: asymmetric-distance (ADC) scan over the
    codes, then exact cosine re-rank of the best ``rerank`` candidates.

    Scale shape: the per-query distance table (m × n_codes floats) is
    computed once on the driver and closed over — the scan reads ONLY
    the code column (``m`` ints/row, the whole point of PQ), the ADC
    sum is an Arrow-batched table lookup, candidate selection is a
    TakeOrdered (never a full sort), and the exact re-rank touches
    ``rerank`` rows' raw vectors. No shuffle anywhere.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    q = np.asarray(list(query_vec), dtype="float64")
    q = q / max(np.linalg.norm(q), 1e-12)  # unit direction, like the codes
    dim = q.shape[0]
    books = codebooks if codebooks is not None else _pq_codebooks(dim, m, n_codes, seed)
    sub = dim // m
    # ADC table: squared L2 from each query subvector to every codeword;
    # on unit vectors ||q - x||^2 = 2 - 2 cos(q, x), so the ADC order IS
    # the (approximate) cosine order — no norm-mismatch pruning
    table = np.stack(
        [((books[j] - q[j * sub : (j + 1) * sub]) ** 2).sum(axis=1) for j in range(m)]
    )  # m x n_codes

    def _adc_fn(codes):
        vals = codes.to_numpy()
        out = np.full(len(vals), np.nan)
        ok = np.fromiter(
            (c is not None and len(c) == m for c in vals), dtype=bool, count=len(vals)
        )
        if ok.any():
            cm = np.stack([np.asarray(c, dtype="int64") for c in vals[ok]])
            out[ok] = table[np.arange(m), cm].sum(axis=1)
        return pd.Series(out)

    _adc_fn.__annotations__ = {"codes": pd.Series, "return": pd.Series}
    _adc = pandas_udf(_adc_fn, "double")

    coded = pq_encode(df, dim, m, n_codes, vec_col, "__pq", seed, codebooks=books)
    cands = (
        coded.withColumn("__adc", _adc(F.col("__pq")))
        .filter(F.col("__adc").isNotNull())
        .orderBy(F.col("__adc").asc(), F.col(id_col).asc())
        .limit(rerank)
        .drop("__pq", "__adc")
    )
    return cosine_topk(cands, query_vec, k=k, vec_col=vec_col, id_col=id_col)


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_blocks: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Batched exact k-NN join: for EVERY query row, the ``k``
    nearest corpus rows by cosine — the retrieval-augmentation /
    cross-dataset-linking workload, where the "query" is a table of
    millions of vectors, not one literal.

    Returns ``(query_id, rank, vec_id, cosine)``, rank 1..k per query.
    Ranking follows :func:`cosine_topk`'s contract exactly: cosine
    rounded to 6 decimals desc, corpus id tiebreak — deterministic
    across partitionings and engines (ulp-level BLAS differences and
    exact-duplicate corpus vectors cannot flip ranks).

    Scale shape: corpus rows are hashed into ``n_blocks`` blocks ONCE
    (the big side never replicates); each query row is replicated to
    every block (n_blocks × query bytes — queries are the smaller side
    by assumption; flip the arguments if not). Each block bucket holds
    all queries + |C|/n_blocks corpus rows, computes one BLAS matmul,
    and emits only its LOCAL top-k per query, so the global re-rank
    shuffles ``|Q| × n_blocks × k`` candidate rows — bounded, never
    |Q|×|C|. Pick ``n_blocks`` ≈ cluster cores (it is also the
    parallelism). No broadcast of either table, no
    BroadcastNestedLoopJoin, no cartesian.

    Vector contract (README "Embedding vector contract"): a NULL or
    element-NULL vector, or one whose length differs from its block's
    modal length, is dropped rather than failing the batch — matching
    the LSH/IVF/PQ null contracts. A zero-norm vector scores cosine 0.
    """
    if k < 1 or n_blocks < 1:
        raise ValueError(f"k and n_blocks must be >= 1, got k={k} n_blocks={n_blocks}")
    # the long cast below is lossless only for integral id columns; a
    # string/float id would silently become NULL query_id/vec_id rows,
    # so fail loudly instead
    from pyspark.sql import types as T

    for side, frame in (("queries", queries), ("corpus", corpus)):
        dt = frame.schema[id_col].dataType
        if not isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            raise TypeError(
                f"knn_join: {side}.{id_col} must be an integral type for the "
                f"deterministic id tiebreak, got {dt.simpleString()}"
            )
    q_side = (
        queries.select(
            F.col(id_col).cast("long").alias("__id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        )
        .filter(F.col("__v").isNotNull())
        .withColumn("__cblk", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))))
        .withColumn("__side", F.lit("a"))
    )
    c_side = (
        corpus.select(
            F.col(id_col).cast("long").alias("__id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        )
        .filter(F.col("__v").isNotNull())
        .withColumn(
            "__cblk", F.pmod(F.xxhash64(F.col("__id")), F.lit(n_blocks)).cast("int")
        )
        .withColumn("__side", F.lit("b"))
    )
    tagged = q_side.unionByName(c_side)

    schema = "query_id long, vec_id long, cosine double"
    kernel = _gram_kernel(
        "topk", schema, k=k, who="knn_join",
        invalid="drop",  # a row off the block's modal length leaves the ranking
    )
    local = tagged.groupBy("__cblk").applyInArrow(kernel, schema)
    # rank on the 6dp key; the DISPLAYED cosine rounds the raw value
    # once (ranking on 6dp then re-rounding to 4dp would double-round)
    w = Window.partitionBy("query_id").orderBy(
        F.round("cosine", 6).desc(), F.col("vec_id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", F.round("cosine", 4).alias("cosine"))
    )


def ivfpq_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    rerank: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 77,
    cell_seed: int = 42,
    codebooks: Optional[np.ndarray] = None,
) -> DataFrame:
    """IVF-PQ: coarse cell pruning (:func:`ivf_index`) composed with the
    PQ asymmetric-distance scan (:func:`pq_topk`) — the standard
    billion-scale index layout (faiss ``IVFx,PQy``): the scan touches
    only ``nprobe``/``n_cells`` of the corpus AND reads only the
    ``m``-byte codes of those rows; the raw vectors surface solely for
    the exact re-rank of the final ``rerank`` candidates.

    ``seed`` seeds the PQ codebooks, ``cell_seed`` the IVF centroids —
    pass the same ``cell_seed`` the at-rest corpus was
    :func:`ivf_index`-partitioned with, or probes would miss its cells.

    At rest, store the corpus partitioned by ``ivf_cell`` with the code
    column alongside — a probe then prunes partitions at the FILE level
    and the ADC scan is code-column-only I/O.
    """
    q = np.asarray(list(query_vec), dtype="float64")
    dim = q.shape[0]
    probes = _probe_cells(q, n_cells, nprobe, cell_seed)
    celled = ivf_index(df, dim, n_cells, vec_col=vec_col, seed=cell_seed)
    probed = celled.filter(F.col("ivf_cell").isin(probes)).drop("ivf_cell")
    return pq_topk(
        probed, query_vec, k=k, m=m, n_codes=n_codes, rerank=rerank,
        vec_col=vec_col, id_col=id_col, seed=seed, codebooks=codebooks,
    )


#: Corpus-size threshold for single-band pHash LSH keys: at the default
#: 8 bands, 8-bit keys hold ~corpus/256 rows each and in-bucket pair
#: enumeration is quadratic — BASELINE.md's occupancy table measured a
#: 50k-asset corpus blowing up to 38.6M candidates single-band vs 0.5M
#: with pair keys. Auto-selection switches to pair keys past this.
_PHASH_SINGLE_BAND_MAX = 50_000


def phash_bands_per_key(n_rows: int) -> int:
    """The ``bands_per_key`` auto-selection rule: single bands up to
    ``_PHASH_SINGLE_BAND_MAX`` hashed assets, band PAIRS past it."""
    return 1 if n_rows <= _PHASH_SINGLE_BAND_MAX else 2


def phash_candidate_pairs(
    df: DataFrame,
    hash_col: str = "phash",
    id_col: str = "asset_id",
    n_bands: int = 8,
    bands_per_key: Optional[int] = None,
) -> DataFrame:
    """Candidate near-dup pairs from banded hamming LSH over a 64-bit
    perceptual hash (``multimodal.phash_images``) — the bit-exact
    analogue of minhash banding: split the hash into ``n_bands``
    equal-width bands, bucket-join on (band, bits). DETERMINISTIC
    recall guarantee by pigeonhole: a pair at hamming distance d < n_bands
    shares at least one untouched band, so every pair inside the
    verify threshold (``hamming_verify`` with max_dist < n_bands) is
    guaranteed a candidate — no probabilistic recall argument needed.
    NULL hashes (undecodable assets) are excluded up front.

    ``bands_per_key`` is the corpus-size knob. Bucket occupancy is
    ~corpus/2^(bands_per_key * 64/n_bands) and pair enumeration is
    quadratic WITHIN a bucket, so single-band 8-bit keys
    (``bands_per_key=1``) hold ~corpus/256 rows each — fine to ~50k
    assets, quadratic blowup past that. ``bands_per_key=2`` keys every
    row by all C(n_bands, 2) ordered band PAIRS (16-bit keys at the
    default 8 bands): occupancy drops to ~corpus/65536 at 28x the
    explode, and the pigeonhole guarantee holds for d <= n_bands - 2
    (distance d damages at most d bands, leaving >= 2 intact bands
    that form one shared pair key — d <= 6 at the defaults, still
    above ``hamming_verify``'s typical max_dist of 4). The same trade
    continues (3 bands per key, d <= n_bands - 3) if ever needed.

    DEFAULT (``bands_per_key=None``) auto-selects from a corpus count
    (:func:`phash_bands_per_key`: single bands to 50k hashed assets,
    pair keys past — the documented occupancy cliff), removing the
    foot-gun of running a 500k corpus on single-band keys. Auto mode
    is EAGER: picking the knob needs the count, so this call runs a
    Spark job at call time instead of deferring all work to the first
    action on the returned frame. The (id, hash) projection
    (~16 B/row — 8 MB per 500k assets) is lazily
    ``localCheckpoint``-ed and materialized once PER CALL, by the
    count, so an upstream decode (``phash_images`` is a Python stage)
    does not run twice within a call — the self-join's two branches
    read the checkpointed blocks. Lifetime is the returned frame's:
    blocks are eligible for ContextCleaner reclaim once the caller
    drops every reference (in a classic py4j driver the JVM-side
    reference can outlive the Python one, so a LONG-LIVED process
    issuing many calls should budget one small checkpointed
    projection per in-flight call — the bounded, per-call trade
    chosen over the alternative: the previous
    process-global one-slot ``persist()`` registry memoized the
    decode ACROSS calls, which let repeated benchmark invocations of
    the same corpus skip the decode they claim to measure — round
    19). A per-call checkpoint keeps the within-call sharing, which
    is the part that is genuinely needed, and nothing else. Pass an
    explicit 1 or 2 to skip the count entirely (fully lazy, nothing
    cached).
    """
    if 64 % n_bands:
        raise ValueError(f"n_bands must divide 64, got {n_bands}")
    if bands_per_key not in (None, 1, 2):
        raise ValueError(f"bands_per_key must be 1 or 2, got {bands_per_key}")
    band_bits = 64 // n_bands
    mask = (1 << band_bits) - 1 if band_bits < 64 else -1
    from vinum_spark.operators.dedup import _spread

    base = _spread(
        df.filter(F.col(hash_col).isNotNull()).select(id_col, hash_col),
        id_col,
    )
    if bands_per_key is None:
        # per-call lazy localCheckpoint: the auto-mode count below
        # materializes it, the banded self-join's two branches then
        # read the checkpointed blocks instead of re-running the
        # upstream decode; blocks are freed with the returned frame's
        # references (see docstring for the long-lived-process note).
        # No process-global cache.
        base = base.localCheckpoint(eager=False)
        bands_per_key = phash_bands_per_key(base.count())

    def band_key(b):
        return (
            F.shiftrightunsigned(F.col(hash_col), b * band_bits)
            .bitwiseAND(F.lit(mask))
        )

    if bands_per_key == 1:
        band_structs = [
            F.struct(F.lit(b).alias("band"), band_key(b).alias("key"))
            for b in range(n_bands)
        ]
    else:
        band_structs = [
            F.struct(
                F.lit(i * n_bands + j).alias("band"),
                F.shiftleft(band_key(i), band_bits)
                .bitwiseOR(band_key(j))
                .alias("key"),
            )
            for i in range(n_bands)
            for j in range(i + 1, n_bands)
        ]
    bucket = base.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bk")
    ).select(id_col, "bk.band", "bk.key")
    a, b = bucket.alias("a"), bucket.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def hamming_verify(
    df: DataFrame,
    pairs: DataFrame,
    max_dist: int,
    hash_col: str = "phash",
    id_col: str = "asset_id",
) -> DataFrame:
    """Exact hamming distance for a GIVEN candidate pair set — two
    equi-joins plus one codegen'd ``bit_count(a XOR b)`` per candidate;
    linear in candidates. Returns (id_a, id_b, hamming) where
    hamming <= ``max_dist``."""
    base = df.select(
        F.col(id_col).alias("__id"), F.col(hash_col).alias("__h")
    )
    a = base.select(F.col("__id").alias("id_a"), F.col("__h").alias("__h_a"))
    b = base.select(F.col("__id").alias("id_b"), F.col("__h").alias("__h_b"))
    dist = F.bit_count(F.col("__h_a").bitwiseXOR(F.col("__h_b")))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("__d", dist)
        .filter(F.col("__d") <= max_dist)
        .select("id_a", "id_b", F.col("__d").cast("int").alias("hamming"))
    )


def semantic_n_clusters(n_rows: int) -> int:
    """The ``n_clusters`` auto-selection rule: ~sqrt(corpus count),
    floored at 1. With k = sqrt(n) clusters the expected within-cluster
    pair work is Sigma |cluster|^2 ~ n^2/k = n^1.5 — the SemDeDup
    paper's own scaling choice — so the knob tracks corpus growth
    instead of going quadratic at a fixed k."""
    return max(1, int(round(math.sqrt(max(0, n_rows)))))


def _semantic_edges(
    cells: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: Optional[int] = None,
) -> DataFrame:
    """Within-cluster cosine edges for :func:`semantic_dedup`: ONE hash
    Exchange on ``sem_cluster``, then :func:`_gram_kernel` takes each
    cluster's upper triangle. NULL-cluster rows (NULL / wrong-length
    vectors) are excluded up front; a row with a NULL element is
    dropped in the kernel and zero-norm rows never match, so both come
    back as kept singletons. Returns ``(id_a, id_b)`` with
    ``id_a < id_b``."""
    kernel = _gram_kernel(
        "pairs", "id_a long, id_b long", threshold=threshold, dim=dim,
        who="semantic_dedup", invalid="drop",
    )
    return (
        cells.filter(F.col("sem_cluster").isNotNull())
        .select(
            F.col(id_col).alias("__id"),
            F.col("sem_cluster").alias("__c"),
            F.col(vec_col).alias("__v"),
        )
        .groupBy("__c")
        .applyInArrow(kernel, "id_a long, id_b long")
    )


def semantic_dedup(
    df: DataFrame,
    dim: int,
    n_clusters: Optional[int] = None,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    checkpoint_dir: Optional[str] = None,
) -> DataFrame:
    """Semantic deduplication — SemDeDup (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication") re-expressed relationally: embedding-space
    near-duplicates are found ONLY within coarse clusters, never
    corpus-wide. That is the trick that makes semantic dedup tractable
    at web scale — all-pairs cosine is O(n²·dim); cluster-bounded
    pairs are Σ|cluster|², controlled by picking n_clusters ≈ √n — at
    the documented recall trade that a near-dup pair straddling a
    cluster boundary is missed (the paper's own property).

    Stages, each machinery already gated elsewhere:

    1. cluster assignment — :func:`ivf_index`'s deterministic
       fixed-centroid argmax (the coarse quantizer the ANN gates
       q46/q79 pin; a production run trains k-means centroids first —
       the assignment path is identical);
    2. within-cluster pairwise cosine by :func:`_gram_kernel`
       grouped on the cluster id (row-block chunked, so memory is
       bounded at ``block × |cluster|`` — the
       :func:`blocked_pair_cosine` trade applied cluster-locally). A
       per-pair expression dot self-join measured ~14 µs/pair at the
       200k-row anchor (a 192-term Get/cast chain per candidate pair,
       norms recomputed per pair); the Gram matmul does the identical
       arithmetic at memory bandwidth, turning ~10⁸ pairs into a few
       GFLOP;
    3. pairs ≥ ``threshold`` are edges; connected components
       (operators/dedup.py — the q63-gated min-label propagation)
       label duplicate GROUPS, and the min-id member survives. (The
       paper keeps the member farthest from the cluster centroid — a
       different fixed exemplar rule with identical dedup power;
       min-id keeps survivor choice consistent with every other dedup
       operator in this package.)

    Returns one row PER INPUT vector: ``(id_col, sem_cluster,
    component, kept)`` — ``component`` is the duplicate-group label
    (own id for singletons), ``kept`` marks the group's survivor.

    100 TB shape: ONE hash Exchange on the cluster id feeds the
    grouped kernel (the join form needed two), pair work is
    cluster-bounded BLAS, CC is edges-proportional — the corpus never
    meets itself across clusters. NULL or wrong-length vectors get a
    NULL cluster from :func:`ivf_index`, are excluded from the kernel,
    and come back as kept singletons — never silently dropped. So do
    vectors with a NULL element (dropped in the kernel) and zero-norm
    vectors (they match nothing); see README "Embedding vector
    contract".

    ``n_clusters`` is the scale knob. DEFAULT (``None``) auto-selects
    ~sqrt(corpus count) (:func:`semantic_n_clusters`), so within-cluster
    pair work grows ~n^1.5 instead of quadratically at a fixed k —
    the same foot-gun removal as ``phash_candidate_pairs``' auto
    ``bands_per_key``. Auto mode is EAGER (one bounded ``count()`` at
    call time picks the knob); pass an explicit k to stay fully lazy.

    Materialization of the cell assignment (referenced three times:
    both join sides + the final output; without it the pandas_udf
    assignment recomputes per reference): DEFAULT is
    ``localCheckpoint(eager=True)`` — the id+embedding frame lands in
    EXECUTOR BLOCK STORAGE with lineage severed, so it must fit the
    cluster's storage memory/disk and an executor loss mid-query is
    unrecoverable (fine single-node and at gate scale; NOT the 100 TB
    answer). For large corpora pass ``checkpoint_dir``: the assigned
    frame is WRITTEN ONCE to parquet under that path (unpartitioned —
    the grouped kernel shuffles on the cluster id regardless; a
    pipeline that RE-probes the same corpus should instead write its
    own layout ``.partitionBy`` cell per the ivf_index docstring) and
    read back, so each reference is a plain columnar scan and executor
    loss just re-reads files. The write is this call's one
    corpus-sized pass.
    """
    from vinum_spark.operators.dedup import connected_components

    base = df.select(
        F.col(id_col).cast("long").alias(id_col), F.col(vec_col)
    )
    if n_clusters is None:
        n_clusters = semantic_n_clusters(base.count())
    assigned = ivf_index(
        base, dim, n_cells=n_clusters, vec_col=vec_col, out="sem_cluster",
        seed=seed,
    )
    if checkpoint_dir is not None:
        import uuid

        # per-call uniquified subpath: two calls sharing a
        # checkpoint_dir must not overwrite each other — the returned
        # frame reads the path LAZILY, so a fixed subpath would let a
        # later call silently swap the earlier call's data out from
        # under its un-collected result. The caller owns cleanup of
        # the directory.
        path = (
            f"{checkpoint_dir.rstrip('/')}/"
            f"semantic_dedup_cells_{uuid.uuid4().hex[:12]}"
        )
        assigned.write.mode("error").parquet(path)
        cells = df.sparkSession.read.parquet(path)
    else:
        cells = assigned.localCheckpoint(eager=True)

    edges = _semantic_edges(cells, threshold, vec_col, id_col, dim)
    comp = connected_components(edges)
    return (
        cells.select(id_col, "sem_cluster")
        .join(comp, F.col(id_col) == F.col("node"), "left")
        .select(
            id_col,
            "sem_cluster",
            F.coalesce("component", F.col(id_col))
            .cast("long")
            .alias("component"),
            (
                F.coalesce("component", F.col(id_col)) == F.col(id_col)
            ).alias("kept"),
        )
    )
