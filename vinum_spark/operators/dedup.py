"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design for 100 TB:

- Everything is expressed with built-in expressions (higher-order array
  functions + xxhash64/md5) — no Python in the hot path, whole-stage
  codegen end-to-end.
- Exact dedup shuffles once on the fingerprint.
- MinHash-LSH shuffles on (band, band_hash) buckets — the standard
  shingle→minhash→band→bucket-join pipeline; candidate pairs never
  materialize a full cross product.
- SimHash is one wide aggregation (64 partial-aggregated columns), no row
  blowup.
- n-gram Jaccard is the exact-verification path, intended to run on LSH
  candidates (or small corpora); the shingle self-join is the scale
  bottleneck by construction and documented as such.
"""

from __future__ import annotations

import math
import os
import re
from typing import Optional, Sequence
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vinum_spark.operators.text import with_fingerprint


def _parse_bytes(v: str) -> int:
    """Parse a Spark byte-size conf value ('134217728', '134217728b',
    '128m', '128MB', '1g') into bytes."""
    m = re.fullmatch(r"(\d+(?:\.\d+)?)\s*([kmgt]?)i?b?", str(v).strip().lower())
    if not m:
        raise ValueError(f"unparseable byte size: {v!r}")
    num, unit = m.groups()
    scale = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}[unit]
    return int(float(num) * scale)


def _estimated_scan_partitions(df: DataFrame) -> Optional[int]:
    """Estimate how many partitions the frame scans as, from file-listing
    metadata only — no plan-to-RDD conversion (``df.rdd`` plans the whole
    query on the driver per call; this reads the already-cached file
    index). Returns None when the estimate can't be made (non-file-backed
    plan, or files on a store we can't stat); :func:`_spread` then reads
    the frame's RDD partition count instead.

    Known divergence from Spark's real split planning: Spark packs
    multiple small files into one partition (``openCostInBytes`` bin
    packing), while this estimate floors every file at one partition —
    so for many-tiny-file inputs it OVERESTIMATES, and ``_spread`` may
    skip a repartition that Spark's packing would have made useful. The
    error is bounded (at most the file count vs the packed count) and
    on the safe side for the common layouts: single-big-file inputs
    (underestimation impossible — ceil(size/maxPartitionBytes) is
    exact) and the 100 TB case (files >> maxPartitionBytes, packing
    irrelevant). The alternative — replaying Spark's bin packing —
    would duplicate version-dependent planner internals for a
    heuristic whose only consumer tolerates slack.
    """
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    try:
        mpb = _parse_bytes(
            df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        )
    except Exception:
        mpb = 128 * 1024 * 1024
    total = 0
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("", "file"):
            return None  # remote store: can't stat sizes; caller falls back
        # inputFiles() returns percent-encoded URIs; decode before stat
        path = unquote(parsed.path) or uri
        try:
            size = os.path.getsize(path)
        except OSError:
            return None
        total += max(1, math.ceil(size / max(mpb, 1)))
    return total


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Ensure enough partitions for the CPU-heavy map stage that follows.

    A single small parquet file scans as one partition, serializing
    shingling/hashing on one core. When the input's split count is below
    half the cluster's parallelism, hash-repartition the (small) doc rows
    by key — cheap relative to the 10-100× parallelism it unlocks. Inputs
    already well-partitioned (the 100 TB case: many files, or big files
    that split by ``maxPartitionBytes``) pass through untouched.

    The split count comes from file-listing metadata when the frame is a
    local file scan; otherwise (in-memory ``createDataFrame`` frames,
    checkpointed frames, remote stores) from ``rdd.getNumPartitions()``,
    which starts no Spark job on an exchange-free frame. Under AQE a
    frame with a shuffle below it would run that stage as a separate
    driver job, so the signature aggregates (:func:`_band_buckets`,
    :func:`simhash_candidate_pairs`) repartition directly instead of
    coming here. A streaming frame has no RDD and passes through.
    """
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    est = _estimated_scan_partitions(df)
    if est is None:
        est = df.rdd.getNumPartitions()
    if est < max(target // 2, 2):
        return df.repartition(target, key)
    return df

# ---------------------------------------------------------------------------
# Shared shingling helpers (word n-grams over whitespace tokens)
# ---------------------------------------------------------------------------


def _shingles(col: Column, n: int) -> Column:
    """Distinct word n-gram shingles of ``col`` (array<string>).

    Built entirely from higher-order functions: split → sliding join.
    Documents shorter than ``n`` tokens contribute the whole text as one
    shingle so they still participate.
    """
    tokens = F.split(F.trim(col), r"\s+")
    k = F.size(tokens) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
    )
    return F.array_distinct(grams)


def _shingle_frame(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """``(id, __sh)`` — each document's distinct word n-gram shingle
    array, parallelism-spread. Shingling (interpreted higher-order
    transforms per document) is the most expensive map stage in the
    MinHash pipeline; :func:`minhash_verified_dedup` computes this frame
    ONCE, ``localCheckpoint``-s it, and passes it to both the candidate
    and verify stages via their ``shingles=`` parameters.

    CALLER CONTRACT: ``localCheckpoint`` this frame before referencing
    it from more than one consumer (``eager=False`` suffices — round-18:
    the lazy checkpoint persists the RDD and cuts lineage just like the
    eager one, without a separate materialization job). Two reasons:
    Spark recomputes a plan subtree per reference, and an UNCHECKPOINTED
    frame re-shingles per consumer (persistence dedups the computation);
    and Catalyst's infer-filters-from-generate rule turns a later
    ``explode(__sh)`` into a ``size(__sh) > 0`` filter that
    alias-substitution expands to the full shingling expression and
    pushes into the file scan — running the most expensive map stage
    twice, once below the repartition (this exact regression shipped in
    round 4 and cost 1.9× on q29; the checkpoint's lineage cut makes
    both failure modes impossible).
    """
    return _spread(df, id_col).select(
        F.col(id_col), _shingles(F.col(text_col), n).alias("__sh")
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(
    df: DataFrame,
    cols: Optional[Sequence[str]] = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Keep one row per duplicate group (the smallest ``id_col``).

    Group key = ``cols`` if given, else the normalized-text md5
    fingerprint. One hash-shuffle on the key; deterministic survivor
    choice makes results reproducible across cluster sizes.
    """
    if cols:
        keyed, key_cols = df, list(cols)
    else:
        keyed, key_cols = with_fingerprint(df, text_col), ["fingerprint"]
    w = Window.partitionBy(*key_cols).orderBy(F.col(id_col).asc())
    return (
        keyed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _signatures_only(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int,
    shingle_size: int,
    out: str = "minhash",
    shingles: Optional[DataFrame] = None,
) -> DataFrame:
    """(id, signature) frame — see :func:`minhash_signatures` for the
    algorithm; kept separate so consumers that don't need the original
    columns (LSH dedup) skip the join-back entirely. ``shingles``: a
    precomputed, MATERIALIZED :func:`_shingle_frame` to reuse instead of
    re-shingling (see that function's caller contract).
    """
    # Hash each shingle string ONCE, then derive the n_hashes values with
    # xxhash64 over the fixed-width (long, seed) pair — near the cost of a
    # multiply, a proper independent hash family, and no int64 overflow
    # (multiplicative mixing would throw under a caller session with ANSI
    # mode on).
    if shingles is not None:
        exploded = shingles.select(F.col(id_col), F.explode("__sh").alias("__g"))
    else:
        # Explode the shingle EXPRESSION directly, never a named projection
        # of it: InferFiltersFromGenerate declines non-trivial generator
        # children, but given `explode(attribute)` it infers
        # `size(attr) > 0`, which alias substitution + pushdown expand
        # into a second, pre-repartition evaluation of the whole shingling
        # HOF inside the scan (the round-4 q29 regression; plan-guarded in
        # tests/test_plans.py::test_no_hof_in_scan_filters).
        exploded = _spread(df, id_col).select(
            F.col(id_col),
            F.explode(_shingles(F.col(text_col), shingle_size)).alias("__g"),
        )
    # ONE aggregation pass emitting the signature array directly
    # (round 19): the previous withColumn + 64-column agg + array()
    # select shape triggered a full analyzer pass per DataFrame op over
    # the 64-expression tree — ~620 ms of driver plan-build per fresh
    # plan, paid by every bench run; this shape builds in ~310 ms with
    # bit-identical results (the shared xxhash64(__g) subexpression is
    # CSE'd by codegen, so executor work is unchanged — measured).
    h = F.xxhash64("__g")
    return exploded.groupBy(id_col).agg(
        F.array(
            *[F.min(F.xxhash64(h, F.lit(i))) for i in range(n_hashes)]
        ).alias(out)
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    shingle_size: int = 3,
    out: str = "minhash",
) -> DataFrame:
    """Add an ``array<bigint>`` MinHash signature column.

    signature[i] = min over shingles of a universal-hash mix of
    xxhash64(shingle).

    Shape chosen for codegen + scale: explode shingles, compute the
    ``n_hashes`` values as flat columns (whole-stage codegen'd — measured
    ~50× faster than nested higher-order ``transform`` lambdas, which
    execute interpreted per element), then MIN-aggregate per doc. The
    per-doc MIN is partial-aggregated map-side, so the only shuffle
    carries n_docs × n_hashes longs regardless of corpus size.
    """
    sigs = _signatures_only(df, text_col, id_col, n_hashes, shingle_size, out)
    return df.join(sigs, on=id_col, how="left")


def _band_buckets(
    df: DataFrame,
    id_col: str,
    bands: int,
    rows_per_band: int,
    sig_col: str = "minhash",
) -> DataFrame:
    """Explode a signature into (id, band, band_hash) bucket rows.

    The signature frame is hash-repartitioned to ``defaultParallelism``
    first: it is a byte-tiny aggregate output that AQE coalesces to 1-2
    partitions, and the band self-join every consumer builds on these
    buckets streams its bucket-pair enumeration over THIS partitioning —
    measured q29 1.0 s → 0.65 s at sf0.1 from this line alone (the same
    bytes-≠-work coalescing trap as the r18 q83 revert). Repartitioning
    ~(8 B + signature) rows is noise at any scale. The repartition is
    unconditional rather than a :func:`_spread` decision because reading
    an aggregate's partition count under AQE runs the whole
    shingle+minhash stage as a separate driver job. The one trade: where
    AQE leaves the aggregate at ≥ defaultParallelism/2 partitions this
    is one exchange of the signature rows that a partition-count check
    would have skipped (measured on 4 cores: the 5 000-document sf0.1
    test corpus gets there, the 500-document sf0.01 corpus and the
    benchmark corpora do not)."""
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism, id_col)
    band = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    with_band = df.select(F.col(id_col), F.col(sig_col), band)
    band_slice = F.slice(
        F.col(sig_col), F.col("band") * rows_per_band + 1, rows_per_band
    )
    return with_band.select(
        id_col, "band", F.xxhash64(band_slice).alias("band_hash")
    )


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    shingles: Optional[DataFrame] = None,
) -> DataFrame:
    """Candidate near-dup pairs ``(id_a, id_b)`` (id_a < id_b) from LSH
    band-bucket co-membership.

    This is the candidate-generation half of the LSH pipeline exposed on
    its own so exact verifiers (:func:`ngram_jaccard_verify`) can run on
    candidates instead of the full corpus. Pair enumeration is quadratic
    only WITHIN a bucket (bounded by band collision rate), never across
    the corpus; the join is an equi-join on (band, band_hash).
    ``shingles``: a precomputed :func:`_shingle_frame` to reuse.
    """
    rows_per_band = n_hashes // bands
    sigs = _signatures_only(
        df, text_col, id_col, n_hashes, shingle_size, shingles=shingles
    )
    buckets = _band_buckets(sigs, id_col, bands, rows_per_band)
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
) -> DataFrame:
    """Near-dup removal: keep a row unless some LSH bucket contains a
    lower-id row (greedy, deterministic).

    shingle → minhash (map-side) → band buckets (one shuffle on bucket
    key) → min-id per bucket (partial agg) → anti-join. Bucket skew is
    handled by AQE; no pairwise materialization ever happens.
    """
    rows_per_band = n_hashes // bands
    sigs = _signatures_only(df, text_col, id_col, n_hashes, shingle_size)
    buckets = _band_buckets(sigs, id_col, bands, rows_per_band)
    w = Window.partitionBy("band", "band_hash")
    dups = (
        buckets.withColumn("bucket_min", F.min(id_col).over(w))
        .filter(F.col(id_col) > F.col("bucket_min"))
        .select(id_col)
        .distinct()
    )
    return df.join(dups, on=id_col, how="left_anti")


def minhash_verified_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    n_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Exact-verified near-dup removal — the full scale composition:
    LSH candidates → exact n-gram Jaccard verify → drop every row with a
    lower-id VERIFIED duplicate.

    Unlike :func:`minhash_lsh_dedup` (pure bucket greedy: probabilistic
    in both directions), survivors here match the exact domination rule
    — ``b`` is dropped iff ∃ ``a < b`` with ``jaccard(a, b) ≥
    threshold`` — provided candidates cover every qualifying pair.
    That makes the survivor set independently checkable by any exact
    engine, while the cost stays candidates-bounded: no corpus-wide pair
    enumeration anywhere.

    ``bands=16`` (4 rows/band) puts the LSH S-curve midpoint at
    ``(1/16)^(1/4) = 0.5``: a pair at exactly jaccard 0.8 is missed with
    probability ``(1 − 0.8⁴)¹⁶ ≈ 2e-4``, and real near-dups (j ≥ 0.89 on
    every measured corpus) at ``≤ 1.4e-7`` — while keeping the candidate
    set (and hence verify cost) near the true pair set instead of
    sweeping in moderate-similarity pairs. For a maximum-recall gate at
    small scale, pass ``bands=32`` (2 rows/band: boundary miss ``6e-15``,
    more candidates).

    Shingling runs ONCE: the ``(id, shingles)`` frame is computed,
    ``localCheckpoint``-ed (bounded: one row per doc; the lineage cut
    also blocks Catalyst from inferring the shingle expression into the
    file scan — see :func:`_shingle_frame`), then shared by the
    signature stage and the Jaccard verify stage. On a cluster the
    checkpoint lives in executor block storage (memory, spilling to
    local disk) without replication — an executor loss fails the job
    back to the caller, the standard localCheckpoint trade-off for
    not recomputing the most expensive map stage three times.
    """
    # eager=False (round-18): the lazy local checkpoint keeps BOTH
    # protections of the eager one — the plan is cut at a LogicalRDD
    # (so Catalyst cannot push the shingling HOF into the scan) and the
    # RDD is persisted (so the three consumers below share ONE
    # computation) — without the separate materialization job barrier:
    # the shingle stage now runs inside the final action. Measured at
    # sf0.1: ~1.5 s → ~1.33 s end-to-end with identical survivors.
    sh = _shingle_frame(df, text_col, id_col, n).localCheckpoint(eager=False)
    cands = minhash_candidate_pairs(
        df, text_col, id_col, n_hashes, bands, shingle_size=n, shingles=sh
    )
    # Inlined single-reference verify (round-18 optimization): the
    # generic ngram_jaccard_verify references ``cands`` twice (id
    # prefilter + pair join), which forces an eager localCheckpoint of
    # the pair set — one extra job barrier per run. Here the candidate
    # plan is referenced exactly ONCE, so the whole LSH pipeline plans
    # into the final action lazily: no pair materialization job, no
    # executor-storage snapshot, and the checkpointed shingle frame
    # joins the (bounded) pair set directly on id — AQE picks the join
    # strategy from runtime sizes. Measured at sf0.1: 1.9 s → 1.45 s
    # end-to-end with identical survivors; one fewer job barrier also
    # at cluster scale. The id prefilter is unnecessary here because
    # the shingle frame is already materialized (nothing to prune
    # before shingling — the joins themselves do the pruning).
    shz = sh.withColumn("__sz", F.size("__sh"))
    a = shz.select(
        F.col(id_col).alias("id_a"),
        F.col("__sh").alias("__sh_a"),
        F.col("__sz").alias("__sz_a"),
    )
    b = shz.select(
        F.col(id_col).alias("id_b"),
        F.col("__sh").alias("__sh_b"),
        F.col("__sz").alias("__sz_b"),
    )
    joined = cands.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    jac = inter / (F.col("__sz_a") + F.col("__sz_b") - inter)
    dups = (
        joined.filter(jac >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(dups, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _simhash_only(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out: str = "simhash",
    bits: int = 64,
    shingle_size: int = 3,
    shingles: Optional[DataFrame] = None,
) -> DataFrame:
    """``(id, simhash)`` frame: 64-bit SimHash per document, as one wide
    aggregation (no join back onto the input — see :func:`simhash`).

    Features are distinct word ``shingle_size``-grams (NOT unigrams:
    unigram vocabularies overlap heavily between unrelated documents
    drawn from a shared vocabulary, which collapses Hamming distances —
    measured on the test corpus, unigram SimHash put 150 unrelated doc
    pairs within Hamming 3; shingles put zero). Feature hashes come from
    xxhash64; bit ``j`` of the result is the sign of sum over features of
    (bit j of feature hash ? +1 : -1). Implemented as ``bits``
    partial-aggregatable SUM columns over exploded features — map-side
    combine keeps the shuffle tiny (rows = docs, not features). The
    per-bit sums count RAW bits (shift+AND only, no CASE WHEN) with one
    shared ``count(*)``; ``sum(±1) > 0  ⟺  2*sum(bit) > n`` including
    ties, and dropping the 64 conditional branches from the exploded
    hot path measured 33% faster at sf0.1 (2.94 s -> 1.96 s).

    ``shingles``: a precomputed (persisted/checkpointed)
    :func:`_shingle_frame` at the same ``shingle_size`` to reuse instead
    of re-shingling — the round-18 sharing that lets one shingle pass
    feed MinHash, verify AND SimHash in a composed pipeline (q30).
    """
    if shingles is not None:
        toks = shingles.select(
            F.col(id_col), F.explode("__sh").alias("__tok")
        )
    else:
        toks = _spread(df, id_col).select(
            id_col,
            F.explode(_shingles(F.col(text_col), shingle_size)).alias("__tok"),
        )
    # ONE aggregation pass emitting (count, array-of-bit-sums) directly
    # (round 19): the previous withColumn + 64-column agg + array()
    # select shape cost ~700 ms of analyzer time per fresh plan (one
    # full pass per DataFrame op over the 64-expression tree); this
    # builds in ~445 ms with bit-identical results and unchanged
    # executor work (xxhash64(__tok) is CSE'd across the 64 sums).
    h = F.xxhash64("__tok")
    votes = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n"),
        F.array(
            *[
                F.sum(F.shiftright(h, j).bitwiseAND(F.lit(1)))
                for j in range(bits)
            ]
        ).alias("__bits"),
    )
    # Bit-combine as ONE compact fold instead of a 64-term chained
    # expression (round-18): the chain generated a ~60 KB codegen source
    # whose per-plan-build subexpression analysis cost ~0.9 s of
    # driver/codegen time on EVERY fresh plan of this operator,
    # data-independent (measured: the same projection on a 5-row frame).
    # zip_with pairs each vote count with its precomputed bit weight
    # (weight[63] is Long.MIN_VALUE — identical to shiftleft(1, 63));
    # aggregate folds left in index order, so the sum adds the same
    # terms in the same order as the old chain: results bit-identical,
    # pinned by the q30 oracle gate. ~64 interpreted lambda steps per
    # doc row (docs, not tokens) is noise at any scale.
    # weight[j] == jvm shiftleft(1L, j): only j=63 wraps to Long.MIN
    weights = F.array(
        *[
            F.lit((1 << j) if j < 63 else -(1 << 63)).cast("long")
            for j in range(bits)
        ]
    )
    acc = F.aggregate(
        F.zip_with(
            F.col("__bits"),
            weights,
            lambda b, w: F.when(b * 2 > F.col("__n"), w).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return votes.select(id_col, acc.alias(out))


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out: str = "simhash",
    bits: int = 64,
    shingle_size: int = 3,
    shingles: Optional[DataFrame] = None,
) -> DataFrame:
    """Add a 64-bit SimHash column — :func:`_simhash_only` (see its
    docstring for the algorithm and the ``shingles`` reuse contract)
    joined back onto the input frame. Consumers that only need
    ``(id, simhash)`` (:func:`simhash_candidate_pairs`) use the
    signature frame directly and skip this join-back entirely
    (round-18: the join previously shuffled the full document frame
    just to be column-pruned away downstream)."""
    sim = _simhash_only(df, text_col, id_col, out, bits, shingle_size, shingles)
    return df.join(sim, on=id_col, how="left")


def simhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hamming_threshold: int = 3,
    band_bits: int = 16,
    shingle_size: int = 3,
    shingles: Optional[DataFrame] = None,
) -> DataFrame:
    """Pairs ``(id_a, id_b)`` (id_a < id_b) within ``hamming_threshold``
    of each other's 64-bit SimHash.

    Candidates share one of four 16-bit bands (any pair within Hamming
    distance 3 of a 64-bit hash must agree on ≥1 of 4 bands —
    pigeonhole, so this is COMPLETE for the threshold); verified with
    ``bit_count(xor)``. The band join is an equi-join; pair enumeration
    is quadratic only within a band bucket. ``shingles``: a precomputed
    :func:`_shingle_frame` to reuse (see :func:`_simhash_only`).

    The (id, simhash) frame is hash-repartitioned to
    ``defaultParallelism`` unconditionally, for the reason given in
    :func:`_band_buckets` and with the same trade: where AQE leaves the
    aggregate at ≥ defaultParallelism/2 partitions this is one exchange
    a partition-count check would have skipped.
    """
    # Lazy-checkpoint the (id, simhash) frame: the band self-join below
    # plans as a broadcast join whose build and stream sides are the
    # SAME subtree, and without a lineage cut Spark computes the whole
    # signature pipeline twice (no exchange to reuse under a broadcast).
    # The persisted frame is one (long, long) row per doc — bounded at
    # any scale; lazy, so no extra job barrier (round-18).
    sigs = _simhash_only(
        df, text_col, id_col, shingle_size=shingle_size, shingles=shingles
    ).localCheckpoint(eager=False)
    # THEN repartition to defaultParallelism: the signature frame is a
    # byte-tiny aggregate output that AQE coalesces to 1-2 partitions,
    # and the broadcast self-join's quadratic within-bucket pair
    # enumeration streams over THIS partitioning — at sf0.1 that
    # serialized ~12.7M pair evaluations onto 2 cores (measured: the
    # enumeration stage was 2.1 s of q30's 2.4 s; the same bytes-≠-work
    # trap as r18's q83 coalescing revert). Repartitioning ~16 B/doc
    # rows is noise at any scale.
    h = sigs.repartition(df.sparkSession.sparkContext.defaultParallelism, id_col)
    n_bands = 64 // band_bits
    mask = (1 << band_bits) - 1
    bucket = h.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "simhash", "bk.band", "bk.key")
    left = bucket.alias("a")
    right = bucket.alias("b")
    return (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            <= hamming_threshold
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hamming_threshold: int = 3,
    band_bits: int = 16,
    shingle_size: int = 3,
) -> DataFrame:
    """Near-dup removal on SimHash: drop every row that has a lower-id
    row within ``hamming_threshold`` (see
    :func:`simhash_candidate_pairs` for the banding argument).

    ``shingle_size`` is threaded through to :func:`simhash` so candidate
    generation always aligns with signatures computed at the same shingle
    size."""
    pairs = simhash_candidate_pairs(
        df, text_col, id_col, hamming_threshold, band_bits, shingle_size
    )
    dups = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(dups, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact verification path)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥
    threshold. The shingle self-join is quadratic in bucket size — run on
    LSH candidates at scale; it exists as the exact oracle-checkable
    verifier.
    """
    sh = df.select(
        F.col(id_col).alias("id"), _shingles(F.col(text_col), n).alias("sh")
    ).withColumn("sz", F.size("sh"))
    exploded = sh.select("id", "sz", F.explode("sh").alias("g"))
    a, b = exploded.alias("a"), exploded.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        inter.filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


def ngram_jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    materialize_pairs: bool = True,
    shingles: Optional[DataFrame] = None,
) -> DataFrame:
    """Exact n-gram Jaccard for a GIVEN candidate pair set — the
    scale-safe composition (candidates from
    :func:`minhash_candidate_pairs` / :func:`simhash_candidate_pairs`,
    exact verify here).

    ``pairs`` must have columns (id_a, id_b). Cost is two equi-joins on
    doc id plus an ``array_intersect`` per candidate pair — linear in
    candidates, independent of corpus pair count. Returns
    (id_a, id_b, jaccard) for candidates with jaccard ≥ threshold.

    Shingling (the expensive part: interpreted higher-order transforms
    per document) runs only on documents that appear in ``pairs`` — a
    semi-join prefilter keeps verify cost candidates-proportional
    instead of corpus-proportional. Pass a materialized
    :func:`_shingle_frame` via ``shingles`` to skip re-shingling
    entirely and just semi-join the precomputed arrays down to the
    candidate ids (what :func:`minhash_verified_dedup` does).

    The plan references ``pairs`` twice (id prefilter + the pair join),
    and Spark recomputes a subtree per reference — for LSH-generated
    candidates that would re-run the whole signature pipeline. Since the
    candidate set is bounded by construction, ``materialize_pairs``
    (default) snapshots it once with a LAZY ``localCheckpoint``
    (measured 2× end-to-end on the sf0.1 verified-dedup pipeline vs no
    materialization; round-18 made it lazy — the persisted RDD still
    computes once and the lineage cut still holds, but the
    materialization job barrier disappears into the final action). Pass
    ``False`` to keep the plan fully lazy (e.g. for plan inspection).
    """
    if materialize_pairs:
        pairs = pairs.localCheckpoint(eager=False)
    pair_ids = pairs.select(
        F.explode(F.array("id_a", "id_b")).alias("__pid")
    ).distinct()
    if shingles is not None:
        sh = shingles.join(
            pair_ids, shingles[id_col] == pair_ids["__pid"], "left_semi"
        ).select(F.col(id_col).alias("__id"), F.col("__sh"))
    else:
        needed = df.join(
            pair_ids, df[id_col] == pair_ids["__pid"], "left_semi"
        )
        sh = needed.select(
            F.col(id_col).alias("__id"),
            _shingles(F.col(text_col), n).alias("__sh"),
        )
    sh = sh.withColumn("__sz", F.size("__sh"))
    a = sh.select(
        F.col("__id").alias("id_a"),
        F.col("__sh").alias("__sh_a"),
        F.col("__sz").alias("__sz_a"),
    )
    b = sh.select(
        F.col("__id").alias("id_b"),
        F.col("__sh").alias("__sh_b"),
        F.col("__sz").alias("__sz_b"),
    )
    joined = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    jac = inter / (F.col("__sz_a") + F.col("__sz_b") - inter)
    return joined.filter(jac >= threshold).select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# Connected-components dedup clustering
# ---------------------------------------------------------------------------


def _cc_star(sym: DataFrame, max_iterations: int) -> DataFrame:
    """Alternating large-star/small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) over a
    symmetrized edge frame ``(s, d)``. O(log^2 n) rounds regardless of
    component diameter — the scale path for adversarial chain-shaped
    graphs where min-label propagation needs O(diameter) rounds. Each
    round is two groupBy-mins + equi-joins shuffled on node id (the
    same primitive as the default algorithm), checkpointed to cut
    lineage. Returns ``(node, component)``."""
    # canonical undirected pair set (lo < hi), the loop invariant
    e = (
        sym.filter(F.col("s") != F.col("d"))
        .select(
            F.greatest("s", "d").alias("u"), F.least("s", "d").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        # large-star: every node u connects its LARGER neighbors to the
        # minimum of its closed neighborhood
        full = e.select("u", "v").unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = full.groupBy("u").agg(F.min("v").alias("mn")).select(
            "u", F.least("mn", "u").alias("m")
        )
        ls = (
            full.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("s"), F.col("m").alias("d"))
            .filter(F.col("s") != F.col("d"))
            .distinct()
        )
        # small-star: orient larger->smaller, then hang every smaller
        # neighbor (and u itself) off the minimum
        orient = (
            ls.select(
                F.greatest("s", "d").alias("u"), F.least("s", "d").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        mins2 = orient.groupBy("u").agg(F.min("v").alias("m"))
        joined = orient.join(mins2, "u")
        ss = (
            joined.select(F.col("v").alias("u2"), F.col("m").alias("v2"))
            .unionByName(
                mins2.select(F.col("u").alias("u2"), F.col("m").alias("v2"))
            )
            .filter(F.col("u2") != F.col("v2"))
            .select(
                F.greatest("u2", "v2").alias("u"), F.least("u2", "v2").alias("v")
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        # fixed point: the canonical pair set stopped changing — both
        # sides are distinct sets, so the symmetric difference is the
        # union of the two anti-joins, checked in ONE Spark job (was
        # two exceptAll().isEmpty() jobs per round)
        changed = not (
            ss.join(e, ["u", "v"], "left_anti")
            .unionByName(e.join(ss, ["u", "v"], "left_anti"))
            .isEmpty()
        )
        e = ss
        if not changed:
            break
    else:
        raise RuntimeError(
            f"connected_components(algorithm='star') did not converge in "
            f"{max_iterations} rounds — at O(log^2 n) rounds this indicates "
            "a bug or a truly enormous graph; raise max_iterations"
        )
    # converged edge set is a star per component: u -> component min
    labels = (
        e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .unionByName(
            e.select(F.col("v").alias("node"), F.col("v").alias("component"))
        )
        .distinct()
    )
    # nodes whose only edges were self-loops never enter the star set
    # but must still label themselves (parity with label-propagation)
    nodes = (
        sym.select(F.col("s").alias("node"))
        .unionByName(sym.select(F.col("d").alias("node")))
        .distinct()
    )
    loners = nodes.join(labels, "node", "left_anti").select(
        "node", F.col("node").alias("component")
    )
    return labels.unionByName(loners)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 25,
    algorithm: str = "label-propagation",
) -> DataFrame:
    """Connected components over an undirected edge list — the
    transitive-closure step that turns pairwise near-dup matches into
    dedup CLUSTERS. Pair-at-a-time dedup (drop id_b of every pair) is
    order-dependent and can over-drop chains (A~B, B~C drops both B and
    C even though A≁C); component labels give the principled semantics:
    one survivor per cluster, every member attributable to it.

    Implementation — ``algorithm='label-propagation'`` (default):
    iterative min-label propagation as DataFrame joins. Each round
    every node takes the minimum label among itself and its neighbors;
    rounds repeat until a fixed point. Per round: one equi-join
    edges⋈labels + one partial-aggregated min — all shuffles on the
    node id, nothing quadratic, no driver-side graph. Labels are
    ``localCheckpoint``-ed each round to cut lineage (the plan would
    otherwise double per iteration). Convergence needs
    O(component diameter) rounds; near-dup clusters are shallow (dups
    of a common source), so 3-5 rounds is typical.

    ``algorithm='star'``: alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce", SoCC'14) —
    same join primitives, O(log^2 n) rounds independent of diameter.
    The scale escape hatch for adversarial chain-shaped graphs (a
    60-node chain converges in ~6 star rounds where min-label needs
    59); slightly more work per round, so the default stays min-label
    for the shallow clusters near-dup dedup actually produces.

    Returns ``(node, component)`` where ``component`` is the minimum
    node id in the component. Raises after ``max_iterations`` rounds
    without convergence rather than returning partial labels.
    """
    if algorithm not in ("label-propagation", "star"):
        raise ValueError(
            f"algorithm must be 'label-propagation' or 'star', got {algorithm!r}"
        )
    sym = edges.select(
        F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d")
    )
    if algorithm == "star":
        return _cc_star(sym, max_iterations)
    # LAZY checkpoints (round 19, was eager): an eager checkpoint runs a
    # full materialization job per frame, and the loop then runs the
    # convergence probe as a SECOND full pass over the same data. With
    # eager=False the lineage is cut all the same (the plan would
    # otherwise double per iteration), but the partitions the probe
    # computes are cached as the checkpoint blocks as they run;
    # checkpoint completion (Spark's post-action doCheckpoint) then
    # computes only the partitions the probe's take(1) did NOT reach —
    # so each iteration's data is computed exactly once (probe +
    # top-up) instead of twice (materialize + full probe). Measured:
    # 30 -> 26 Spark jobs, 2.87 -> 2.29 s on the q63 gate.
    adj = sym.unionByName(
        sym.select(F.col("d").alias("s"), F.col("s").alias("d"))
    ).localCheckpoint(eager=False)
    labels = (
        adj.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iterations):
        nbr_min = (
            adj.join(labels, adj["s"] == labels["node"])
            .groupBy(F.col("d").alias("node"))
            .agg(F.min("label").alias("nbr_min"))
        )
        stepped = labels.join(nbr_min, "node", "left").select(
            "node",
            F.col("label"),
            F.least(F.col("label"), F.coalesce("nbr_min", "label")).alias(
                "new_label"
            ),
        )
        stepped = stepped.localCheckpoint(eager=False)
        if stepped.filter(F.col("new_label") < F.col("label")).isEmpty():
            return stepped.select("node", F.col("label").alias("component"))
        labels = stepped.select("node", F.col("new_label").alias("label"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds; "
        "the graph has a component with diameter > max_iterations — raise "
        "max_iterations or use large-star/small-star rounds for long chains"
    )


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    n_hashes: int = 64,
    bands: int = 32,
) -> DataFrame:
    """Cluster-labelled near-dup frame: LSH candidates → exact Jaccard
    verify → connected components. Returns ``(id_col, component,
    cluster_size)`` for every document in a cluster of size ≥ 2 —
    the survivor is ``id == component`` (minimum id), everything else
    its attributed duplicates. Documents with no near-dup don't appear.

    The scale shape is candidates-proportional end-to-end: candidate
    generation never leaves band buckets, verify touches only
    candidates, and the component loop shuffles (node, label) pairs —
    bounded by the number of matched documents, not the corpus.
    """
    # shingle ONCE and share between candidate generation and verify —
    # the same lazy-checkpoint pattern (and rationale) as
    # :func:`minhash_verified_dedup`
    sh = _shingle_frame(df, text_col, id_col, n).localCheckpoint(eager=False)
    cands = minhash_candidate_pairs(
        df, text_col, id_col, n_hashes=n_hashes, bands=bands,
        shingle_size=n, shingles=sh,
    )
    verified = ngram_jaccard_verify(
        df, cands, text_col=text_col, id_col=id_col, n=n, threshold=threshold,
        shingles=sh,
    )
    cc = connected_components(verified)
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return cc.join(sizes, "component").select(
        F.col("node").alias(id_col),
        "component",
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination + incremental (store-backed) dedup
# ---------------------------------------------------------------------------


def contaminated_docs(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents that share at
    least one word ``n``-gram with an evaluation/benchmark set (the
    GPT-3 appendix-C / PaLM overlap rule, word-gram variant).

    Returns ``(id_col, n_gram_hits)`` — one row per contaminated corpus
    document with the count of DISTINCT eval n-grams it contains.

    Scale shape: the eval set is tiny (MBs of benchmark text) against a
    100 TB corpus, so its distinct-gram frame is **broadcast** — the
    corpus side never shuffles for the join; shingling and the hash
    probe are map-side, and the only corpus-keyed shuffle is the final
    per-document count (partial-aggregated). The corpus explode is
    bounded by tokens-per-doc, the same cost class as tokenization.
    """
    eval_grams = (
        eval_df.select(F.explode(_shingles(F.col(text_col), n)).alias("__gram"))
        .distinct()
    )
    corpus_grams = _spread(corpus, id_col).select(
        F.col(id_col), F.explode(_shingles(F.col(text_col), n)).alias("__gram")
    )
    return (
        corpus_grams.join(F.broadcast(eval_grams), "__gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_gram_hits"))
    )


def dedup_against_store(
    batch: DataFrame,
    store: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    store_col: str = "fingerprint",
    extra_stores: Sequence[DataFrame] = (),
) -> DataFrame:
    """Incremental exact dedup: drop batch documents whose normalized-md5
    fingerprint already exists in a historical fingerprint ``store``
    (one ``store_col`` string column), then keep one survivor per
    remaining duplicate group — the pattern for continuously-ingested
    corpora where re-scanning 100 TB of already-accepted text per batch
    is not an option.

    Returns the surviving batch rows plus their ``fingerprint``.

    ``extra_stores``: additional fingerprint frames the batch is
    anti-joined against IN SEQUENCE (set subtraction composes). Keeping
    them separate instead of unioning into ``store`` preserves each
    side's physical properties — the base/delta split of the bucketed
    persistent store (io/bucketing) passes the immutable sorted base as
    ``store`` (exchange- AND sort-elided) and the small append delta
    here (its join is O(delta)); a union would collapse both into one
    unpartitioned, unsorted input and resurrect the O(store) sort.

    Scale shape: the store carries 16-byte digests, not text — ~2 TB of
    state per trillion documents, fully shuffle-joinable. The anti-join
    shuffles on the fingerprint key; persisting the store bucketed by
    fingerprint (io/bucketing.ensure_fingerprint_store) makes
    incremental runs shuffle ONLY the new batch — the store side is
    co-located by construction, and its sorted one-file-per-bucket base
    needs no per-batch sort either. In-batch survivor choice is the
    same single hash shuffle as :func:`dedup_exact`.
    """
    keyed = with_fingerprint(batch, text_col)
    fresh = keyed.join(
        store.select(F.col(store_col).alias("fingerprint")),
        "fingerprint",
        "left_anti",
    )
    for s in extra_stores:
        fresh = fresh.join(
            s.select(F.col(store_col).alias("fingerprint")),
            "fingerprint",
            "left_anti",
        )
    w = Window.partitionBy("fingerprint").orderBy(F.col(id_col).asc())
    return (
        fresh.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def duplicated_ngram_spans(
    docs: DataFrame,
    n: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_pattern: str = "[a-z0-9]+",
) -> DataFrame:
    """Exact-substring duplication spans — the ExactSubstr method of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better"), re-expressed relationally: a token window of
    length ``n`` that appears at least ``min_count`` times ACROSS THE
    CORPUS (self-repeats within one document count — boilerplate
    headers repeat inside crawls too) marks its span duplicated, and
    overlapping duplicated windows merge into maximal spans.

    Returns one row per (document, span): ``id_col``, ``span_start``
    (0-based token index), ``span_len`` (tokens), plus the document's
    ``n_tokens`` — the shape both :func:`remove_duplicated_spans` and
    a coverage report consume. Documents with no duplicated window
    produce no rows.

    Scale shape (the reference method is a suffix array over the
    concatenated corpus — inherently single-machine): here the window
    explode is bounded by tokens-per-doc (the same cost class as
    tokenization, embarrassingly parallel), and the corpus-sized cost
    is ONE Exchange on the window hash carrying the full exploded
    window set (≈ corpus token count) into a count-over-window — NOT
    map-side partial-aggregated; the trade, deliberately taken, is
    that the expensive window/md5 explode appears exactly ONCE in the
    plan (a groupBy+semi-join would partial-aggregate the count but
    recompute the explode subtree on the join's probe side). The span
    merge after the filter is a per-document sort inside one window
    function — gaps-and-islands, no driver loop, no all-pairs
    anywhere. Windows are keyed by md5 of the window TEXT, not a
    rolling hash: no collision step needed. Skew note: a single
    pathological window text repeated across the corpus lands its
    copies in one ``__h`` partition; the 10×/100× salted-copy anchor
    in BASELINE.md measures exactly that worst case.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    # _spread: a single small parquet file scans as ONE partition and
    # would serialize the per-document window/md5 HOFs on one core —
    # the same fix every other interpreted map stage in this module
    # carries (see _shingle_frame)
    toks = _spread(docs, id_col).select(
        F.col(id_col),
        # Column args (not an interpolated expr string) so a pattern
        # containing a quote cannot alter the SQL
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(token_pattern), F.lit(0)
        ).alias("__ws"),
    )
    wins = toks.select(
        id_col,
        F.size("__ws").alias("n_tokens"),
        # short-doc guard: sequence(1, 0) is the DESCENDING [1, 0] in
        # Spark (see text.py's note on the same trap), so a document
        # with fewer than n tokens would evaluate slice(__ws, 0, n) and
        # raise (SQL array indices start at 1). Explicit empty array ->
        # posexplode drops the row, which is the correct semantics: a
        # short doc has no length-n window.
        F.posexplode(
            F.expr(
                f"if(size(__ws) < {n}, array(),"
                f" transform(sequence(1, size(__ws) - {n} + 1),"
                f" i -> md5(concat_ws(' ', slice(__ws, i, {n})))))"
            )
        ).alias("__start", "__h"),
    )
    # count-over-window instead of groupBy+self-join: the expensive
    # window/md5 explode is referenced ONCE (Spark recomputes a plan
    # subtree per reference — a self-join would run it twice) and the
    # corpus-sized work is a single Exchange on the window hash
    w_h = Window.partitionBy("__h")
    dup_wins = (
        wins.withColumn("__cnt", F.count(F.lit(1)).over(w_h))
        .filter(F.col("__cnt") >= min_count)
        .select(id_col, "n_tokens", "__start")
    )
    # gaps-and-islands: consecutive duplicated windows whose starts are
    # within n of each other overlap -> one span. __start is 0-based
    # (posexplode index), window end token = start + n - 1.
    w_ord = Window.partitionBy(id_col).orderBy("__start")
    spans = (
        dup_wins.withColumn("__prev", F.lag("__start").over(w_ord))
        .withColumn(
            "__new_island",
            (F.col("__prev").isNull() | (F.col("__start") > F.col("__prev") + n - 1)).cast("int"),
        )
        .withColumn(
            "__island",
            F.sum("__new_island").over(
                w_ord.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy(id_col, "n_tokens", "__island")
        .agg(
            F.min("__start").alias("span_start"),
            (F.max("__start") + n - F.min("__start")).alias("span_len"),
        )
        .select(
            id_col,
            "n_tokens",
            F.col("span_start").cast("bigint").alias("span_start"),
            F.col("span_len").cast("bigint").alias("span_len"),
        )
    )
    return spans


def remove_duplicated_spans(
    docs: DataFrame,
    n: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_pattern: str = "[a-z0-9]+",
    preserve_whitespace: bool = False,
) -> DataFrame:
    """Apply :func:`duplicated_ngram_spans`: every document comes back
    with its duplicated spans dropped — ``kept_text`` (the surviving
    tokens re-joined with single spaces; token-level surgery cannot
    preserve the original inter-token whitespace, the same contract as
    the reference method's token-stream output), ``n_tokens``,
    ``dup_tokens`` (tokens removed), and ``n_spans``. Documents with
    no duplicated window pass through whole. One extra shuffle over
    the span op: the spans aggregate back onto their documents
    (doc-keyed, partial-aggregated).

    ``preserve_whitespace=True`` is the surgery-without-canonicalization
    variant: token spans are mapped back through CHARACTER offsets
    (``re.finditer`` of ``token_pattern`` over the lowercased text in
    an Arrow-batched pandas UDF — regex match OFFSETS are not
    expressible in Spark SQL, so this one stage is Python by
    necessity), and ``kept_text`` is the ORIGINAL text minus exactly
    the span characters: case, punctuation, and whitespace outside the
    spans survive untouched. Each cut extends to the NEXT surviving
    token's start (a doc-final span extends back to the previous
    token's end), consuming the one inter-token gap the token-stream
    path implicitly drops — so on already-canonical input (lowercase,
    single-space-joined tokens) the two paths are EQUAL, pinned in
    tests. Caveats, documented not hidden: ``token_pattern`` must
    tokenize identically under Java and Python regex (true for
    character-class patterns; span indices past the Python token list
    are clamped), and a document whose ``lower()`` changes its length
    (rare Unicode case mappings) gets the lowercased text as its
    surgery base — offsets stay exact, case fidelity degrades for that
    document only."""
    spans = duplicated_ngram_spans(
        docs, n=n, min_count=min_count, text_col=text_col,
        id_col=id_col, token_pattern=token_pattern,
    )
    per_doc = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_len").alias("dup_tokens"),
        # half-open [start, end) pairs, compact for the filter below
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"),
                (F.col("span_start") + F.col("span_len")).alias("e"),
            )
        ).alias("__spans"),
    )
    toks = _spread(docs, id_col).select(
        F.col(id_col),
        *([F.col(text_col)] if preserve_whitespace else []),
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(token_pattern), F.lit(0)
        ).alias("__ws"),
    )
    joined = toks.join(per_doc, id_col, "left")
    if preserve_whitespace:
        from pyspark.sql.functions import pandas_udf

        pat = token_pattern

        # no parameter annotations: `from __future__ import annotations`
        # stringifies them and pandas_udf rejects the string form
        @pandas_udf("string")
        def _char_surgery(text_s, spans_s):
            import re

            import pandas as pd

            rx = re.compile(pat)
            out = []
            for text, spans in zip(text_s, spans_s):
                if text is None:
                    out.append(None)
                    continue
                if spans is None or len(spans) == 0:
                    out.append(text)
                    continue
                low = text.lower()
                # a length-changing lower() (rare Unicode mappings)
                # would misalign offsets against the original — degrade
                # to the lowercased base for that document only
                base = text if len(low) == len(text) else low
                ms = list(rx.finditer(low))
                cuts = []
                for sp in sorted(
                    (int(s["s"]), int(s["e"])) for s in spans
                ):
                    s_i, e_i = sp
                    if s_i >= len(ms):
                        continue  # Java/Python token-count drift: clamp
                    e_i = min(e_i, len(ms))
                    if e_i < len(ms):
                        # cut through the next kept token's start —
                        # consumes the one gap the token path drops
                        c0, c1 = ms[s_i].start(), ms[e_i].start()
                    else:
                        # doc-final span: consume the LEADING gap back
                        # to the previous token's end instead
                        c0 = ms[s_i - 1].end() if s_i > 0 else 0
                        c1 = len(base)
                    cuts.append((c0, c1))
                res, pos = [], 0
                for c0, c1 in cuts:
                    if c0 > pos:
                        res.append(base[pos:c0])
                    pos = max(pos, c1)
                res.append(base[pos:])
                out.append("".join(res))
            return pd.Series(out)

        return joined.select(
            id_col,
            F.size("__ws").cast("bigint").alias("n_tokens"),
            F.coalesce(F.col("n_spans"), F.lit(0))
            .cast("bigint")
            .alias("n_spans"),
            F.coalesce(F.col("dup_tokens"), F.lit(0))
            .cast("bigint")
            .alias("dup_tokens"),
            _char_surgery(F.col(text_col), F.col("__spans")).alias(
                "kept_text"
            ),
        )
    # keep token i unless some span covers it; spans-per-doc is small
    # (merged, disjoint), so the HOF scan is O(tokens x spans) with a
    # tiny constant — still map-side, no extra shuffle
    return joined.select(
        id_col,
        F.size("__ws").cast("bigint").alias("n_tokens"),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias("n_spans"),
        F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("bigint").alias("dup_tokens"),
        F.when(F.col("__spans").isNull(), F.concat_ws(" ", F.col("__ws")))
        .otherwise(
            F.concat_ws(
                " ",
                F.filter(
                    F.transform(
                        F.col("__ws"),
                        lambda t, i: F.when(
                            F.exists(
                                F.col("__spans"),
                                lambda sp: (i >= sp["s"]) & (i < sp["e"]),
                            ),
                            F.lit(None).cast("string"),
                        ).otherwise(t),
                    ),
                    lambda t: t.isNotNull(),
                ),
            )
        )
        .alias("kept_text"),
    )
