"""Text-analysis operators for training-data pipelines.

All pure built-in expressions (whole-stage codegen, no Python in the hot
path): token counting, quality scoring, language-ID heuristic, document
fingerprinting. Each returns the input DataFrame with added columns, so
operators compose and Catalyst can prune/pushdown across them.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_WS = r"\s+"


def _tokens(col):
    # split on whitespace; empty string -> empty array (split('') yields [''])
    trimmed = F.trim(F.col(col) if isinstance(col, str) else col)
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, _WS)
    )


def with_token_count(df: DataFrame, col: str = "text", out: str = "n_tokens") -> DataFrame:
    """Whitespace token count (the BPE-ish regex variant is
    ``with_text_stats``'s ``n_words``)."""
    return df.withColumn(out, F.size(_tokens(col)).cast("bigint"))


def with_text_stats(df: DataFrame, col: str = "text") -> DataFrame:
    """Quality-scoring signals: length, token count, word count via a
    BPE-ish word regex, punctuation/whitespace/digit ratios, mean token
    length. One projection, all codegen'd."""
    c = F.col(col)
    length = F.length(c)
    n_tokens = F.size(_tokens(col))
    stripped_punct = F.regexp_replace(c, r"[^\w\s]", "")
    stripped_ws = F.regexp_replace(c, r"\s", "")
    stripped_digit = F.regexp_replace(c, r"[0-9]", "")
    return (
        df.withColumn("n_chars_calc", length.cast("bigint"))
        .withColumn("n_tokens", n_tokens.cast("bigint"))
        .withColumn(
            "n_words",
            F.size(F.regexp_extract_all(c, F.lit(r"[A-Za-z]+(?:'[A-Za-z]+)?"), 0)).cast(
                "bigint"
            ),
        )
        .withColumn(
            "punct_ratio",
            F.round((length - F.length(stripped_punct)) / F.greatest(length, F.lit(1)), 6),
        )
        .withColumn(
            "ws_ratio",
            F.round((length - F.length(stripped_ws)) / F.greatest(length, F.lit(1)), 6),
        )
        .withColumn(
            "digit_ratio",
            F.round((length - F.length(stripped_digit)) / F.greatest(length, F.lit(1)), 6),
        )
        .withColumn(
            "mean_token_len",
            F.round(
                F.length(stripped_ws) / F.greatest(n_tokens, F.lit(1)), 6
            ),
        )
    )


# Stopword markers per language — a tiny deterministic n-gram heuristic.
# Real pipelines plug in fastText/CLD3 here; the Spark-side shape (scored
# CASE cascade over codegen'd regexp counts) is what scales.
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "los", "que", "de"],
    "de": ["der", "die", "und", "das", "nicht"],
    "fr": ["le", "les", "des", "et", "est"],
}


def with_lang_id(df: DataFrame, col: str = "text", out: str = "lang_pred") -> DataFrame:
    """Language-ID heuristic: CJK codepoint share → zh; otherwise the
    language whose stopword set matches the most tokens (ties broken by
    fixed language order en>es>de>fr; none matched → 'und')."""
    c = F.col(col)
    cjk = F.length(F.regexp_replace(c, r"[^一-鿿]", ""))
    scores = {
        lang: sum(
            (F.regexp_count(c, F.lit(rf"(?i)\b{w}\b")) for w in words),
            F.lit(0),
        )
        for lang, words in _LANG_MARKERS.items()
    }
    best = F.lit("und")
    best_score = F.lit(0)
    for lang in ("fr", "de", "es", "en"):  # reverse priority; later wins ties ≥
        s = scores[lang]
        best = F.when(s >= F.greatest(best_score, F.lit(1)), F.lit(lang)).otherwise(best)
        best_score = F.greatest(best_score, s)
    pred = F.when(cjk * 2 >= F.greatest(F.length(c), F.lit(1)), F.lit("zh")).otherwise(best)
    return df.withColumn(out, pred)


def with_quality_rules(
    df: DataFrame,
    col: str = "text",
    max_dup_line_frac: float = 0.30,
    max_symbol_word_ratio: float = 0.10,
    max_bullet_line_frac: float = 0.90,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
) -> DataFrame:
    """Gopher/C4-style repetition + formatting quality gates.

    Adds the rule signals large-scale training-data pipelines filter on
    (Rae et al. 2021 "Scaling Language Models" §A1.1; Raffel et al. 2020
    C4 heuristics) and a composite ``quality_pass`` flag:

    - ``dup_line_frac``   — 1 - distinct/total over non-blank lines (the
      strongest boilerplate signal: nav bars, cookie banners repeat).
    - ``bullet_line_frac`` — share of non-blank lines starting with a
      bullet marker (``-``, ``*``, ``•``).
    - ``ellipsis_line_frac`` — share of non-blank lines ending in ``...``
      or ``…`` (truncated scrapes).
    - ``symbol_word_ratio`` — ``#``/``…`` symbols per word.
    - ``mean_word_len``   — mean alphabetic-word length (gibberish and
      minified blobs fall outside [2, 12]).

    Every signal is a pure built-in array/regex expression — one
    codegen'd projection, no Python, no shuffle; the flag is a plain
    boolean conjunction so Catalyst can push ``filter(quality_pass)``
    straight into the scan's row-group pruning at 100 TB.
    """
    c = F.col(col)
    lines = F.filter(
        F.split(c, "\n"), lambda x: F.length(F.trim(x)) > 0
    )
    n_lines = F.size(lines)
    safe_lines = F.greatest(n_lines, F.lit(1))
    n_distinct = F.size(F.array_distinct(F.transform(lines, F.trim)))
    n_bullet = F.size(
        F.filter(lines, lambda x: F.trim(x).rlike(r"^[-*•]"))
    )
    n_ellipsis = F.size(
        F.filter(lines, lambda x: F.rtrim(x).rlike(r"(\.\.\.|…)$"))
    )
    words = F.regexp_extract_all(c, F.lit(r"[A-Za-z]+"), 0)
    n_words = F.size(words)
    safe_words = F.greatest(n_words, F.lit(1))
    word_chars = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    n_symbols = F.length(F.regexp_replace(c, r"[^#…]", ""))
    dup_line_frac = F.round(
        (n_lines - n_distinct) / safe_lines, 6
    )
    bullet_line_frac = F.round(n_bullet / safe_lines, 6)
    ellipsis_line_frac = F.round(n_ellipsis / safe_lines, 6)
    symbol_word_ratio = F.round(n_symbols / safe_words, 6)
    mean_word_len = F.round(word_chars / safe_words, 6)
    out = (
        df.withColumn("dup_line_frac", dup_line_frac)
        .withColumn("bullet_line_frac", bullet_line_frac)
        .withColumn("ellipsis_line_frac", ellipsis_line_frac)
        .withColumn("symbol_word_ratio", symbol_word_ratio)
        .withColumn("mean_word_len", mean_word_len)
    )
    return out.withColumn(
        "quality_pass",
        (F.col("dup_line_frac") <= max_dup_line_frac)
        & (F.col("symbol_word_ratio") <= max_symbol_word_ratio)
        & (F.col("bullet_line_frac") <= max_bullet_line_frac)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len),
    )


def with_fingerprint(df: DataFrame, col: str = "text", out: str = "fingerprint") -> DataFrame:
    """Deterministic document fingerprint: md5 hex of the
    whitespace-normalized, lowercased text. Engine-portable (md5 exists in
    every SQL dialect) — used as the exact-dedup key."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(col)), _WS, " "))
    return df.withColumn(out, F.md5(norm))


def repetition_stats(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
) -> DataFrame:
    """Within-document n-gram repetition — the Gopher "fraction in the
    most common n-gram" signal (Rae et al. 2021 §A1.1) that catches
    keyword-stuffed and template-generated text the line-level rules in
    :func:`with_quality_rules` miss (repeated PHRASES on one line).

    Returns ``(id_col, n_ngrams, top_ngram_frac)`` per document with at
    least one word n-gram: ``top_ngram_frac`` = occurrences of the most
    frequent lowercase word n-gram / total n-gram occurrences.

    Two partial-aggregated shuffles, both keyed on the document id
    ((doc, gram) counts, then the per-doc max/total) — per-doc group
    sizes are bounded by document length, so no key is ever hot at
    100 TB regardless of corpus-wide gram skew (contrast a corpus-wide
    gram count, which would hot-key on "of the").
    """
    words = F.regexp_extract_all(F.lower(F.col(col)), F.lit("[a-z]+"), 0)
    grams = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - F.lit(n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(words, i + F.lit(k)) for k in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    from vinum_spark.operators.dedup import _spread

    # spread before the interpreted-HOF gram build: a single parquet
    # file scans as one partition and would serialize it on one core
    exploded = _spread(df, id_col).select(
        F.col(id_col), F.explode(grams).alias("__g")
    )
    per_gram = exploded.groupBy(id_col, "__g").agg(
        F.count(F.lit(1)).alias("__c")
    )
    return per_gram.groupBy(id_col).agg(
        F.sum("__c").cast("bigint").alias("n_ngrams"),
        F.round(F.max("__c") / F.sum("__c"), 6).alias("top_ngram_frac"),
    )


def vocab_topk(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    salt_buckets: int = 32,
) -> DataFrame:
    """Corpus-wide vocabulary top-k: the ``k`` most frequent lowercase
    word tokens with occurrence and document-frequency counts — the
    vocabulary/stopword planning query behind tokenizer training and
    quality-rule threshold tuning.

    This is the canonical HOT-KEY aggregation ("the" appears in nearly
    every row), so occurrence counting goes through the salted
    two-phase path (operators/skew.py salted_count): phase 1 spreads
    each token over ``salt_buckets`` reducers, phase 2 merges partials
    — no single reducer ever sees a full token's volume. Document
    frequency dedups (token, doc) pairs first (the pair shuffle is
    spread by doc id), then partial-counts per token. The final top-k
    is a TakeOrderedAndProject — per-partition heaps, never a global
    sort. Ties at the boundary break by token text, so the result is a
    total deterministic order in every engine.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(col)), F.lit("[a-z]+"), 0)
        ).alias("token"),
    )
    from vinum_spark.operators.skew import salted_count

    occ = salted_count(toks, ["token"], salt_buckets=salt_buckets)
    docs = (
        toks.distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    return (
        occ.join(docs, "token")
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(k)
        .select("token", F.col("n").alias("n_occurrences"), "n_docs")
    )


# Patterns restricted to the RE2-compatible subset (no lookaround, no
# backreferences) so the DuckDB/Trino oracle computes the identical
# redaction — portability is part of the operator contract, like the
# md5 fingerprints. Dict order IS the match-priority order: each
# category is counted and redacted on the text with all EARLIER
# categories already replaced, so a span can only ever belong to one
# category. ipv4 outranks phone because the phone pattern also matches
# dotted IPs with 3-digit octets (192.168.100.1) — with ipv4 first,
# such spans are counted and redacted as <IPV4>, never double-counted.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "phone": r"\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ]?[0-9]{0,4}",
}


def with_pii_redacted(
    df: DataFrame, col: str = "text", out: str = "text_redacted"
) -> DataFrame:
    """Scrub emails / IPv4 addresses / phone numbers, replacing each
    with a typed placeholder (``<EMAIL>``, ``<IPV4>``, ``<PHONE>``), and
    count matches per category (``n_email``/``n_ipv4``/``n_phone``).

    Pure chained ``regexp_replace`` / ``regexp_count`` — codegen'd,
    zero Python, zero shuffle; at 100 TB this runs at scan speed as one
    projection. Categories are processed in ``PII_PATTERNS`` priority
    order and each count runs on the text with earlier categories
    already redacted, so every character span is counted exactly once
    (an IP is never also a phone; an email's digits are never a phone
    fragment).
    """
    red = F.col(col)
    for kind, pat in PII_PATTERNS.items():
        df = df.withColumn(f"n_{kind}", F.regexp_count(red, F.lit(pat)).cast("bigint"))
        red = F.regexp_replace(red, pat, f"<{kind.upper()}>")
    return df.withColumn(out, red)


def winnowing_fingerprints(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    window: int = 4,
    max_doc_freq: Optional[int] = None,
    out: str = "fingerprint",
) -> DataFrame:
    """Rolling-hash document fingerprints via winnowing (Schleimer,
    Wilkerson & Aiken, SIGMOD'03 — the MOSS algorithm): hash every
    character ``k``-gram of the normalized text, slide a window of
    ``window`` consecutive gram hashes, and select the minimum hash of
    each window. The selected set is a position-robust fingerprint:
    any shared substring of length >= k + window - 1 between two
    documents is guaranteed to contribute at least one common
    fingerprint (the winnowing guarantee), so fingerprint overlap
    detects containment/near-duplication that bag-of-shingles MinHash
    can miss.

    Built entirely from map-side array expressions — ``sequence`` →
    ``transform(md5(substring))`` → windowed ``array_min(slice)`` →
    ``array_distinct`` → ``explode`` — so fingerprint extraction causes
    ZERO shuffles regardless of corpus size; the only shuffle in a
    downstream pairing join is the equi-join on the fingerprint itself.
    md5-hex is the gram hash: deterministic, engine-portable (DuckDB
    oracle computes the identical set), and ``array_min``'s
    lexicographic string order is total, so the window minimum is
    unambiguous in both engines.

    ``max_doc_freq`` drops fingerprints appearing in more than that many
    documents (template boilerplate / stop-gram suppression). At 100 TB
    this is the load-bearing bound: a hot fingerprint otherwise forms a
    quadratic bucket in the pairing join, exactly like a hot LSH band —
    the frequency cap bounds every bucket at ``max_doc_freq`` rows for
    one extra aggregate on the already-exploded frame.

    Returns a long frame ``(id_col, out)`` with one row per distinct
    selected fingerprint per document.
    """
    if k < 1 or window < 1:
        raise ValueError(f"k and window must be >= 1, got k={k} window={window}")
    # The gram hashing + windowing is CPU-bound interpreted-HOF work
    # (~300 md5 + window-min evals per doc); a single-file scan would
    # serialize it on one core (measured 17.3 s -> 1.7 s at sf0.1 with
    # the spread). Same pattern as dedup's shingle stage.
    from vinum_spark.operators.dedup import _spread

    df = _spread(df, id_col)
    # Materialize the normalized text in its OWN projection: inlined,
    # the lower/regexp_replace/trim tree is embedded at every reference
    # inside the gram-hash lambda and Catalyst's subexpression/codegen
    # analysis chews on the product — measured ~0.9 s of DRIVER-side
    # plan-compile per fresh plan at any data size (round-18; compile
    # 2.0 s -> 1.1 s with the split). CollapseProject keeps the
    # projection separate (non-cheap, multiply-referenced alias).
    df = df.select(
        F.col(id_col),
        F.lower(F.regexp_replace(F.trim(F.col(col)), _WS, " ")).alias("__norm"),
    )
    s = F.col("__norm")
    n_grams = F.length(s) - F.lit(k - 1)
    empty = F.array().cast("array<string>")
    hashes = F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda p: F.md5(F.substring(s, p, F.lit(k))),
        ),
    ).otherwise(empty)
    # Materialize the gram-hash array in its OWN projection before the
    # windowing pass references it (size + when-guard + per-window
    # slice). Inlined, the hash transform would re-execute per window
    # element — O(len^2) md5 calls per document (measured: minutes vs
    # sub-second on 500 docs). CollapseProject keeps the two projects
    # separate because the alias is non-cheap and multiply-referenced;
    # the executed plan carries exactly one md5 (pinned in
    # tests/test_operators.py::test_winnowing_plan_single_md5).
    hashed = df.select(F.col(id_col), hashes.alias("__winnow_hashes"))
    hcol = F.col("__winnow_hashes")
    n_windows = F.size(hcol) - F.lit(window - 1)
    fps = F.when(
        n_windows >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_windows),
                lambda i: F.array_min(F.slice(hcol, i, window)),
            )
        ),
    ).otherwise(empty)
    long = hashed.select(F.col(id_col), F.explode(fps).alias(out))
    if max_doc_freq is not None:
        # rows are distinct per (doc, fp) by construction, so count(*)
        # IS the document frequency; one partial-aggregated shuffle.
        # The df<=cap filter keeps MOST fingerprints, so `rare` is
        # corpus-proportional — force a shuffle join: Catalyst's
        # logical size estimate for an aggregate+filter can come out
        # under the broadcast threshold, and the resulting broadcast
        # build OOMs the driver at ~10x sf0.1 (observed; a real 100 TB
        # corpus would be hopeless). Both sides hash-shuffle on the
        # fingerprint they join on — the partition-parallel plan.
        rare = (
            long.groupBy(out)
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_doc_freq)
            .select(out)
        )
        long = long.join(rare.hint("shuffle_hash"), out)
    return long


def winnowing_shared_pairs(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    window: int = 4,
    max_doc_freq: Optional[int] = 10,
    min_shared: int = 5,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints —
    containment/near-dup candidates.

    One equi-join on the fingerprint (quadratic only within a
    fingerprint's bucket, which ``max_doc_freq`` bounds), then a
    partial-aggregated count per pair. The fingerprint frame is built
    once and checkpointed so both join sides share the scan (same
    pattern as dedup.py's shingle frame).

    Returns ``(id_a, id_b, n_shared)`` with ``id_a < id_b``.
    """
    fps = winnowing_fingerprints(
        df, col=col, id_col=id_col, k=k, window=window, max_doc_freq=max_doc_freq
    ).localCheckpoint(eager=False)
    a = fps.select(F.col(id_col).alias("id_a"), F.col("fingerprint"))
    b = fps.select(F.col(id_col).alias("id_b"), F.col("fingerprint"))
    return (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# ---------------------------------------------------------------------------
# Cross-document boilerplate removal (CCNet-style), corpus-LM quality
# scoring, and BM25 retrieval
# ---------------------------------------------------------------------------


def _segments(col, width: int):
    """Non-overlapping ``width``-word segments of ``col`` with their
    1-based position: array<struct<pos:int, seg:string>>. The unit of
    cross-document boilerplate counting — the analogue of CCNet's
    "line" for corpora whose documents carry no newlines.
    """
    tokens = _tokens(col)
    n_segs = F.ceil(F.size(tokens) / F.lit(width)).cast("int")
    return F.transform(
        F.sequence(F.lit(1), F.greatest(n_segs, F.lit(1))),
        lambda j: F.struct(
            j.alias("pos"),
            F.concat_ws(" ", F.slice(tokens, (j - 1) * width + 1, width)).alias("seg"),
        ),
    )


def remove_boilerplate(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    width: int = 4,
    max_doc_frac: float = 0.05,
    out: str = "clean_text",
) -> DataFrame:
    """CCNet-style cross-document boilerplate removal (Wenzek et al.
    2020): segments appearing in more than ``max_doc_frac`` of all
    documents are boilerplate (headers, navigation chrome, license
    blurbs); every occurrence is dropped and the survivors are
    reassembled in original order.

    Returns ``(id_col, out, n_segments, n_removed)`` — documents whose
    every segment was boilerplate keep an empty ``out``.

    Scale shape: two shuffles total. (1) segment → doc-frequency is a
    partial-aggregated count keyed by segment text; (2) reassembly
    groups by document id. The boilerplate SET (segments above the
    threshold) is bounded by ``avg_segments_per_doc / max_doc_frac``
    distinct entries (each must occur in > ``max_doc_frac * n_docs``
    documents, and there are only ``avg_segments_per_doc * n_docs``
    occurrences to spend) — thousands, not corpus-sized, for web-scale
    settings — and is **broadcast** to the anti-join, so the
    corpus-side membership probe is map-side. For very long documents
    with a tight threshold, check the bound before relying on the
    broadcast. No step is quadratic.
    """
    from vinum_spark.operators.dedup import _spread

    n_docs = df.count()  # one scalar job; the threshold needs the corpus size
    limit = int(max_doc_frac * n_docs)
    # Spread before the interpreted-HOF segmentation (a single parquet
    # file scans as ONE partition), and checkpoint: the segment frame
    # feeds BOTH the doc-frequency count and the anti-join/reassembly —
    # without the checkpoint the explode would run once per consumer.
    segs = (
        _spread(df, id_col)
        .select(F.col(id_col), F.explode(_segments(F.col(col), width)).alias("__s"))
        .select(id_col, F.col("__s.pos").alias("__pos"), F.col("__s.seg").alias("__seg"))
        .localCheckpoint(eager=False)
    )
    boiler = (
        segs.groupBy("__seg")
        .agg(F.count_distinct(F.col(id_col)).alias("__df"))
        .filter(F.col("__df") > limit)
        .select("__seg")
    )
    kept = segs.join(F.broadcast(boiler), "__seg", "left_anti")
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__seg"))),
                    lambda s: s["__seg"],
                ),
            ).alias(out),
            F.count(F.lit(1)).cast("bigint").alias("__kept"),
        )
    )
    # every document (including empty ones) has exactly max(__pos) rows
    # in segs, so totals come from the small checkpointed frame instead
    # of a third tokenize-the-corpus scan
    totals = segs.groupBy(id_col).agg(
        F.max("__pos").cast("bigint").alias("n_segments")
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col(out), F.lit("")).alias(out),
            "n_segments",
            (F.col("n_segments") - F.coalesce(F.col("__kept"), F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
        )
    )


def lm_quality_score(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    smoothing: float = 1.0,
    out: str = "lm_score",
) -> DataFrame:
    """Corpus character-bigram LM quality score — the cheap stand-in for
    the KenLM perplexity filter in CCNet/RedPajama pipelines: documents
    whose character transitions look unlike the corpus (mojibake,
    base64 blobs, keyboard mash) score low.

    ``out`` = mean over the document's char bigrams of
    ``ln P(c2 | c1)`` under the corpus model with add-``smoothing``
    Laplace estimates; higher = more corpus-typical. Documents shorter
    than 2 chars get no row.

    Scale shape: the MODEL is two tiny aggregations (distinct char
    bigrams of real text number in the low thousands — bounded by
    charset², not corpus size) and is **broadcast** to the scoring
    join, so scoring is map-side + one partial-aggregated mean keyed by
    document. Training the model over 100 TB is one partial-agg count
    per bigram — the same shape as a word count.
    """
    c = F.col(col)
    bigrams = F.transform(
        F.sequence(F.lit(1), F.length(c) - 1),
        lambda i: c.substr(i, F.lit(2)),
    )
    from vinum_spark.operators.dedup import _spread

    # Spread before the interpreted-HOF bigram explode (single-file scans
    # are one partition) and checkpoint: the bigram frame feeds the
    # model counts, the vocab scalar AND the scoring join — four
    # consumers, one materialization.
    pairs = (
        _spread(df.filter(F.length(c) >= 2), id_col)
        .select(F.col(id_col), F.explode(bigrams).alias("__bg"))
        .localCheckpoint(eager=False)
    )
    bg_counts = pairs.groupBy("__bg").agg(F.count(F.lit(1)).alias("__n_bg"))
    prefix_counts = (
        pairs.select(F.substring(F.col("__bg"), 1, 1).alias("__c1"))
        .groupBy("__c1")
        .agg(F.count(F.lit(1)).alias("__n_c1"))
    )
    # The smoothing denominator needs ONE corpus scalar (next-char vocab
    # size). Inlining it as a literal is the two-pass shape a 100 TB run
    # wants anyway (corpus statistics computed once, then broadcast into
    # the scoring expression) — and a 1-row frame joined keylessly would
    # plan as BroadcastNestedLoopJoin, which the CI plan guards ban.
    vocab_size = pairs.agg(
        F.count_distinct(F.substring(F.col("__bg"), 2, 1))
    ).collect()[0][0]
    model = (
        bg_counts.withColumn("__c1", F.substring(F.col("__bg"), 1, 1))
        .join(F.broadcast(prefix_counts), "__c1")
        .select(
            "__bg",
            F.log(
                (F.col("__n_bg") + F.lit(smoothing))
                / (F.col("__n_c1") + F.lit(smoothing) * F.lit(vocab_size))
            ).alias("__logp"),
        )
    )
    return (
        pairs.join(F.broadcast(model), "__bg")
        .groupBy(id_col)
        .agg(F.round(F.avg("__logp"), 4).alias(out))
    )


def bm25_topk(
    df: DataFrame,
    terms: "list[str]",
    k: int = 10,
    col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 keyword retrieval over the corpus: top-``k`` documents for a
    bag-of-words query (Robertson-Spärck Jones idf, standard k1/b
    saturation), the workhorse behind corpus search and
    contamination-audit tooling.

    Returns ``(id_col, bm25)`` sorted score-desc with ``id_col``
    tiebreak, scores rounded to 4dp for engine portability.

    Scale shape: per-term tf comes from one filtered token explode —
    only query-term tokens survive the filter, so the exploded frame is
    proportional to query-term occurrences, not corpus tokens. The df/
    avgdl statistics are two scalar/tiny aggregates **broadcast** into
    the scoring expression; the final top-k is a
    TakeOrderedAndProject, never a full sort.
    """
    if not terms:
        raise ValueError("bm25_topk needs at least one query term")
    from vinum_spark.operators.dedup import _spread

    toks = _tokens(col)
    terms = [t.lower() for t in terms]
    df = _spread(df, id_col)  # single-file scans are one partition
    base = df.select(
        F.col(id_col), F.size(toks).cast("double").alias("__dl"), toks.alias("__t")
    ).withColumn(
        "__qt",
        F.filter(
            F.transform(F.col("__t"), lambda t: F.lower(t)),
            lambda t: t.isin(*terms),
        ),
    ).drop("__t")
    # Corpus stats (N, avgdl) are two scalars: collect once and inline
    # as literals — the index-statistics pass every BM25 system runs
    # ahead of scoring (and a 1-row frame joined keylessly would plan
    # as BroadcastNestedLoopJoin, which the CI plan guards ban).
    n_docs, avgdl = base.agg(
        F.count(F.lit(1)), F.avg("__dl")
    ).collect()[0]
    if not n_docs:  # empty corpus: no stats, no matches
        return df.select(
            F.col(id_col), F.lit(0.0).alias("bm25")
        ).limit(0)
    tf = base.filter(F.size("__qt") > 0).select(
        id_col, "__dl", F.explode("__qt").alias("__term")
    ).groupBy(id_col, "__dl", "__term").agg(
        F.count(F.lit(1)).cast("double").alias("__tf")
    )
    dfreq = tf.groupBy("__term").agg(F.count(F.lit(1)).cast("double").alias("__df"))
    scored = (
        tf.join(F.broadcast(dfreq), "__term")
        .withColumn(
            "__idf",
            F.log(
                (F.lit(float(n_docs)) - F.col("__df") + 0.5)
                / (F.col("__df") + 0.5)
                + 1.0
            ),
        )
        .withColumn(
            "__s",
            F.col("__idf")
            * (F.col("__tf") * (k1 + 1))
            / (F.col("__tf") + k1 * (1 - b + b * F.col("__dl") / F.lit(float(avgdl)))),
        )
        .groupBy(id_col)
        .agg(F.round(F.sum("__s"), 4).alias("bm25"))
    )
    return scored.orderBy(F.col("bm25").desc(), F.col(id_col).asc()).limit(k)


def strip_html(df: DataFrame, col: str = "text", out: str = "clean_text") -> DataFrame:
    """HTML → text extraction, the first step of every web-corpus
    pipeline (the regex-ladder tier — real pipelines graduate to a DOM
    extractor for boilerplate-aware extraction; this handles the bulk
    strip): drop ``<script>``/``<style>`` blocks wholesale, remove tags,
    decode the common entities, collapse whitespace.

    Pure chained ``regexp_replace`` — whole-stage codegen, map-side,
    zero shuffles; composes with the quality/dedup operators downstream.
    """
    c = F.col(col)
    c = F.regexp_replace(c, r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"(?i)<br\s*/?>|</p>|</div>|</h[1-6]>", "\n")
    c = F.regexp_replace(c, r"(?s)<[^>]+>", " ")
    # &amp; decodes LAST: decoding it first would turn doubly-escaped
    # entities ('&amp;lt;' renders as '&lt;') into real markup chars
    for ent, rep in (
        ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", "\""), ("&#39;", "'"), ("&apos;", "'"),
        ("&amp;", "&"),
    ):
        c = F.replace(c, F.lit(ent), F.lit(rep))
    c = F.regexp_replace(c, r"[ \t]+", " ")
    c = F.regexp_replace(c, r" ?\n ?", "\n")
    # trim() strips only spaces; block-tag newlines need the regex form
    return df.withColumn(out, F.regexp_replace(c, r"^\s+|\s+$", ""))


def normalize_text(
    df: DataFrame,
    col: str = "text",
    out: str = "norm_text",
    form: str = "NFKC",
) -> DataFrame:
    """Unicode normalization for dedup keys: ``form`` normalization
    (NFKC folds full-width/compatibility forms), smart-quote/dash
    folding, zero-width and control character removal, whitespace
    collapse. Running this BEFORE fingerprinting/MinHash is what makes
    visually-identical scrapes actually hash equal.

    The JVM has no Unicode-normalization builtin, so this is the one
    text operator that crosses to Python — as an Arrow-batched
    ``pandas_udf`` (vectorized str ops per batch), never row-at-a-time;
    still map-side with zero shuffles.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _norm_fn(s):
        return s.map(lambda t: _normalize_one(t, form))

    # real class objects, not strings: this module uses PEP 563
    # postponed annotations, which pandas_udf's hint inspection can't
    # resolve for locally-imported names
    _norm_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _norm = pandas_udf(_norm_fn, "string")
    return df.withColumn(out, _norm(F.col(col)))


def _normalize_one(t: Optional[str], form: str = "NFKC") -> Optional[str]:
    """The per-string normalization core (module-scope so it is
    property-testable without Spark): Unicode ``form`` → quote/dash
    fold → control/zero-width strip → re-normalize → whitespace
    collapse. Idempotent (hypothesis-pinned): the second normalize
    composes sequences the character strip exposes."""
    import unicodedata

    if t is None:
        return None
    t = unicodedata.normalize(form, t)
    t = t.translate(_NORM_FOLD)
    t = "".join(
        ch for ch in t
        if ch in "\n\t " or not unicodedata.category(ch).startswith(("C", "Zl", "Zp"))
    )
    # re-normalize: stripping a format char (e.g. soft hyphen) between a
    # base letter and a combining mark exposes a composable sequence the
    # first pass could not compose — without this, 'a\u00ad\u0301' and
    # '\u00e1' would fingerprint differently and the function would not
    # be a fixed point of itself
    t = unicodedata.normalize(form, t)
    return " ".join(t.split())


#: smart quotes/dashes/spaces → ASCII, for :func:`normalize_text`
_NORM_FOLD = str.maketrans({
    "‘": "'", "’": "'", "‚": "'", "‛": "'",
    "“": '"', "”": '"', "„": '"', "‟": '"',
    "–": "-", "—": "-", "−": "-",
    " ": " ", " ": " ", " ": " ",
})


def encode_tokens(
    df: DataFrame,
    vocab: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    max_len: Optional[int] = None,
    unk_id: int = 0,
) -> DataFrame:
    """Token-ID encoding against a vocabulary table — the last hop from
    a prepared corpus to trainer input: whitespace tokens looked up in
    ``vocab`` (columns ``token``, ``token_id``), out-of-vocabulary
    tokens mapped to ``unk_id``, sequences optionally truncated to
    ``max_len``.

    Returns ``(id_col, token_ids array<int>, seq_len, n_oov)`` — one
    row per input document, INCLUDING zero-token ones (empty array,
    seq_len 0): trainer-input frames must not silently lose documents.
    ``seq_len`` counts the PRE-truncation tokens so capacity planning
    sees true document lengths.

    Scale shape: the vocab (even 1M entries is MBs) is **broadcast**
    into the token lookup, so encoding is map-side except one shuffle
    keyed by document id for the ordered re-assembly; order is carried
    by the token's position, not by partitioning luck. The lookup is a
    left join, never a Python dict — no driver-side vocab collect, and
    the same plan at any vocab or corpus size.
    """
    toks = df.select(
        F.col(id_col), F.posexplode(_tokens(col)).alias("__pos", "__tok")
    )
    looked = toks.join(
        F.broadcast(vocab.select(F.col("token").alias("__tok"), "token_id")),
        "__tok",
        "left",
    ).select(
        id_col,
        "__pos",
        F.coalesce(F.col("token_id"), F.lit(unk_id)).cast("int").alias("__id"),
        F.col("token_id").isNull().cast("int").alias("__oov"),
    )
    ids_in_order = F.transform(
        F.array_sort(F.collect_list(F.struct("__pos", "__id"))),
        lambda s: s["__id"],
    )
    grouped = looked.groupBy(id_col).agg(
        ids_in_order.alias("token_ids"),
        F.count(F.lit(1)).cast("bigint").alias("seq_len"),
        F.sum("__oov").cast("bigint").alias("n_oov"),
    )
    # zero-token documents produce no exploded rows and would vanish in
    # the groupBy — left-join back so every input doc keeps a row
    out = df.select(id_col).join(grouped, id_col, "left").select(
        id_col,
        F.coalesce("token_ids", F.array().cast("array<int>")).alias("token_ids"),
        F.coalesce("seq_len", F.lit(0)).cast("bigint").alias("seq_len"),
        F.coalesce("n_oov", F.lit(0)).cast("bigint").alias("n_oov"),
    )
    if max_len is not None:
        if max_len < 1:
            raise ValueError(f"max_len must be >= 1, got {max_len}")
        out = out.withColumn("token_ids", F.slice("token_ids", 1, max_len))
    return out


#: Byte-level symbol alphabet: byte b <-> chr(0x100 + b), a fixed
#: 256-char bijection into Latin Extended (GPT-2's bytes_to_unicode
#: idea, simplified: one contiguous range instead of a pieced-together
#: printable set). Every mapped char is printable, non-quote,
#: non-backslash, non-whitespace — so byte-mode merge symbols are
#: always SQL-literal-safe BY CONSTRUCTION, and the mapping is a
#: one-liner in any engine (chr(256 + byte)), which is what lets the
#: DuckDB oracle recompute it exactly.
_BYTE_SYM_BASE = 0x100

#: Whitespace, spelled out: Java's \s, RE2's \s, and Python's \s all
#: disagree at the edges (Java adds \x0B, Python's `re` adds
#: \x1C-\x1F, RE2 has neither), so any \s-based split pattern
#: tokenizes differently in Spark vs the DuckDB oracle vs the Python
#: differential twin. The explicit class below is the EXACT whitespace
#: set of Python's `regex` module — the engine real GPT-2 runs its
#: pattern on — i.e. the Unicode White_Space property (empirically
#: pinned against regex's \s over the BMP in tests): the ASCII
#: controls \t\n\x0B\f\r + space, NEL U+0085, NBSP U+00A0, OGHAM
#: U+1680, the U+2000-200A space family, LINE/PARA separators
#: U+2028/29, NNBSP U+202F, MMSP U+205F, and IDEOGRAPHIC SPACE
#: U+3000. ASCII members use escape forms every engine parses
#: (\t \n \x0B \f \r); the supra-ASCII members are embedded as
#: LITERAL codepoints because no escape syntax is shared (RE2 lacks
#: \uXXXX, Python re lacks \x{...}) — literals parse identically in
#: Java, RE2, and Python. Python `re`'s four extra separators
#: \x1C-\x1F are deliberately NOT included: GPT-2 tokenizes with the
#: `regex` module, where they are punctuation — matching `re` here
#: would be matching the wrong engine.
_WS_CLS = (
    r" \t\n\x0B\f\r"
    "\u0085\u00a0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000"
)

#: Production pre-tokenizer for byte-level BPE: GPT-2's split regex,
#: minus its trailing-whitespace negative lookahead — RE2 (DuckDB's
#: engine, and the oracle twin's) supports no lookaround, and Java
#: (Spark's engine) agrees with RE2 on everything here
#: (leftmost-first alternation, \p{L}/\p{N} classes, the explicit
#: whitespace class above). Divergence from true GPT-2: in a run of
#: 2+ spaces before a word, GPT-2 attaches the LAST space to the word
#: and emits the rest as a whitespace token; this variant emits the
#: whole run as one whitespace token (``GPT2_EXACT`` below restores
#: the GPT-2 behavior). Single spaces between words attach to the
#: following word exactly like GPT-2 (' ?\p{L}+' is tried before the
#: whitespace-run alternative). Cross-engine agreement is pinned in
#: tests and by the q94 oracle gate.
GPT2ISH_SPLIT_PATTERN = (
    "'(?:[sdmt]|ll|ve|re)"
    "| ?\\p{L}+| ?\\p{N}+"
    "| ?[^" + _WS_CLS + "\\p{L}\\p{N}]+"
    "|[" + _WS_CLS + "]+"
)

#: ``token_pattern`` sentinel value selecting the EXACT GPT-2 split
#: semantics (trailing-whitespace lookahead included) for the
#: byte-level BPE operators. GPT-2's pattern ends
#: ``...|\s+(?!\S)|\s+``: a whitespace run directly before a
#: non-whitespace char gives up its LAST character, which then
#: attaches to the following token (' x') or stands alone ('\t').
#: RE2 has no lookaround, so the implementation emulates the
#: lookahead LOOKAHEAD-FREE: insert ``GPT2_SENTINEL`` (U+001E) at
#: every whitespace->non-whitespace boundary (one regexp_replace),
#: then tokenize with the safe pattern. Equivalence: every GPT-2
#: match crosses at most one ws->non-ws boundary, and only via the
#: single optional leading ' ' of the word/number/punct alternatives
#: — exactly the character the boundary split leaves attached — while
#: whitespace-run matches never cross one; so segmenting at the
#: boundary changes no match. Pinned differentially against the true
#: lookahead pattern (Python `regex`) in tests. Whitespace parity
#: with upstream is EXACT: ``_WS_CLS`` enumerates the full whitespace
#: set of the `regex` module GPT-2 actually tokenizes with (the
#: Unicode White_Space property — \x0B, NBSP, the U+2000 family,
#: U+3000, …), so Unicode-whitespace-bearing text splits identically
#: to GPT-2/tiktoken (differentially pinned vs the true ``\s``
#: pattern). The ONE reserved character: U+001E itself (the ASCII
#: record separator — NOT whitespace to `regex`, so reserving it
#: costs no whitespace case) is excluded from the punctuation class
#: so inserted markers never merge into tokens — an
#: (unheard-of-in-text) input U+001E is skipped as if absent, where
#: upstream GPT-2 would emit it inside a punctuation run.
GPT2_EXACT = "gpt2-exact"

GPT2_SENTINEL = "\x1e"

#: ws char directly before non-ws — the boundary the lookahead keys on
_GPT2_BOUNDARY_PATTERN = "([" + _WS_CLS + "])([^" + _WS_CLS + "])"

#: the safe pattern with U+001E additionally excluded from the
#: punctuation class (inserted markers must match NOTHING)
_GPT2_EXACT_TOKEN_PATTERN = (
    "'(?:[sdmt]|ll|ve|re)"
    "| ?\\p{L}+| ?\\p{N}+"
    "| ?[^" + _WS_CLS + "\\x1e\\p{L}\\p{N}]+"
    "|[" + _WS_CLS + "]+"
)

#: the true lookahead form of GPT2_EXACT — NOT runnable in Java/RE2;
#: kept as the differential-test twin (Python `regex` module)
GPT2_EXACT_LOOKAHEAD_PATTERN = (
    "'(?:[sdmt]|ll|ve|re)"
    "| ?\\p{L}+| ?\\p{N}+"
    "| ?[^" + _WS_CLS + "\\p{L}\\p{N}]+"
    "|[" + _WS_CLS + "]+(?![^" + _WS_CLS + "])"
    "|[" + _WS_CLS + "]+"
)

#: HF's ``Whitespace`` pre-tokenizer (``tokenizers::pre_tokenizers::
#: whitespace::Whitespace``) is the Rust regex ``\w+|[^\w\s]+`` with
#: matches kept and gaps (whitespace) dropped. This is its Java
#: translation for ``regexp_extract_all``: Rust ``\w`` is Alphabetic +
#: Mark + Decimal_Number + Connector_Punctuation + Join_Control
#: (U+200C/U+200D), spelled with the matching Java properties; Rust
#: ``\s`` is the Unicode White_Space property, which ``_WS_CLS``
#: already enumerates. :func:`load_tokenizer_hf` maps a ``Whitespace``
#: pre-tokenizer stage to this pattern.
HF_WHITESPACE_PATTERN = (
    "[\\p{IsAlphabetic}\\p{M}\\p{Nd}\\p{Pc}\u200c\u200d]+"
    "|[^\\p{IsAlphabetic}\\p{M}\\p{Nd}\\p{Pc}\u200c\u200d" + _WS_CLS + "]+"
)


def gpt2_exact_words_col(text_col: str):
    """Word-array Column implementing ``GPT2_EXACT`` (see the constant
    for the equivalence argument): one JVM-side regexp_replace inserts
    the boundary sentinel, one regexp_extract_all tokenizes — a pure
    projection, streamable, no Python in the corpus path."""
    marked = F.regexp_replace(
        F.col(text_col),
        F.lit(_GPT2_BOUNDARY_PATTERN),
        F.lit(GPT2_SENTINEL + "$1$2"),
    )
    return F.regexp_extract_all(
        marked, F.lit(_GPT2_EXACT_TOKEN_PATTERN), F.lit(0)
    )


def _bpe_words_col(text_col: str, token_pattern: str, byte_level: bool):
    """Shared pre-tokenization Column for the BPE operators: byte mode
    passes the pattern as a Column literal (arbitrary UTF-8 safe, no
    lowercasing); char mode lowercases with the pattern embedded in
    SQL text (callers validate literal-safety); ``GPT2_EXACT`` selects
    the sentinel-emulated exact GPT-2 split (byte mode only)."""
    if token_pattern == GPT2_EXACT:
        if not byte_level:
            raise ValueError(
                "token_pattern='gpt2-exact' requires byte_level=True"
            )
        return gpt2_exact_words_col(text_col)
    if byte_level:
        return F.regexp_extract_all(
            F.col(text_col), F.lit(token_pattern), F.lit(0)
        )
    # Column args, not an interpolated expr string: a pattern holding a
    # single quote (or a dotted/backtick column name) must not be able
    # to change the SQL's meaning
    return F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(token_pattern), F.lit(0)
    )


def byte_syms(word: str) -> list:
    """Map a string's UTF-8 bytes to the byte-level symbol alphabet."""
    return [chr(_BYTE_SYM_BASE + b) for b in word.encode("utf-8")]


def _byte_sym_sql(col: str) -> str:
    """SQL expression mapping string column ``col`` to its byte-level
    symbol array, entirely JVM-side (codegen): hex the UTF-8 bytes,
    then look each byte up in an embedded 256-char array literal
    (Spark's ``char()`` wraps at 256, so a direct chr() is unusable).
    Empty strings need an explicit guard: Spark's ``sequence(1, 0)``
    is the DESCENDING sequence [1, 0], not empty.
    """
    lookup = "array(" + ",".join(
        "'" + chr(_BYTE_SYM_BASE + b) + "'" for b in range(256)
    ) + ")"
    h = f"hex(encode({col}, 'UTF-8'))"
    return (
        f"if(length({h}) = 0, array(), "
        f"transform(sequence(1, length({h}) DIV 2), i -> "
        f"element_at({lookup}, "
        f"CAST(conv(substr({h}, 2*i-1, 2), 16, 10) AS INT) + 1)))"
    )


def _greedy_merge(syms: list, a: str, b: str) -> list:
    """Left-to-right greedy single-merge application — the Python twin
    of the distributed ``aggregate`` HOF ('aaaa' + (a,a) -> ['aa','aa'])."""
    res, i = [], 0
    while i < len(syms):
        if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
            res.append(a + b)
            i += 2
        else:
            res.append(syms[i])
            i += 1
    return res


def _learn_bpe_local_ref(vocab: list, n_merges: int) -> list:
    """Reference (naive) in-memory BPE loop: full pair recount + full
    vocabulary rescan per merge — O(n_merges x total positions), kept
    ONLY as the differential-test twin of :func:`_learn_bpe_local`
    (same semantics, unmistakably correct, ~300 ms/merge at 50k
    types where the indexed loop runs ~1 ms/merge)."""
    from collections import Counter

    merges = []
    words = [(list(s), int(f)) for s, f in vocab]
    for k in range(1, n_merges + 1):
        counts: Counter = Counter()
        for syms, f in words:
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += f
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((k, a, b, int(c)))
        words = [
            (_greedy_merge(s, a, b) if len(s) > 1 else s, f) for s, f in words
        ]
    return merges


def _learn_bpe_local(vocab: list, n_merges: int, start_rank: int = 1) -> list:
    """Classic in-memory BPE training loop over a collected
    word-frequency dictionary (the production shape for bounded
    vocabularies), in the INDEXED incremental formulation every real
    tokenizer trainer uses (Sennrich's learn_bpe.py, HF tokenizers):

    - a pair->word-index inverted index, so applying merge k touches
      only the words that actually contain the pair (the naive loop
      rescans the whole vocabulary — ~300 ms/merge at 50k types);
    - per-word DELTA updates to the pair-count table (old adjacent
      pair multiset vs new — exact under overlap counting, because the
      word's full multiset is recomputed, not patched positionally);
    - arg-max via a lazy max-heap keyed (-count, lhs, rhs): every
      count change pushes a fresh entry, pops discard entries whose
      count no longer matches the live table. The heap ordering IS the
      distributed loop's tie-break (count DESC, lhs ASC, rhs ASC) —
      UTF-8 byte order equals code-point order, so Python string
      comparison agrees with Spark/DuckDB binary collation.

    Semantics are EXACTLY the distributed loop's and the naive
    reference's (:func:`_learn_bpe_local_ref`, differential-pinned in
    tests): pair counts weighted by word freq over every adjacent
    position, left-to-right greedy application. ``vocab`` is a list of
    (symbol_list, freq). 32k merges over a 50k-type vocabulary run in
    ~30 s (vs ~3 h naive); see BASELINE.md for the measured curve.
    """
    import heapq
    from collections import Counter

    words = [[list(s), int(f)] for s, f in vocab]
    pair_counts: Counter = Counter()
    pair_words: dict = {}
    for idx, (syms, f) in enumerate(words):
        for p in zip(syms, syms[1:]):
            pair_counts[p] += f
            pair_words.setdefault(p, set()).add(idx)
    heap = [(-c, p[0], p[1]) for p, c in pair_counts.items()]
    heapq.heapify(heap)
    merges = []
    for k in range(start_rank, start_rank + n_merges):
        while heap:  # discard stale entries (count changed since push)
            negc, a, b = heap[0]
            if pair_counts.get((a, b), 0) == -negc:
                break
            heapq.heappop(heap)
        if not heap:
            break
        negc, a, b = heapq.heappop(heap)
        merges.append((k, a, b, -negc))
        changed: Counter = Counter()
        for idx in pair_words.pop((a, b), ()):
            syms, f = words[idx]
            old = Counter(zip(syms, syms[1:]))
            new_syms = _greedy_merge(syms, a, b)
            new = Counter(zip(new_syms, new_syms[1:]))
            words[idx][0] = new_syms
            for p in old.keys() | new.keys():
                d = new[p] - old[p]
                if d:
                    changed[p] += d * f
                if new[p] == 0:
                    s = pair_words.get(p)
                    if s is not None:
                        s.discard(idx)
                elif old[p] == 0:
                    pair_words.setdefault(p, set()).add(idx)
        # greedy application leaves no adjacent (a, b) anywhere
        del pair_counts[(a, b)]
        changed.pop((a, b), None)
        for p, d in changed.items():
            nc = pair_counts.get(p, 0) + d
            if nc > 0:
                pair_counts[p] = nc
                heapq.heappush(heap, (-nc, p[0], p[1]))
            else:
                pair_counts.pop(p, None)
    return merges


def _driver_sym_list(word: str, byte_level: bool) -> list:
    """Driver-side twin of the Spark ``sym`` expression
    (``_byte_sym_sql`` / ``split(word, '')``): byte mode maps each
    UTF-8 byte through the fixed ``chr(0x100 + b)`` alphabet; char mode
    splits per code point (Spark's ``split`` and ``length`` are
    code-point-based, as is Python's ``list(str)``). Equality with the
    Spark expression is verified differentially on both alphabets in
    tests; it lets the local BPE fast path collect ONLY (word, freq)
    through Arrow instead of shipping per-character symbol arrays
    through the pickled row path (round 19 — measured ~3× on the
    vocab collect)."""
    if byte_level:
        return [chr(0x100 + b) for b in word.encode("utf-8")]
    return list(word)


_MERGES_SCHEMA = "merge_rank int, lhs string, rhs string, pair_count long"


def _merges_frame(spark, rows: list) -> DataFrame:
    """``createDataFrame`` over a driver-local, rank-ordered merge list,
    carrying the list on the frame (``_vinum_local_rows``) so
    vocab-bounded consumers (:func:`_merge_rows`) skip the collect job.
    Every merge frame this module mints (learn/extend/load_tokenizer*)
    goes through here: a composed artifact query (q105/q106 shape) ran
    4-5 separate one-job collects of the same table per run (round-18
    measurement — each a ~0.2-0.7 s driver job at any scale, since the
    table is bounded by construction)."""
    df = spark.createDataFrame(rows, _MERGES_SCHEMA)
    df._vinum_local_rows = [tuple(r) for r in rows]
    return df


def _merge_rows(merges_df: DataFrame) -> list:
    """Rank-ordered ``(merge_rank, lhs, rhs, pair_count)`` tuples of a
    merge table. Frames minted by :func:`_merges_frame` carry the rows
    as driver metadata; a foreign frame is collected (merge tables are
    vocab-bounded by contract — see :func:`bpe_tokenize`)."""
    rows = getattr(merges_df, "_vinum_local_rows", None)
    if rows is None:
        rows = [
            (r["merge_rank"], r["lhs"], r["rhs"], r["pair_count"])
            for r in merges_df.orderBy("merge_rank").collect()
        ]
    return list(rows)


def _byte_level_ids(merges: list) -> dict:
    """Token -> id in the :func:`bpe_vocab` GPT-2 layout: base symbol
    ``chr(0x100 + b)`` is id b, and the k-th merge product (0-based, so
    ``merge_rank`` k + 1) is id 256 + k. Raises if two merges mint the
    same product string: the dict would silently give them one id."""
    tok_id = {
        **{chr(_BYTE_SYM_BASE + b): b for b in range(256)},
        **{a + b: 256 + k for k, (a, b) in enumerate(merges)},
    }
    if len(tok_id) != 256 + len(merges):
        raise ValueError(
            f"emit_ids: {256 + len(merges) - len(tok_id)} merge "
            "product(s) collide; token ids would not be unique"
        )
    return tok_id


def _stash_vocab_rows(df: DataFrame, entries: list) -> DataFrame:
    """Carry driver-local ``(token, token_id[, is_special])`` vocab
    entries on the frame for bounded consumers (coverage checks,
    decode tables) — same rationale as :func:`_merges_frame`."""
    df._vinum_local_rows = [tuple(e) for e in entries]
    return df


def learn_bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    token_pattern: str = "[a-z]+",
    byte_level: bool = False,
    collect_cap: int = 25_000_000,
) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich et al. 2016): learn
    ``n_merges`` byte-pair merges from corpus word frequencies. Returns
    (merge_rank, lhs, rhs, pair_count) — the merge table a tokenizer
    ships with, in learned order.

    Algorithm (exactly the reference BPE formulation):
    1. word-frequency dictionary: one ``groupBy(word)`` over the
       lowercased ``token_pattern`` words — the ONLY corpus-sized
       shuffle. Every later step runs on the vocabulary table, which
       is orders of magnitude smaller than the corpus (~10-100M types
       for 100 TB of web text — still distributed, never collected).
    2. per merge: count adjacent symbol pairs weighted by word
       frequency (vocab-sized shuffle), take the arg-max pair (count
       DESC, then lexical — a bounded ``limit(1).collect()`` of ONE
       row per iteration, the documented driver action), and apply it
       with the exact left-to-right GREEDY rule ('aaaa' + (a,a) ->
       ['aa','aa']) as a shuffle-FREE ``aggregate`` higher-order
       function over each word's symbol array — no Python UDF, no
       per-row lambda cost outside codegen.
    3. the vocabulary is re-persisted per iteration (and the previous
       iteration unpersisted) so the k-th arg-max does not recompute
       the whole merge chain from the scan.

    Alphabets. Char mode (default): tokens are restricted to the
    ``token_pattern`` alphabet and the merge literals embedded in the
    HOF expression are validated against it, so no corpus content
    reaches SQL text unescaped. Byte mode (``byte_level=True``,
    GPT-2-style): text is NOT lowercased, ``token_pattern`` may match
    arbitrary UTF-8 (it is passed as a Column literal, never embedded
    in SQL text), and each word's UTF-8 bytes are mapped through the
    fixed ``chr(0x100 + b)`` alphabet — so digits, punctuation, and
    all non-Latin scripts train correctly, and every merge symbol is
    SQL-literal-safe by construction.

    Driver-local fast path: a production tokenizer learns 32k-64k
    merges, and the distributed loop costs ~3 Spark jobs per merge —
    driver-bound regardless of cluster size. When the word-frequency
    dictionary's SUMMED SYMBOL COUNT (total chars across distinct
    words in char mode, total UTF-8 bytes in byte mode — the quantity
    that actually sizes the collected sym lists) fits ``collect_cap``
    (default 25M symbols; the corpus itself is never collected), the
    merge table is learned with the classic in-memory loop over the
    collected dictionary, in exactly the distributed semantics
    (equality pinned in tests/test_pipeline_ops.py). Driver memory at
    the cap: each collected symbol is a 1-char Python string — chars
    >= U+0100 (every byte-mode symbol) are NOT interned, ~80 B each
    plus the list slot — so 25M symbols cost ~2-2.5 GB, a bounded
    fraction of any production driver; a per-TYPE cap would let a
    vocabulary of long words blow far past its nominal budget. Pass
    ``collect_cap=0`` to force the distributed loop for unbounded
    vocabularies.
    """
    import re as _re

    if byte_level:
        sym_col = F.expr(_byte_sym_sql("word"))
    else:
        if _re.search(r"['\\]", token_pattern):
            raise ValueError(
                f"token_pattern unsafe for a SQL literal: {token_pattern!r}"
            )
        sym_col = F.split("word", "")
    doc_words = df.select(
        F.explode(
            _bpe_words_col(text_col, token_pattern, byte_level)
        ).alias("word")
    )
    vocab = doc_words.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("freq")
    )
    spark = df.sparkSession
    merges: list = []
    cached = vocab.persist()
    # one job materializes the persist AND sizes the dictionary for the
    # fast-path budget (summed symbols, not types — see docstring). The
    # symbol count is derivable from word lengths alone (one symbol per
    # UTF-8 byte in byte mode, per code point in char mode), so the
    # fast path never computes symbol ARRAYS on the cluster at all: it
    # collects only (word, freq) via Arrow and splits driver-side
    # (_driver_sym_list) — round 19; the previous shape shipped every
    # word's per-character array through the pickled row path, ~3× the
    # wall of the whole collect.
    sym_len = F.octet_length("word") if byte_level else F.length("word")
    n_syms = (
        cached.agg(F.sum(sym_len).alias("syms")).collect()[0]["syms"] or 0
    )
    if collect_cap and n_syms <= collect_cap:
        try:
            pdf = cached.select("word", "freq").toPandas()
        finally:
            cached.unpersist()
        local = [
            (_driver_sym_list(w, byte_level), int(f))
            for w, f in zip(pdf["word"], pdf["freq"])
        ]
        merges = _learn_bpe_local(local, n_merges)
        return _merges_frame(spark, merges)
    # distributed path: attach the symbol arrays and materialize THAT
    # frame for the merge loop (the loop's contract), then release the
    # bare-vocab persist
    sym_cached = cached.withColumn("sym", sym_col).persist()
    sym_cached.count()
    cached.unpersist()
    merges = _distributed_bpe_loop(sym_cached, 1, n_merges)
    return _merges_frame(spark, merges)


def _distributed_bpe_loop(cached: DataFrame, start_rank: int, n_merges: int) -> list:
    """The distributed merge-learning loop shared by
    :func:`learn_bpe_merges` and :func:`extend_bpe_merges`: per merge,
    one vocab-sized pair-count shuffle + a one-row arg-max collect +
    a shuffle-free greedy ``aggregate``-HOF application. ``cached``
    must be a materialized (word, freq, sym) frame; it is unpersisted
    on exit. Returns [(rank, lhs, rhs, pair_count)] with ranks
    numbered from ``start_rank``."""
    import re as _re

    merges: list = []
    try:
        for k in range(start_rank, start_rank + n_merges):
            best = (
                cached.select(
                    "freq",
                    F.explode(
                        F.arrays_zip(
                            F.expr("slice(sym, 1, size(sym) - 1)"),
                            F.expr("slice(sym, 2, size(sym) - 1)"),
                        )
                    ).alias("pr"),
                )
                .select(
                    F.col("pr.0").alias("a"), F.col("pr.1").alias("b"), "freq"
                )
                .groupBy("a", "b")
                .agg(F.sum("freq").cast("long").alias("c"))
                .orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
                .limit(1)
                .collect()
            )
            if not best:
                break  # vocabulary fully merged (single-symbol words only)
            a, b, c = best[0]["a"], best[0]["b"], best[0]["c"]
            # the merge literals are embedded in the HOF expression
            # below: reject anything that could escape a SQL string
            # (impossible for the default [a-z]+ alphabet; guards
            # custom token_pattern values)
            if _re.search(r"['\\\s]", a + b):
                raise ValueError(
                    f"merge tokens unsafe for SQL literals: {a!r}, {b!r}"
                )
            merges.append((k, a, b, int(c)))
            merged = F.expr(
                f"""
                aggregate(
                  sequence(1, size(sym)),
                  struct(CAST(array() AS array<string>) AS res, false AS skip),
                  (acc, i) -> CASE
                    WHEN acc.skip THEN struct(acc.res AS res, false AS skip)
                    WHEN i < size(sym) AND element_at(sym, i) = '{a}'
                         AND element_at(sym, i + 1) = '{b}'
                      THEN struct(concat(acc.res, array('{a}{b}')) AS res,
                                  true AS skip)
                    ELSE struct(concat(acc.res, array(element_at(sym, i))) AS res,
                                false AS skip)
                  END,
                  acc -> acc.res)
                """
            )
            # localCheckpoint, not persist: persist caches the DATA but
            # the logical plan still accumulates one giant aggregate-HOF
            # expression per iteration, and by merge ~60 the driver dies
            # generating the plan tree (java.lang.OutOfMemoryError in
            # generateTreeString — observed on the 89-merge exhaustion
            # run). The eager checkpoint materializes the same data AND
            # cuts the lineage, so the plan stays one-expression deep at
            # every k. Old checkpoint blocks are vocab-sized and evicted
            # LRU; the fast path handles production merge counts anyway.
            nxt = cached.withColumn("sym", merged).localCheckpoint(
                eager=True
            )
            cached.unpersist()
            cached = nxt
    finally:
        cached.unpersist()
    return merges


def _apply_rank_loop(syms: list, pairs: list, ranks: dict) -> list:
    """Apply a merge table to one symbol list: repeatedly merge the
    LOWEST-RANK adjacent pair present, each application left-to-right
    greedy — reference BPE inference, byte-identical to in-learned-
    order application for tables produced by the learners here (see
    :func:`bpe_tokenize`'s precondition note)."""
    while len(syms) > 1:
        best = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best is None or r < best):
                best = r
        if best is None:
            break
        syms = _greedy_merge(syms, *pairs[best])
    return syms


def extend_bpe_merges(
    df: DataFrame,
    merges_df: DataFrame,
    n_more: int,
    text_col: str = "text",
    token_pattern: str = "[a-z]+",
    byte_level: bool = False,
    collect_cap: int = 25_000_000,
) -> DataFrame:
    """CONTINUE BPE training from an existing merge table instead of
    retraining from scratch — the merge-table upkeep operator (the
    ``dedup_against_store`` incremental pattern applied to tokenizers:
    a corpus refresh should extend the shipped vocabulary, not mint a
    new one). Returns the existing rows VERBATIM (ranks, pair counts
    and all — a shipped tokenizer's token ids are frozen; rank k still
    mints :func:`bpe_vocab` id 255 + k) followed by ``n_more`` newly
    learned merges, ranks continuing where the table ends.

    Semantics: build ``df``'s word-frequency dictionary exactly as
    :func:`learn_bpe_merges` would (same pre-tokenization, same
    alphabet — pass the SAME ``token_pattern``/``byte_level`` the
    table was trained with), apply the existing merges to every word
    (the vocab-sized rank loop — the :func:`bpe_tokenize` inference
    carve-out, never corpus-sized), then run the standard learning
    loop for ``n_more`` merges from that state. New pair counts are
    frequencies in ``df`` — the corpus being extended on.

    Continuation law (pinned in tests and by the q97 oracle gate):
    on the SAME corpus, ``extend_bpe_merges(df, learn_bpe_merges(df,
    K), M)`` equals ``learn_bpe_merges(df, K + M)`` EXACTLY — applying
    the first K merges reproduces the learner's intermediate state,
    so the continued loop is the full loop. On a refreshed corpus the
    prefix stays frozen and the new merges reflect the new
    frequencies (the point of the operator).

    100 TB shape: identical to :func:`learn_bpe_merges` — one corpus
    shuffle for the word dictionary, vocab-sized everything after;
    the same summed-symbol ``collect_cap`` picks the driver-local
    fast path vs the distributed loop.
    """
    import re as _re

    if not byte_level and _re.search(r"['\\]", token_pattern):
        raise ValueError(
            f"token_pattern unsafe for a SQL literal: {token_pattern!r}"
        )
    existing = _merge_rows(merges_df)
    if [m[0] for m in existing] != list(range(1, len(existing) + 1)):
        raise ValueError(
            "merge table ranks must be contiguous from 1 "
            f"(got {[m[0] for m in existing][:5]}...)"
        )
    start = len(existing) + 1
    pairs = [(a, b) for _, a, b, _ in existing]
    ranks = {p: i for i, p in enumerate(pairs)}
    spark = df.sparkSession
    if n_more <= 0:
        return _merges_frame(spark, existing)

    if byte_level:
        sym_col = F.expr(_byte_sym_sql("word"))
    else:
        sym_col = F.split("word", "")
    vocab = (
        df.select(
            F.explode(
                _bpe_words_col(text_col, token_pattern, byte_level)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    cached = vocab.persist()
    # size on the RAW symbols — merging only shrinks them, so the
    # budget check is conservative for the post-prefix state (word
    # lengths alone: see learn_bpe_merges — no cluster-side symbol
    # arrays on the fast path)
    sym_len = F.octet_length("word") if byte_level else F.length("word")
    n_syms = (
        cached.agg(F.sum(sym_len).alias("syms")).collect()[0]["syms"] or 0
    )
    if collect_cap and n_syms <= collect_cap:
        try:
            pdf = cached.select("word", "freq").toPandas()
        finally:
            cached.unpersist()
        local = [
            (
                _apply_rank_loop(
                    _driver_sym_list(w, byte_level), pairs, ranks
                ),
                int(f),
            )
            for w, f in zip(pdf["word"], pdf["freq"])
        ]
        new = _learn_bpe_local(local, n_more, start_rank=start)
        return _merges_frame(spark, existing + new)

    @F.pandas_udf("array<string>")
    def apply_prefix(col: pd.Series) -> pd.Series:
        return pd.Series(
            [_apply_rank_loop(list(s), pairs, ranks) for s in col]
        )

    applied = (
        cached.withColumn("sym", sym_col)
        .withColumn("sym", apply_prefix("sym"))
        .localCheckpoint(eager=True)
    )
    cached.unpersist()
    new = _distributed_bpe_loop(applied, start, n_more)
    return _merges_frame(spark, existing + new)


def bpe_tokenize(
    df: DataFrame,
    merges_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_pattern: str = "[a-z]+",
    byte_level: bool = False,
    emit_ids: bool = False,
) -> DataFrame:
    """Tokenize a corpus with a learned BPE merge table
    (:func:`learn_bpe_merges`). Returns (id, tokens array<string>,
    n_tokens) with tokens in reading order.

    100 TB shape: the per-word merge loop (inherently sequential per
    item — the documented Python carve-out) runs over the DISTINCT
    word vocabulary, not the corpus: O(types x merges-in-word), via an
    Arrow-batched pandas UDF. The corpus itself pays one explode +
    one equi-join on the word (AQE broadcasts the tokenized vocab
    when it fits) + one per-doc reassembly — no Python touches
    corpus-sized data. ``merges_df`` is collected to the driver: a
    merge table is bounded by construction (vocab-sized, typically
    8-64k rows).

    Merge application follows reference BPE: repeatedly merge the
    LOWEST-RANK adjacent pair present, each application left-to-right
    greedy. For merge tables produced by :func:`learn_bpe_merges` this
    is byte-identical to applying the merges in learned order (every
    pair's operands existed at learn time), and to the learner's own
    greedy rule ('aaaa' + (a,a) -> ['aa','aa']). Precondition on an
    arbitrary user-supplied ``merges_df``: if a later merge creates a
    pair that an EARLIER rank consumes, the lowest-rank-present loop
    applies that earlier merge where strict in-learned-order
    application would not — supply tables in true learned order.

    ``byte_level=True`` tokenizes in :func:`learn_bpe_merges`'s byte
    mode: no lowercasing, arbitrary ``token_pattern`` (passed as a
    Column literal), words seeded from the ``chr(0x100 + b)``
    byte-symbol alphabet — pair with a byte-level merge table.

    ``emit_ids=True`` (byte mode only) additionally returns
    ``token_ids array<int>`` in the :func:`bpe_vocab` GPT-2 layout —
    equal to :func:`bpe_encode_ids` on this function's output (pinned
    in tests) but computed in the SAME corpus pass: the id of base
    symbol b is b and of the k-th merge (0-based, i.e. ``merge_rank``
    k + 1) is 256 + k, so the id array is a vocab-side dict lookup and
    the per-doc reassembly carries both arrays through the one
    explode + join + groupBy cycle. Colliding merge products raise.
    Composed consumers (tokenize → ids → chunk/pack) previously paid
    ``bpe_encode_ids``'s second full corpus explode + join + groupBy
    for information the vocabulary already determined (round 19,
    guide §1.2/§2.4); use ``bpe_encode_ids`` itself when the id
    layout must come from an external ``vocab_df``.
    """
    import re as _re

    if not byte_level and _re.search(r"['\\]", token_pattern):
        raise ValueError(f"token_pattern unsafe for a SQL literal: {token_pattern!r}")
    if emit_ids and not byte_level:
        raise ValueError("emit_ids requires byte_level=True (bpe_vocab layout)")
    merges = [(lhs, rhs) for _, lhs, rhs, _ in _merge_rows(merges_df)]
    ranks = {pair: i for i, pair in enumerate(merges)}

    @F.pandas_udf("array<string>")
    def apply_bpe(col: pd.Series) -> pd.Series:
        return pd.Series(
            [
                _apply_rank_loop(
                    byte_syms(w) if byte_level else list(w), merges, ranks
                )
                for w in col
            ]
        )

    words_col = _bpe_words_col(text_col, token_pattern, byte_level)
    vocab_tok = (
        df.select(F.explode(words_col).alias("word"))
        .distinct()
        .withColumn("__toks", apply_bpe("word"))
    )
    doc_words = df.select(
        F.col(id_col),
        F.posexplode(words_col).alias("__wi", "word"),
    )
    if emit_ids:
        tok_id = _byte_level_ids(merges)

        # vocab-sized work: one id array per DISTINCT word (every
        # token is in-vocab by construction — byte-level has no OOV)
        @F.pandas_udf("array<int>")
        def ids_of(col: pd.Series) -> pd.Series:
            return pd.Series([[tok_id[t] for t in ts] for ts in col])

        per_doc = (
            doc_words.join(vocab_tok.withColumn("__tids", ids_of("__toks")), "word")
            .groupBy(id_col)
            .agg(
                F.expr(
                    "array_sort(collect_list(struct(__wi, __toks, __tids)))"
                ).alias("__srt")
            )
            .select(
                id_col,
                F.flatten(
                    F.expr("transform(__srt, s -> s.__toks)")
                ).alias("tokens"),
                F.flatten(
                    F.expr("transform(__srt, s -> s.__tids)")
                ).alias("token_ids"),
            )
        )
        toks = F.coalesce("tokens", F.array().cast("array<string>"))
        return (
            df.select(id_col)
            .join(per_doc, id_col, "left")
            .select(
                id_col,
                toks.alias("tokens"),
                F.size(toks).cast("bigint").alias("n_tokens"),
                F.coalesce("token_ids", F.array().cast("array<int>")).alias(
                    "token_ids"
                ),
            )
        )
    per_doc = (
        doc_words.join(vocab_tok, "word")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.expr("transform(array_sort(collect_list(struct(__wi, __toks))),"
                       " s -> s.__toks)")
            ).alias("tokens")
        )
    )
    toks = F.coalesce("tokens", F.array().cast("array<string>"))
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            toks.alias("tokens"),
            F.size(toks).cast("bigint").alias("n_tokens"),
        )
    )


def bpe_vocab(merges_df: DataFrame, special_tokens: tuple = ()) -> DataFrame:
    """Token-id vocabulary from a BYTE-LEVEL learned merge table, in
    the GPT-2 layout every production tokenizer ships: ids 0-255 are
    the 256 base byte symbols (``chr(0x100 + b)`` maps byte b to id
    b), and merge rank k mints token ``lhs || rhs`` with id 255 + k —
    vocab size is exactly 256 + n_merges, no unknown token needed
    (any UTF-8 input decomposes into base bytes). Byte mode only:
    char-mode tables have no fixed base alphabet to assign stable ids
    over. ``special_tokens`` mints ids AFTER the merges (GPT-2's own
    convention — ``<|endoftext|>`` is its last vocab id), so special
    token i gets id 256 + n_merges + i; they never collide with text
    tokens (text tokens are built from chars >= U+0100). Returns
    (token string, token_id int), one row per vocab entry —
    256 + n_merges + n_special rows, always broadcastable.
    """
    spark = merges_df.sparkSession
    base = spark.range(256).select(
        F.expr(
            "element_at(array("
            + ",".join(f"'{chr(_BYTE_SYM_BASE + b)}'" for b in range(256))
            + "), CAST(id AS INT) + 1)"
        ).alias("token"),
        F.col("id").cast("int").alias("token_id"),
    )
    merged = merges_df.select(
        F.concat("lhs", "rhs").alias("token"),
        (F.col("merge_rank") + 255).cast("int").alias("token_id"),
    )
    out = base.unionByName(merged)
    if special_tokens:
        local_rows = getattr(merges_df, "_vinum_local_rows", None)
        n_merges = (
            len(local_rows) if local_rows is not None else merges_df.count()
        )
        specials = spark.createDataFrame(
            [
                (tok, 256 + n_merges + i)
                for i, tok in enumerate(special_tokens)
            ],
            "token string, token_id int",
        )
        out = out.unionByName(specials)
    return out


def bpe_encode_ids(
    tokens_df: DataFrame,
    merges_df: DataFrame,
    id_col: str = "doc_id",
    vocab_df: "DataFrame | None" = None,
    special_tokens: tuple = (),
) -> DataFrame:
    """Map a tokenized corpus (``bpe_tokenize`` byte-mode output:
    id, tokens array<string>) to token-ID sequences with the
    :func:`bpe_vocab` table — the actual array<int> a training
    pipeline feeds the model. The join side is the vocabulary
    (256 + n_merges rows, broadcast by AQE); the corpus pays one
    posexplode + equi-join + ordered reassembly, the same 100 TB
    shape as ``bpe_tokenize`` itself. Every TEXT token is in-vocab by
    construction (byte-level has no OOV), so the inner join is
    lossless; empty docs keep empty sequences. Returns (id,
    token_ids array<int>, n_tokens long). Pass ``special_tokens``
    when ``tokens_df`` carries literal specials (an upstream
    ``append_eos``) — they join through the :func:`bpe_vocab`
    ``special_tokens`` layout; a special the vocabulary does NOT id
    fails the job at runtime (the guard below) instead of silently
    shortening the sequence.

    ``vocab_df`` overrides the id layout: a (token, token_id) frame —
    e.g. the PUBLISHED ids of a loaded GPT-2 ``vocab.json``
    (:func:`load_tokenizer_gpt2`), whose base-byte ids differ from
    the :func:`bpe_vocab` layout — joins in place of the derived
    vocabulary. Because the join is inner, a coverage gap would
    SILENTLY shorten id sequences (corrupted training data, no
    error), so coverage of every token ``merges_df`` can emit is
    checked eagerly here — one anti-join between two vocab-bounded
    frames, nothing corpus-sized.
    """
    if vocab_df is None:
        vocab = bpe_vocab(merges_df, special_tokens=special_tokens)
    else:
        vocab = vocab_df
        vocab_rows = getattr(vocab_df, "_vinum_local_rows", None)
        merge_rows = getattr(merges_df, "_vinum_local_rows", None)
        if vocab_rows is not None and merge_rows is not None:
            # both tables are driver-local (loader/learner-minted):
            # run the coverage check as a set difference — same tokens
            # as the anti-join below (bpe_vocab sans specials = 256
            # base symbols + every merge product), zero Spark jobs
            have = {e[0] for e in vocab_rows}
            need = [chr(_BYTE_SYM_BASE + b) for b in range(256)] + [
                lhs + rhs for _, lhs, rhs, _ in merge_rows
            ]
            missing = [t for t in need if t not in have][:5]
        else:
            missing = [
                r["token"]
                for r in bpe_vocab(merges_df)
                .select("token")
                .join(vocab_df, "token", "left_anti")
                .limit(5)
                .collect()
            ]
        if missing:
            raise ValueError(
                "bpe_encode_ids: vocab_df does not cover every token the "
                f"merge table can emit — missing {missing!r}{'...' if len(missing) == 5 else ''}; "
                "an inner join would silently shorten id sequences"
            )
    exploded = tokens_df.select(
        F.col(id_col), F.posexplode("tokens").alias("__ti", "token")
    )
    per_doc = (
        exploded.join(F.broadcast(vocab.select("token", "token_id")), "token")
        .groupBy(id_col)
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(__ti, token_id))),"
                " s -> s.token_id)"
            ).alias("token_ids")
        )
    )
    ids = F.coalesce("token_ids", F.array().cast("array<int>"))
    # RUNTIME guard, both modes: the vocabulary join is INNER, so any
    # token the vocabulary does not id (an appended special missing
    # from special_tokens/vocab_df — eager checks cannot see what
    # tokens_df carries) would silently shorten the sequence.
    # assert_true rides inside the id expression so Catalyst cannot
    # prune it; only the pre-computed LENGTH rides through the
    # reassembly join (carrying the tokens array itself would double
    # that join's shuffled bytes), so the cost is one int per row.
    want = F.greatest(F.col("__n_in"), F.lit(0))
    ids = F.when(
        F.assert_true(
            F.size(ids) == want,
            F.concat(
                F.lit(
                    "bpe_encode_ids: the vocabulary does not id every "
                    "token of doc "
                ),
                F.col(id_col).cast("string"),
                F.lit(
                    " (a token outside the merge table's range, e.g. "
                    "an appended special not passed via special_tokens/"
                    "vocab_df)"
                ),
            ),
        ).isNull(),
        ids,
    )
    return (
        tokens_df.select(id_col, F.size("tokens").alias("__n_in"))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            ids.alias("token_ids"),
            F.size(ids).cast("bigint").alias("n_tokens"),
        )
    )


def bpe_decode_ids(
    df: DataFrame,
    merges_df: DataFrame,
    id_col: str = "doc_id",
    ids_col: str = "token_ids",
    out: str = "text",
    special_tokens: tuple = (),
    vocab_df: "DataFrame | None" = None,
) -> DataFrame:
    """Inverse of :func:`bpe_encode_ids` / the map-side ``emit_ids``
    projection: token-ID sequences back to text — the inspection half
    of a production tokenizer (sample what the model actually sees
    from landed id shards; verify a pipeline end to end). Byte-level
    tables only (the :func:`bpe_vocab` id layout — or, with
    ``vocab_df``, the layout of that (token, token_id) frame, e.g.
    the PUBLISHED ids of a loaded GPT-2 ``vocab.json``: the id->token
    map is collected from it (vocab-bounded) instead of being derived
    positionally from the merge table, and entries that are not
    byte-symbol-composed — special tokens like ``<|endoftext|>`` —
    decode to their literal string; ``special_tokens`` is ignored in
    that mode since the frame already carries them).

    Round-trip law (pinned by the q100 gate): the GPT-2-style split
    patterns TILE their input — every character is consumed by exactly
    one token — so ``decode(encode(text)) == text`` EXACTLY under
    ``GPT2ISH_SPLIT_PATTERN``, for any merge table. (A lossy
    pre-tokenizer like ``'[^ ]+'`` reconstructs the words without the
    separators; ``GPT2_EXACT`` additionally drops the reserved U+001E.)

    Pure projection, join-free, streams: the id->token table is the
    GPT-2 layout derived from the collected merge table (bounded by
    construction) applied in one Arrow-batched pandas UDF; token
    symbols map back through ``chr(0x100 + b)`` to UTF-8 bytes. An
    id outside [0, 255 + n_merges] raises; an id sequence that does
    not decode as UTF-8 (possible only for sequences a tokenizer
    never produced, e.g. hand-edited ids splitting a multibyte
    character) substitutes U+FFFD rather than failing the batch.
    """
    if vocab_df is not None:
        id_tok, special = {}, {}
        byte_syms_set = {chr(_BYTE_SYM_BASE + b) for b in range(256)}
        has_flag = "is_special" in vocab_df.columns
        local_rows = getattr(vocab_df, "_vinum_local_rows", None)
        vocab_rows = (
            # loader-minted frames carry (token, token_id[, is_special])
            # tuples as driver metadata — skip the collect job
            [
                (e[0], e[1], e[2] if len(e) > 2 else None)
                for e in local_rows
            ]
            if local_rows is not None
            else [
                (
                    r["token"],
                    r["token_id"],
                    r["is_special"] if has_flag else None,
                )
                for r in vocab_df.collect()
            ]
        )
        for tok, tid, flag in vocab_rows:
            tid = int(tid)
            # prefer the loader's explicit flag: a special token's
            # literal name can be byte-symbol-composed, so a character
            # heuristic (the fallback for hand-built frames) would
            # decode it as raw bytes
            is_sp = (
                bool(flag)
                if has_flag
                else not set(tok) <= byte_syms_set
            )
            if is_sp:
                special[tid] = tok
            else:
                id_tok[tid] = tok
    else:
        merges = [(lhs, rhs) for _, lhs, rhs, _ in _merge_rows(merges_df)]
        id_tok = {b: chr(_BYTE_SYM_BASE + b) for b in range(256)}
        id_tok.update({256 + k: a + b for k, (a, b) in enumerate(merges)})
        # special tokens (the bpe_vocab special_tokens layout: ids
        # after the merges) decode to their LITERAL string — they
        # carry no byte symbols, so they bypass the byte mapping below
        special = {
            256 + len(merges) + i: tok for i, tok in enumerate(special_tokens)
        }
    n_vocab = len(id_tok) + len(special)

    @F.pandas_udf("string")
    def decode(col: pd.Series) -> pd.Series:
        out_rows = []
        for ids in col:
            if ids is None:
                out_rows.append(None)
                continue
            parts, run = [], []
            for i in ids:
                sp = special.get(i)
                if sp is not None:
                    if run:
                        raw = bytes(ord(c) - _BYTE_SYM_BASE for c in run)
                        parts.append(raw.decode("utf-8", errors="replace"))
                        run = []
                    parts.append(sp)
                    continue
                tok = id_tok.get(i)
                if tok is None:
                    raise ValueError(
                        f"token id {i} outside the vocabulary "
                        f"[0, {n_vocab - 1}] of the supplied merge table"
                    )
                run.extend(tok)
            if run:
                raw = bytes(ord(c) - _BYTE_SYM_BASE for c in run)
                parts.append(raw.decode("utf-8", errors="replace"))
            out_rows.append("".join(parts))
        return pd.Series(out_rows)

    return df.select(id_col, decode(ids_col).alias(out))


def chunk_token_ids(
    df: DataFrame,
    max_len: int,
    stride: int | None = None,
    id_col: str = "doc_id",
    ids_col: str = "token_ids",
    min_len: int = 1,
    preserve: bool = False,
) -> DataFrame:
    """Context-window chunking — the training-prep step between
    tokenization and sequence packing: split each document's id
    sequence into model-context-sized training sequences, optionally
    overlapping. Chunk c covers ids ``[c*stride, c*stride + max_len)``
    for c = 0, 1, ... while ``c*stride < n``; the final chunk may be
    short and is kept when it has at least ``min_len`` ids (raise
    ``min_len`` to drop tail fragments; documents with no qualifying
    chunk — including empty ones — produce no rows). ``stride``
    defaults to ``max_len`` (non-overlapping); ``stride < max_len``
    overlaps consecutive chunks by ``max_len - stride`` ids.

    NAMING CAUTION — ``stride`` here is the window STEP (the distance
    between consecutive chunk STARTS), the numpy/torch
    sliding-window sense. HuggingFace's ``return_overflowing_tokens``
    ``stride`` is the opposite convention: the OVERLAP between
    consecutive chunks. Porting HF settings, convert explicitly:
    ``stride_here = max_len - hf_stride`` (e.g. HF ``max_length=1024,
    stride=128`` — 128-token overlap — is ``max_len=1024, stride=896``
    here; passing 128 unconverted would step by 128 and duplicate
    ~8x of the corpus into the training set).

    Returns (id_col, chunk_id int, token_ids array, n_tokens long),
    ``chunk_id`` counting from 0 in document order; ``preserve=True``
    carries EVERY other input column onto each chunk row instead of
    just ``id_col`` (pipeline composition — quality signals, shard,
    source survive chunking; the input must not already have
    ``chunk_id``/``n_tokens`` columns). Pure built-in array
    expressions — one explode, no UDF, no shuffle (a projection:
    composes with the streaming pipeline and Catalyst fuses it into
    the scan); at 100 TB the output is bounded by
    corpus_tokens/stride rows, each ``max_len`` ids.
    """
    if max_len < 1:
        raise ValueError(f"max_len must be >= 1, got {max_len}")
    stride = max_len if stride is None else stride
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")
    if not 1 <= min_len <= max_len:
        raise ValueError(
            f"min_len must be in [1, max_len], got {min_len}"
        )
    if preserve:
        taken = {"chunk_id", "n_tokens"}
        if ids_col != "token_ids":
            taken.add("token_ids")  # the output chunk column's name
        clash = sorted(taken.intersection(df.columns))
        if clash:
            raise ValueError(
                f"chunk_token_ids(preserve=True) output column(s) {clash} "
                "already exist on the input frame — drop or rename them "
                "before chunking"
            )
    n = F.size(ids_col)
    # chunk starts: 0, stride, 2*stride, ... strictly below n
    starts = F.when(
        n > 0,
        F.expr(
            f"sequence(0, CAST(floor((size({ids_col}) - 1) / {stride}) "
            f"AS INT) * {stride}, {stride})"
        ),
    ).otherwise(F.array().cast("array<int>"))
    chunk = F.slice(ids_col, F.col("__start") + 1, max_len)
    carried = (
        [c for c in df.columns if c != ids_col] if preserve else [id_col]
    )
    return (
        (df if preserve else df.select(id_col, ids_col))
        .withColumn("__starts", starts)
        .select(
            *carried,
            ids_col,
            F.posexplode("__starts").alias("chunk_id", "__start"),
        )
        .select(
            *carried,
            F.col("chunk_id").cast("int").alias("chunk_id"),
            chunk.alias("token_ids"),
            F.size(chunk).cast("bigint").alias("n_tokens"),
        )
        .filter(F.col("n_tokens") >= min_len)
    )


#: on-disk format tag for :func:`save_tokenizer` artifacts
_TOKENIZER_FORMAT = "vinum_spark-bpe-v1"


def save_tokenizer(
    merges_df: DataFrame,
    path: str,
    byte_level: bool = True,
    token_pattern: str | None = None,
    special_tokens: tuple = (),
) -> None:
    """Ship the learned tokenizer as ONE portable JSON artifact — the
    merge table plus everything needed to reproduce tokenization
    (alphabet mode, pre-tokenizer pattern, special tokens), the
    tokenizer.json idea: training happens once on the cluster, the
    artifact travels to every consumer. The merge table is
    vocab-bounded by contract (8-64k rows), so a driver-side JSON
    write is the right shape; ranks are positional (row i is rank
    i+1) and pair counts ride along as provenance. Round-trip is
    exact: ``load_tokenizer`` rebuilds a merge frame that tokenizes
    byte-for-byte identically (pinned in tests)."""
    import json

    rows = _merge_rows(merges_df)
    ranks = [r[0] for r in rows]
    if ranks != list(range(1, len(rows) + 1)):
        raise ValueError(
            "merge table ranks must be contiguous from 1 to save "
            f"positionally (got {ranks[:5]}...)"
        )
    artifact = {
        "format": _TOKENIZER_FORMAT,
        "byte_level": byte_level,
        "token_pattern": token_pattern,
        "special_tokens": list(special_tokens),
        "merges": [[lhs, rhs, int(cnt)] for _, lhs, rhs, cnt in rows],
    }
    with open(path, "w", encoding="utf-8") as f:
        json.dump(artifact, f, ensure_ascii=True)


def load_tokenizer(spark, path: str) -> dict:
    """Load a :func:`save_tokenizer` artifact. Returns a dict with
    ``merges`` (the rebuilt merge-table DataFrame, ranks restored
    positionally) plus the ``byte_level`` / ``token_pattern`` /
    ``special_tokens`` configuration — pass them straight to
    :func:`bpe_tokenize` / :func:`bpe_tokenize_map_side` /
    :func:`extend_bpe_merges` / :func:`bpe_decode_ids`. Rejects
    unknown formats loudly rather than mis-tokenizing quietly."""
    import json

    with open(path, encoding="utf-8") as f:
        artifact = json.load(f)
    fmt = artifact.get("format")
    if fmt != _TOKENIZER_FORMAT:
        raise ValueError(
            f"not a {_TOKENIZER_FORMAT} artifact (format={fmt!r}): {path}"
        )
    merges = _merges_frame(
        spark,
        [
            (i + 1, lhs, rhs, int(cnt))
            for i, (lhs, rhs, cnt) in enumerate(artifact["merges"])
        ],
    )
    return {
        "merges": merges,
        "byte_level": artifact["byte_level"],
        "token_pattern": artifact["token_pattern"],
        "special_tokens": tuple(artifact["special_tokens"]),
    }


def _gpt2_byte_alphabet() -> "tuple[dict, dict]":
    """The byte<->character alphabet of the PUBLISHED GPT-2 BPE
    artifact pair (``vocab.json`` / ``merges.txt``), as documented in
    the GPT-2 release: the 188 bytes with printable, non-space
    single-character representations (0x21-0x7E, 0xA1-0xAC,
    0xAE-0xFF) map to their own characters; the remaining 68 bytes
    map, in byte order, to consecutive codepoints from U+0100 —
    every vocab entry stays printable and space-free, which is what
    makes the whitespace-delimited ``merges.txt`` format parseable.
    (This differs from this repo's INTERNAL symbol alphabet, which
    maps every byte b to chr(0x100 + b).) Returns
    (byte -> char, char -> byte)."""
    printable = (
        list(range(0x21, 0x7F))
        + list(range(0xA1, 0xAD))
        + list(range(0xAE, 0x100))
    )
    b2u, n = {}, 0
    for b in range(256):
        if b in printable:
            b2u[b] = chr(b)
        else:
            b2u[b] = chr(0x100 + n)
            n += 1
    return b2u, {c: b for b, c in b2u.items()}


def _gpt2_published_byte_ids() -> dict:
    """byte -> id for the 256 single-byte tokens in the published
    GPT-2 vocab layout: the printable bytes in byte order take ids
    0-187, then the remapped bytes in byte order take 188-255 (so
    byte 0x20, the 33rd remapped byte, is id 220 — GPT-2's 'Ġ')."""
    b2u, _ = _gpt2_byte_alphabet()
    printable = [b for b in range(256) if b2u[b] == chr(b)]
    remapped = [b for b in range(256) if b2u[b] != chr(b)]
    return {b: i for i, b in enumerate(printable + remapped)}


def _internal_to_published(tok: str, b2u: dict) -> str:
    bad = [c for c in tok if not 0x100 <= ord(c) < 0x200]
    if bad:
        raise ValueError(
            f"token {tok!r} is not in the byte-level internal alphabet "
            "(chr(0x100+b)) — the published GPT-2 format is byte-level "
            "only"
        )
    return "".join(b2u[ord(c) - _BYTE_SYM_BASE] for c in tok)


def _collect_published_pairs(merges_df: DataFrame) -> list:
    """Collect a byte-level merge table (rank order, contiguity
    validated) and transliterate it to the published alphabet —
    the shared front half of every published-format saver."""
    rows = _merge_rows(merges_df)
    ranks = [r[0] for r in rows]
    if ranks != list(range(1, len(rows) + 1)):
        raise ValueError(
            "merge table ranks must be contiguous from 1 to save "
            f"positionally (got {ranks[:5]}...)"
        )
    b2u, _ = _gpt2_byte_alphabet()
    return [
        (
            _internal_to_published(lhs, b2u),
            _internal_to_published(rhs, b2u),
        )
        for _, lhs, rhs, _ in rows
    ]


def _published_vocab(pairs: list, special_tokens: tuple) -> dict:
    """token -> id in the published GPT-2 layout (single bytes 0-255,
    merge products 256+rank-1, specials last). Raises on two merges
    whose concatenations collide (e.g. ('a','bc') and ('ab','c') both
    yield 'abc') and on a special token shadowing a product — the
    published vocab is one flat dict, so a collision silently drops
    the earlier id and every consumer's ids drift; the formats cannot
    represent it, so saving it is an error, not a best effort."""
    b2u, _ = _gpt2_byte_alphabet()
    vocab = {}
    byte_ids = _gpt2_published_byte_ids()
    for b, i in sorted(byte_ids.items(), key=lambda kv: kv[1]):
        vocab[b2u[b]] = i
    for k, (lhs, rhs) in enumerate(pairs):
        prod = lhs + rhs
        if prod in vocab:
            raise ValueError(
                f"merge rank {k + 1} ({lhs!r}+{rhs!r}) concatenates to "
                f"{prod!r}, already id {vocab[prod]} from an earlier "
                "merge — the published vocab.json cannot represent two "
                "ids for one string; retrain without the colliding "
                "merge or ship the internal format (save_tokenizer)"
            )
        vocab[prod] = 256 + k
    for i, tok in enumerate(special_tokens):
        if tok in vocab:
            raise ValueError(
                f"special token {tok!r} collides with vocab id "
                f"{vocab[tok]} — pick a spelling no merge product uses"
            )
        vocab[tok] = 256 + len(pairs) + i
    return vocab


def save_tokenizer_gpt2(
    merges_df: DataFrame,
    merges_path: str,
    vocab_path: "str | None" = None,
    special_tokens: tuple = ("<|endoftext|>",),
) -> None:
    """Ship a byte-level merge table in the PUBLISHED GPT-2 artifact
    format — the ``merges.txt`` (+ optional ``vocab.json``) pair every
    byte-level-BPE consumer already reads — so a table trained here
    drops into any external tokenizer stack unchanged. Internal byte
    symbols (chr(0x100+b)) are transliterated to the published
    alphabet; ``vocab.json`` uses the published id layout exactly
    (printable bytes 0-187, remapped bytes 188-255 — byte 0x20 = 'Ġ'
    = id 220 — merges 256+rank-1, special tokens last, GPT-2's own
    ``<|endoftext|>``-is-the-final-id convention). Merge ranks must
    be contiguous from 1 (positional, like :func:`save_tokenizer`);
    pair counts do not survive — the published format has no field
    for them (``load_tokenizer_gpt2`` restores them as 0). Two merges
    whose concatenations collide raise (see :func:`_published_vocab`)
    — the flat vocab dict cannot hold both ids."""
    import json

    pairs = _collect_published_pairs(merges_df)
    # build (and thereby collision-check) the vocab BEFORE any file is
    # written, even when vocab_path is None: a merges.txt whose ids a
    # later vocab.json cannot represent should never land on disk
    vocab = _published_vocab(pairs, special_tokens)
    with open(merges_path, "w", encoding="utf-8") as f:
        f.write("#version: 0.2\n")
        for lhs, rhs in pairs:
            f.write(f"{lhs} {rhs}\n")
    if vocab_path is None:
        return
    with open(vocab_path, "w", encoding="utf-8") as f:
        json.dump(vocab, f, ensure_ascii=False)


def load_tokenizer_gpt2(
    spark, merges_path: str, vocab_path: "str | None" = None
) -> dict:
    """Load the PUBLISHED GPT-2 artifact pair — the one tokenizer
    format users actually arrive with (the released GPT-2 vocabulary
    ships exactly as ``vocab.json`` + ``merges.txt``) — into this
    repo's byte-level merge-table layout. Returns the
    :func:`load_tokenizer` dict shape (``merges`` frame with ranks
    positional from the merge order and ``pair_count`` 0 — the
    published format carries no counts; ``byte_level`` True;
    ``token_pattern`` None — pass ``GPT2ISH_SPLIT_PATTERN`` /
    ``GPT2_EXACT`` explicitly) plus, when ``vocab_path`` is given,
    ``vocab``: the (token, token_id) frame of PUBLISHED ids with
    tokens transliterated to internal symbols — feed it to
    ``bpe_encode_ids(..., vocab_df=...)`` /
    ``bpe_decode_ids(..., vocab_df=...)`` to encode/decode under the
    ids external consumers expect — and ``special_tokens``: the vocab
    entries that are not byte-composed (e.g. ``<|endoftext|>``),
    ordered by id.

    Validation is loud, not lenient: a merge line without exactly two
    fields, a character outside the published alphabet in a merge
    token, a vocab missing one of the 256 single-byte tokens, or a
    merge whose concatenation the vocab does not id — each raises
    with the offending entry, because every one of them would
    otherwise mis-tokenize quietly downstream."""
    import json

    b2u, u2b = _gpt2_byte_alphabet()

    def to_internal(pub: str, where: str) -> str:
        out = []
        for c in pub:
            b = u2b.get(c)
            if b is None:
                raise ValueError(
                    f"character {c!r} in {where} is outside the published "
                    f"GPT-2 byte alphabet: {merges_path}"
                )
            out.append(chr(_BYTE_SYM_BASE + b))
        return "".join(out)

    pairs = []
    with open(merges_path, encoding="utf-8") as f:
        for lineno, line in enumerate(f, 1):
            line = line.rstrip("\r\n")  # tolerate CRLF artifacts
            # the header is LINE 1 ONLY: '#' is in the published
            # alphabet, so a corpus that merges '#version'-ish tokens
            # (code: '#version 330') writes legitimate merge lines
            # starting with it mid-file — skipping those would shift
            # every later rank silently
            if not line or (lineno == 1 and line.startswith("#")):
                continue
            parts = line.split(" ")
            if len(parts) != 2 or not parts[0] or not parts[1]:
                raise ValueError(
                    f"{merges_path}:{lineno}: expected 'lhs rhs', got "
                    f"{line!r}"
                )
            pairs.append(
                (
                    to_internal(parts[0], f"line {lineno}"),
                    to_internal(parts[1], f"line {lineno}"),
                )
            )
    merges = _merges_frame(
        spark, [(i + 1, lhs, rhs, 0) for i, (lhs, rhs) in enumerate(pairs)]
    )
    out = {
        "merges": merges,
        "byte_level": True,
        "token_pattern": None,
        "special_tokens": (),
        "vocab": None,
    }
    if vocab_path is None:
        return out
    with open(vocab_path, encoding="utf-8") as f:
        raw = json.load(f)
    entries, specials = _classify_published_vocab(
        raw, pairs, vocab_path
    )
    # is_special is EXPLICIT, not re-derivable from characters: a
    # custom special token can be spelled entirely in alphabet chars
    # (or even in U+01xx byte-symbol space) — consumers (bpe_decode_ids)
    # must classify by this flag, never by character set
    out["vocab"] = _stash_vocab_rows(
        spark.createDataFrame(
            entries, "token string, token_id int, is_special boolean"
        ),
        entries,
    )
    out["special_tokens"] = tuple(
        tok for tok, _ in sorted(specials, key=lambda kv: kv[1])
    )
    return out


def _classify_published_vocab(
    raw: dict, pairs: list, src: str, forced_specials: frozenset = frozenset()
) -> "tuple[list, list]":
    """Classify a published token->id dict against a merge table
    (internal-alphabet pairs) and validate completeness — the shared
    back half of every published-format loader.

    A vocab entry is a BASE token (one alphabet char), a MERGE PRODUCT
    (lhs||rhs of some merge line), or a SPECIAL token. Character tests
    alone cannot tell specials apart — '<|endoftext|>' is composed
    entirely of printable alphabet chars — so membership in
    {base} ∪ {products} is the rule: exact for the published artifacts
    (50257 = 256 + 50000 + 1). ``forced_specials`` (HF added_tokens —
    ALL of them, special flag or not) override the membership rule —
    HF extracts every added token before BPE regardless of spelling
    and decodes it literally. Raises on a missing single-byte
    token or an un-idd merge product (each would mis-tokenize quietly
    downstream). Returns (entries=(token, id, is_special) with base/
    product tokens in the INTERNAL alphabet, specials=(published_token,
    id))."""
    b2u, u2b = _gpt2_byte_alphabet()

    def to_internal(pub: str) -> str:
        return "".join(chr(_BYTE_SYM_BASE + u2b[c]) for c in pub)

    products = {lhs + rhs for lhs, rhs in pairs}
    entries, specials = [], []
    for tok, tid in raw.items():
        internal = (
            to_internal(tok) if all(c in u2b for c in tok) else None
        )
        if (
            tok not in forced_specials
            and internal is not None
            and (len(internal) == 1 or internal in products)
        ):
            entries.append((internal, int(tid), False))
        else:
            specials.append((tok, int(tid)))
            entries.append((tok, int(tid), True))
    have = {t for t, _, _ in entries}
    for b in range(256):
        if chr(_BYTE_SYM_BASE + b) not in have:
            raise ValueError(
                f"vocab is missing the single-byte token for byte "
                f"{b} ({b2u[b]!r}): {src}"
            )
    for lhs, rhs in pairs:
        if lhs + rhs not in have:
            raise ValueError(
                "vocab does not id the merge product "
                f"{_internal_to_published(lhs + rhs, b2u)!r}: {src}"
            )
    return entries, specials


def save_tokenizer_hf(
    merges_df: DataFrame,
    path: str,
    special_tokens: tuple = ("<|endoftext|>",),
    token_pattern: "str | None" = None,
) -> None:
    """Ship a byte-level merge table as a single-file HuggingFace
    ``tokenizer.json`` (model.type=BPE, ByteLevel pre-tokenizer) — the
    format modern tokenizers actually ship in, superseding the
    two-file ``vocab.json``/``merges.txt`` pair of
    :func:`save_tokenizer_gpt2` (same published byte alphabet, same id
    layout: bytes 0-255, merge products 256+rank-1, specials last;
    cross-format id agreement is pinned in tests). Specials are listed
    in ``added_tokens`` with ``special: true`` AND idd in the model
    vocab, matching how the published GPT-2 ``tokenizer.json`` ships
    ``<|endoftext|>``. Colliding merge products raise (see
    :func:`_published_vocab`).

    The artifact CARRIES its pre-tokenizer — pass the
    ``token_pattern`` the table was trained with: ``GPT2_EXACT`` (or
    None) writes the bare ``ByteLevel`` with ``use_regex: true``,
    which IS the exact GPT-2 split in HF semantics; a custom regex
    writes the ``Sequence[Split(Regex, behavior=Removed, invert=true),
    ByteLevel]`` shape. ``Removed``+``invert: true`` is the HF
    spelling of "keep exactly the regex's matches, drop the gaps" —
    the shape converted GPT-4-class artifacts ship — and it is what
    this repo's ``regexp_extract_all`` tiling computes, so the export
    is faithful under the real ``tokenizers`` library even for
    NON-tiling patterns like ``'[^ ]+'`` whose inter-match gaps carry
    text. (``Isolated``+``invert: false``, the Llama-3 spelling, would
    instead keep those gaps as extra segments and disagree with this
    repo's ids on any gap-bearing input — an earlier round exported
    that shape; the in-repo round-trip could not catch it because both
    sides shared the gap-dropping semantics.)
    :func:`load_tokenizer_hf` maps both shapes back, so load→tokenize
    needs no out-of-band pattern knowledge."""
    import json

    pairs = _collect_published_pairs(merges_df)
    vocab = _published_vocab(pairs, special_tokens)
    if token_pattern is None or token_pattern == GPT2_EXACT:
        pre = {
            "type": "ByteLevel",
            "add_prefix_space": False,
            "trim_offsets": True,
            "use_regex": True,
        }
    else:
        pre = {
            "type": "Sequence",
            "pretokenizers": [
                {
                    # keep-matches-drop-gaps: the faithful HF spelling
                    # of regexp_extract_all tiling (see docstring)
                    "type": "Split",
                    "pattern": {"Regex": token_pattern},
                    "behavior": "Removed",
                    "invert": True,
                },
                {
                    "type": "ByteLevel",
                    "add_prefix_space": False,
                    "trim_offsets": True,
                    "use_regex": False,
                },
            ],
        }
    doc = {
        "version": "1.0",
        "truncation": None,
        "padding": None,
        "added_tokens": [
            {
                "id": vocab[tok],
                "content": tok,
                "single_word": False,
                "lstrip": False,
                "rstrip": False,
                "normalized": False,
                "special": True,
            }
            for tok in special_tokens
        ],
        "normalizer": None,
        "pre_tokenizer": pre,
        "post_processor": None,
        "decoder": {
            "type": "ByteLevel",
            "add_prefix_space": True,
            "trim_offsets": True,
            "use_regex": True,
        },
        "model": {
            "type": "BPE",
            "dropout": None,
            "unk_token": None,
            "continuing_subword_prefix": None,
            "end_of_word_suffix": None,
            "fuse_unk": False,
            "byte_fallback": False,
            "vocab": vocab,
            "merges": [f"{lhs} {rhs}" for lhs, rhs in pairs],
        },
    }
    with open(path, "w", encoding="utf-8") as f:
        json.dump(doc, f, ensure_ascii=False)


def _hf_pre_tokenizer_shape(pre) -> "tuple[bool, str | None]":
    """(byte_level, token_pattern) from an HF pre_tokenizer config —
    accepts the published byte-level shapes:

    - bare ``ByteLevel`` (GPT-2/RoBERTa exports), whose ``use_regex:
      true`` (the HF default) IS the exact GPT-2 split — maps to this
      repo's ``GPT2_EXACT`` sentinel;
    - ``Sequence`` of ``Split`` + ``ByteLevel``, where the Split's
      behavior/invert pair decides what the segments are.
      ``Removed``+``invert: true`` (converted-GPT-4-class artifacts,
      and what :func:`save_tokenizer_hf` writes) keeps exactly the
      regex's matches — this repo's ``regexp_extract_all`` tiling,
      faithful for ANY pattern. ``Isolated``+``invert: false``
      (Llama-3-class) keeps matches AND the non-matching gap text as
      extra segments; this repo reproduces it only when the pattern
      TILES its input (published patterns are designed to — their
      final ``\\s+``-style alternatives leave no gaps), so it is
      accepted with that documented assumption. Every other
      behavior/invert combination (``Removed``+``invert: false``
      keeps ONLY the gaps; ``MergedWith*``/``Contiguous`` re-attach
      delimiters) has no regexp_extract_all equivalent and raises.
    - ``Whitespace`` (standalone or inside the Sequence) — the fixed
      Rust regex ``\\w+|[^\\w\\s]+`` with gaps dropped — maps to
      :data:`HF_WHITESPACE_PATTERN` (its Java translation).

    Anything else is not byte-level BPE and the loader refuses."""
    if pre is None:
        return False, None

    def split_pattern(sub) -> "str | None":
        pat = sub.get("pattern")
        if isinstance(pat, dict):
            if pat.get("Regex") is not None:
                pat = pat.get("Regex")
            elif pat.get("String") is not None:
                # an HF LITERAL pattern — quote it (Pattern.quote
                # form, with embedded \E sequences escaped) so a
                # metacharacter like '.' matches itself, not
                # everything
                s = pat["String"]
                pat = "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"
            else:
                pat = None
        behavior = sub.get("behavior", "Removed")
        invert = bool(sub.get("invert", False))
        if invert and behavior == "Removed":
            return pat  # keep-matches: exactly regexp_extract_all
        if not invert and behavior == "Isolated":
            # matches become segments; gaps too — faithful here only
            # for tiling patterns (see docstring)
            return pat
        raise ValueError(
            f"Split(behavior={behavior!r}, invert={invert}) has no "
            "regexp_extract_all equivalent — only "
            "Removed+invert=true (keep matches) and "
            "Isolated+invert=false (tiling patterns) are implemented"
        )

    t = pre.get("type")
    if t == "ByteLevel":
        return True, GPT2_EXACT if pre.get("use_regex", True) else None
    if t == "Whitespace":
        # no ByteLevel stage: the vocab is not byte-alphabet-composed,
        # so the byte-level loader refuses downstream — but surface
        # the mapped pattern for the Sequence case below
        return False, HF_WHITESPACE_PATTERN
    if t == "Sequence":
        byte_level, split_regex, n_splitters = False, None, 0
        for sub in pre.get("pretokenizers", []):
            st = sub.get("type")
            if st == "ByteLevel":
                byte_level = True
                if sub.get("use_regex", True):
                    # use_regex=true makes ByteLevel itself a GPT-2
                    # splitting stage — after an explicit Split that is
                    # sequential double-splitting, same refusal as two
                    # Splits (published Sequence exports ship
                    # use_regex=false alongside their Split)
                    n_splitters += 1
                    if n_splitters > 1:
                        raise ValueError(
                            "Sequence contains more than one splitting "
                            "pre-tokenizer (ByteLevel(use_regex=true) "
                            "after a Split/Whitespace) — their "
                            "sequential composition has no "
                            "single-pattern equivalent; not implemented"
                        )
                    split_regex = GPT2_EXACT
            elif st in ("Split", "Whitespace"):
                # HF composes splitting stages SEQUENTIALLY (re-split
                # each segment); one regexp_extract_all pattern cannot
                # express that composition — keeping only the last
                # stage would silently mis-tokenize, so refuse loudly
                n_splitters += 1
                if n_splitters > 1:
                    raise ValueError(
                        "Sequence contains more than one splitting "
                        "pre-tokenizer (Split/Whitespace) — their "
                        "sequential composition has no single-pattern "
                        "equivalent; not implemented"
                    )
                split_regex = (
                    split_pattern(sub)
                    if st == "Split"
                    else HF_WHITESPACE_PATTERN
                )
            else:
                raise ValueError(
                    f"unsupported pre_tokenizer {st!r} inside Sequence "
                    "— only Split/Whitespace + ByteLevel byte-level "
                    "chains are implemented"
                )
        return byte_level, split_regex
    return False, None


def load_tokenizer_hf(spark, path: str) -> dict:
    """Load a single-file HuggingFace ``tokenizer.json``
    (model.type=BPE, byte-level) into this repo's merge-table layout —
    the :func:`load_tokenizer` dict shape plus ``vocab`` (the
    (token, token_id, is_special) frame of PUBLISHED ids for
    ``bpe_encode_ids(..., vocab_df=...)`` / ``bpe_decode_ids``) and
    ``special_tokens`` (added_tokens with ``special: true`` plus
    non-byte-composed vocab entries, ordered by id). The returned
    ``token_pattern`` comes FROM the artifact: a bare ``ByteLevel``
    with ``use_regex: true`` (the HF default — the exact GPT-2 split)
    maps to ``GPT2_EXACT``; a ``Sequence[Split, ByteLevel]`` maps to
    the Split regex — so ``bpe_tokenize(docs, loaded['merges'],
    token_pattern=loaded['token_pattern'], byte_level=True)`` needs no
    out-of-band pattern knowledge.

    Validation is loud, not lenient, like :func:`load_tokenizer_gpt2`:
    a non-BPE model, BPE-dropout, subword prefixes/suffixes,
    byte_fallback, a non-byte-level pre-tokenizer, a malformed merge
    entry, a missing single-byte token, or an un-idd merge product —
    each raises naming the offending field, because every one would
    otherwise mis-tokenize quietly downstream."""
    import json

    with open(path, encoding="utf-8") as f:
        doc = json.load(f)
    model = doc.get("model") or {}
    if model.get("type") != "BPE":
        raise ValueError(
            f"tokenizer.json model.type={model.get('type')!r} — only "
            f"BPE is implemented: {path}"
        )
    for field, ok in (
        ("dropout", (None, 0, 0.0)),
        ("continuing_subword_prefix", (None, "")),
        ("end_of_word_suffix", (None, "")),
    ):
        if model.get(field) not in ok:
            raise ValueError(
                f"tokenizer.json model.{field}={model.get(field)!r} "
                f"changes BPE semantics this loader does not "
                f"implement: {path}"
            )
    if model.get("byte_fallback"):
        raise ValueError(
            "tokenizer.json model.byte_fallback=true is the "
            "SentencePiece-style <0xNN> fallback, not byte-level BPE "
            f"— not implemented: {path}"
        )
    byte_level, token_pattern = _hf_pre_tokenizer_shape(
        doc.get("pre_tokenizer")
    )
    if not byte_level:
        raise ValueError(
            "tokenizer.json pre_tokenizer is not ByteLevel "
            f"({(doc.get('pre_tokenizer') or {}).get('type')!r}) — "
            f"only byte-level BPE is implemented: {path}"
        )
    _, u2b = _gpt2_byte_alphabet()

    def to_internal(pub: str, where: str) -> str:
        out = []
        for c in pub:
            b = u2b.get(c)
            if b is None:
                raise ValueError(
                    f"character {c!r} in {where} is outside the "
                    f"published GPT-2 byte alphabet: {path}"
                )
            out.append(chr(_BYTE_SYM_BASE + b))
        return "".join(out)

    pairs = []
    for i, entry in enumerate(model.get("merges") or []):
        # both published shapes: "lhs rhs" strings (tokenizers <0.20
        # exports) and ["lhs", "rhs"] pairs (newer exports)
        if isinstance(entry, str):
            parts = entry.split(" ")
        else:
            parts = list(entry)
        if len(parts) != 2 or not parts[0] or not parts[1]:
            raise ValueError(
                f"model.merges[{i}]: expected two fields, got "
                f"{entry!r}: {path}"
            )
        pairs.append(
            (
                to_internal(parts[0], f"merges[{i}]"),
                to_internal(parts[1], f"merges[{i}]"),
            )
        )
    merges = _merges_frame(
        spark, [(i + 1, lhs, rhs, 0) for i, (lhs, rhs) in enumerate(pairs)]
    )
    # ALL added_tokens are forced into the literal class, not just
    # special: true — HF extracts every added token before BPE runs
    # and decodes it literally regardless of the flag (the flag only
    # gates decode(skip_special_tokens=True)); is_special=True is this
    # repo's literal-token class, so it is the faithful mapping for
    # both. Real artifacts ship special: false added tokens (chat
    # templates, fill-in-middle markers).
    forced = frozenset(
        t["content"] for t in doc.get("added_tokens") or []
    )
    entries, specials = _classify_published_vocab(
        model.get("vocab") or {}, pairs, path, forced_specials=forced
    )
    # an added token may live OUTSIDE model.vocab (HF allows
    # post-training additions with ids past the vocab) — include it
    have = {t for t, _, _ in entries}
    for t in doc.get("added_tokens") or []:
        if t["content"] not in have:
            entries.append((t["content"], int(t["id"]), True))
            specials.append((t["content"], int(t["id"])))
    return {
        "merges": merges,
        "byte_level": True,
        # the artifact CARRIES its pre-tokenizer: bare
        # ByteLevel(use_regex=true) -> GPT2_EXACT, Sequence-Split ->
        # the explicit regex — feed straight into bpe_tokenize
        "token_pattern": token_pattern,
        "special_tokens": tuple(
            tok for tok, _ in sorted(specials, key=lambda kv: kv[1])
        ),
        "vocab": _stash_vocab_rows(
            spark.createDataFrame(
                entries, "token string, token_id int, is_special boolean"
            ),
            entries,
        ),
    }


def bpe_tokenize_map_side(
    df: DataFrame,
    merges_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_pattern: str = "[a-z]+",
    byte_level: bool = False,
    emit_ids: bool = False,
    append_eos: bool = False,
    eos_token: str = "<|endoftext|>",
    vocab_df: "DataFrame | None" = None,
) -> DataFrame:
    """:func:`bpe_tokenize` as a PURE PROJECTION — no distinct, no
    join, no shuffle — so it runs on ``readStream`` (streaming corpus
    ingestion: tokenize micro-batches as they land) and composes with
    the other map-side stages ``prepare_corpus`` already streams.

    ``vocab_df`` (with ``emit_ids``) overrides the id layout the same
    way as on :func:`bpe_encode_ids`: the (token, token_id) frame —
    e.g. a loaded PUBLISHED GPT-2 ``vocab.json``
    (:func:`load_tokenizer_gpt2`) — is collected (vocab-bounded, the
    same contract as the merge table) into the projection's id map,
    so a STREAMING ingestion pipeline lands ids external consumers
    read directly. Coverage of every emittable token (merge products,
    base bytes, and ``eos_token`` when ``append_eos``) is checked
    eagerly here; ids equal :func:`bpe_encode_ids` with the same
    ``vocab_df`` by construction (pinned in tests).

    ``append_eos=True`` (byte mode) closes every document with
    ``eos_token`` — the document-boundary marker a packed training
    stream needs (GPT-2's ``<|endoftext|>`` convention: the special
    token takes the first id AFTER the merges, 256 + n_merges, the
    :func:`bpe_vocab` ``special_tokens`` layout). The marker is
    appended to ``tokens``, counted in ``n_tokens``, and (with
    ``emit_ids``) its id appended to ``token_ids``; pass the same
    ``special_tokens=(eos_token,)`` to :func:`bpe_decode_ids` to
    round-trip it.

    Trade vs :func:`bpe_tokenize`: the batch operator's rank loop runs
    once per DISTINCT word corpus-wide; here it runs once per distinct
    word PER EXECUTOR (a process-lifetime cache inside the UDF — the
    natural-language word distribution is Zipfian, so the cache hit
    rate approaches the corpus dedup ratio after the first batches).
    Word extraction stays in Spark (the identical ``regexp_extract_all``
    expression), so tokens are EXACTLY ``bpe_tokenize``'s — equality is
    pinned in tests. ``merges_df`` is collected (vocab-bounded), the
    same contract as the batch operator. Being a projection, the
    output keeps EVERY input column (unlike the batch operator's
    3-column frame) and appends tokens array<string> + n_tokens, so
    pipeline composition needs no join-back; ``emit_ids=True`` (byte mode
    only) adds ``token_ids array<int>`` in the :func:`bpe_vocab`
    GPT-2 layout — equal to :func:`bpe_encode_ids` but computed in the
    same projection (the id of base symbol b is b, of the k-th merge
    (0-based) is 256 + k; no join needed), so a streaming ingestion
    pipeline can land model-ready id sequences directly.
    """
    import re as _re

    if not byte_level and _re.search(r"['\\]", token_pattern):
        raise ValueError(f"token_pattern unsafe for a SQL literal: {token_pattern!r}")
    if emit_ids and not byte_level:
        raise ValueError("emit_ids requires byte_level=True (bpe_vocab layout)")
    if append_eos and not byte_level:
        raise ValueError(
            "append_eos requires byte_level=True (the special-token id "
            "layout is bpe_vocab's)"
        )
    # being a projection this APPENDS its output columns; an input that
    # already carries them (a re-run pipeline stage) would otherwise
    # produce duplicate names that only fail later as ambiguous
    # references deep inside a downstream select
    taken = {"tokens", "n_tokens"} | ({"token_ids"} if emit_ids else set())
    clash = sorted(taken.intersection(df.columns))
    if clash:
        raise ValueError(
            f"bpe_tokenize_map_side output column(s) {clash} already exist "
            f"on the input frame — drop or rename them before tokenizing "
            f"(this stage appends tokens/n_tokens"
            + ("/token_ids" if emit_ids else "")
            + ")"
        )
    merges = [(lhs, rhs) for _, lhs, rhs, _ in _merge_rows(merges_df)]
    if vocab_df is not None:
        if not emit_ids:
            raise ValueError(
                "bpe_tokenize_map_side: vocab_df only affects ids — pass "
                "emit_ids=True (byte mode) with it"
            )
        local_rows = getattr(vocab_df, "_vinum_local_rows", None)
        tok_id = (
            {e[0]: int(e[1]) for e in local_rows}
            if local_rows is not None
            else {
                r["token"]: int(r["token_id"])
                for r in vocab_df.select("token", "token_id").collect()
            }
        )
        need = (
            {chr(_BYTE_SYM_BASE + b) for b in range(256)}
            | {a + b for a, b in merges}
            | ({eos_token} if append_eos else set())
        )
        missing = sorted(need - set(tok_id))[:5]
        if missing:
            raise ValueError(
                "bpe_tokenize_map_side: vocab_df does not cover every "
                f"emittable token — missing {missing!r}"
                f"{'...' if len(missing) == 5 else ''}"
            )
    else:
        tok_id = _byte_level_ids(merges)
        if append_eos:
            tok_id[eos_token] = 256 + len(merges)
    ranks = {pair: i for i, pair in enumerate(merges)}
    cache: dict = {}

    def word_toks(w: str) -> list:
        hit = cache.get(w)
        if hit is not None:
            return hit
        syms = _apply_rank_loop(
            byte_syms(w) if byte_level else list(w), merges, ranks
        )
        if len(cache) < 1_000_000:  # bound executor memory
            cache[w] = syms
        return syms

    @F.pandas_udf("array<string>")
    def tokenize_words(col: pd.Series) -> pd.Series:
        return pd.Series(
            [
                [t for w in (ws if ws is not None else []) for t in word_toks(w)]
                for ws in col
            ]
        )

    words_col = _bpe_words_col(text_col, token_pattern, byte_level)
    toks = tokenize_words(words_col)
    if append_eos:
        toks = F.concat(toks, F.array(F.lit(eos_token)))
    out = df.select(
        "*",
        toks.alias("tokens"),
        F.size(toks).cast("bigint").alias("n_tokens"),
    )
    if emit_ids:
        # every token is in-vocab by construction (byte-level has no
        # OOV), so the dict lookup is total; a pandas UDF over the
        # collected vocab keeps this a pure projection (streams fine)
        # without embedding a 256+n_merges map literal in the plan
        @F.pandas_udf("array<int>")
        def ids_of(col: pd.Series) -> pd.Series:
            return pd.Series([[tok_id[t] for t in ts] for ts in col])

        out = out.withColumn("token_ids", ids_of("tokens"))
    return out
