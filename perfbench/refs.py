"""Independent references shared by the output checks: a pure-Python
byte-level BPE encoder and the DuckDB twin of the corpus quality rules."""

from __future__ import annotations

import re

_BASE = 0x100


class BpeEncoder:
    """Encodes words with a rank-ordered merge table: repeatedly merge the
    lowest-rank adjacent pair present, every occurrence left to right.
    Byte ``b`` has id ``b`` and the product of merge ``k`` id ``255 + k``."""

    def __init__(self, merges):
        self.ranks = {(lhs, rhs): rank for rank, lhs, rhs in merges}
        self.ids = {chr(_BASE + b): b for b in range(256)}
        for rank, lhs, rhs in merges:
            self.ids[lhs + rhs] = 255 + rank
        self._cache = {}

    def word(self, w: str) -> list:
        hit = self._cache.get(w)
        if hit is not None:
            return hit
        syms = [chr(_BASE + b) for b in w.encode("utf-8")]
        while len(syms) > 1:
            rank, pair = min(
                (self.ranks.get(p, float("inf")), p) for p in zip(syms, syms[1:])
            )
            if rank == float("inf"):
                break
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == pair:
                    out.append(pair[0] + pair[1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        ids = [self.ids[s] for s in syms]
        self._cache[w] = ids
        return ids

    def text(self, text: str, pattern: str = "[^ ]+") -> list:
        return [i for w in re.findall(pattern, text) for i in self.word(w)]


def read_merges(path: str) -> list:
    import pyarrow.parquet as pq

    t = pq.read_table(path).sort_by("merge_rank")
    return list(zip(t["merge_rank"].to_pylist(), t["lhs"].to_pylist(),
                    t["rhs"].to_pylist()))


def quality_passed_sql(source: str) -> str:
    """DuckDB rows of ``source`` (doc_id, text, ...) that pass the
    Gopher/C4 rules of ``with_quality_rules`` at its default thresholds."""
    return f"""
    WITH qbase AS (
      SELECT *,
        list_filter(string_split(text, chr(10)), x -> length(trim(x)) > 0) AS lines,
        regexp_extract_all(text, '[A-Za-z]+') AS words,
        length(regexp_replace(text, '[^#…]', '', 'g')) AS n_symbols
      FROM {source}
    ), qsig AS (
      SELECT *,
        len(lines) AS n_lines,
        greatest(len(lines), 1) AS safe_lines,
        len(list_distinct(list_transform(lines, x -> trim(x)))) AS n_distinct,
        len(list_filter(lines, x -> regexp_matches(trim(x), '^[-*•]'))) AS n_bullet,
        greatest(len(words), 1) AS safe_words,
        coalesce(list_sum(list_transform(words, w -> length(w))), 0) AS word_chars
      FROM qbase
    )
    SELECT * EXCLUDE (lines, words, n_symbols, n_lines, safe_lines, n_distinct,
                      n_bullet, safe_words, word_chars)
    FROM qsig
    WHERE round((n_lines - n_distinct) / CAST(safe_lines AS DOUBLE), 6) <= 0.30
      AND round(n_symbols / CAST(safe_words AS DOUBLE), 6) <= 0.10
      AND round(n_bullet / CAST(safe_lines AS DOUBLE), 6) <= 0.90
      AND round(word_chars / CAST(safe_words AS DOUBLE), 6) >= 2.0
      AND round(word_chars / CAST(safe_words AS DOUBLE), 6) <= 12.0
    """


FINGERPRINT_SQL = "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))"
