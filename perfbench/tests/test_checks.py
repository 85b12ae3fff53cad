"""Each output check passes a correct result and catches a wrong one."""

import os

import numpy as np
import pytest

import gen
import refs
import wl_embed
import wl_sql


@pytest.fixture
def work(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "WORK", str(tmp_path))


def _reference_embed_outputs(src):
    ids, v = wl_embed._load(os.path.join(src, "corpus.parquet"))
    qids, q = wl_embed._load(os.path.join(src, "queries.parquet"))
    knn = []
    for qi, qid in enumerate(qids):
        sims = q[qi] @ v.T
        order = np.lexsort((ids, -np.round(sims, 6)))[: wl_embed.K]
        knn += [{"query_id": int(qid), "rank": r + 1, "vec_id": int(ids[j])}
                for r, j in enumerate(order)]
    g = v @ v.T
    a, b = np.nonzero(np.triu(g, 1) >= wl_embed.THRESHOLD)
    pairs = [{"id_a": int(min(ids[i], ids[j])), "id_b": int(max(ids[i], ids[j]))}
             for i, j in zip(a, b)]
    dropped = {int(max(ids[i], ids[j])) for i, j in zip(a, b)}
    sem = [{"vec_id": int(i), "kept": int(i) not in dropped} for i in ids]
    return knn, pairs, sem


def test_embed_check_accepts_brute_force_and_catches_a_wrong_neighbour(work):
    src = gen.embed_inputs(5, 0)
    knn, pairs, sem = _reference_embed_outputs(src)
    assert wl_embed.check_iteration(src, knn, pairs, sem) == []
    # the farthest corpus vector in place of query 1's nearest neighbour
    ids, v = wl_embed._load(os.path.join(src, "corpus.parquet"))
    _, q = wl_embed._load(os.path.join(src, "queries.parquet"))
    far = int(ids[np.argmin(q[0] @ v.T)])
    bad = [dict(r, vec_id=far) if (r["query_id"], r["rank"]) == (1, 1) else r for r in knn]
    failures = wl_embed.check_iteration(src, bad, pairs, sem)
    assert any(f.startswith("knn_join") for f in failures)
    failures = wl_embed.check_iteration(src, knn, pairs[1:], sem)
    assert any(f.startswith("blocked_pair_cosine") for f in failures)


def test_sql_check_catches_a_wrong_aggregate(work):
    import duckdb

    w = wl_sql.SqlInteractive(5)
    w.dir = gen.sql_inputs(5)
    tpl = next(t for t in wl_sql.TEMPLATES if t[0] == "nulls")
    duck = tpl[4].format(t_trip=1_600_000_000)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{w.dir}/trips.parquet')")
    right = [tuple(r) for r in con.execute(duck).fetchall()]
    w.done = [("nulls", duck, False, right)]
    assert w.check() == []
    wrong = [(r[0], r[1] + 1) + r[2:] for r in right]
    w.done = [("nulls", duck, False, wrong)]
    assert len(w.check()) == 1


def test_bpe_reference_applies_lowest_rank_first():
    b = lambda s: chr(0x100 + ord(s))  # noqa: E731
    enc = refs.BpeEncoder([(1, b("b"), b("c")), (2, b("a"), b("b"))])
    # 'abc': (b,c) has the lower rank, so 'ab' can never form
    assert enc.word("abc") == [ord("a"), 256]
    assert enc.word("abd") == [257, ord("d")]
    assert enc.text("abc abd") == [ord("a"), 256, 257, ord("d")]
