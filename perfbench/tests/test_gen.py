"""The generator writes identical files for a fixed seed."""

import hashlib
import os

import pytest

import gen


def _digest(root):
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _generate_all(seed):
    gen.sql_inputs(seed)
    gen.merges_path(seed)
    gen.corpus_inputs(seed, 0)
    gen.embed_inputs(seed, 0)
    gen.stream_inputs(seed, 1)
    return _digest(gen.seed_dir(seed))


@pytest.fixture
def work(tmp_path, monkeypatch):
    def at(name):
        monkeypatch.setattr(gen, "WORK", str(tmp_path / name))
    return at


def test_same_seed_same_files(work):
    work("a")
    first = _generate_all(7)
    work("b")
    assert _generate_all(7) == first


def test_seed_and_iteration_change_the_files(work):
    work("a")
    a = _digest(gen.corpus_inputs(7, 0))
    b = _digest(gen.corpus_inputs(8, 0))
    c = _digest(gen.corpus_inputs(7, 1))
    assert len({a, b, c}) == 3


def test_merge_products_are_unique():
    products = [lhs + rhs for _, lhs, rhs, _ in gen.learn_merges(3)]
    assert len(products) == gen.BPE_MERGES
    assert len(set(products)) == len(products)
