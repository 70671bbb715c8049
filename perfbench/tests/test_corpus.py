import collections
import re

import numpy as np
import pytest

from perfbench import corpus


@pytest.fixture(autouse=True)
def small_corpus(monkeypatch):
    monkeypatch.setattr(corpus, "WORDS", 30_000)
    monkeypatch.setattr(corpus, "VOCAB", 5_000)


def _gen(tmp_path, name, seed):
    return corpus.generate(str(tmp_path / name), seed)


def test_same_seed_same_bytes_and_digest(tmp_path):
    a = _gen(tmp_path, "a.txt", 7)
    b = _gen(tmp_path, "b.txt", 7)
    assert (tmp_path / "a.txt").read_bytes() == (tmp_path / "b.txt").read_bytes()
    assert a.corpus_sha256 == b.corpus_sha256
    assert a.expected_sha256 == b.expected_sha256
    assert a.expected_lines == b.expected_lines


def test_other_seed_other_corpus(tmp_path):
    a = _gen(tmp_path, "a.txt", 7)
    b = _gen(tmp_path, "b.txt", 8)
    assert (tmp_path / "a.txt").read_bytes() != (tmp_path / "b.txt").read_bytes()
    assert a.expected_sha256 != b.expected_sha256


def test_oracle_matches_reference_tokenizer(tmp_path):
    """The expected output equals an independent count of maximal
    [A-Za-z0-9] runs, sorted bytewise, over the written file."""
    c = _gen(tmp_path, "c.txt", 3)
    data = (tmp_path / "c.txt").read_bytes()
    counts = collections.Counter(re.findall(rb"[A-Za-z0-9]+", data))
    want = [f"{w.decode()}={n}" for w, n in sorted(counts.items())]
    assert c.expected_lines == want
    assert sum(counts.values()) == c.n_words
    assert c.n_bytes == len(data)
    # every separator class the generator knows appears
    for sep in ("_", "-", "'", "\n", "é", "中"):
        assert sep.encode() in data


def test_word_lengths_by_rank_do_not_depend_on_the_seed():
    """Apart from the last ranks, the word at each Zipf rank has the same
    length for every seed, so corpus size barely varies between seeds."""
    a = corpus._ranked_vocabulary(np.random.default_rng(1), corpus.VOCAB)
    b = corpus._ranked_vocabulary(np.random.default_rng(2), corpus.VOCAB)
    assert len(set(a)) == len(a) == corpus.VOCAB
    assert set(a) != set(b)
    head = int(corpus.VOCAB * 0.8)
    assert [len(w) for w in a[:head]] == [len(w) for w in b[:head]]
