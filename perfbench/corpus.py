"""Seeded text corpus for the ``woc_corpus`` workload, with its oracle.

Words are runs of ``[A-Za-z0-9]`` drawn Zipf-distributed from a
seed-generated vocabulary. Between two words the generator writes one
separator: a space, a newline, punctuation, ``_``, ``-``, ``'`` or a
non-ASCII character (1 to 3 UTF-8 bytes). None of these is a word
character, so the words the generator drew are exactly the words the
reference tokenizer finds, and the expected ``word=count`` output is
known without running Spark.
"""

from __future__ import annotations

import hashlib
import json
import sys
from dataclasses import dataclass

import numpy as np

_ALNUM = np.frombuffer(
    b"abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789", dtype=np.uint8
)
# separator, relative weight
_SEPARATORS = [
    (" ", 700), ("\n", 60), (", ", 40), (". ", 30), ("_", 25), ("-", 25),
    ("'", 20), ("; ", 10), ("!", 5), ("(", 5), (")", 5), ("é", 15),
    ("ü ", 10), ("—", 10), ("中", 10), ("\t", 10),
]
_CHUNK_WORDS = 1 << 18
WORDS = 1 << 20  # about 8.81 MB of text
VOCAB = 200_000
ZIPF_S = 1.05
_LENGTH_SEED = 0


@dataclass(frozen=True)
class Corpus:
    path: str
    n_bytes: int
    n_words: int
    expected_lines: list[str]
    corpus_sha256: str
    expected_sha256: str


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    words: dict[str, None] = {}
    while len(words) < size:
        lengths = rng.integers(1, 13, size)
        chars = _ALNUM[rng.integers(0, len(_ALNUM), int(lengths.sum()))].tobytes().decode()
        ends = np.cumsum(lengths)
        for start, end in zip(ends - lengths, ends):
            words[chars[start:end]] = None
            if len(words) == size:
                break
    return np.array(list(words), dtype=object)


def _ranked_vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """The seed's vocabulary in Zipf-rank order, arranged so that the
    word at each rank has the length that rank has in the vocabulary of
    ``_LENGTH_SEED``. Otherwise a seed whose frequent words happen to be
    long writes a corpus several percent larger than another's. Where
    the seed has fewer words of a length than the reference, which
    happens only in the last few hundred ranks, the leftovers fill in."""
    by_length: dict[int, list[str]] = {}
    for w in _vocabulary(rng, size):
        by_length.setdefault(len(w), []).append(w)
    reference = _vocabulary(np.random.default_rng(_LENGTH_SEED), size)
    ranked = [by_length[len(w)].pop() if by_length.get(len(w)) else None for w in reference]
    leftovers = iter([w for bucket in by_length.values() for w in bucket])
    return np.array([w if w is not None else next(leftovers) for w in ranked], dtype=object)


def generate(path: str, seed: int) -> Corpus:
    """Write ``WORDS`` words drawn from a ``VOCAB``-word vocabulary to
    ``path`` and return the exact sorted output the word-occurrence
    query must produce. Fixing the word count rather than the byte
    count keeps every seed's corpus the same amount of work."""
    n_words, vocab_size = WORDS, VOCAB
    rng = np.random.default_rng(seed)
    vocab = _ranked_vocabulary(rng, vocab_size)
    weights = 1.0 / np.arange(1, vocab_size + 1) ** ZIPF_S
    cdf = np.cumsum(weights / weights.sum())
    seps = np.array([s for s, _ in _SEPARATORS], dtype=object)
    sep_w = np.array([w for _, w in _SEPARATORS], dtype=float)
    sep_cdf = np.cumsum(sep_w / sep_w.sum())

    counts = np.zeros(vocab_size, dtype=np.int64)
    digest = hashlib.sha256()
    n_bytes = 0
    with open(path, "wb") as f:
        for start in range(0, n_words, _CHUNK_WORDS):
            k = min(_CHUNK_WORDS, n_words - start)
            ids = np.minimum(np.searchsorted(cdf, rng.random(k)), vocab_size - 1)
            sep_ids = np.searchsorted(sep_cdf, rng.random(k))
            parts = np.empty(2 * k, dtype=object)
            parts[0::2] = vocab[ids]
            parts[1::2] = seps[sep_ids]
            data = "".join(parts).encode()
            f.write(data)
            digest.update(data)
            counts += np.bincount(ids, minlength=vocab_size)
            n_bytes += len(data)
    # the reference sorts by word with strcmp; on ASCII words Python's
    # code-point order is the same byte order
    order = sorted(np.nonzero(counts)[0], key=lambda i: vocab[i])
    expected = [f"{vocab[i]}={counts[i]}" for i in order]
    return Corpus(
        path=path,
        n_bytes=n_bytes,
        n_words=n_words,
        expected_lines=expected,
        corpus_sha256=digest.hexdigest(),
        expected_sha256=hashlib.sha256("\n".join(expected).encode()).hexdigest(),
    )


def main(argv: list[str]) -> None:
    """``python -m perfbench.corpus PATH SEED``: writes the corpus to
    PATH and its expected output to PATH.expected, and prints the
    corpus's size as JSON."""
    path, seed = argv
    c = generate(path, int(seed))
    with open(path + ".expected", "w") as f:
        f.write("\n".join(c.expected_lines))
    print(json.dumps({"n_bytes": c.n_bytes, "n_words": c.n_words}))


if __name__ == "__main__":
    main(sys.argv[1:])
