"""dedup.banded_pair_blocks, the pair kernel of the banded near-dup
family, without Spark: its pairs against an itertools.combinations
reference, its row blocks, its popcount table and its memory bound."""

import itertools
import random
import tracemalloc

import numpy as np
import pytest

from xmlschema_spark.operators import dedup
from xmlschema_spark.operators.dedup import _popcount16, banded_pair_blocks


def _random_runs(rng):
    """Sorted bucket runs as (keys, docs, hashes): runs of length 1 and
    up, docs sorted within each run with repeats, signed 64-bit hashes
    drawn near a few centres so that small distances occur."""
    centres = [rng.getrandbits(64) for _ in range(3)]
    keys, docs, hashes = [], [], []
    for k in range(rng.randint(0, 12)):
        n = rng.choice([1, 1, 2, 3, 5, 8, 21])
        for d in sorted(rng.choice("abcdefgh") for _ in range(n)):
            h = rng.choice(centres) ^ sum(
                1 << b for b in rng.sample(range(64), rng.randint(0, 9)))
            keys.append(k)
            docs.append(d)
            hashes.append(h - (1 << 64) if h >> 63 else h)
    return (np.array(keys, np.int64), docs, np.array(hashes, np.int64))


def _reference(keys, docs, hashes, max_hamming):
    """Every pair i < j of each run, as (doc_i, doc_j, distance), kept by
    the Hamming bound when there is one."""
    out = []
    for _, run in itertools.groupby(range(len(keys)), keys.__getitem__):
        for i, j in itertools.combinations(list(run), 2):
            d = bin((int(hashes[i]) ^ int(hashes[j])) & (2**64 - 1)).count("1")
            if max_hamming is None:
                out.append((docs[i], docs[j], None))
            elif d <= max_hamming:
                out.append((docs[i], docs[j], d))
    return sorted(out)


def _pairs(keys, docs, hashes, max_hamming):
    if max_hamming is None:
        a, b, d = banded_pair_blocks(keys)
        assert d is None
        d = [None] * len(a)
    else:
        a, b, d = banded_pair_blocks(keys, hashes, max_hamming)
        assert d.dtype == np.int32
        d = d.tolist()
    assert (a < b).all()
    return sorted((docs[i], docs[j], x) for i, j, x in zip(a, b, d))


@pytest.mark.parametrize("max_hamming", [None, 0, 1, 2, 3, 4, 5, 6, 7])
def test_pairs_match_combinations(max_hamming):
    rng = random.Random(max_hamming or 99)
    seen = 0
    for _ in range(60):
        keys, docs, hashes = _random_runs(rng)
        want = _reference(keys, docs, hashes, max_hamming)
        assert _pairs(keys, docs, hashes, max_hamming) == want
        seen += len(want)
    assert seen


@pytest.mark.parametrize("max_hamming", [None, 0, 3, 7])
def test_a_doc_listed_twice_never_pairs_with_itself(max_hamming):
    """Given doc labels, the pairs are the reference's minus those whose
    two rows carry one doc id."""
    rng = random.Random(7 if max_hamming is None else max_hamming)
    dropped = 0
    for _ in range(60):
        keys, docs, hashes = _random_runs(rng)
        labels = np.unique(np.array(docs, dtype=object),
                           return_inverse=True)[1] if docs else None
        want = _reference(keys, docs, hashes, max_hamming)
        kept = [p for p in want if p[0] != p[1]]
        dropped += len(want) - len(kept)
        if max_hamming is None:
            a, b, d = banded_pair_blocks(keys, docs=labels)
            d = [None] * len(a)
        else:
            a, b, d = banded_pair_blocks(keys, hashes, max_hamming,
                                         docs=labels)
            d = d.tolist()
        assert sorted((docs[i], docs[j], x)
                      for i, j, x in zip(a, b, d)) == kept
    assert dropped


@pytest.mark.parametrize("block", [1, 2, 7, 50])
def test_row_blocks_split_buckets_anywhere(monkeypatch, block):
    """Blocks far smaller than a bucket cut it mid-run; the pairs are
    the same whatever the block size."""
    monkeypatch.setattr(dedup, "_BLOCK_PAIRS", block)
    rng = random.Random(block)
    for max_hamming in (None, 5):
        for _ in range(20):
            keys, docs, hashes = _random_runs(rng)
            assert (_pairs(keys, docs, hashes, max_hamming)
                    == _reference(keys, docs, hashes, max_hamming))


def test_empty_and_singleton_runs():
    for keys in (np.empty(0, np.int64), np.arange(5)):
        sh = np.zeros(len(keys), np.int64)
        a, b, d = banded_pair_blocks(keys, sh, 64)
        assert len(a) == len(b) == len(d) == 0
        a, b, d = banded_pair_blocks(keys)
        assert len(a) == len(b) == 0 and d is None


def test_popcount_table():
    t = _popcount16()
    assert t.dtype == np.uint8 and t.shape == (1 << 16,)
    assert t.tolist() == [bin(i).count("1") for i in range(1 << 16)]


def test_extreme_hashes():
    """Signed extremes: the kernel reads the raw 64-bit pattern."""
    hashes = np.array([-1, 0, -(1 << 63), (1 << 63) - 1, -2], np.int64)
    a, b, d = banded_pair_blocks(np.zeros(5, np.int64), hashes, 64)
    got = {(int(i), int(j)): int(x) for i, j, x in zip(a, b, d)}
    assert got[(0, 1)] == 64 and got[(0, 4)] == 1
    assert got[(2, 3)] == 64 and got[(1, 2)] == 1
    assert len(got) == 10


def test_bounded_memory_on_a_max_size_bucket():
    """One 8192-member run (hamming_near_dups_documents' max_bucket) at a
    threshold that keeps nothing: C(8192, 2) = 33.5 M candidates, whose
    unblocked int64 index arrays alone would take 537 MB, enumerated in
    blocks of about 2^20."""
    n = 8192
    keys = np.zeros(n, np.int64)
    hashes = np.arange(n, dtype=np.int64) * 0x0101010101
    tracemalloc.start()
    try:
        a, b, d = banded_pair_blocks(keys, hashes, 0)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert len(a) == len(b) == len(d) == 0
    assert peak < 256 * 2**20, peak
