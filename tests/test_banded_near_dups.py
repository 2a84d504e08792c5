"""The banded near-dup family (lsh_bucket_pairs, simhash_near_dups,
hamming_near_dups) runs one core, dedup._banded_pairs: its plan shape,
hot-bucket cap, NULL ids, output schemas and band validation, once per
operator, and the Hamming verify against brute force."""

import random
import warnings
from collections import Counter

import pytest

from xmlschema_spark.operators.dedup import (hamming_near_dups,
                                             lsh_bucket_pairs,
                                             simhash_near_dups)

SPAM = "spam spam spam wonderful spam spam spam"


def _run(spark, op, rows, **kw):
    """Apply one family member to [(id, text-or-hash)] rows."""
    if op == "hamming":
        df = spark.createDataFrame(rows, "doc string, h long")
        return hamming_near_dups(df, "h", "doc", **kw)
    df = spark.createDataFrame(rows, "doc string, text string")
    fn = lsh_bucket_pairs if op == "lsh" else simhash_near_dups
    return fn(df, "text", "doc", **kw)


def _same_rows(op, n):
    value = -7046029254386353131 if op == "hamming" else SPAM
    return [(f"d{i:04d}", value) for i in range(n)]


OPS = ["lsh", "simhash", "hamming"]


@pytest.mark.parametrize("op", OPS)
def test_banded_plan_one_bucket_shuffle_no_join(spark, op):
    """The scale property of the whole family: the window cap and the
    pair kernel share the bucket Exchange's hash partitioning, so the
    plan holds exactly the bucket Exchange plus the final distinct's,
    never a Join, and the cap runs map-side too (WindowGroupLimit
    Partial below the bucket Exchange, Final above it)."""
    p = _run(spark, op, _same_rows(op, 4)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in p, p
    assert p.count("Exchange") == 2, p
    lines = p.splitlines()
    wgl = [i for i, s in enumerate(lines) if "WindowGroupLimit" in s]
    bucket = next(i for i, s in enumerate(lines)
                  if "Exchange hashpartitioning(band" in s)
    assert len(wgl) == 2, p
    assert "Partial" in lines[max(wgl)] and max(wgl) > bucket, p
    assert "Final" in lines[min(wgl)] and min(wgl) < bucket, p
    # the pairs come from one Arrow kernel over the window's output: no
    # member-array aggregate, no pair Generate above the bucket Exchange
    window = next(i for i, s in enumerate(lines) if "Window [" in s)
    kernels = [i for i, s in enumerate(lines) if "MapInArrow" in s]
    assert len([i for i in kernels if i < window]) == 1, p
    assert "ObjectHashAggregate" not in p and "collect_list" not in p, p
    assert not [s for s in lines[:bucket] if "Generate" in s], p
    # the kernel's (band, key, doc) order is the window's own sort: the
    # only Sorts are the two under the WindowGroupLimits
    sorts = [i for i, s in enumerate(lines) if "Sort [" in s]
    assert sorts == [i + 1 for i in sorted(wgl)], p
    # the Hamming verify runs in the kernel, before any pair row
    assert not [s for s in lines if "Filter" in s and "hamming" in s], p


@pytest.mark.parametrize("op", OPS)
def test_hot_bucket_capped_and_bounded(spark, op):
    """Degenerate corpus: 600 identical docs (or hashes) = ONE bucket per
    band. The pre-aggregation window cap must bound the pair count to
    C(max_bucket, 2) and keep the lexicographically-first members."""
    got = _run(spark, op, _same_rows(op, 600), max_bucket=16).collect()
    assert len(got) == 16 * 15 // 2
    members = {r.id_a for r in got} | {r.id_b for r in got}
    assert members == {f"d{i:04d}" for i in range(16)}   # deterministic


@pytest.mark.parametrize("op", OPS)
def test_null_ids_never_pair(spark, op):
    """Pairs satisfy id_a < id_b, as the DuckDB oracles' a.doc < b.doc
    joins do: a NULL id is never part of a pair, nor takes one of a hot
    bucket's max_bucket slots (it would sort first)."""
    rows = [(None, _same_rows(op, 1)[0][1])] + _same_rows(op, 2)
    got = [(r.id_a, r.id_b)
           for r in _run(spark, op, rows, max_bucket=2).collect()]
    assert got == [("d0000", "d0001")]


@pytest.mark.parametrize("op,hamming_type", [("simhash", "int"),
                                             ("hamming", "bigint")])
def test_near_dup_output_schema_pinned(spark, op, hamming_type):
    """Downstream digests hash (id_a, id_b, hamming), and xxhash64 of an
    int differs from that of a bigint: the two types are a contract."""
    got = _run(spark, op, _same_rows(op, 2)).schema.simpleString()
    assert got == ("struct<id_a:string,id_b:string,"
                   f"hamming:{hamming_type}>")


DIVISOR = "positive divisor"
HAMMING = r"max_hamming must be an int in 0\.\.64"


@pytest.mark.parametrize("op,kw,want", [
    pytest.param("hamming", {"bands": 0}, DIVISOR, id="bands=0"),
    pytest.param("hamming", {"bands": -2}, DIVISOR, id="bands=-2"),
    pytest.param("hamming", {"bands": 3}, DIVISOR, id="bands=3"),
    pytest.param("lsh", {"band_size": 0}, DIVISOR, id="band_size=0"),
    # 4 % 3 != 0: the trailing hash h3 would be ignored
    pytest.param("lsh", {"band_size": 3}, DIVISOR, id="band_size=3"),
    pytest.param("lsh", {"n_hashes": 0}, DIVISOR, id="n_hashes=0"),
    # max_hamming goes into the verify lambda: a negative value used to
    # return nothing, silently
    pytest.param("hamming", {"max_hamming": -1}, HAMMING,
                 id="max_hamming=-1"),
    pytest.param("hamming", {"max_hamming": 65}, HAMMING,
                 id="max_hamming=65"),
    pytest.param("hamming", {"max_hamming": 2.5}, HAMMING,
                 id="max_hamming=2.5"),
    pytest.param("hamming", {"max_hamming": True}, HAMMING,
                 id="max_hamming=True"),
    # one 64-bit band = exact-match blocking on the whole hash; -1 has
    # every bit set, and -2 is at distance 1 from it but not equal
    pytest.param("hamming", {"bands": 1, "max_hamming": 0},
                 {("a", "b"): 0, ("d", "e"): 0}, id="bands=1"),
])
def test_band_values_validated(spark, op, kw, want):
    rows = ([("a", -1), ("b", -1), ("c", -2), ("d", 5), ("e", 5)]
            if op == "hamming" else [("a", SPAM), ("b", SPAM)])
    if isinstance(want, str):
        with pytest.raises(ValueError, match=want):
            _run(spark, op, rows, **kw)
        return
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        df = _run(spark, op, rows, **kw)
    assert not [x for x in w if "guarantees recall" in str(x.message)]
    assert {(r.id_a, r.id_b): r.hamming for r in df.collect()} == want


def test_simhash_near_dups_warns_beyond_recall(spark):
    df = spark.createDataFrame([("a", SPAM)], "doc string, text string")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        simhash_near_dups(df, "text", "doc", max_hamming=4)
    assert any("guarantees recall" in str(x.message) for x in w)
    assert all(x.filename == __file__ for x in w
               if "guarantees recall" in str(x.message))


def _planted_hashes(seed=7, n_clusters=8, n_random=150):
    """Unsigned 64-bit hashes: random singletons plus clusters whose
    members sit at distances 0..9 from their centre."""
    rng = random.Random(seed)
    hashes = [rng.getrandbits(64) for _ in range(n_random)]
    for _ in range(n_clusters):
        centre = rng.getrandbits(64)
        hashes.append(centre)
        for d in range(10):
            flip = sum(1 << b for b in rng.sample(range(64), d))
            hashes.append(centre ^ flip)
    return [(f"d{i:04d}", h) for i, h in enumerate(hashes)]


@pytest.mark.parametrize("bands,max_hamming",
                         [(1, 0), (2, 1), (4, 3), (8, 0), (8, 7)])
def test_hamming_near_dups_matches_brute_force(spark, bands, max_hamming):
    """Within the pigeonhole recall bound and with every bucket under
    max_bucket, the banded pairs are exactly the all-pairs answer. Two
    doc ids are listed twice (once with their own hash, once with
    another doc's) and two hashes are NULL: a doc never pairs with
    itself and a NULL hash never pairs."""
    docs = _planted_hashes()
    docs += [docs[0], (docs[1][0], docs[155][1]), ("n0", None), ("n1", None)]
    width = 64 // bands
    sizes = Counter((b, h >> (b * width) & ((1 << width) - 1))
                    for _, h in docs if h is not None for b in range(bands))
    assert max(sizes.values()) < 64            # no bucket is capped
    live = [(d, h) for d, h in docs if h is not None]
    want = {(a, b, bin(ha ^ hb).count("1"))
            for a, ha in live for b, hb in live
            if a < b and bin(ha ^ hb).count("1") <= max_hamming}
    assert {d for *_, d in want} == set(range(max_hamming + 1))
    signed = [(d, h - (1 << 64) if h is not None and h >> 63 else h)
              for d, h in docs]
    got = _run(spark, "hamming", signed, bands=bands,
               max_hamming=max_hamming).collect()
    assert len(got) == len(want)
    assert {tuple(r) for r in got} == want


def test_simhash_near_dups_matches_brute_force(spark):
    """simhash_near_dups against all pairs of the same simhash48 values
    within the 4-band recall bound: planted texts with 1..8 words
    replaced, random texts, two NULL texts (hash 0, so they pair at
    distance 0, as the oracles' hash contract says), texts of fewer than
    3 tokens, and doc ids listed twice, which never pair with
    themselves."""
    from xmlschema_spark.operators.text import simhash48_fast
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(300)]
    texts = []
    for _ in range(8):
        base = [rng.choice(vocab) for _ in range(60)]
        texts.append(" ".join(base))
        for e in range(1, 9):
            v = list(base)
            for p in rng.sample(range(60), e):
                v[p] = rng.choice(vocab)
            texts.append(" ".join(v))
    texts += [" ".join(rng.choice(vocab) for _ in range(30))
              for _ in range(100)]
    texts += [None, None, "w1 w2", "w1 w2", "w7"]
    rows = [(f"d{i:04d}", t) for i, t in enumerate(texts)]
    rows += [rows[0], (rows[1][0], texts[2]), (rows[-1][0], None)]
    df = spark.createDataFrame(rows, "doc string, text string")
    hashes = [(r.doc, r.sh48)
              for r in simhash48_fast(df, "text", "doc").collect()]
    want = {(a, b, bin(ha ^ hb).count("1"))
            for a, ha in hashes for b, hb in hashes
            if a < b and bin(ha ^ hb).count("1") <= 3}
    assert {d for *_, d in want} == {0, 1, 2, 3}
    got = simhash_near_dups(df, "text", "doc").collect()
    assert len(got) == len(want)
    assert {tuple(r) for r in got} == want


def test_lsh_bucket_pairs_matches_brute_force(spark):
    """lsh_bucket_pairs against all pairs whose MinHash signatures agree
    on every hash of some band: near-copies of a few texts, random
    texts, NULL texts and texts of fewer than 3 tokens (NULL signature:
    they never pair, not even with each other), and doc ids listed
    twice, which never pair with themselves."""
    from xmlschema_spark.operators.text import minhash_signatures
    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(40)]
    texts = []
    for _ in range(6):
        base = [rng.choice(vocab) for _ in range(8)]
        for e in range(4):
            v = list(base)
            for p in rng.sample(range(8), e):
                v[p] = rng.choice(vocab)
            texts.append(" ".join(v))
    texts += [" ".join(rng.choice(vocab) for _ in range(6))
              for _ in range(30)]
    texts += [None, None, "x y", "x y", "p"]
    rows = [(f"d{i:04d}", t) for i, t in enumerate(texts)]
    rows += [rows[0], (rows[1][0], texts[2]), (rows[-1][0], None)]
    df = spark.createDataFrame(rows, "doc string, text string")
    sigs = [(r.doc, tuple(r[f"h{i}"] for i in range(4)))
            for r in minhash_signatures(df, "text", "doc", 4).collect()]
    want = {(a, b) for a, sa in sigs for b, sb in sigs
            if a < b and any(None not in sa[i:i + 2] and sa[i:i + 2]
                             == sb[i:i + 2] for i in (0, 2))}
    assert want
    got = lsh_bucket_pairs(df, "text", "doc").collect()
    assert len(got) == len(want)
    assert {tuple(r) for r in got} == want


@pytest.mark.parametrize("bands", [1, 8])
def test_null_hashes_never_pair(spark, bands):
    """A NULL hash has no distance to anything: its doc never pairs, not
    even with another NULL-hash doc (the parent verify's bit_count(NULL)
    was NULL, so never true)."""
    rows = [("a", None), ("b", None), ("c", 5), ("d", 5), ("e", None)]
    got = _run(spark, "hamming", rows, bands=bands, max_hamming=0).collect()
    assert [tuple(r) for r in got] == [("c", "d", 0)]


def _hot_bucket_rows(op):
    """Twelve identical docs h00..h11 (one 12-member bucket per band)
    among planted near-dups and random singletons."""
    if op == "hamming":
        hot = [(f"h{i:02d}", 0x5DEECE66D) for i in range(12)]
        rest = [(d, h - (1 << 64) if h >> 63 else h)
                for d, h in _planted_hashes(n_clusters=3, n_random=40)]
        return hot + rest
    rng = random.Random(5)
    words = [f"w{i}" for i in range(200)]
    rest = []
    for c in range(4):
        base = [rng.choice(words) for _ in range(12)]
        for e in range(4):
            v = list(base)
            v[rng.randrange(12)] = rng.choice(words)
            rest.append((f"c{c}{e}", " ".join(v if e else base)))
    rest += [(f"r{i:02d}", " ".join(rng.choice(words) for _ in range(8)))
             for i in range(30)]
    return [(f"h{i:02d}", SPAM) for i in range(12)] + rest


@pytest.mark.parametrize("op", OPS)
def test_pairs_independent_of_arrow_batch_size(spark, op):
    """The pair kernel sees each partition as Arrow batches; a bucket cut
    by a batch boundary is carried into the next batch. With 3 rows per
    batch the 12-member bucket spans at least 4 batches, and every pair
    set equals the one at the default batch size."""
    from itertools import combinations
    rows = _hot_bucket_rows(op)
    want = {tuple(r) for r in _run(spark, op, rows).collect()}
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        got = {tuple(r) for r in _run(spark, op, rows).collect()}
    finally:
        spark.conf.set(key, old)
    assert got == want
    hot = sorted(d for d, _ in rows[:12])
    assert {(a, b) for a, b, *_ in got
            if a in hot and b in hot} == set(combinations(hot, 2))
    assert len(got) > 66
