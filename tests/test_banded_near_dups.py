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
    """The scale property of the whole family: the window cap reuses the
    bucket groupBy's hash partitioning, so the plan holds exactly the
    bucket Exchange plus the final distinct's, never a Join, and the
    cap runs map-side too (WindowGroupLimit Partial below the bucket
    Exchange, Final above it)."""
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
    if op == "lsh":
        return
    # the Hamming verify runs in the member array, before any pair row:
    # a filter() inside the pair Generate, no Filter on hamming above it
    gen = next(i for i, s in enumerate(lines)
               if "Generate" in s and "flatten(transform(" in s)
    pair_gen = lines[gen]
    assert "filter(slice(" in pair_gen, p
    pred = pair_gen[pair_gen.index("filter(slice("):
                    pair_gen.index(", lambdafunction(struct(")]
    assert "bit_count(" in pred, p
    assert not [s for s in lines[:gen] if "Filter" in s and "hamming" in s], p


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
    max_bucket, the banded pairs are exactly the all-pairs answer."""
    docs = _planted_hashes()
    width = 64 // bands
    sizes = Counter((b, h >> (b * width) & ((1 << width) - 1))
                    for _, h in docs for b in range(bands))
    assert max(sizes.values()) < 64            # no bucket is capped
    want = {(a, b, bin(ha ^ hb).count("1"))
            for a, ha in docs for b, hb in docs
            if a < b and bin(ha ^ hb).count("1") <= max_hamming}
    assert {d for *_, d in want} == set(range(max_hamming + 1))
    signed = [(d, h - (1 << 64) if h >> 63 else h) for d, h in docs]
    got = _run(spark, "hamming", signed, bands=bands,
               max_hamming=max_hamming).collect()
    assert len(got) == len(want)
    assert {tuple(r) for r in got} == want
