"""The banded near-dup family (lsh_bucket_pairs, simhash_near_dups,
hamming_near_dups) runs one core, dedup._banded_pairs: its plan shape,
hot-bucket cap, NULL ids, output schemas and band validation, once per
operator."""

import warnings

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


@pytest.mark.parametrize("op,kw,want", [
    pytest.param("hamming", {"bands": 0}, ValueError, id="bands=0"),
    pytest.param("hamming", {"bands": -2}, ValueError, id="bands=-2"),
    pytest.param("hamming", {"bands": 3}, ValueError, id="bands=3"),
    pytest.param("lsh", {"band_size": 0}, ValueError, id="band_size=0"),
    # 4 % 3 != 0: the trailing hash h3 would be ignored
    pytest.param("lsh", {"band_size": 3}, ValueError, id="band_size=3"),
    pytest.param("lsh", {"n_hashes": 0}, ValueError, id="n_hashes=0"),
    # one 64-bit band = exact-match blocking on the whole hash; -1 has
    # every bit set, and -2 is at distance 1 from it but not equal
    pytest.param("hamming", {"bands": 1, "max_hamming": 0},
                 {("a", "b"): 0, ("d", "e"): 0}, id="bands=1"),
])
def test_band_values_validated(spark, op, kw, want):
    rows = ([("a", -1), ("b", -1), ("c", -2), ("d", 5), ("e", 5)]
            if op == "hamming" else [("a", SPAM), ("b", SPAM)])
    if want is ValueError:
        with pytest.raises(ValueError, match="positive divisor"):
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
