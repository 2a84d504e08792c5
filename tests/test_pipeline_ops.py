"""Training-data pipeline operators: dedup, similarity, text analysis."""

import pytest
from pyspark.sql import functions as F

from xmlschema_spark.operators.dedup import (exact_duplicates,
                                             lsh_bucket_pairs,
                                             minhash_signatures,
                                             ngram_jaccard,
                                             simhash_near_dups)
from xmlschema_spark.operators.similarity import (ann_topk_lsh,
                                                  cosine_near_dup_pairs,
                                                  cosine_topk)
from xmlschema_spark.operators.text import (lang_guess, quality_score,
                                            token_count)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame([
        ("d1", "the quick brown fox jumps over the lazy dog and runs off"),
        ("d2", "the quick brown fox jumps over the lazy dog and runs off"),
        ("d3", "the quick brown fox jumps over the lazy cat and runs off"),
        ("d4", "le chat noir dort sur le tapis rouge et le chien aussi"),
        ("d5", "  the quick  brown fox jumps over the lazy dog and runs off "),
        ("d6", "word"),
        ("d7", None),
    ], "doc_id string, text string")


def test_exact_dedup_whitespace_canonical(docs):
    got = sorted((r.doc_id, r.group_n) for r in
                 exact_duplicates(docs, "text", "doc_id").collect())
    assert got == [("d1", 3), ("d2", 3), ("d5", 3)]


def test_minhash_identical_for_dups(docs):
    sigs = {r.doc_id: (r.h0, r.h1, r.h2, r.h3) for r in
            minhash_signatures(docs, "text", "doc_id").collect()}
    assert sigs["d1"] == sigs["d2"] == sigs["d5"]
    assert sigs["d1"] != sigs["d4"]
    assert sigs["d6"] == (None,) * 4     # < k tokens -> empty shingles
    assert sigs["d7"] == (None,) * 4


def test_lsh_candidates_and_jaccard(docs):
    pairs = lsh_bucket_pairs(docs, "text", "doc_id")
    got = sorted((r.id_a, r.id_b) for r in pairs.collect())
    assert ("d1", "d2") in got and ("d1", "d5") in got
    assert all("d4" not in p for p in got)
    jac = {(r.id_a, r.id_b): r.jaccard for r in
           ngram_jaccard(docs, "text", "doc_id", pairs).collect()}
    assert jac[("d1", "d2")] == 1.0


def test_simhash_near_dups(docs):
    # exact duplicates collide at hamming 0; d4 (different language) must
    # not pair with anything at the guaranteed-recall default threshold
    got = {(r.id_a, r.id_b): r.hamming for r in
           simhash_near_dups(docs.where(F.col("text").isNotNull()),
                             "text", "doc_id").collect()}
    assert got[("d1", "d2")] == 0 and got[("d1", "d5")] == 0
    assert all("d4" not in k for pair in got for k in pair)


def test_cosine_topk_exact(spark):
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    rows.append((9, [0.9, 0.1, 0.0, 0.0]))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = [(r.vec_id, r.sim) for r in
           cosine_topk(df, "embedding", "vec_id", [1.0, 0.0, 0.0, 0.0], k=2).collect()]
    assert got[0] == (0, 1.0)
    assert got[1][0] == 9


def test_ann_lsh_subset_of_bruteforce(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(x) for x in e.where(F.col("vec_id") == 0)
         .select("embedding").first()[0]]
    exact = {r.vec_id for r in cosine_topk(e, "embedding", "vec_id", q, k=50).collect()}
    approx = [r.vec_id for r in
              ann_topk_lsh(e, "embedding", "vec_id", q, k=10, n_planes=4).collect()]
    assert 0 in approx                 # query vector finds itself
    assert len(approx) <= 10


def test_near_dup_lsh_subset_of_bruteforce(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
    brute = {(r.id_a, r.id_b) for r in cosine_near_dup_pairs(
        e, "embedding", "vec_id", threshold=0.3, brute_force=True).collect()}
    lsh = {(r.id_a, r.id_b) for r in cosine_near_dup_pairs(
        e, "embedding", "vec_id", threshold=0.3, n_planes=4).collect()}
    assert lsh <= brute               # LSH loses recall, never precision


def test_text_stats(spark):
    df = spark.createDataFrame(
        [("a", "the cat and the dog"), ("b", "xyz!!!")],
        "k string, text string")
    got = df.select(
        token_count(F.col("text")).alias("n"),
        lang_guess(F.col("text")).alias("lang"),
        F.round(quality_score(F.col("text")), 4).alias("q")).collect()
    assert got[0]["n"] == 5 and got[0]["lang"] == "en"
    assert got[1]["lang"] == "unknown" and got[1]["q"] < got[0]["q"] + 1


def test_vectorized_near_dup_matches_hof(spark, sf_dir):
    from xmlschema_spark.operators.similarity import (
        cosine_near_dup_pairs, cosine_near_dup_pairs_vectorized)
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    def canon(rows):
        out = {}
        for r in rows:
            a, b = sorted([str(r.id_a), str(r.id_b)])
            out[(a, b)] = r.sim
        return out
    v = canon(cosine_near_dup_pairs_vectorized(
        e, "embedding", "vec_id", threshold=0.3, n_planes=4).collect())
    h = canon(cosine_near_dup_pairs(
        e, "embedding", "vec_id", threshold=0.3, n_planes=4).collect())
    assert v == h


def test_ivf_ann(spark, sf_dir):
    from xmlschema_spark.operators.similarity import ann_topk_ivf, cosine_topk
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(x) for x in e.where(F.col("vec_id") == 0)
         .select("embedding").first()[0]]
    approx = [(r.vec_id, r.sim) for r in
              ann_topk_ivf(e, "embedding", "vec_id", q, k=5,
                           n_centroids=8, nprobe=3).collect()]
    assert approx and approx[0][0] == 0 and approx[0][1] == 1.0
    # full probe == exact brute force
    full = [(r.vec_id, r.sim) for r in
            ann_topk_ivf(e, "embedding", "vec_id", q, k=5,
                         n_centroids=8, nprobe=8).collect()]
    exact = [(r.vec_id, r.sim) for r in
             cosine_topk(e, "embedding", "vec_id", q, k=5).collect()]
    assert full == exact


def test_deduplicate_exact_keeps_min_id(spark, docs):
    from xmlschema_spark.operators.dedup import deduplicate
    out = deduplicate(docs.where(F.col("text").isNotNull()),
                      "text", "doc_id", method="exact")
    ids = sorted(r.doc_id for r in out.collect())
    # d1==d2==d5 collapse to d1; d3, d4, d6 survive
    assert ids == ["d1", "d3", "d4", "d6"]


def test_deduplicate_minhash(spark, docs):
    from xmlschema_spark.operators.dedup import deduplicate
    out = deduplicate(docs.where(F.col("text").isNotNull()),
                      "text", "doc_id", method="minhash",
                      jaccard_threshold=0.9)
    ids = sorted(r.doc_id for r in out.collect())
    assert "d1" in ids and "d2" not in ids and "d5" not in ids
    assert "d3" in ids and "d4" in ids


def test_hamming_near_dups_64bit(spark):
    """Banded-Hamming pairs over a signed 64-bit hash: expectations
    computed by a reference popcount, incl. negative bit patterns and
    the exact-recall guarantee at distance <= bands-1 = 7."""
    from xmlschema_spark.operators.dedup import hamming_near_dups
    vals = {"a": 0x0123456789ABCDEF, "b": 0x0123456789ABCDEE,
            "c": -1, "d": -2, "e": 0x7FFFFFFFFFFFFFFF,
            "f": 0x0123456789ABCD00}

    def ham(x, y):
        return bin((x ^ y) & 0xFFFFFFFFFFFFFFFF).count("1")

    ids = sorted(vals)
    expected = {(i, j): ham(vals[i], vals[j])
                for x, i in enumerate(ids) for j in ids[x + 1:]
                if ham(vals[i], vals[j]) <= 7}
    df = spark.createDataFrame(
        [(k, v if v < 2**63 else v - 2**64) for k, v in vals.items()],
        "doc string, h long")
    got = {(r.id_a, r.id_b): r.hamming for r in
           hamming_near_dups(df, "h", "doc").collect()}
    assert got == expected and expected   # non-trivial expectation set


def test_hamming_near_dups_warns_beyond_recall(spark):
    import warnings

    from xmlschema_spark.operators.dedup import hamming_near_dups
    df = spark.createDataFrame([("a", 1)], "doc string, h long")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        hamming_near_dups(df, "h", "doc", max_hamming=8)
    assert any("guarantees recall" in str(x.message) for x in w)


def test_simhash64_fast_bitwise_matches_hof(spark):
    """simhash64_fast (mapInArrow + numpy) must be BITWISE-identical to
    the Catalyst HOF fold simhash64_pair on every edge: NULL text,
    empty string, whitespace-only, multi-token, unicode, and every
    Java \\s class member (space/tab/NL/VT/FF/CR — NOT unicode NBSP,
    which both sides must treat as a token character)."""
    from xmlschema_spark.operators.text import (simhash64_fast,
                                                simhash64_pair)
    rows = [
        ("n", None), ("e", ""), ("w", "   "), ("t", "\t\n\x0b\f\r"),
        ("a", "the quick brown fox"), ("b", "the  quick\tbrown\nfox"),
        ("u", "café naïve 中文"),
        ("nb", "a b"),            # NBSP is not Java \s
        ("one", "word"), ("dup", "x x x x y"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    hof = {r.doc_id: (r.hi32, r.lo32) for r in
           df.select("doc_id",
                     F.inline(F.array(simhash64_pair(F.col("text")))))
             .collect()}
    fast = {r.doc_id: (r.hi32, r.lo32) for r in
            simhash64_fast(df, "text", "doc_id").collect()}
    assert fast == hof


def test_simhash64_fast_plan_no_shuffle(spark):
    """The Arrow path is one narrow mapInArrow over a pruned 2-column
    projection: zero Exchange at any scale, no extra columns read."""
    from xmlschema_spark.operators.text import simhash64_fast
    df = spark.createDataFrame(
        [("a", "x y", "junk")], "doc_id string, text string, z string")
    p = simhash64_fast(df, "text", "doc_id") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p, p[:1500]
    assert "ArrowEvalPython" in p or "MapInArrow" in p or "PythonMapInArrow" in p, p[:1500]
    assert "z" not in p.split("MapInArrow")[0].split("[")[-1]


def test_simhash48_fast_bitwise_matches_hof(spark):
    """simhash48_fast must be BITWISE-identical to the Catalyst HOF
    fold simhash48 on the same edge inventory as the 64-bit twin."""
    from xmlschema_spark.operators.text import simhash48, simhash48_fast
    rows = [
        ("n", None), ("e", ""), ("w", "   "), ("t", "\t\n\x0b\f\r"),
        ("a", "the quick brown fox"), ("b", "the  quick\tbrown\nfox"),
        ("u", "café naïve 中文"), ("nb", "a b"),
        ("one", "word"), ("dup", "x x x x y"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    hof = {r.doc_id: r.sh for r in
           df.select("doc_id", simhash48(F.col("text")).alias("sh"))
             .collect()}
    fast = {r.doc_id: r.sh48 for r in
            simhash48_fast(df, "text", "doc_id").collect()}
    assert fast == hof


def test_minhash_kernel_bitwise_matches_hof(spark):
    """The r8 mapInArrow MinHash kernel must be BITWISE-identical to
    the Catalyst HOF derivation text.minhash_signature on every edge:
    NULL text, empty, whitespace-only, < k tokens, exactly k tokens,
    repeated shingles, unicode, and every Java \\s class member."""
    from xmlschema_spark.operators.text import minhash_signature
    rows = [
        ("n", None), ("e", ""), ("w", "   "), ("t", "\t\n\x0b\f\r"),
        ("k2", "two words"), ("k3", "three words here"),
        ("a", "the quick brown fox jumps over the lazy dog"),
        ("r", "x y z x y z x y z"),
        ("u", "café naïve 中文 tokens here"),
        ("nb", "a b c d"),        # NBSP is a token char, not \s
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    hof = {r.doc_id: (r.h0, r.h1, r.h2, r.h3) for r in
           df.select("doc_id",
                     F.inline(F.array(minhash_signature(F.col("text")))))
             .collect()}
    fast = {r.doc_id: (r.h0, r.h1, r.h2, r.h3) for r in
            minhash_signatures(df, "text", "doc_id").collect()}
    assert fast == hof


def test_brute_near_dups_thresholds_unrounded_cosine(spark):
    """r8: the brute path's oracle contract thresholds the UNROUNDED
    cosine; a pair whose exact cosine lies in [thr - 0.5e-4, thr) must
    NOT be emitted even though its rounded sim equals thr (found live
    at sf0.001: cosine 0.2999924… surfaced as sim=0.3)."""
    import math
    from xmlschema_spark.operators.similarity import cosine_near_dup_pairs
    c = 0.29997                      # rounds to 0.3000 at 4 decimals
    rows = [(1, [1.0, 0.0]), (2, [c, math.sqrt(1 - c * c)]),
            (3, [1.0, 0.0])]         # (1,3) exact cosine 1.0 — kept
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = {(r.id_a, r.id_b): r.sim for r in
           cosine_near_dup_pairs(df, "embedding", "vec_id",
                                 threshold=0.3, brute_force=True)
           .collect()}
    assert (1, 2) not in got and (2, 3) not in got
    assert got[(1, 3)] == 1.0
