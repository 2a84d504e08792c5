"""q-digest: canonical determinism, rank guarantee, mergeability."""

import random

import pytest
from pyspark.sql import functions as F

from xmlschema_spark.operators.sketch import (compress, compress_counts,
                                              leaf_rows, merge_digests,
                                              qdigest, qdigest_quantiles)

L, K = 10, 32          # 1024 leaves


def _digest_rows(df):
    return sorted((r.level, r.node, r.cnt) for r in df.collect())


def test_compress_counts_pure_function():
    """Same multiset of rows in any order -> same digest."""
    rows = [(0, (1 << L) + i % 100, 1) for i in range(1000)]
    a = compress_counts(rows, L, K)
    b = compress_counts(list(reversed(rows)), L, K)
    assert sorted(a) == sorted(b)
    assert sum(c for _, _, c in a) == 1000


def test_qdigest_parallelism_invariant(spark):
    data = [(random.Random(7).randrange(1 << L),) for _ in range(5000)]
    df = spark.createDataFrame(data, "v long")
    d1 = _digest_rows(qdigest(df.repartition(2), F.col("v"), L, K))
    d2 = _digest_rows(qdigest(df.repartition(13), F.col("v"), L, K))
    assert d1 == d2
    assert sum(c for _, _, c in d1) == 5000


def test_qdigest_heavy_hitter_stays_at_leaf(spark):
    """A value heavier than n/k must survive at leaf resolution."""
    rows = [(42,)] * 500 + [(i,) for i in range(200)]
    df = spark.createDataFrame(rows, "v long")
    digest = _digest_rows(qdigest(df, F.col("v"), L, K))
    assert (0, (1 << L) + 42, 501) in digest


def test_qdigest_rank_guarantee(spark):
    """Quantile read-off has rank error <= levels * floor(n/k)."""
    rng = random.Random(11)
    vals = sorted(rng.randrange(1 << L) for _ in range(20000))
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    digest = qdigest(df, F.col("v"), L, K)
    qs = [0.01, 0.25, 0.5, 0.75, 0.99]
    out = {r.quantile: r.leaf_hi
           for r in qdigest_quantiles(digest, qs, L).collect()}
    n = len(vals)
    bound = L * (n // K)
    for q in qs:
        target = -(-int(q * n) // 1)  # ceil
        # rank of the reported value (right edge): # of values <= leaf_hi
        import bisect
        rank = bisect.bisect_right(vals, out[q])
        assert abs(rank - q * n) <= bound + 1, (q, rank, q * n, bound)


def test_merge_matches_direct_on_counts(spark):
    """Merged partial digests: total mass preserved, deterministic, and
    quantiles still within the rank bound of the DIRECT digest's."""
    rng = random.Random(3)
    vals = [rng.randrange(1 << L) for _ in range(8000)]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    half1 = df.where(F.col("v") % 2 == 0)
    half2 = df.where(F.col("v") % 2 == 1)
    d1 = qdigest(half1, F.col("v"), L, K)
    d2 = qdigest(half2, F.col("v"), L, K)
    merged = merge_digests([d1, d2], L, K)
    rows = _digest_rows(merged)
    assert sum(c for _, _, c in rows) == len(vals)
    # determinism of the merge itself
    rows2 = _digest_rows(merge_digests([d2, d1], L, K))
    assert rows == rows2
    import bisect
    svals = sorted(vals)
    out = {r.quantile: r.leaf_hi
           for r in qdigest_quantiles(merged, [0.5], L).collect()}
    rank = bisect.bisect_right(svals, out[0.5])
    # merge of compressed partials doubles the per-level slack
    assert abs(rank - 0.5 * len(vals)) <= 2 * L * (len(vals) // K) + 1


def test_empty_input(spark):
    df = spark.createDataFrame([], "v long")
    assert qdigest(df, F.col("v"), L, K).count() == 0


def test_grouped_compress_matches_per_group_qdigest(spark):
    """One grouped compression over two groups equals, bitwise, the two
    ungrouped digests of those groups' rows (each group compresses
    against its own total)."""
    rng = random.Random(17)
    rows = ([("a", rng.randrange(1 << L)) for _ in range(3000)]
            + [("b", 42)] * 300 + [("b", rng.randrange(64))
                                   for _ in range(400)])
    df = spark.createDataFrame(rows, "g string, v long")
    counts = df.groupBy("g", F.col("v").alias("leaf")) \
        .agg(F.count(F.lit(1)).alias("cnt"))
    grouped = {}
    for r in compress(leaf_rows(counts, L, ("g",)), L, K, ("g",)).collect():
        grouped.setdefault(r.g, []).append((r.level, r.node, r.cnt))
    for g in ("a", "b"):
        single = _digest_rows(qdigest(df.where(F.col("g") == g),
                                      F.col("v"), L, K))
        assert sorted(grouped[g]) == single, g


def test_rank_check_leaf_space_with_hot_leaf(spark):
    """quantile_sketch_rank_check's reading at its k: with a hot leaf
    holding 15 % of the rows, every quantile's exact leaf-space ranks
    satisfy lo - 1e-2 <= q <= hi + 1e-2."""
    from xmlschema_spark.queries import _QD_LEVELS, _RANK_K, _leaf_ranks
    rng = random.Random(13)
    vals = [2048] * 3000 + [rng.randrange(1 << _QD_LEVELS)
                            for _ in range(17000)]
    # lineitem at sf0.001/0.01/0.1, and this input
    for n in (6000, 60000, 600000, len(vals)):
        assert _QD_LEVELS * (n // _RANK_K) + 1 <= 0.01 * n
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    qs = [0.25, 0.5, 0.75, 0.95]
    rows = _leaf_ranks(df, {"v": F.col("v")}, qs)
    assert [q for _, q, _, _ in rows] == qs
    for _, q, lo, hi in rows:
        assert lo - 1e-2 <= q <= hi + 1e-2, (q, lo, hi)
    # the median lands in the hot leaf: its exact ranks straddle 0.5
    lo, hi = rows[1][2:]
    assert hi - lo >= 0.15


def test_package_has_one_quantile_sketch():
    """No module under xmlschema_spark/ calls percentile_approx: the
    canonical q-digest stays the package's only quantile sketch."""
    import pathlib

    import xmlschema_spark
    root = pathlib.Path(xmlschema_spark.__file__).parent
    hits = [str(p.relative_to(root)) for p in sorted(root.rglob("*.py"))
            if "percentile_approx" in p.read_text()]
    assert hits == []


# ----------------------------------------------------- property tests

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st
    _HYP = True
except ImportError:                                     # pragma: no cover
    _HYP = False

if _HYP:
    leaf_counts = st.lists(
        st.tuples(st.integers(min_value=0, max_value=(1 << L) - 1),
                  st.integers(min_value=1, max_value=1000)),
        min_size=0, max_size=200)

    @settings(max_examples=200, deadline=None)
    @given(leaf_counts, st.randoms())
    def test_compress_mass_conservation_and_order_free(pairs, rnd):
        """Pure-python core invariants: total mass conserved, output
        independent of input order, every node id in range."""
        rows = [(0, (1 << L) + lf, c) for lf, c in pairs]
        total = sum(c for _, _, c in rows)
        out = compress_counts(rows, L, K)
        assert sum(c for _, _, c in out) == total
        shuffled = list(rows)
        rnd.shuffle(shuffled)
        assert sorted(out) == sorted(compress_counts(shuffled, L, K))
        for level, node, cnt in out:
            assert 0 <= level <= L
            assert (1 << (L - level)) <= node < (1 << (L - level + 1))
            assert cnt > 0

    @settings(max_examples=100, deadline=None)
    @given(leaf_counts)
    def test_compress_size_bound(pairs):
        """Digest stays sketch-sized: every merged family emitted to
        the digest exceeded thr, so emitted INTERNAL mass > thr per
        family — size is O(k) + heavy leaves, never O(domain)."""
        rows = [(0, (1 << L) + lf, c) for lf, c in pairs]
        out = compress_counts(rows, L, K)
        n = sum(c for _, _, c in rows)
        if n == 0:
            assert out == []
            return
        thr = max(1, n // K)
        # each level-0 emitted family has mass > thr; interior families
        # likewise: digest family count <= n/thr <= ~K per level
        fams = {(level, node >> 1) for level, node, _ in out}
        assert len(fams) <= (n // thr + 1) * 2


# ------------------------------------------------ streaming windowed

def test_streaming_windowed_qdigest_matches_batch(spark, tmp_path):
    """Two event-time windows streamed through
    streaming_windowed_leaf_counts + qdigest_per_window must produce
    BITWISE the batch digest of each window's rows (the leaf counts are
    exact mergeable partials; compression is a pure function)."""
    from xmlschema_spark.streaming.validate_stream import (
        qdigest_per_window, streaming_windowed_leaf_counts)
    import random
    rng = random.Random(5)
    rows = []
    for i in range(2000):
        hour = 10 if i % 2 == 0 else 11
        rows.append((f"2024-01-01 {hour}:{i % 60:02d}:00",
                     rng.randrange(1 << L)))
    src = tmp_path / "src"
    df = spark.createDataFrame(rows, "ts string, v long")
    df.write.mode("overwrite").parquet(str(src / "b0"))
    stream = (spark.readStream.schema("ts string, v long")
              .option("recursiveFileLookup", "true")
              .parquet(str(src)))
    counts = streaming_windowed_leaf_counts(
        stream, F.col("v"), "ts", window="1 hour",
        watermark="1 minute")
    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (counts.writeStream.format("parquet")
         .option("path", out_dir).option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    # late closing batch so the watermark passes both windows
    spark.createDataFrame([("2024-01-01 13:00:00", 1)],
                          "ts string, v long") \
        .write.mode("overwrite").parquet(str(src / "b1"))
    q2 = (streaming_windowed_leaf_counts(
            spark.readStream.schema("ts string, v long")
            .option("recursiveFileLookup", "true").parquet(str(src)),
            F.col("v"), "ts", window="1 hour", watermark="1 minute")
          .writeStream.format("parquet")
          .option("path", out_dir).option("checkpointLocation", ck)
          .trigger(availableNow=True).start())
    q2.awaitTermination(120)
    got_counts = spark.read.parquet(out_dir)
    digests = qdigest_per_window(got_counts, L, K)
    per_win = {}
    for r in digests.collect():
        per_win.setdefault(str(r.win_start), []) \
            .append((r.level, r.node, r.cnt))
    batch_df = spark.createDataFrame(rows, "ts string, v long") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    for hour in (10, 11):
        win_rows = batch_df.where(F.hour("ts") == hour)
        expect = sorted((r.level, r.node, r.cnt) for r in
                        qdigest(win_rows, F.col("v"), L, K).collect())
        key = f"2024-01-01 {hour}:00:00"
        assert sorted(per_win[key]) == expect, hour


# ------------------------------------------- float-domain leaf mapping

def test_float_leaf_contract(spark):
    """float_leaf rounding contract: NaN dropped, INF/out-of-range
    clamped to edge leaves (or dropped), v == hi in the last leaf."""
    from xmlschema_spark.operators.sketch import float_leaf
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [("nan", float("nan")), ("pinf", float("inf")),
         ("ninf", float("-inf")), ("lo", 0.0), ("hi", 512.0),
         ("mid", 256.0), ("under", -3.0), ("over", 600.0),
         ("null", None)],
        "k string, v double")
    got = {r.k: r.leaf for r in df.select(
        "k", float_leaf(F.col("v"), 0.0, 512.0, 12).alias("leaf")
    ).collect()}
    assert got["nan"] is None and got["null"] is None
    assert got["pinf"] == 4095 and got["ninf"] == 0
    assert got["lo"] == 0 and got["hi"] == 4095   # hi -> last leaf
    assert got["mid"] == 2048
    assert got["under"] == 0 and got["over"] == 4095   # clamp
    got_d = {r.k: r.leaf for r in df.select(
        "k", float_leaf(F.col("v"), 0.0, 512.0, 12,
                        out_of_range="drop").alias("leaf")
    ).collect()}
    assert got_d["under"] is None and got_d["over"] is None
    assert got_d["pinf"] is None and got_d["ninf"] is None
    assert got_d["mid"] == 2048


def test_float_leaf_sql_twin_matches(spark):
    """float_leaf_sql must produce the identical leaf for every value —
    the bit-identical cross-engine contract."""
    import duckdb
    from pyspark.sql import functions as F
    from xmlschema_spark.operators.sketch import float_leaf, float_leaf_sql
    vals = [0.0, 0.1249999, 511.9999, 256.0000001, 490.02, 0.01,
            123.456789, 333.3333333333, float("inf"), float("-inf"),
            float("nan"), -1e-9, 512.0]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "i bigint, v double")
    sp = {r.i: r.leaf for r in df.select(
        "i", float_leaf(F.col("v"), 0.0, 512.0, 12).alias("leaf")
    ).collect()}
    con = duckdb.connect()
    con.execute("create table t(i bigint, v double)")
    con.executemany("insert into t values (?, ?)",
                    [(i, v) for i, v in enumerate(vals)])
    sql = float_leaf_sql("v", 0.0, 512.0, 12)
    dk = dict(con.execute(f"select i, {sql} from t").fetchall())
    assert sp == dk


def test_float_leaf_rejects_bad_bounds():
    import pytest
    from pyspark.sql import functions as F
    from xmlschema_spark.operators.sketch import float_leaf
    with pytest.raises(ValueError, match="finite lo < hi"):
        float_leaf(F.lit(1.0), 5.0, 5.0, 12)
    with pytest.raises(ValueError, match="finite lo < hi"):
        float_leaf(F.lit(1.0), 0.0, float("inf"), 12)
