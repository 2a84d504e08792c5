"""Round-3 regression tests: temporal ordered facets, capped HOF LSH,
keyref join strategy, streaming violation parity, ADVICE fixes."""

import pytest
from pyspark.sql import functions as F

from xmlschema_spark.plans.compiler import compile_plan
from xmlschema_spark.operators.row_checks import row_violations
from xmlschema_spark.specs import ColumnSpec, TableSpec, UniqueSpec


def _viol_keys(spark, spec, rows, schema):
    df = spark.createDataFrame(rows, schema)
    v = row_violations(df, compile_plan(spec))
    return sorted((r.row_key, r.constraint) for r in v.collect())


# ---------------------------------------------------------- duration order

def test_duration_partial_order_edges(spark):
    """XSD four-reference-point rule (facets.py:285-448 semantics):
    P1M vs P30D is INCOMPARABLE -> passes the facet (the reference
    raises only when `value < facet` is certainly True); P27D is
    certainly smaller, P32D certainly not-smaller."""
    spec = TableSpec(name="t", key_column="rid", columns=[
        ColumnSpec("dur", "xsd:duration", min_inclusive="P1M")])
    got = _viol_keys(spark, spec, [
        ("incomp28", "P28D"), ("incomp30", "P30D"), ("incomp31", "P31D"),
        ("less", "P27D"), ("more", "P32D"), ("equal", "P1M"),
        ("bigger", "P2M"),
    ], "rid string, dur string")
    assert got == [("less", "facet:minInclusive:dur")]


def test_duration_max_facet_and_time_part(spark):
    spec = TableSpec(name="t", key_column="rid", columns=[
        ColumnSpec("dur", "xsd:duration", max_inclusive="P1DT12H")])
    got = _viol_keys(spark, spec, [
        ("under", "PT36H"),          # equal to 1.5 days -> passes
        ("over", "P1DT12H0.5S"),     # certainly greater
        ("neg", "-P5D"),             # negative, smaller
        ("month", "P1M"),            # 28-31 days >> 1.5 -> violation
    ], "rid string, dur string")
    assert got == [("month", "facet:maxInclusive:dur"),
                   ("over", "facet:maxInclusive:dur")]


def test_duration_subtype_constants_rejected_at_compile_time(spark):
    with pytest.raises(ValueError, match="day/time component"):
        compile_plan(TableSpec(name="t", key_column="r", columns=[
            ColumnSpec("d", "xsd:yearMonthDuration", min_inclusive="P1D")]))
    with pytest.raises(ValueError, match="year/month component"):
        compile_plan(TableSpec(name="t", key_column="r", columns=[
            ColumnSpec("d", "xsd:dayTimeDuration", max_inclusive="P1Y")]))
    with pytest.raises(ValueError, match="invalid xs:duration"):
        compile_plan(TableSpec(name="t", key_column="r", columns=[
            ColumnSpec("d", "xsd:duration", min_inclusive="1 month")]))


def test_yearmonth_duration_total_order(spark):
    spec = TableSpec(name="t", key_column="rid", columns=[
        ColumnSpec("d", "xsd:yearMonthDuration",
                   min_inclusive="P1Y", max_exclusive="P2Y")])
    got = _viol_keys(spark, spec, [
        ("lo", "P11M"), ("eq", "P12M"), ("mid", "P18M"),
        ("top", "P2Y"), ("hi", "P25M"),
    ], "rid string, d string")
    assert got == [("hi", "facet:maxExclusive:d"),
                   ("lo", "facet:minInclusive:d"),
                   ("top", "facet:maxExclusive:d")]


# ------------------------------------------------------ temporal tz order

def test_datetime_mixed_timezone_14h_rule(spark):
    """Naive vs aware comparisons are certain only beyond +-14h; within
    the window the pair is incomparable and the facet passes."""
    spec = TableSpec(name="t", key_column="rid", columns=[
        ColumnSpec("dt", "xsd:dateTime",
                   max_inclusive="2000-01-01T00:00:00Z")])
    got = _viol_keys(spark, spec, [
        ("aware_ok", "1999-12-31T23:59:59Z"),
        ("aware_bad", "2000-01-01T00:00:01Z"),
        ("offset_ok", "2000-01-01T04:59:59+05:00"),   # = 23:59:59Z
        ("naive_in_window", "2000-01-01T13:00:00"),   # within 14h -> passes
        ("naive_bad", "2000-01-02T00:00:01"),         # > const+14h -> certain
    ], "rid string, dt string")
    assert got == [("aware_bad", "facet:maxInclusive:dt"),
                   ("naive_bad", "facet:maxInclusive:dt")]


def test_gyear_both_naive_total_order(spark):
    spec = TableSpec(name="t", key_column="rid", columns=[
        ColumnSpec("y", "xsd:gYear", min_inclusive="1990",
                   max_exclusive="2000")])
    got = _viol_keys(spark, spec, [
        ("a", "1989"), ("b", "1990"), ("c", "1999"), ("d", "2000"),
        ("bad_lex", "99"),
    ], "rid string, y string")
    assert got == [("a", "facet:minInclusive:y"),
                   ("bad_lex", "facet:pattern:y"),
                   ("d", "facet:maxExclusive:y")]


def test_nonexistent_date_fails_lexical_not_ordered(spark):
    """2001-02-29 does not exist: round 5 made the date regex
    leap-year-exact (temporal_lex._LEAPYEAR), so it now fails
    facet:pattern like every other nonexistent date — and the ordered
    facet stays suppressed for it (one violation row, not two). A real
    leap day (2004-02-29) passes the lexical check and reaches the
    ordered facet."""
    spec = TableSpec(name="t", key_column="rid", columns=[
        ColumnSpec("d", "xsd:date", min_inclusive="2002-01-01")])
    got = _viol_keys(spark, spec, [
        ("ghost", "2001-02-29"),       # nonexistent -> pattern
        ("real_low", "2001-02-28"),    # real, below bound
        ("leap_low", "2000-02-29"),    # real century leap day, below
        ("leap_ok", "2004-02-29"),     # real leap day, above bound
    ], "rid string, d string")
    assert got == [("ghost", "facet:pattern:d"),
                   ("leap_low", "facet:minInclusive:d"),
                   ("real_low", "facet:minInclusive:d")]


# ------------------------------------------------------------- LSH capping

def test_hof_lsh_near_dup_path_capped(spark):
    """Degenerate corpus: 300 identical embeddings = one LSH bucket. The
    LSH path must cap the bucket BEFORE the groupBy ships it to the
    per-bucket kernel, keeping the smallest string-cast ids."""
    from xmlschema_spark.operators.similarity import cosine_near_dup_pairs
    rows = [(f"v{i:04d}", [1.0, 0.5, 0.25, 0.125]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    pairs = cosine_near_dup_pairs(df, "embedding", "vec_id",
                                  threshold=0.99, max_bucket=16)
    got = pairs.collect()
    assert len(got) == 16 * 15 // 2
    members = {r.id_a for r in got} | {r.id_b for r in got}
    assert members == {f"v{i:04d}" for i in range(16)}   # deterministic cap


# ----------------------------------------------------------- IVF at large k

def test_ivf_join_assignment_equals_expr_assignment(spark, sf_dir):
    """The broadcast-join argmin must agree cell-for-cell with the
    unrolled expression argmin (same tie-break: lowest cell on equal
    score)."""
    from xmlschema_spark.operators.similarity import (_assign_cells,
                                                      ivf_assign)
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _, cents = ivf_assign(e, "embedding", "vec_id", n_centroids=8,
                          n_iters=1)
    a = _assign_cells(e, "embedding", "vec_id", cents, "expr") \
        .select("vec_id", "_cell")
    b = _assign_cells(e, "embedding", "vec_id", cents, "join") \
        .select("vec_id", "_cell")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_ivf_join_assignment_plan_broadcasts_centroids(spark, sf_dir):
    """Large-k path: centroids reach every row via a broadcast join (no
    driver-unrolled 10^3-branch expression, no shuffle of n*k rows —
    partial max_by collapses to n before the exchange)."""
    from xmlschema_spark.operators.similarity import _assign_cells
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = [[float(i == j) for j in range(8)] + [0.0] * 8
             for i in range(8)]
    dims = len(e.select("embedding").first()[0])
    cents = [c[:dims] + [0.0] * max(0, dims - len(c)) for c in cents]
    p = _assign_cells(e, "embedding", "vec_id", cents, "join") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in p, p


# --------------------------------------------------------- keyref strategy
# (plan-shape assertions live in test_plan_shapes.py; here: correctness
# is unchanged by the hint)

def test_keyref_result_same_with_and_without_broadcast(spark):
    from xmlschema_spark.operators.identity import keyref_violations
    from xmlschema_spark.specs import KeyrefSpec
    child = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 99), ("d", 99)],
        "rid string, fk bigint")
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk bigint")
    spec = KeyrefSpec("fk", ["fk"], "p", ["pk"])
    outs = []
    for hint in (None, True, False):
        v = keyref_violations(child, parent, spec, "rid",
                              broadcast_ref=hint)
        outs.append(sorted((r.row_key, r.occurs) for r in v.collect()))
    assert outs[0] == outs[1] == outs[2] == [("c", 2), ("d", 2)]


# ----------------------------------------------------------- ADVICE fixes

def test_selector_alias_disambiguates_slug_collisions(spark):
    """'a/b' vs 'a/@b' collapse to the same slug; the crc suffix must
    keep them distinct so one UniqueSpec can use both fields."""
    from xmlschema_spark.functions.selectors import selector_alias
    assert selector_alias("a/b") != selector_alias("a/@b")
    from xmlschema_spark.operators.identity import unique_violations
    df = spark.createDataFrame(
        [(1, (("x",), "p")), (2, (("x",), "q")), (3, (("x",), "p"))],
        "rid bigint, a struct<b:struct<c:string>, d:string>")
    # two distinct selectors into the same struct; rows 1 and 3 collide
    # on BOTH fields, row 2 differs on the second
    v = unique_violations(df, UniqueSpec("s", ["a/b", "a/@d"]), "rid")
    assert sorted(r.row_key for r in v.collect()) == ["1", "3"]


def test_lexical_list_empty_string_decodes_to_empty_list(spark):
    """'' / whitespace-only lexical list = EMPTY list (reference XsdList
    uses str.split(), simple_types.py:994) — no spurious item:decode."""
    spec = TableSpec(name="t", key_column="rid", columns=[
        ColumnSpec("xs", "string", lexical_list=True,
                   item=ColumnSpec("xs", "int"))])
    got = _viol_keys(spark, spec, [
        ("empty", ""), ("blank", "   "), ("ok", "1 2 3"), ("bad", "1 z"),
    ], "rid string, xs string")
    assert got == [("bad", "facet:item:decode:xs")]


def test_finalize_global_identities_preserves_other_runs(spark, tmp_path):
    """Per-run subdirectory: a second run with a different run_id must
    not wipe the first run's output; re-running the SAME run_id is
    idempotent (overwrite scoped to its own subdir)."""
    from xmlschema_spark.checkpoint import finalize_global_identities
    spec = TableSpec(
        name="t", key_column="rid", part_key="pk",
        columns=[ColumnSpec("uid", "bigint")],
        uniques=[UniqueSpec("uid", ["uid"])])
    df = spark.createDataFrame([("a", 1, 0), ("b", 1, 1)],
                               "rid string, uid bigint, pk bigint")
    chk = str(tmp_path / "chk")
    finalize_global_identities(df, spec, chk, run_id="r1")
    finalize_global_identities(df, spec, chk, run_id="r2")
    finalize_global_identities(df, spec, chk, run_id="r2")  # idempotent
    got = spark.read.parquet(f"{chk}/violations_global")
    runs = {r.run_id for r in got.select("run_id").distinct().collect()}
    assert runs == {"r1", "r2"}
    assert got.count() == 4                     # 2 rows per run, not 6


def test_exact_dedup_null_rows_bypass_window(spark):
    """NULL-text rows are all keepers and must not be funneled through
    one window partition (ADVICE: null hot spot); result unchanged."""
    from xmlschema_spark.operators.dedup import deduplicate
    rows = [("a", "same"), ("b", "same")] + \
           [(f"n{i}", None) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = sorted(r.doc_id for r in
                 deduplicate(df, "text", "doc_id", method="exact").collect())
    assert got == ["a"] + sorted(f"n{i}" for i in range(50))


# ------------------------------------------------------- streaming parity

def test_streaming_violations_match_batch_across_batches(spark, tmp_path):
    """The watermarked streaming path must EMIT the same violation rows
    as the batch engine on the same data, with duplicates split across
    >= 2 micro-batches (judge task 4)."""
    from xmlschema_spark.operators.identity import unique_violations
    from xmlschema_spark.streaming.validate_stream import (
        streaming_unique_violations)
    rows1 = [("a", 1, "2024-01-01 10:00:00"), ("b", 2, "2024-01-01 10:01:00")]
    rows2 = [("c", 1, "2024-01-01 10:02:00"), ("d", 3, "2024-01-01 10:03:00"),
             ("e", 3, "2024-01-01 10:03:30")]
    schema = "rid string, uid bigint, ts string"
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(rows1, schema) \
        .withColumn("ts", F.col("ts").cast("timestamp")) \
        .coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(rows2, schema) \
        .withColumn("ts", F.col("ts").cast("timestamp")) \
        .coalesce(1).write.parquet(str(src / "f2"))

    full = spark.read.parquet(str(src / "f1"), str(src / "f2"))
    batch_keys = sorted(
        r.row_key for r in
        unique_violations(full, UniqueSpec("uid", ["uid"]), "rid").collect())

    stream = (spark.readStream.schema(full.schema)
              .option("maxFilesPerTrigger", 1)
              .option("recursiveFileLookup", "true").parquet(str(src)))
    v = streaming_unique_violations(stream, ["uid"], "rid", "ts",
                                    watermark="10 minutes")
    out = str(tmp_path / "out")
    q = (v.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "chk"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert sorted(r.row_key for r in got.collect()) == batch_keys
    assert batch_keys == ["a", "c", "d", "e"]


def test_validate_stream_distributed_write(spark, tmp_path):
    """foreachBatch writer: violations land partitioned by part_key (no
    per-batch coalesce(1) single writer)."""
    from xmlschema_spark.sources.fixtures import images_spec, make_images
    from xmlschema_spark.streaming.validate_stream import validate_stream
    src = str(tmp_path / "src")
    # dirty markers fire at i % 997 in {1..11}: 4000 rows / 250 per part
    # puts violating rows in several part_key values
    make_images(spark, 4000, rows_per_partition=250, dirty=True,
                with_bytes=False).write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)
    q = validate_stream(stream, images_spec(with_payload=False),
                        str(tmp_path / "chk"), str(tmp_path / "out"))
    q.awaitTermination(120)
    import os
    subdirs = [d for d in os.listdir(str(tmp_path / "out" / "violations"))
               if d.startswith("part_key=")]
    assert len(subdirs) > 1                     # hive-partitioned layout
    viols = spark.read.parquet(str(tmp_path / "out" / "violations"))
    assert viols.count() > 0


# ------------------------------------------------------------------- CLI

def test_cli_distributed_summary_multi_part(spark, tmp_path, capsys):
    """CLI summary counts come from one agg (no verdict collect) and the
    verdict write is partitioned — verified on a multi-part fixture."""
    import json
    from xmlschema_spark.cli import main
    from xmlschema_spark.sources.fixtures import images_spec, make_images
    data = str(tmp_path / "data")
    make_images(spark, 2000, rows_per_partition=250, dirty=True,
                with_bytes=False).write.parquet(data)
    spec_file = str(tmp_path / "spec.json")
    with open(spec_file, "w") as f:
        f.write(images_spec(with_payload=False).to_json())
    out = str(tmp_path / "out")
    rc = main(["--table", data, "--spec", spec_file, "--output", out])
    captured = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc >= 1 and captured["partitions"] == 8
    verd = spark.read.parquet(f"{out}/verdicts")
    assert verd.count() == 8


# ----------------------------------------------------- dup clustering

def test_dup_clusters_transitive_closure(spark):
    """A chain a-b-c-d must collapse to ONE cluster (true transitive
    closure — the star approximation in deduplicate() can't see a-d)."""
    from xmlschema_spark.operators.dedup import dup_clusters
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        "id_a string, id_b string")
    got = {(r.member, r.cluster) for r in dup_clusters(pairs).collect()}
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"),
                   ("x", "x"), ("y", "x")}


def test_dup_clusters_long_chain_converges(spark):
    """A 40-node path graph must converge within max_iters=10 rounds
    (large-star/small-star takes 7) — plain neighbor-min propagation
    would take 39."""
    from xmlschema_spark.operators.dedup import dup_clusters
    n = 40
    pairs = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i+1:02d}") for i in range(n - 1)],
        "id_a string, id_b string")
    got = {(r.member, r.cluster) for r in
           dup_clusters(pairs, max_iters=10).collect()}
    assert got == {(f"n{i:02d}", "n00") for i in range(n)}


def test_dup_clusters_shuffled_path_converges(spark):
    """A 256-node path whose ids are shuffled along it (min-label
    propagation with pointer jumping did not converge on it in 20
    rounds) closes to one component at the default max_iters."""
    import random
    from xmlschema_spark.operators.dedup import dup_clusters
    ids = [f"p{i:03d}" for i in range(256)]
    random.Random(7).shuffle(ids)
    pairs = spark.createDataFrame(list(zip(ids, ids[1:])),
                                  "id_a string, id_b string")
    got = {(r.member, r.cluster) for r in dup_clusters(pairs).collect()}
    assert got == {(i, "p000") for i in ids}


def test_dup_clusters_raises_on_nonconvergence(spark):
    from xmlschema_spark.operators.dedup import dup_clusters
    pairs = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(30)],
        "id_a string, id_b string")
    with pytest.raises(RuntimeError, match="did not converge"):
        dup_clusters(pairs, max_iters=2)


# ------------------------------------------------ streaming windowed drift

def test_streaming_windowed_histogram_and_drift(spark, tmp_path):
    """Windowed histogram counts emit once per closed window (append +
    watermark); per-window KL against a static reference flags the
    shifted window."""
    from xmlschema_spark.streaming.validate_stream import (
        drift_from_windowed_counts, streaming_windowed_histogram)
    rows = (
        # window 10:00-11:00 — uniform-ish low values
        [("2024-01-01 10:05:00", float(v)) for v in (1, 2, 3, 4, 5)] +
        # window 11:00-12:00 — shifted high values
        [("2024-01-01 11:20:00", float(v)) for v in (9, 9, 9, 9, 9)] +
        # watermark pusher: closes both windows above
        [("2024-01-01 13:30:00", 5.0)])
    df = (spark.createDataFrame(rows, "ts string, value double")
          .withColumn("ts", F.col("ts").cast("timestamp")))
    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)
    stream = (spark.readStream.schema(df.schema)
              .option("recursiveFileLookup", "true").parquet(src))
    hist = streaming_windowed_histogram(stream, "value", "ts",
                                        lo=0.0, width=1.0, n_bins=10)
    out = str(tmp_path / "hist")
    q = (hist.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "chk"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    # only the two CLOSED windows are emitted (13:00-14:00 stays open)
    wins = {str(r.win_start) for r in
            got.select("win_start").distinct().collect()}
    assert wins == {"2024-01-01 10:00:00", "2024-01-01 11:00:00"}
    assert got.agg(F.sum("n")).collect()[0][0] == 10

    # reference: the SAME distribution as the 10:00 window -> kl~0 for
    # it, large for the shifted 11:00 window
    ref = spark.createDataFrame([(1, 1), (2, 1), (3, 1), (4, 1), (5, 1)],
                                "bin int, n int")
    kl = drift_from_windowed_counts(got, ref, n_bins=10,
                                    kl_threshold=0.05)
    by_win = {str(r.win_start): (r.kl, r.drifted) for r in kl.collect()}
    assert by_win["2024-01-01 10:00:00"][1] is False
    assert by_win["2024-01-01 11:00:00"][1] is True
    assert by_win["2024-01-01 11:00:00"][0] > by_win["2024-01-01 10:00:00"][0]


# ----------------------------------------------------- incremental dedup

def test_incremental_dedup_across_batches(spark, tmp_path):
    """A document seen in increment 1 must not survive increment 2; the
    fingerprint store accumulates across calls; NULL text always
    survives."""
    from xmlschema_spark.operators.dedup import incremental_deduplicate
    store = str(tmp_path / "fps")
    inc1 = spark.createDataFrame(
        [("a", "hello world"), ("b", "hello world"), ("c", "other"),
         ("n1", None)],
        "doc_id string, text string")
    s1 = incremental_deduplicate(inc1, "text", "doc_id", store)
    assert sorted(r.doc_id for r in s1.collect()) == ["a", "c", "n1"]
    inc2 = spark.createDataFrame(
        [("d", "hello world"), ("e", "brand new"), ("f", "brand new"),
         ("n2", None)],
        "doc_id string, text string")
    s2 = incremental_deduplicate(inc2, "text", "doc_id", store)
    assert sorted(r.doc_id for r in s2.collect()) == ["e", "n2"]
    inc3 = spark.createDataFrame([("g", "brand new")],
                                 "doc_id string, text string")
    s3 = incremental_deduplicate(inc3, "text", "doc_id", store)
    assert s3.count() == 0


def test_dup_clusters_parallelism_invariant(spark):
    """Cluster labels must be identical at different shuffle
    parallelism (north rule: bitwise-identical outputs across cluster
    sizes)."""
    from xmlschema_spark.operators.dedup import dup_clusters
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r"),
         ("r", "s")],
        "id_a string, id_b string")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        outs = []
        for n in ("2", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            outs.append(sorted((r.member, r.cluster)
                               for r in dup_clusters(pairs).collect()))
        assert outs[0] == outs[1]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
