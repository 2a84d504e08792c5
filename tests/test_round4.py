"""Round-4 tests: idempotent run-scoped incremental dedup, bucketed
fingerprint store (shuffle-free anti-join at 10^12 fps), reliable
checkpointing for dup_clusters, and the ANSI-overflow duration guard."""

import pytest
from pyspark.sql import functions as F

from xmlschema_spark.operators.dedup import (dup_clusters,
                                             incremental_deduplicate)


def _inc(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


# --------------------------------------------- run-id scoped store

def test_incremental_dedup_run_scoped(spark, tmp_path):
    """With run_id, behavior across DISTINCT increments matches the
    legacy path: later increments never resurrect earlier content."""
    store = str(tmp_path / "fps")
    s1 = incremental_deduplicate(
        _inc(spark, [("a", "hello"), ("b", "hello"), ("n1", None)]),
        "text", "doc_id", store, run_id="r1")
    assert sorted(r.doc_id for r in s1.collect()) == ["a", "n1"]
    s2 = incremental_deduplicate(
        _inc(spark, [("c", "hello"), ("d", "new")]),
        "text", "doc_id", store, run_id="r2")
    assert sorted(r.doc_id for r in s2.collect()) == ["d"]


def test_incremental_dedup_rerun_idempotent(spark, tmp_path):
    """Re-running the SAME increment (same run_id) after its store
    write must return the identical survivor set — the downstream-
    failure retry case. The legacy (no run_id) path returns zero
    survivors here; the run-scoped path excludes its own partition."""
    store = str(tmp_path / "fps")
    inc = _inc(spark, [("a", "hello"), ("b", "world")])
    first = sorted(r.doc_id for r in incremental_deduplicate(
        inc, "text", "doc_id", store, run_id="r1").collect())
    assert first == ["a", "b"]
    again = sorted(r.doc_id for r in incremental_deduplicate(
        inc, "text", "doc_id", store, run_id="r1").collect())
    assert again == first
    # and a LATER increment still sees r1's fingerprints
    s2 = incremental_deduplicate(
        _inc(spark, [("c", "hello")]), "text", "doc_id", store,
        run_id="r2")
    assert s2.count() == 0


def test_incremental_dedup_bad_run_id(spark, tmp_path):
    with pytest.raises(ValueError, match="run_id"):
        incremental_deduplicate(
            _inc(spark, [("a", "x")]), "text", "doc_id",
            str(tmp_path / "fps"), run_id="evil'; DROP TABLE t--")
    with pytest.raises(ValueError, match="store_buckets requires"):
        incremental_deduplicate(
            _inc(spark, [("a", "x")]), "text", "doc_id",
            str(tmp_path / "fps"), store_buckets=8)


# ------------------------------------------------- bucketed store

def test_incremental_dedup_bucketed_store(spark, tmp_path):
    """Bucketed-table store: same semantics (cross-increment dedup +
    same-run idempotence) through the CLUSTERED BY (fp) table."""
    store = str(tmp_path / "bstore")
    s1 = incremental_deduplicate(
        _inc(spark, [("a", "hello"), ("b", "hello"), ("n1", None)]),
        "text", "doc_id", store, run_id="r1", store_buckets=4)
    assert sorted(r.doc_id for r in s1.collect()) == ["a", "n1"]
    s2 = incremental_deduplicate(
        _inc(spark, [("c", "hello"), ("d", "new")]),
        "text", "doc_id", store, run_id="r2", store_buckets=4)
    assert sorted(r.doc_id for r in s2.collect()) == ["d"]
    # idempotent re-run of r2
    again = incremental_deduplicate(
        _inc(spark, [("c", "hello"), ("d", "new")]),
        "text", "doc_id", store, run_id="r2", store_buckets=4)
    assert sorted(r.doc_id for r in again.collect()) == ["d"]


def test_bucketed_store_antijoin_has_no_store_side_exchange(spark,
                                                           tmp_path):
    """The 10^12-fp plan: the store side of the anti-join must scan
    Bucketed: true with NO Exchange above it — only the (much smaller)
    increment shuffles to match the bucketing."""
    from xmlschema_spark.operators.dedup import _fp_store_table
    store = str(tmp_path / "bstore")
    incremental_deduplicate(
        _inc(spark, [(str(i), f"doc {i}") for i in range(200)]),
        "text", "doc_id", store, run_id="r1", store_buckets=4)
    table = _fp_store_table(spark, store, 4)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        inc = spark.range(100).select(
            F.md5(F.col("id").cast("string")).alias("fp"))
        seen = (spark.table(table)
                .where(F.col("run").cast("string") != "r2").select("fp"))
        plan = (inc.join(seen, on="fp", how="left_anti")
                ._jdf.queryExecution().executedPlan().toString())
        assert "Bucketed: true" in plan
        # exactly ONE Exchange in the whole join — the increment side;
        # zero exchanges above the bucketed store scan
        assert plan.count("Exchange") == 1
        assert "SelectedBucketsCount: 4 out of 4" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


# ------------------------------------------- dup_clusters checkpoint

def test_dup_clusters_reliable_checkpoint(spark, tmp_path):
    """Deep chain converges with RELIABLE checkpoint() (the real-
    cluster executor-loss-safe mode) and labels match localCheckpoint
    output exactly."""
    n = 40
    pairs = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)],
        "id_a string, id_b string")
    local = sorted((r.member, r.cluster)
                   for r in dup_clusters(pairs).collect())
    reliable = sorted(
        (r.member, r.cluster)
        for r in dup_clusters(
            pairs, checkpoint_dir=str(tmp_path / "ckpt")).collect())
    assert reliable == local
    assert all(c == "n000" for _, c in reliable)


# ------------------------------------------------ duration overflow

def test_duration_huge_literal_no_crash(spark):
    """ANSI mode: a lexically valid huge duration must not throw
    CAST_OVERFLOW; it is incomparable (suppressed), and in-range
    values still order correctly."""
    from xmlschema_spark.functions.temporal_order import (
        duration_ordered_valid)
    df = spark.createDataFrame(
        [("P9999999999Y",), ("P200000Y",), ("P1D",), ("P2M",)],
        "v string")
    out = df.select(
        F.col("v"),
        duration_ordered_valid(F.col("v"), "minInclusive", "P1M")
        .alias("ok")).collect()
    by = {r.v: r.ok for r in out}
    assert by["P9999999999Y"] is True      # suppressed, not crashed
    assert by["P200000Y"] is True          # beyond documented range
    assert by["P1D"] is False
    assert by["P2M"] is True


# ------------------------------------------- assert vocabulary check

def test_assert_typo_column_raises_at_compile(spark):
    """Reference parity (assertions.py:119-133): unknown names in an
    assertion are rejected at spec-compile time, not at first action."""
    from xmlschema_spark.plans.compiler import compile_plan
    from xmlschema_spark.specs import AssertSpec, ColumnSpec, TableSpec
    spec = TableSpec(name="t", key_column="k",
                     columns=[ColumnSpec("w", "int"), ColumnSpec("h", "int")],
                     asserts=[AssertSpec("a", "w * hh <= 100")])
    with pytest.raises(ValueError, match="unknown column 'hh'"):
        compile_plan(spec)


def test_assert_unknown_function_raises(spark):
    from xmlschema_spark.plans.compiler import compile_plan
    from xmlschema_spark.specs import AssertSpec, ColumnSpec, TableSpec
    spec = TableSpec(name="t", key_column="k",
                     columns=[ColumnSpec("w", "int")],
                     asserts=[AssertSpec("a", "my_udf(w) > 0")])
    with pytest.raises(ValueError, match="function 'my_udf'"):
        compile_plan(spec)


def test_assert_vocabulary_accepts_legit_exprs(spark):
    from xmlschema_spark.plans.compiler import compile_plan
    from xmlschema_spark.specs import AssertSpec, ColumnSpec, TableSpec
    exprs = [
        "w IS NULL OR h IS NULL OR CAST(w AS BIGINT) * h <= 16777216",
        "CASE WHEN w > 0 THEN h >= 1 ELSE TRUE END",
        "length(trim(cap)) BETWEEN 1 AND 512",
        "`w` + coalesce(h, 0) < 10 AND cap NOT LIKE 'x%'",
    ]
    spec = TableSpec(name="t", key_column="k",
                     columns=[ColumnSpec("w", "int"), ColumnSpec("h", "int"),
                              ColumnSpec("cap", "string")],
                     asserts=[AssertSpec(f"a{i}", e)
                              for i, e in enumerate(exprs)])
    compile_plan(spec)   # must not raise


def test_assert_extra_columns_declaration(spark):
    """AssertSpec.columns declares vocabulary beyond the spec's own
    columns (and still validates at run time)."""
    from xmlschema_spark.plans.compiler import compile_plan
    from xmlschema_spark.operators.row_checks import row_violations
    from xmlschema_spark.specs import AssertSpec, TableSpec
    spec = TableSpec(name="t", key_column="k",
                     asserts=[AssertSpec("ab", "a <= b",
                                         columns=["a", "b"])])
    plan = compile_plan(spec)
    df = spark.createDataFrame([("r1", 1, 2), ("r2", 5, 2)],
                               "k string, a int, b int")
    got = {(r.row_key, r.constraint)
           for r in row_violations(df, plan).collect()}
    assert got == {("r2", "assert:ab")}


# ------------------------------------------------ converter layouts

def test_gdata_converter_layout(spark):
    from xmlschema_spark.functions.converters import (decode_table,
                                                      gdata_converter)
    from xmlschema_spark.specs import ColumnSpec, TableSpec
    df = spark.createDataFrame([("1", "hello", 5)],
                               "rid string, txt string, n int")
    spec = TableSpec(name="t", key_column="rid",
                     columns=[ColumnSpec("txt"), ColumnSpec("n", "int")])
    out = decode_table(df, spec, gdata_converter(text_col="txt"))
    row = out.collect()[0]
    assert row.doc == '{"$t":"hello","n":5}'


def test_parker_converter_drops_all_raises(spark):
    from xmlschema_spark.functions.converters import (decode_table,
                                                      parker_converter)
    from xmlschema_spark.specs import ColumnSpec, TableSpec
    df = spark.createDataFrame([("1", "x")], "rid string, a string")
    spec = TableSpec(name="t", key_column="rid",
                     columns=[ColumnSpec("a")])
    with pytest.raises(ValueError, match="dropped every column"):
        decode_table(df, spec, parker_converter(["a"]))


# ------------------------------------------- large-star/small-star CC

def test_dup_clusters_star_matches_propagate(spark):
    """Large-star/small-star edge rewriting must produce the component
    labels of a union-find over the same pairs on chains, cliques, and
    singleton self-pairs."""
    from components_reference import component_labels
    edges = ([(f"n{i:02d}", f"n{i + 1:02d}") for i in range(15)]  # chain
             + [("z1", "z2"), ("z2", "z3"), ("z1", "z3")]         # clique
             + [("solo", "solo")])                                # self-pair
    pairs = spark.createDataFrame(edges, "id_a string, id_b string")
    b = sorted((r.member, r.cluster)
               for r in dup_clusters(pairs).collect())
    assert b == component_labels(edges)
    assert ("solo", "solo") in b


def test_dup_clusters_star_descending_chain_checkpointed(spark, tmp_path):
    """Worst-ish ordering (ids descending along the chain) with
    reliable checkpointing enabled."""
    n = 24
    pairs = spark.createDataFrame(
        [(f"n{n - i:02d}", f"n{n - i - 1:02d}") for i in range(n)],
        "id_a string, id_b string")
    out = dup_clusters(pairs,
                       checkpoint_dir=str(tmp_path / "ck")).collect()
    assert all(r.cluster == "n00" for r in out)
    assert len(out) == n + 1


def test_dup_clusters_star_parallelism_invariant(spark):
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r")],
        "id_a string, id_b string")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        outs = []
        for nshuf in ("2", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", nshuf)
            outs.append(sorted((r.member, r.cluster)
                               for r in dup_clusters(pairs).collect()))
        assert outs[0] == outs[1]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_abdera_converter_layout(spark):
    from xmlschema_spark.functions.converters import (abdera_converter,
                                                      decode_table)
    from xmlschema_spark.specs import ColumnSpec, TableSpec
    df = spark.createDataFrame([("1", "en", "web", 5)],
                               "rid string, lang string, src string, n int")
    spec = TableSpec(name="t", key_column="rid",
                     columns=[ColumnSpec("lang"), ColumnSpec("src"),
                              ColumnSpec("n", "int")])
    out = decode_table(df, spec, abdera_converter(["lang"])).collect()[0]
    assert out.doc == ('{"attributes":{"lang":"en"},'
                       '"children":{"src":"web","n":5}}')
    # no attribute columns -> bare children dict
    out2 = decode_table(df, spec, abdera_converter([])).collect()[0]
    assert out2.doc == '{"lang":"en","src":"web","n":5}'


def test_jsonml_converter_layout(spark):
    from xmlschema_spark.functions.converters import (decode_table,
                                                      jsonml_converter)
    from xmlschema_spark.specs import ColumnSpec, TableSpec
    df = spark.createDataFrame([("1", "en", "a\"b", 5)],
                               "rid string, lang string, txt string, n int")
    spec = TableSpec(name="t", key_column="rid",
                     columns=[ColumnSpec("lang"), ColumnSpec("txt"),
                              ColumnSpec("n", "int")])
    out = decode_table(df, spec, jsonml_converter(["lang"])).collect()[0]
    # escaping comes from to_json on both the attrs struct and scalars
    assert out.doc == ('["t",{"lang":"en"},["txt","a\\"b"],["n",5]]')


def test_length_facet_binary_octets(spark):
    """length facets on binary columns count OCTETS (reference:
    hexBinary/base64Binary length in octets, facets.py:171-282)."""
    from xmlschema_spark.operators.row_checks import row_violations
    from xmlschema_spark.plans.compiler import compile_plan
    from xmlschema_spark.specs import ColumnSpec, TableSpec
    df = spark.createDataFrame(
        [("r1", bytearray(b"abcd")), ("r2", bytearray(b"ab")),
         ("r3", bytearray(b"abcdef"))],
        "rid string, v binary")
    spec = TableSpec(name="t", key_column="rid",
                     columns=[ColumnSpec("v", "binary", length=4)])
    got = sorted((r.row_key, r.constraint)
                 for r in row_violations(df, compile_plan(spec)).collect())
    assert got == [("r2", "facet:length:v"), ("r3", "facet:length:v")]
