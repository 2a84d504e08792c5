"""Round-2 regressions: ADVICE fixes, hot-bucket caps, portable simhash,
union member facets, lexical list decode, cross-increment identity,
stateful streaming uniqueness, ANN recall gates."""

import pytest
from pyspark.sql import functions as F

from xmlschema_spark import compile_plan
from xmlschema_spark.operators.dedup import deduplicate, simhash_near_dups
from xmlschema_spark.operators.row_checks import row_violations
from xmlschema_spark.specs import ColumnSpec, TableSpec, UniqueSpec


# --------------------------------------------------------------- dedup fixes

def test_exact_dedup_keeps_null_text_rows(spark):
    """ADVICE: fingerprint(NULL) is NULL; the old equi-join silently
    dropped every NULL-text row. They must all survive (no content to
    compare) while real dups still collapse to the min id."""
    df = spark.createDataFrame(
        [("a", "same text"), ("b", "same text"), ("c", None), ("d", None),
         ("e", "other")],
        "doc_id string, text string")
    got = sorted(r.doc_id for r in
                 deduplicate(df, "text", "doc_id", method="exact").collect())
    assert got == ["a", "c", "d", "e"]


def test_simhash_capped_and_exact_pairs(spark):
    docs = spark.createDataFrame([
        ("d1", "the quick brown fox jumps over the lazy dog every day"),
        ("d2", "the quick brown fox jumps over the lazy dog every day"),
        ("d4", "le chat noir dort sur le tapis rouge et le chien aussi"),
    ], "doc_id string, text string")
    got = {(r.id_a, r.id_b): r.hamming
           for r in simhash_near_dups(docs, "text", "doc_id").collect()}
    assert got[("d1", "d2")] == 0
    assert all("d4" not in k for pair in got for k in pair)


def test_simhash_matches_duckdb_oracle(spark):
    """The shipped 48-bit simhash (simhash48_fast) must be bit-identical
    to the portable md5-digit construction in any engine (here:
    DuckDB)."""
    import duckdb
    texts = ["the quick brown fox", "hello world", "a", "x y z w"]
    df = spark.createDataFrame([(str(i), t) for i, t in enumerate(texts)],
                               "doc_id string, text string")
    from xmlschema_spark.operators.text import simhash48_fast
    got = {r.doc_id: r.sh48 for r in
           simhash48_fast(df, "text", "doc_id").collect()}
    from xmlschema_spark.queries import _SIMHASH_TERMS
    con = duckdb.connect()
    for i, t in enumerate(texts):
        want = con.execute(f"""
          WITH t AS (SELECT string_split(trim(regexp_replace(?,'\\s+',' ','g')), ' ') AS w),
          d AS (SELECT [[strpos('0123456789abcdef', substr(md5(x), p, 1)) - 1
                         for p in generate_series(1, 12)] for x in w] AS dg,
                       len(w) AS n FROM t)
          SELECT ({_SIMHASH_TERMS}) FROM d
        """, [t]).fetchone()[0]
        assert got[str(i)] == want, (t, got[str(i)], want)


# ------------------------------------------------------------ compiler fixes

def test_item_pattern_with_backslash_classes(spark):
    """ADVICE: item patterns were interpolated into SQL string literals,
    where Spark eats backslashes ('\\d' became 'd'). Column-API rlike
    must receive the pattern verbatim."""
    df = spark.createDataFrame(
        [("r1", ["a1", "b2"]), ("r2", ["cc", "d4"])],
        "k string, vals array<string>")
    spec = TableSpec(
        name="t", key_column="k",
        columns=[ColumnSpec("vals", "array<string>",
                            item=ColumnSpec("v", "string",
                                            pattern=[r"[a-z]\d"]))])
    bad = row_violations(df, compile_plan(spec)).collect()
    assert [r.row_key for r in bad] == ["r2"]           # 'cc' fails \d


def test_assertion_value_word_boundary(spark):
    """ADVICE: 'value' must be replaced as a whole word only — substrings
    inside identifiers/literals stay untouched."""
    df = spark.createDataFrame([("r1", 5), ("r2", -1)], "k string, v int")
    spec = TableSpec(
        name="t", key_column="k",
        columns=[ColumnSpec(
            "v", "int",
            assertion="value >= 0 AND 'devalued' = 'devalued'")])
    bad = row_violations(df, compile_plan(spec)).collect()
    assert [r.row_key for r in bad] == ["r2"]


def test_union_member_facets(spark):
    """Member facets re-applied after union decode: castable-but-out-of-
    range bigints violate; lowercase words pass via the string member."""
    df = spark.createDataFrame(
        [("r1", "7"), ("r2", "99"), ("r3", "cat"), ("r4", "Cat"),
         ("r5", None)],
        "k string, val string")
    spec = TableSpec(
        name="t", key_column="k",
        columns=[ColumnSpec("val", "string", union_members=[
            ColumnSpec("m_int", "bigint", min_inclusive=0, max_inclusive=50),
            ColumnSpec("m_word", "string", pattern=["[a-z]+"]),
        ])])
    bad = sorted(r.row_key for r in
                 row_violations(df, compile_plan(spec)).collect())
    assert bad == ["r2", "r4"]     # 99 out of range; 'Cat' fails pattern


def test_lexical_list_decode_and_item_facets(spark):
    """Space-separated lexical list: split -> per-item decode + range."""
    df = spark.createDataFrame(
        [("r1", "1 2 3"), ("r2", "1 x 3"), ("r3", "500  2"), ("r4", None)],
        "k string, vals string")
    spec = TableSpec(
        name="t", key_column="k",
        columns=[ColumnSpec("vals", "string", lexical_list=True,
                            item=ColumnSpec("v", "int", min_inclusive=0,
                                            max_inclusive=400))])
    bad = sorted((r.row_key, r.constraint) for r in
                 row_violations(df, compile_plan(spec)).collect())
    assert bad == [("r2", "facet:item:decode:vals"),
                   ("r3", "facet:item:maxInclusive:vals")]


# --------------------------------------------- identity scope across batches

def test_checkpoint_nondefault_part_key(spark, tmp_path):
    """ADVICE: resume broke for any partition column not literally named
    'part_key' (manifest column alias missing)."""
    from xmlschema_spark.checkpoint import run_resumable
    df = spark.createDataFrame(
        [(i, f"id{i}", i // 10) for i in range(40)],
        "n int, rid string, bucket bigint")
    spec = TableSpec(name="t", key_column="rid", part_key="bucket",
                     columns=[ColumnSpec("n", "int", min_inclusive=0)])
    chk = str(tmp_path / "chk")
    s1 = run_resumable(df, spec, chk, run_id="r1")
    assert s1["validated_parts"] == 4
    s2 = run_resumable(df, spec, chk, run_id="r2")   # raised before the fix
    assert s2["skipped"] is True


def test_global_identity_pass_catches_straddling_dups(spark, tmp_path):
    """Duplicates that straddle two increments are invisible to the
    per-increment scope and MUST be caught by the terminal full-table
    pass (reference: deferred identity merge, schemas.py:1386-1405)."""
    from xmlschema_spark.checkpoint import (finalize_global_identities,
                                            run_resumable)
    spec = TableSpec(
        name="t", key_column="rid", part_key="pk",
        columns=[ColumnSpec("uid", "bigint")],
        uniques=[UniqueSpec("uid", ["uid"])])
    inc1 = spark.createDataFrame([("a", 1, 0), ("b", 2, 0)],
                                 "rid string, uid bigint, pk bigint")
    inc2 = spark.createDataFrame([("c", 1, 1), ("d", 3, 1)],
                                 "rid string, uid bigint, pk bigint")
    chk = str(tmp_path / "chk")
    s1 = run_resumable(inc1, spec, chk, run_id="r1")
    s2 = run_resumable(inc2.unionByName(inc1), spec, chk, run_id="r2")
    # per-increment scope: uid=1 straddles increments -> zero violations
    assert s1["violations"] == 0 and s2["violations"] == 0
    out = finalize_global_identities(inc1.unionByName(inc2), spec, chk)
    assert out["global_identity_violations"] == 2     # rows 'a' and 'c'
    got = spark.read.parquet(f"{chk}/violations_global")
    assert sorted(r.row_key for r in got.collect()) == ["a", "c"]


def test_streaming_global_unique_across_batches(spark, tmp_path):
    """applyInPandasWithState uniqueness: a duplicate arriving in a LATER
    micro-batch (per-batch scope can't see it) must be flagged, with the
    first occurrence emitted retroactively."""
    import time
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame([("a", 1), ("b", 2)], "rid string, uid bigint") \
        .coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))
    spark.createDataFrame([("c", 1), ("d", 3)], "rid string, uid bigint") \
        .coalesce(1).write.mode("overwrite").parquet(str(src / "f2"))

    from xmlschema_spark.streaming.validate_stream import \
        streaming_global_unique_violations
    stream = (spark.readStream.schema("rid string, uid bigint")
              .option("maxFilesPerTrigger", 1)
              .option("recursiveFileLookup", "true")
              .parquet(str(src)))
    viols = streaming_global_unique_violations(stream, ["uid"], "rid")
    q = (viols.writeStream.format("memory").queryName("uniq_t")
         .option("checkpointLocation", str(tmp_path / "chk"))
         .outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM uniq_t").collect()
    assert sorted(r.row_key for r in rows) == ["a", "c"]
    assert all(r.value == "1" for r in rows)


# -------------------------------------------------------------- ANN quality

def test_ann_multiprobe_recall(spark, sf_dir):
    from xmlschema_spark.operators.similarity import ann_topk_lsh, cosine_topk
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(x) for x in
         e.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    brute = {r.vec_id for r in
             cosine_topk(e, "embedding", "vec_id", q, k=10).collect()}
    # multiprobe=4 at 6 planes: the synthetic embeddings are near-
    # orthogonal unit vectors (mean~0, measured), so true top-10
    # neighbors share few sign bits and recall needs wide probing at
    # this toy scale — a data property, not an engine one. At realistic
    # n_planes (16+) the probed fraction is tiny.
    approx = {r.vec_id for r in
              ann_topk_lsh(e, "embedding", "vec_id", q, k=10, n_planes=6,
                           multiprobe=4).collect()}
    assert len(brute & approx) >= 9          # recall@10 >= 0.9


def test_ann_ivf_kmeans_recall(spark, sf_dir):
    from xmlschema_spark.operators.similarity import ann_topk_ivf, cosine_topk
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(x) for x in
         e.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    brute = {r.vec_id for r in
             cosine_topk(e, "embedding", "vec_id", q, k=10).collect()}
    approx = {r.vec_id for r in
              ann_topk_ivf(e, "embedding", "vec_id", q, k=10,
                           n_centroids=16, nprobe=4).collect()}
    assert len(brute & approx) >= 9          # recall@10 >= 0.9


# ------------------------------------------------- regex breadth + adversarial

def test_xsd_regex_nested_subtraction(spark):
    from xmlschema_spark.functions.xsd_regex import translate_xsd_pattern
    df = spark.createDataFrame([("e",), ("a",), ("z",), ("5",)], "s string")
    pat = translate_xsd_pattern(r"[a-z-[aeiou-[e]]]")
    got = sorted(r.s for r in df.where(F.col("s").rlike(pat)).collect())
    assert got == ["e", "z"]     # a-z minus vowels, but 'e' re-included


def test_xsd_regex_unicode_block(spark):
    from xmlschema_spark.functions.xsd_regex import translate_xsd_pattern
    df = spark.createDataFrame([("abc",), ("café",), ("A1 z",)],
                               "s string")
    pat = translate_xsd_pattern(r"\p{IsBasicLatin}+")
    got = sorted(r.s for r in df.where(F.col("s").rlike(pat)).collect())
    assert got == ["A1 z", "abc"]          # é is Latin-1 Supplement
    neg = translate_xsd_pattern(r"[\p{IsBasicLatin}-[a-z]]+")
    got2 = sorted(r.s for r in df.where(F.col("s").rlike(neg)).collect())
    assert got2 == []                       # every row has a lowercase char


def test_nan_inf_lexicals_through_facets(spark):
    """Adversarial doubles under XSD ordered-facet semantics: NaN is
    UNORDERED and passes every ordered facet (reference facets.py
    raises only when the comparison holds, and every comparison with
    NaN is False — round 4 aligned the engine: Spark's native
    NaN-sorts-greatest would have wrongly flagged max*); Infinity is
    ordered and fails max; -Infinity fails min."""
    df = spark.createDataFrame(
        [("nan", float("nan")), ("posinf", float("inf")),
         ("neginf", float("-inf")), ("ok", 1.0)],
        "k string, v double")
    spec = TableSpec(
        name="t", key_column="k",
        columns=[ColumnSpec("v", "double", min_inclusive=0,
                            max_inclusive=100)])
    bad = sorted((r.row_key, r.constraint) for r in
                 row_violations(df, compile_plan(spec)).collect())
    assert bad == [("neginf", "facet:minInclusive:v"),
                   ("posinf", "facet:maxInclusive:v")]


def test_tz_edge_timestamps_explicit_timezone(spark):
    df = spark.createDataFrame(
        [("a", "2024-01-01T00:00:00Z"),
         ("b", "2024-01-01T00:00:00+14:00"),
         ("c", "2024-01-01T00:00:00-00:00"),
         ("d", "2024-01-01T00:00:00")],
        "k string, ts string")
    spec = TableSpec(
        name="t", key_column="k",
        columns=[ColumnSpec("ts", "string", explicit_timezone="required")])
    bad = [r.row_key for r in
           row_violations(df, compile_plan(spec)).collect()]
    assert bad == ["d"]
    spec2 = TableSpec(
        name="t", key_column="k",
        columns=[ColumnSpec("ts", "string", explicit_timezone="prohibited")])
    bad2 = sorted(r.row_key for r in
                  row_violations(df, compile_plan(spec2)).collect())
    assert bad2 == ["a", "b", "c"]


# ------------------------------------- selectors, staged strict, converters

def test_selector_dsl_identity(spark):
    from xmlschema_spark.operators.identity import unique_violations
    df = spark.createDataFrame(
        [("r1", {"owner": {"id": 7}}), ("r2", {"owner": {"id": 7}}),
         ("r3", {"owner": {"id": 8}})],
        "k string, meta struct<owner: struct<id: int>>")
    v = unique_violations(df, UniqueSpec("oid", ["meta/owner/@id"]), "k")
    got = sorted(r.row_key for r in v.collect())
    assert got == ["r1", "r2"]


def test_selector_rejects_unsupported_axes():
    from xmlschema_spark.functions.selectors import compile_selector
    for bad in ("a//b", "a[1]/b", "a/*", ""):
        with pytest.raises(ValueError):
            compile_selector(bad)


def test_select_paths_prunes_nested_fields(spark, tmp_path):
    from xmlschema_spark.functions.selectors import select_paths
    df = spark.createDataFrame(
        [("r1", {"a": 1, "b": "x"*100})], "k string, m struct<a:int, b:string>")
    p = str(tmp_path / "t")
    df.write.parquet(p)
    out = select_paths(spark.read.parquet(p), {"ma": "m/@a", "k": "k"})
    assert out.collect() == [(1, "r1")] or out.collect()[0].asDict() == {"ma": 1, "k": "r1"}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "m.a" in plan.replace("#", ".").replace("m#", "m.") or "ReadSchema" in plan


def test_strict_mode_staged_failfast(spark):
    from xmlschema_spark.runner import XmlSchemaSparkValidationError, validate
    df = spark.createDataFrame([("a", -1), ("b", 2)], "k string, v int")
    spec = TableSpec(name="t", key_column="k",
                     columns=[ColumnSpec("v", "int", min_inclusive=0)],
                     uniques=[UniqueSpec("k", ["k"])])
    with pytest.raises(XmlSchemaSparkValidationError) as e:
        validate(df, spec, mode="strict")
    assert "facet:minInclusive:v" in str(e.value)
    clean = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    res = validate(clean, spec, mode="strict")
    assert res.violations.count() == 0


def test_decode_converters(spark):
    import json
    from xmlschema_spark.functions.converters import (attr_prefix_converter,
                                                      decode_table,
                                                      nested_converter)
    df = spark.createDataFrame([("d1", "en", 5)],
                               "doc_id string, lang string, n int")
    spec = TableSpec(name="t", key_column="doc_id",
                     columns=[ColumnSpec("lang", "string"),
                              ColumnSpec("n", "int")])
    d0 = json.loads(decode_table(df, spec).collect()[0].doc)
    assert d0 == {"lang": "en", "n": 5}
    d1 = json.loads(decode_table(
        df, spec, attr_prefix_converter(["lang"])).collect()[0].doc)
    assert d1 == {"@lang": "en", "n": 5}
    d2 = json.loads(decode_table(
        df, spec, nested_converter({"meta": ["lang", "n"]})).collect()[0].doc)
    assert d2 == {"meta": {"lang": "en", "n": 5}}
