"""Round-5 tests: numeric-run-id idempotence (partition-type-inference
fix), durable survivor barrier, bucket-spec mismatch detection,
digest-based star fixed point, assert-vocabulary interval/extract
keywords, and identifier-safe JsonML."""

import json

import pytest
from pyspark.sql import functions as F

from components_reference import component_labels
from xmlschema_spark.operators.dedup import (dup_clusters,
                                             incremental_deduplicate)


def _inc(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


# ------------------------------------------ numeric-looking run ids

@pytest.mark.parametrize("rid", ["007", "1e3", "2.5", "12345"])
def test_incremental_dedup_numeric_run_id_idempotent(spark, tmp_path, rid):
    """run_ids Spark's partition-type inference would coerce to
    int/double ('007'->7, '1e3'->1000.0) must still be excluded from
    `seen` on a re-run — the explicit-schema read keeps run a STRING,
    so re-running a failed increment returns the identical survivors
    instead of silently zero."""
    store = str(tmp_path / "fps")
    inc = _inc(spark, [("a", "hello"), ("b", "world")])
    first = sorted(r.doc_id for r in incremental_deduplicate(
        inc, "text", "doc_id", store, run_id=rid).collect())
    assert first == ["a", "b"]
    again = sorted(r.doc_id for r in incremental_deduplicate(
        inc, "text", "doc_id", store, run_id=rid).collect())
    assert again == first
    # cross-increment exclusion still works with the string schema
    s2 = incremental_deduplicate(
        _inc(spark, [("c", "hello")]), "text", "doc_id", store,
        run_id="next")
    assert s2.count() == 0


def test_incremental_dedup_durable_survivor_barrier(spark, tmp_path):
    """The survivor barrier is a run-scoped DURABLE parquet write under
    _survivors/ (executor-loss-safe), invisible to store reads
    (underscore prefix), idempotent under overwrite — and an
    all-duplicate increment (zero survivors) reads back cleanly."""
    store = str(tmp_path / "fps")
    incremental_deduplicate(
        _inc(spark, [("a", "hello"), ("b", "world")]),
        "text", "doc_id", store, run_id="r1")
    surv = tmp_path / "fps" / "_survivors" / "run=r1"
    assert surv.is_dir() and list(surv.glob("*.parquet"))
    # an increment that is ENTIRELY duplicate: empty survivor frame
    # must write + read back without schema-inference failure
    s2 = incremental_deduplicate(
        _inc(spark, [("c", "hello"), ("d", "world")]),
        "text", "doc_id", store, run_id="r2")
    assert s2.count() == 0
    # store reads skip _survivors: a third distinct doc still survives
    s3 = incremental_deduplicate(
        _inc(spark, [("e", "fresh")]), "text", "doc_id", store,
        run_id="r3")
    assert [r.doc_id for r in s3.collect()] == ["e"]


def test_fp_store_bucket_spec_mismatch_raises(spark, tmp_path):
    """CREATE TABLE IF NOT EXISTS silently keeps the original bucket
    spec — a later call with a different store_buckets must fail
    loudly, not silently use the wrong layout."""
    store = str(tmp_path / "bstore")
    incremental_deduplicate(
        _inc(spark, [("a", "x")]), "text", "doc_id", store,
        run_id="r1", store_buckets=4)
    with pytest.raises(ValueError, match="bucket"):
        incremental_deduplicate(
            _inc(spark, [("b", "y")]), "text", "doc_id", store,
            run_id="r2", store_buckets=8)
    # matching spec still fine
    s = incremental_deduplicate(
        _inc(spark, [("b", "y")]), "text", "doc_id", store,
        run_id="r2", store_buckets=4)
    assert [r.doc_id for r in s.collect()] == ["b"]


# ------------------------------------------- star digest fixed point

def test_dup_clusters_star_digest_matches_label_prop(spark):
    """The digest-based fixed point must land on the true components:
    dup_clusters output == a union-find over the same pairs on a graph
    with chains, a clique and singleton self-loop."""
    edges = ([(f"c{i:02d}", f"c{i + 1:02d}") for i in range(12)]
             + [("k1", "k2"), ("k1", "k3"), ("k2", "k3"), ("k3", "k4")]
             + [("solo", "solo")])
    pairs = spark.createDataFrame(edges, "id_a string, id_b string")
    star = sorted((r.member, r.cluster)
                  for r in dup_clusters(pairs).collect())
    assert star == component_labels(edges)
    assert ("solo", "solo") in star


# --------------------------------- assert vocabulary: extract/interval

def test_assert_vocabulary_extract_and_interval():
    from xmlschema_spark.plans.compiler import check_assert_vocabulary
    cols = {"ts", "n"}
    # previously rejected: bare extract-field / INTERVAL-unit idents
    check_assert_vocabulary("extract(year from ts) > 2000", cols, "t")
    check_assert_vocabulary("date_part('DOY', ts) < 300", cols, "t")
    check_assert_vocabulary(
        "ts > current_timestamp - INTERVAL '1' DAY", cols, "t")
    check_assert_vocabulary(
        "cast(ts as date) + INTERVAL '2' HOURS >= ts", cols, "t")
    # unknown columns / functions still rejected
    with pytest.raises(ValueError, match="unknown column"):
        check_assert_vocabulary("extract(year from tz) > 2000", cols, "t")
    with pytest.raises(ValueError, match="not in the"):
        check_assert_vocabulary("explode(n) > 1", cols, "t")


def test_assert_extract_interval_runs_end_to_end(spark):
    """The whitelisted expressions must also pass Catalyst analysis
    through a real AssertSpec."""
    from xmlschema_spark.operators.row_checks import row_violations
    from xmlschema_spark.plans.compiler import compile_plan
    from xmlschema_spark.specs import (AssertSpec, ColumnSpec, TableSpec)
    df = spark.createDataFrame(
        [("1", "2024-06-01 10:00:00"), ("2", "1999-01-01 00:00:00")],
        "rid string, ts_raw string").select(
        "rid", F.col("ts_raw").cast("timestamp").alias("ts"))
    spec = TableSpec(
        name="t", key_column="rid",
        columns=[ColumnSpec("ts", "timestamp")],
        asserts=[AssertSpec(name="year_2k",
                            expr="extract(year from ts) >= 2000")])
    out = row_violations(df, compile_plan(spec))
    rows = out.collect()
    assert [r.row_key for r in rows] == ["2"]


# -------------------------------------------- identifier-safe JsonML

def test_jsonml_weird_identifiers(spark):
    """Column/spec names with spaces, hyphens, quotes and backslashes
    must produce valid JSON and parse back to the JsonML shape."""
    from xmlschema_spark.functions.converters import (decode_table,
                                                      jsonml_converter)
    from xmlschema_spark.specs import ColumnSpec, TableSpec
    df = (spark.createDataFrame([("1", "v", 7)],
                                "rid string, a string, b int")
          .withColumnRenamed("a", 'we"ird col')
          .withColumnRenamed("b", "hy-phen"))
    spec = TableSpec(name='ta"ble\\', key_column="rid",
                     columns=[ColumnSpec('we"ird col'),
                              ColumnSpec("hy-phen", "int")])
    out = decode_table(df, spec, jsonml_converter([])).collect()[0]
    doc = json.loads(out.doc)
    assert doc == ['ta"ble\\', ['we"ird col', "v"], ["hy-phen", 7]]
