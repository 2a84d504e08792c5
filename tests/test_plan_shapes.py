"""Physical-plan shape assertions: the plans we WANT at 100TB, not just
plans that pass. Checked via the executed/optimized plan text."""

import re

from pyspark.sql import functions as F

from xmlschema_spark import compile_plan
from xmlschema_spark.operators.identity import keyref_violations
from xmlschema_spark.operators.row_checks import row_violations
from xmlschema_spark.queries import LINEITEM_SPEC
from xmlschema_spark.specs import KeyrefSpec


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_row_checks_prune_to_spec_columns(spark, sf_dir):
    """The facet scan must read ONLY the columns the spec mentions —
    column pruning reaching the parquet ReadSchema."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = _plan(row_violations(li, compile_plan(LINEITEM_SPEC)))
    # (ReadSchema text is truncated with '...' in long plans — parse the
    # FileScan output column list instead)
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", p)
    assert scans
    read_cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
    expected = {"l_orderkey", "l_quantity", "l_discount", "l_extendedprice",
                "l_returnflag", "l_linestatus", "l_shipdate"}
    assert read_cols == expected, read_cols


def test_row_checks_single_exchange_free_stage(spark, sf_dir):
    """Row-local validation must be shuffle-free: scan -> project ->
    filter -> generate. Any Exchange in this plan is a bug."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = _plan(row_violations(li, compile_plan(LINEITEM_SPEC)))
    assert "Exchange" not in p, p


def test_keyref_broadcasts_small_ref_when_asked(spark, sf_dir):
    """Explicit dimension-table fast path: broadcast_ref=True forces a
    broadcast hash join on the anti-join against the key set."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    v = keyref_violations(li, part,
                          KeyrefSpec("fk", ["l_partkey"], "part", ["p_partkey"]),
                          "l_orderkey", broadcast_ref=True)
    assert "BroadcastHashJoin" in _plan(v)


def test_keyref_default_does_not_force_broadcast(spark, sf_dir):
    """Default (None) must leave the strategy to Catalyst/AQE: with the
    autoBroadcast threshold off (simulating a ref side too big to
    broadcast), the anti-join must compile to SortMergeJoin — a forced
    broadcast of a 10^9-distinct-key referenced table would OOM
    executors at scale."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        v = keyref_violations(
            li, part,
            KeyrefSpec("fk", ["l_partkey"], "part", ["p_partkey"]),
            "l_orderkey")
        p = _plan(v)
        assert re.search(r"SortMergeJoin.*LeftAnti", p), p
        assert "BroadcastHashJoin" not in p, p
    finally:
        for key, val in (("spark.sql.autoBroadcastJoinThreshold", old),
                         ("spark.sql.adaptive.autoBroadcastJoinThreshold",
                          aqe)):
            if val is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, val)


def test_row_checks_whole_stage_codegen(spark, sf_dir):
    """The violation projection must run inside WholeStageCodegen."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = _plan(row_violations(li, compile_plan(LINEITEM_SPEC)))
    # '*(n)' operator prefix marks WholeStageCodegen in the compact form
    assert "*(" in p, p


def test_topk_uses_take_ordered(spark, sf_dir):
    """cosine top-k must compile to TakeOrderedAndProject (per-partition
    top-k + merge), never a global Sort of every row."""
    from xmlschema_spark.operators.similarity import cosine_topk
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(x) for x in e.select("embedding").first()[0]]
    p = _plan(cosine_topk(e, "embedding", "vec_id", q, k=5))
    assert "TakeOrderedAndProject" in p


def test_temporal_facet_queries_shuffle_free_and_pruned(spark, sf_dir):
    """Temporal ordered facets are row-local: the whole query must stay
    in one codegen stage with NO Exchange, and the parquet scan must
    prune to the single id column the derived value needs."""
    from xmlschema_spark.queries import QUERIES
    for q, id_col in (("duration_facet_documents", "doc_id"),
                      ("gyear_facet_events", "event_id")):
        p = _plan(QUERIES[q](spark, sf_dir))
        assert "Exchange" not in p, (q, p)
        assert "*(" in p, (q, p)
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", p)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert cols == {id_col}, (q, cols)


def test_qdigest_single_exchange_with_partial_agg(spark, sf_dir):
    """The q-digest plan at 10^12 rows: map-side partial aggregation of
    leaf counts (HashAggregate appears on BOTH sides of the single
    Exchange), then the bounded compress stage — no second data
    shuffle of raw rows."""
    from pyspark.sql import functions as F

    from xmlschema_spark.operators.sketch import qdigest
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    leaf = F.expr("least(4095, greatest(0, "
                  "cast(round(l_extendedprice * 100) as bigint) div 4096))")
    plan = qdigest(df.where(F.col("l_extendedprice").isNotNull()),
                   leaf, 12, 64) \
        ._jdf.queryExecution().executedPlan().toString()
    # partial+final combine around exactly one hash Exchange of counts;
    # the _g constant-group exchange moves <= 2^levels count rows
    assert plan.count("HashAggregate") >= 2
    assert "FlatMapGroupsInPandas" in plan or "ArrowEvalPython" in plan
    exchanges = plan.count("Exchange")
    assert exchanges <= 2, plan[:2000]


def test_nested_record_prunes_struct_branches(spark, tmp_path):
    """Nested-record facets read ONLY the referenced struct branch: the
    parquet ReadSchema must contain owner.quota and neither owner.name
    nor owner.blob — at 100 TB the unreferenced record fields are never
    decoded (ColumnSpec.parent / dotted-name compilation)."""
    from xmlschema_spark.specs import ColumnSpec, TableSpec
    d = str(tmp_path / "t")
    spark.createDataFrame(
        [("r1", ("a", "1", "zzz"))],
        "rid string, owner struct<name string, quota string, blob string>"
    ).write.mode("overwrite").parquet(d)
    spec = TableSpec(name="t", key_column="rid",
                     columns=[ColumnSpec("owner.quota", "int",
                                         min_inclusive=0,
                                         parent="owner")])
    p = _plan(row_violations(spark.read.parquet(d), compile_plan(spec)))
    m = re.search(r"ReadSchema: ([^\s,]+(?:,[^\s]+)*)", p)
    assert m and "quota" in m.group(0), p[:1500]
    assert "name" not in m.group(0) and "blob" not in m.group(0), \
        m.group(0)
    assert "Exchange" not in p, p[:1500]


def test_record_array_explode_shuffle_free(spark, tmp_path):
    """Record-array element validation = scan -> Generate(explode) ->
    codegen checks: ZERO Exchange at any scale (explode is narrow)."""
    from xmlschema_spark.runner import _record_array_parts
    from xmlschema_spark.specs import (ColumnSpec, RecordArraySpec,
                                       TableSpec)
    d = str(tmp_path / "t2")
    spark.createDataFrame(
        [("r1", [("x", "1")])],
        "rid string, items array<struct<tag string, k string>>"
    ).write.mode("overwrite").parquet(d)
    spec = TableSpec(
        name="t", key_column="rid", columns=[],
        record_arrays=[RecordArraySpec(
            name="items", min_occurs=1,
            fields=[ColumnSpec("items.k", "int", min_inclusive=0,
                               parent="items")])])
    plan = compile_plan(spec)
    parts = _record_array_parts(spark.read.parquet(d), plan, spec)
    assert len(parts) == 1
    p = _plan(parts[0])
    assert "Exchange" not in p, p[:1500]
    assert "Generate explode" in p, p[:1500]


def test_drift_multi_column_two_scans(spark, sf_dir):
    """Multi-column drift must cost TWO data scans regardless of how
    many columns are profiled (round 7): all k*n_bins histogram
    counters fold into one aggregation per side; KL assembly joins two
    1-row frames. A per-column histogram loop would show 2k scans —
    the difference between 2 and 2k full passes at 10^12 rows."""
    from xmlschema_spark.operators.drift import drift_report
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cur = li.where(F.col("l_orderkey") % 2 == 0)
    ref = li.where(F.col("l_orderkey") % 2 == 1)
    bounds = {"l_quantity": (1.0, 50.0), "l_discount": (0.0, 0.1),
              "l_extendedprice": (900.0, 110000.0)}
    rep = drift_report(cur, ref,
                       ["l_discount", "l_extendedprice", "l_quantity"],
                       n_bins=32, bounds=bounds)
    p = _plan(rep)
    assert len(re.findall(r"FileScan parquet", p)) == 2, p
    # and the scans prune to the three profiled columns (+ split key)
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", p)
    read_cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
    assert read_cols == {"l_orderkey", "l_quantity", "l_discount",
                         "l_extendedprice"}, read_cols


def test_flagship_plan_one_identity_aggregate(spark, tmp_path):
    """The flagship's violation union over a parquet table plans four
    scans — the row pass (with the xs:key missing-field check), the
    identity aggregate, its join-back and the payload stage — one hash
    Exchange (the identity aggregate, both uniques in it) and at most one
    join; only the payload scan reads `bytes`."""
    from xmlschema_spark.runner import violations_frame
    from xmlschema_spark.sources.fixtures import images_spec, make_images
    path = str(tmp_path / "images")
    make_images(spark, 400, dirty=True).write.parquet(path)
    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold")
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        # Spark's default thresholds: the small dup-tuple set broadcasts
        for k in keys:
            spark.conf.unset(k)
        p = _plan(violations_frame(
            spark.read.parquet(path),
            compile_plan(images_spec(check_phash=True))))
    finally:
        for k, val in saved.items():
            if val is not None:
                spark.conf.set(k, val)
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", p)
    assert len(scans) == 4, p
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1, p
    assert len(re.findall(r"\w+Join ", p)) <= 1, p
    reads = [{c.split("#")[0] for c in s.split(",")} for s in scans]
    assert sum("bytes" in r for r in reads) == 1, reads


def test_lsh_cosine_near_dups_one_bucket_exchange_no_join(spark, sf_dir):
    """The LSH cosine near-dup plan: no join, one FlatMapGroupsInPandas,
    and the cap window and the group share one hash Exchange on the
    bucket; the only other Exchange is the final distinct's. Read off
    the final AQE plan (the executed-plan string of a run query also
    holds the initial plan)."""
    from xmlschema_spark.operators.similarity import cosine_near_dup_pairs
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = cosine_near_dup_pairs(e, "embedding", "vec_id", threshold=0.3,
                               n_planes=4, dims=64)
    df.collect()
    p = _plan(df)
    assert "isFinalPlan=true" in p, p[:2000]
    final = p.split("== Initial Plan ==")[0]
    assert "Join" not in final, final
    assert final.count("FlatMapGroupsInPandas") == 1, final
    assert final.count("Exchange") == 2, final
    lines = final.splitlines()

    def at(pattern):
        return next(i for i, s in enumerate(lines) if re.search(pattern, s))

    distinct = at(r"Exchange hashpartitioning\(id_a#")
    group = at(r"FlatMapGroupsInPandas \[b#")
    window = at(r"Window \[row_number\(\)")
    bucket = at(r"Exchange hashpartitioning\(b#\d+L, \d+\)")
    assert distinct < group < window < bucket, final
