"""F4 skew fixture (unique-aggregate correctness under a hot key) and
F5 drift fixture (KL detects the shifted column, not the stable one)."""

import pytest
from pyspark.sql import functions as F

from xmlschema_spark.operators.drift import drift_report
from xmlschema_spark.operators.identity import unique_violations
from xmlschema_spark.operators.sketch import qdigest, qdigest_quantiles
from xmlschema_spark.sources.fixtures import make_images
from xmlschema_spark.specs import UniqueSpec


def test_unique_correct_under_skew(spark):
    """30% of rows share one phash (F4). The unique aggregate must
    produce the same violation set as a straight groupBy."""
    df = make_images(spark, 5000, dirty=False, skew_phash=True,
                     with_bytes=False).cache()
    hot = df.groupBy("phash").count().where(F.col("count") > 1).collect()
    hot_sizes = {r.phash: r["count"] for r in hot}
    out = unique_violations(df, UniqueSpec("phash", ["phash"]),
                            "image_id").collect()
    # every row in a hot group flagged, carrying the exact group size
    assert len(out) == sum(hot_sizes.values())
    for r in out:
        assert r.occurs == hot_sizes[int(r.value)]
    df.unpersist()


def test_skewed_vs_unskewed_same_plan_shape(spark):
    """Uniform keys: the unique aggregate flags exactly the rows whose
    phash a straight groupBy counts more than once, with that count."""
    df = make_images(spark, 2000, dirty=True, with_bytes=False)
    a = unique_violations(df, UniqueSpec("phash", ["phash"]), "image_id")
    n = df.groupBy("phash").agg(F.count(F.lit(1)).alias("occurs"))
    b = (df.where(F.col("phash").isNotNull()).join(n, "phash")
         .where(F.col("occurs") > 1)
         .select(F.col("image_id").cast("string").alias("row_key"),
                 "occurs"))
    assert sorted((r.row_key, r.occurs) for r in a.collect()) == \
           sorted((r.row_key, r.occurs) for r in b.collect())


def test_drift_report_detects_shift(spark):
    """F5: second batch with w shifted +200 and fmt mix changed -> KL
    above threshold on w; h unchanged -> below threshold."""
    ref = make_images(spark, 8000, with_bytes=False)
    cur = (make_images(spark, 8000, with_bytes=False)
           .withColumn("w", F.col("w") + F.lit(200)))
    rep = {r.col: (r.kl, r.drifted) for r in
           drift_report(cur, ref, ["w", "h"], n_bins=16,
                        kl_threshold=0.05).collect()}
    assert rep["w"][1] is True
    assert rep["h"][1] is False
    assert rep["w"][0] > rep["h"][0]


def test_quantile_sketch_shape(spark):
    """The q-digest over w and h (integer pixels are their own leaves)
    reads one leaf_hi per quantile; the median of w stays in the
    fixture's width range."""
    df = make_images(spark, 3000, with_bytes=False)
    out = {(c, r.quantile): r.leaf_hi for c in ("w", "h")
           for r in qdigest_quantiles(qdigest(df, F.col(c), 12),
                                      [0.5, 0.9], 12).collect()}
    assert len(out) == 4
    assert 16 <= out[("w", 0.5)] <= 16 + 65
