"""queries._fan_out's contract: a scan that can give every core a split
passes through with no Exchange, a split-starved scan is repartitioned
to defaultParallelism, and a failing size probe falls back to the split
count with one logged warning per process."""

import logging

import pytest

from xmlschema_spark import queries

MPB = "spark.sql.files.maxPartitionBytes"


@pytest.fixture
def scan(spark, tmp_path):
    """A one-file parquet scan: one split, so it is starved whenever the
    size estimate is under cores x maxPartitionBytes."""
    p = str(tmp_path / "t.parquet")
    spark.range(0, 2000).selectExpr("id", "cast(id as string) s") \
        .coalesce(1).write.parquet(p)
    return spark.read.parquet(p)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture
def max_partition_bytes(spark):
    old = spark.conf.get(MPB)
    yield lambda v: spark.conf.set(MPB, v)
    spark.conf.set(MPB, old)


def test_no_exchange_when_size_covers_every_core(spark, scan,
                                                 max_partition_bytes):
    target = spark.sparkContext.defaultParallelism
    size = queries._size_in_bytes(scan)
    assert size > target
    # size stats exactly at cores x maxPartitionBytes: not starved
    max_partition_bytes(f"{size // target}b")
    out = queries._fan_out(scan)
    assert out is scan
    assert "Exchange" not in _plan(out)


def test_starved_scan_is_repartitioned_to_default_parallelism(spark, scan):
    target = spark.sparkContext.defaultParallelism
    assert queries._size_in_bytes(scan) < target * queries._parse_bytes(
        spark.conf.get(MPB))
    out = queries._fan_out(scan)
    assert f"RoundRobinPartitioning({target})" in _plan(out)
    assert out.rdd.getNumPartitions() == target
    assert sorted(out.collect()) == sorted(scan.collect())


def test_failing_size_probe_falls_back_with_one_warning(spark, scan,
                                                        monkeypatch, caplog):
    def broken(df):
        raise RuntimeError("stats unavailable")

    monkeypatch.setattr(queries, "_size_in_bytes", broken)
    monkeypatch.setattr(queries, "_fan_out_fallback_logged", False)
    target = spark.sparkContext.defaultParallelism
    assert scan.rdd.getNumPartitions() < target
    with caplog.at_level(logging.WARNING, logger=queries.__name__):
        first = queries._fan_out(scan)
        second = queries._fan_out(scan)
    for out in (first, second):
        assert f"RoundRobinPartitioning({target})" in _plan(out)
    warned = [r for r in caplog.records if r.name == queries.__name__]
    assert len(warned) == 1
    assert "stats unavailable" in warned[0].getMessage()
    assert "getNumPartitions" in warned[0].getMessage()
