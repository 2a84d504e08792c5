"""validate()'s contracts around the run: a recursion cut that cannot be
checked raises, and a ValidationResult releases its persisted union
when used as a context manager."""

import pytest
from pyspark import StorageLevel

from xmlschema_spark import ColumnSpec, TableSpec, is_valid, validate
from xmlschema_spark.specs import RecordArraySpec

TREE = ("rid string, kids array<struct<v string, "
        "kids array<struct<v string>>>>")


def _tree(spark):
    return spark.createDataFrame(
        [("r1", [("1", [])]), ("r2", [("1", [("2",)])])], TREE)


def test_cut_across_an_uncovered_array_raises(spark):
    spec = TableSpec(name="t", key_column="rid",
                     recursion_cuts=["kids.kids"])
    with pytest.raises(ValueError, match="crosses the array 'kids'"):
        validate(_tree(spark), spec)
    with pytest.raises(ValueError, match="crosses the array 'kids'"):
        is_valid(_tree(spark), spec)


def test_cut_across_a_record_array_belongs_to_its_sub_spec(spark):
    """A top-level cut under a declared record array is the sub-spec's
    to check: the top level neither raises nor checks it, and the same
    cut placed in the record array's recursion_cuts is reported."""
    ras = RecordArraySpec(name="kids",
                          fields=[ColumnSpec("kids.v", "string",
                                             parent="kids")])
    top = TableSpec(name="t", key_column="rid", record_arrays=[ras],
                    recursion_cuts=["kids.kids"])
    assert validate(_tree(spark), top).violations.count() == 0
    ras.recursion_cuts = ["kids.kids"]
    owned = TableSpec(name="t", key_column="rid", record_arrays=[ras])
    got = [(r.row_key, r.constraint)
           for r in validate(_tree(spark), owned).violations.collect()]
    assert got == [("r2", "recursion:depth:kids.kids")]


def test_result_context_manager_unpersists(spark):
    df = spark.createDataFrame([("a", "1"), ("b", "-1")], "k string, v string")
    spec = TableSpec(name="t", key_column="k", columns=[
        ColumnSpec("v", "int", min_inclusive=0)])
    with validate(df, spec) as res:
        cached = res._cached
        assert res.violations.count() == 1
        assert cached.storageLevel != StorageLevel.NONE
    assert res._cached is None
    assert cached.storageLevel == StorageLevel.NONE
