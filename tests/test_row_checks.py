"""Unit tests per compiled facet -> Column (reference test style:
tests/validators/test_facets.py — tiny schema, assert valid/invalid)."""

import pytest
from pyspark.sql import functions as F

from xmlschema_spark import ColumnSpec, TableSpec, compile_plan, validate
from xmlschema_spark.operators.row_checks import row_violations


def run_one(spark, cs: ColumnSpec, rows, extra_cols="v string"):
    spec = TableSpec(name="t", key_column="k", columns=[cs])
    plan = compile_plan(spec)
    df = spark.createDataFrame(rows, f"k string, {extra_cols}")
    v = row_violations(df, plan).collect()
    return {(r.row_key, r.constraint) for r in v}


def test_min_max_inclusive(spark):
    got = run_one(spark, ColumnSpec("v", "int", min_inclusive=1, max_inclusive=10),
                  [("a", "0"), ("b", "1"), ("c", "10"), ("d", "11"), ("e", None)])
    assert got == {("a", "facet:minInclusive:v"), ("d", "facet:maxInclusive:v")}


def test_exclusive_bounds(spark):
    got = run_one(spark, ColumnSpec("v", "int", min_exclusive=0, max_exclusive=5),
                  [("a", "0"), ("b", "1"), ("c", "5")])
    assert got == {("a", "facet:minExclusive:v"), ("c", "facet:maxExclusive:v")}


def test_enumeration(spark):
    got = run_one(spark, ColumnSpec("v", "string", enum=["jpeg", "png"]),
                  [("a", "jpeg"), ("b", "tiff"), ("c", None)])
    assert got == {("b", "facet:enumeration:v")}


def test_pattern_anchored_any_of(spark):
    # XSD patterns are implicitly anchored (facets.py:723-833)
    got = run_one(spark, ColumnSpec("v", "string", pattern=[r"img-[0-9]{3}", r"x+"]),
                  [("a", "img-123"), ("b", "ximg-123"), ("c", "xx"), ("d", "img-12")])
    assert got == {("b", "facet:pattern:v"), ("d", "facet:pattern:v")}


def test_length_facets(spark):
    got = run_one(spark, ColumnSpec("v", "string", min_length=2, max_length=4),
                  [("a", "x"), ("b", "xy"), ("c", "xyzzy"), ("d", "")])
    assert got == {("a", "facet:minLength:v"), ("c", "facet:maxLength:v"),
                   ("d", "facet:minLength:v")}


def test_required_vs_nullable(spark):
    got = run_one(spark, ColumnSpec("v", "string", nullable=False),
                  [("a", None), ("b", "ok")])
    assert got == {("a", "required:v")}


def test_decode_try_cast(spark):
    got = run_one(spark, ColumnSpec("v", "int"),
                  [("a", "12"), ("b", "12.5x"), ("c", None)])
    assert got == {("b", "facet:decode:v")}


def test_whitespace_collapse_before_facets(spark):
    # collapse happens BEFORE length check (simple_types.py:447-463)
    got = run_one(spark, ColumnSpec("v", "string", whitespace="collapse",
                                    max_length=5),
                  [("a", "  a   b  "), ("b", "a      bcdef")])
    assert got == {("b", "facet:maxLength:v")}


def test_fixed_value(spark):
    got = run_one(spark, ColumnSpec("v", "string", fixed="yes"),
                  [("a", "yes"), ("b", "no")])
    assert got == {("b", "facet:fixed:v")}


def test_total_fraction_digits(spark):
    got = run_one(spark, ColumnSpec("v", "decimal(10,4)", total_digits=5,
                                    fraction_digits=2),
                  [("a", "123.45"), ("b", "1234.5"), ("c", "12.345"),
                   ("d", "123456")])
    assert ("a", "facet:totalDigits:v") not in got
    assert ("d", "facet:totalDigits:v") in got
    assert ("c", "facet:fractionDigits:v") in got


def test_union_first_match(spark):
    got = run_one(spark, ColumnSpec("v", union_of=["int", "boolean"]),
                  [("a", "5"), ("b", "true"), ("c", "pear")])
    assert got == {("c", "facet:union:v")}


def test_simple_type_assertion(spark):
    got = run_one(spark, ColumnSpec("v", "int", assertion="value % 2 = 0"),
                  [("a", "4"), ("b", "5")])
    assert got == {("b", "facet:assertion:v")}


def test_list_item_facets(spark):
    spec = TableSpec(name="t", key_column="k", columns=[
        ColumnSpec("v", "array<int>", min_length=1,
                   item=ColumnSpec("x", "int", min_inclusive=0, max_inclusive=9)),
    ])
    plan = compile_plan(spec)
    df = spark.createDataFrame(
        [("a", [1, 2]), ("b", [1, 42]), ("c", []), ("d", [-1])],
        "k string, v array<int>")
    got = {(r.row_key, r.constraint) for r in
           __import__("xmlschema_spark").operators.row_checks.row_violations(df, plan).collect()}
    assert got == {("b", "facet:item:maxInclusive:v"),
                   ("c", "facet:minLength:v"),
                   ("d", "facet:item:minInclusive:v")}


def test_cross_column_assert(spark):
    from xmlschema_spark import AssertSpec
    spec = TableSpec(name="t", key_column="k",
                     columns=[ColumnSpec("w", "int"), ColumnSpec("h", "int")],
                     asserts=[AssertSpec("area", "w * h <= 100")])
    plan = compile_plan(spec)
    df = spark.createDataFrame([("a", 5, 5), ("b", 20, 20)],
                               "k string, w int, h int")
    got = {(r.row_key, r.constraint) for r in row_violations(df, plan).collect()}
    assert got == {("b", "assert:area")}


def test_strict_mode_raises(spark):
    from xmlschema_spark import XmlSchemaSparkValidationError
    spec = TableSpec(name="t", key_column="k",
                     columns=[ColumnSpec("v", "int", min_inclusive=0)])
    df = spark.createDataFrame([("a", "-1")], "k string, v string")
    with pytest.raises(XmlSchemaSparkValidationError):
        validate(df, spec, mode="strict")


def test_skip_mode_no_checks(spark):
    spec = TableSpec(name="t", key_column="k",
                     columns=[ColumnSpec("v", "int", min_inclusive=0)])
    df = spark.createDataFrame([("a", "-1")], "k string, v string")
    res = validate(df, spec, mode="skip")
    assert res.violations.count() == 0
    assert res.verdicts.collect()[0]["pass"] is True


def test_single_scan_plan(spark):
    """All row checks must evaluate in ONE scan (no self-union of scans)."""
    spec = TableSpec(name="t", key_column="k", columns=[
        ColumnSpec("v", "int", min_inclusive=0, max_inclusive=9,
                   nullable=False),
        ColumnSpec("s", "string", pattern=["a+"], min_length=1),
    ])
    plan = compile_plan(spec)
    df = spark.range(10).select(
        F.col("id").cast("string").alias("k"),
        F.col("id").cast("string").alias("v"),
        F.lit("aa").alias("s"))
    explained = row_violations(df, plan)._jdf.queryExecution().simpleString()
    assert explained.count("Range") == 1


def test_explicit_timezone(spark):
    got = run_one(spark, ColumnSpec("v", "string", explicit_timezone="required"),
                  [("a", "2024-01-01T00:00:00Z"),
                   ("b", "2024-01-01T00:00:00+02:00"),
                   ("c", "2024-01-01T00:00:00")])
    assert got == {("c", "facet:explicitTimezone:v")}
    got = run_one(spark, ColumnSpec("v", "string", explicit_timezone="prohibited"),
                  [("a", "2024-01-01T00:00:00Z"), ("c", "2024-01-01T00:00:00")])
    assert got == {("a", "facet:explicitTimezone:v")}


def test_xsd_temporal_dtypes(spark):
    got = run_one(spark, ColumnSpec("v", "xsd:duration"),
                  [("a", "P1Y2M3DT4H"), ("b", "PT"), ("c", "P30D")])
    assert got == {("b", "facet:pattern:v")}
    got = run_one(spark, ColumnSpec("v", "xsd:gYear"),
                  [("a", "2024"), ("b", "24")])
    assert got == {("b", "facet:pattern:v")}


# An item or a union member compiles through the same facet compiler as
# a column, so each facet gives it the verdict it gives a scalar value.
# (case, item or member spec, value, kinds the scalar column reports)
_NESTED_CASES = [
    ("item-length", "item", ColumnSpec("v", "string", length=3), "ab",
     {"length"}),
    ("item-totalDigits-decimal", "item",
     ColumnSpec("v", "decimal(10,2)", total_digits=2), "123.5",
     {"totalDigits"}),
    ("item-totalDigits-xsd-decimal", "item",
     ColumnSpec("v", "xsd:decimal", total_digits=2), "123.5",
     {"totalDigits"}),
    ("item-collapse-pattern", "item",
     ColumnSpec("v", "string", whitespace="collapse", pattern=["[a-z]+"]),
     " ab ", set()),
    ("item-union-of", "item", ColumnSpec("v", union_of=["int", "date"]),
     "zz", {"union"}),
    ("item-fixed", "item", ColumnSpec("v", "string", fixed="a"), "b",
     {"fixed"}),
    ("member-length", "member", ColumnSpec("v", "string", length=3), "ab",
     {"length"}),
    ("member-totalDigits", "member",
     ColumnSpec("v", "int", total_digits=1), "12", {"totalDigits"}),
    ("member-xsd-decimal-valid", "member", ColumnSpec("v", "xsd:decimal"),
     "1.5", set()),
    ("member-xsd-decimal-invalid", "member", ColumnSpec("v", "xsd:decimal"),
     "1e2", {"pattern"}),
    ("member-xsd-boolean-valid", "member", ColumnSpec("v", "xsd:boolean"),
     "1", set()),
    ("member-xsd-boolean-invalid", "member", ColumnSpec("v", "xsd:boolean"),
     "yes", {"decode", "pattern"}),
]


@pytest.mark.parametrize("where,nested,value,scalar_kinds", [
    c[1:] for c in _NESTED_CASES], ids=[c[0] for c in _NESTED_CASES])
def test_item_and_member_facets_match_scalar(spark, where, nested, value,
                                             scalar_kinds):
    scalar = run_one(spark, nested, [("a", value)])
    assert {c.split(":")[1] for _, c in scalar} == scalar_kinds
    if where == "item":
        got = run_one(spark, ColumnSpec("v", "array<string>", item=nested),
                      [("a", [value])], "v array<string>")
        assert got == {("a", f"facet:item:{k}:v") for k in scalar_kinds}
    else:
        got = run_one(spark, ColumnSpec("v", union_members=[nested]),
                      [("a", value)])
        assert got == ({("a", "facet:union:v")} if scalar_kinds else set())


@pytest.mark.parametrize("where", ["item", "lexical_list", "member"])
def test_assertion_on_item_or_member_raises_at_compile(spark, where):
    nested = ColumnSpec("v", "int", assertion="value > 0")
    cs = (ColumnSpec("v", "array<int>", item=nested) if where == "item"
          else ColumnSpec("v", lexical_list=True, item=nested)
          if where == "lexical_list"
          else ColumnSpec("v", union_members=[nested]))
    with pytest.raises(ValueError, match="assertion cannot apply"):
        compile_plan(TableSpec(name="t", key_column="k", columns=[cs]))
