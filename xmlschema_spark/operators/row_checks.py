"""Row-local validation: the whole per-row constraint suite in ONE select.

The reference walks each element once applying all bound facet validators
(XsdElement.raw_decode, xmlschema/validators/elements.py:597-866). The
Spark-native equivalent: a single projection that evaluates every compiled
predicate vectorized in one whole-stage-codegen pass, emits a per-row
array of violation structs, and explodes only the failures — validation-
only mode, no decoded output materialized (reference: validation_only at
validators/validation.py:176; "~15% speed" CHANGELOG.rst:462).

Violation row schema (FIXTURES.md; modeled on XMLSchemaValidationError,
validators/exceptions.py:288-330):
    (row_key string, part_key bigint, constraint string, reason string,
     value string, occurs bigint)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.compiler import RowCheck, ValidationPlan

VIOLATION_COLUMNS = ["row_key", "part_key", "constraint", "reason", "value", "occurs"]

_MAX_VALUE_REPR = 200  # truncate offending value like exceptions.py:323-330


def _key_col(plan: ValidationPlan) -> Column:
    return F.col(plan.spec.key_column).cast("string").alias("row_key")


def _part_col(plan: ValidationPlan) -> Column:
    # data-derived partition key (NEVER a Spark task/partition id — output
    # must be bitwise-identical across cluster sizes)
    if plan.spec.part_key:
        return F.col(plan.spec.part_key).cast("bigint").alias("part_key")
    return F.lit(0).cast("bigint").alias("part_key")


def with_item_folds(df: DataFrame, plan: ValidationPlan) -> DataFrame:
    """df plus the plan's list item folds, which its checks read by
    name; df itself when the plan has none."""
    return df.select("*", *plan.item_folds.values()) if plan.item_folds \
        else df


def row_projections(plan: ValidationPlan, keys: list[RowCheck] = ()
                    ) -> tuple[tuple | None, tuple | None]:
    """(row_violations' two select lists, validate()'s row pass). They
    depend only on the plan, so compile_plan builds them once and keeps
    them on the (cached) plan: each Column call is several py4j round
    trips, and a repeated run of one spec would otherwise rebuild every
    per-check struct. validate()'s row pass adds `keys`, the unscoped
    xs:keys' missing-field checks (identity.key_missing), whose value
    stays the raw field tuple. None where there is nothing to check."""
    def failing(chk: RowCheck, value: Column) -> Column:
        return F.when(
            ~F.coalesce(chk.valid, F.lit(False)),
            F.struct(
                F.lit(chk.constraint).alias("constraint"),
                F.lit(chk.reason).alias("reason"),
                value.alias("value"),
            ),
        )

    checks = [failing(chk, F.substring(F.coalesce(chk.value_col, F.lit("")),
                                       1, _MAX_VALUE_REPR))
              for chk in plan.row_checks]
    key_col, part_col = _key_col(plan), _part_col(plan)
    flat = [
        F.col("row_key"),
        F.col("part_key"),
        F.col("v.constraint").alias("constraint"),
        F.col("v.reason").alias("reason"),
        F.col("v.value").alias("value"),
        F.lit(1).cast("bigint").alias("occurs"),
    ]

    def projection(structs: list[Column]):
        if not structs:
            return None
        # explode directly — NO size()>0 pre-filter: Generate(explode,
        # outer=false) already emits nothing for an empty array, and a
        # filter between the projection and the explode makes the filter
        # pushdown inline the alias into its condition, evaluating the
        # whole check array TWICE per row (guide §4.4's duplication
        # pattern, JVM-side). One evaluation, same rows out.
        arr = F.array_compact(F.array(*structs))
        return [key_col, part_col, F.explode(arr).alias("v")], flat

    rows = projection(checks)
    return rows, (projection(checks + [failing(chk, chk.value_col)
                                       for chk in keys])
                  if keys else rows)


def row_violations(df: DataFrame, plan: ValidationPlan,
                   keys: bool = False) -> DataFrame:
    """All row-local violations: one scan, one codegen stage, then an
    explode that keeps only failing (row, constraint) pairs. The
    projection is the plan's prebuilt row_projection; keys=True adds the
    unscoped xs:keys' missing-field checks (validate()'s row pass)."""
    projection = plan.validate_projection if keys else plan.row_projection
    if projection is None:
        # identity/assert-only spec: an empty F.array() is array<void>
        # and cannot be exploded into the violation struct
        return df.sparkSession.createDataFrame(
            [], "row_key string, part_key bigint, constraint string, "
                "reason string, value string, occurs bigint")
    exploded, flat = projection
    return with_item_folds(df, plan).select(*exploded).select(*flat)


def row_valid_mask(df: DataFrame, plan: ValidationPlan) -> DataFrame:
    """df + boolean `_row_valid` column — the validated-projection path
    (decode mode): downstream consumers filter on it instead of exploding
    violations."""
    ok = F.lit(True)
    for chk in plan.row_checks:
        ok = ok & F.coalesce(chk.valid, F.lit(False))
    return (with_item_folds(df, plan).withColumn("_row_valid", ok)
            .drop(*plan.item_folds))


def violation_summary(df: DataFrame, plan: ValidationPlan) -> DataFrame:
    """(constraint, n) counts WITHOUT materializing violation rows: one
    aggregate of sum(when(!valid, 1)) per check — a single scan, a single
    reduce of len(checks) longs, no explode, no row shuffle. The summary
    path for dashboards/gates at 10^12 rows; zero-count constraints
    included (stable shape)."""
    aggs = [
        F.sum(F.when(~F.coalesce(chk.valid, F.lit(False)), 1).otherwise(0))
        .cast("bigint").alias(str(i))
        for i, chk in enumerate(plan.row_checks)
    ]
    row = with_item_folds(df, plan).agg(*aggs)
    pairs = F.array(*[
        F.struct(F.lit(chk.constraint).alias("constraint"),
                 F.col(str(i)).alias("n"))
        for i, chk in enumerate(plan.row_checks)])
    return (row.select(F.explode(pairs).alias("p"))
            .select(F.col("p.constraint").alias("constraint"),
                    F.col("p.n").alias("n")))


def canonical_violations(v: DataFrame) -> DataFrame:
    """Deterministic output order for bitwise-identical results across
    parallelism levels (north rule): coalesce(1) happens at write time;
    here we fix the sort."""
    return v.orderBy("constraint", "row_key", "reason")
