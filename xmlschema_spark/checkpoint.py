"""Resumable runs: per-partition lineage manifest (north rule).

The reference defers identity checks and merges lazy-mode counters at
scan end (schemas.py:1386-1405); the distributed analog is a manifest
keyed by the DATA-DERIVED partition key recording what was validated,
with what spec, and the per-partition verdict + metrics. Resume =
anti-join the manifest against the input's partition list and validate
only the remainder, then merge.

Layout: <checkpoint_dir>/manifest/  (parquet, appended atomically per
run via Spark's committer), one row per (part_key, spec_hash):
    part_key, n_rows, n_violations, pass, spec_hash, run_id
Violations land in <checkpoint_dir>/violations/ partitioned by part_key.

Determinism: run_id is caller-provided (not wall-clock), so re-running
the same job yields byte-identical manifests.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .plans.compiler import ValidationPlan, compile_plan
from .runner import validate
from .specs import TableSpec

MANIFEST_SCHEMA = ("part_key bigint, n_rows bigint, n_violations bigint, "
                   "pass boolean, spec_hash string, run_id string")


def spec_hash(spec: TableSpec) -> str:
    return hashlib.sha256(spec.to_json().encode()).hexdigest()[:16]


def _manifest_path(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, "manifest")


def read_manifest(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    path = _manifest_path(checkpoint_dir)
    try:
        return spark.read.parquet(path)
    except Exception:
        return spark.createDataFrame([], MANIFEST_SCHEMA)


def validated_parts(spark: SparkSession, checkpoint_dir: str,
                    spec: TableSpec) -> DataFrame:
    m = read_manifest(spark, checkpoint_dir)
    return m.where(F.col("spec_hash") == spec_hash(spec)) \
        .select("part_key").distinct()


def run_resumable(df: DataFrame, spec: TableSpec, checkpoint_dir: str,
                  refs: dict[str, DataFrame] | None = None,
                  run_id: str = "run-0") -> dict:
    """Validate only partitions absent from the manifest; append their
    verdicts + violations. Returns counters for this increment.

    NOTE identity-constraint scope: uniqueness/keyref are evaluated per
    INCREMENT (like the reference's per-document scope). Cross-increment
    global uniqueness needs the terminal full-table pass —
    finalize_global_identities() below; this mirrors the reference's
    lazy-mode deferred counter merge (schemas.py:1386-1405)."""
    spark = df.sparkSession
    if not spec.part_key:
        raise ValueError("resumable runs need a data-derived part_key")
    sh = spec_hash(spec)

    # manifest column is always 'part_key'; alias it to the spec's actual
    # partition column so the anti-join resolves for ANY part_key name
    done = validated_parts(spark, checkpoint_dir, spec) \
        .select(F.col("part_key").alias(spec.part_key))
    todo = df.join(F.broadcast(done), on=spec.part_key, how="left_anti")
    if todo.limit(1).count() == 0:
        return {"validated_parts": 0, "rows": 0, "violations": 0,
                "skipped": True}

    # persist the compiled plan's SOURCE next to the manifest (analog of
    # schema export, reference: exports.py:141-287) so a resume can verify
    # it validates under the same spec revision
    os.makedirs(checkpoint_dir, exist_ok=True)
    spec_file = os.path.join(checkpoint_dir, f"spec-{sh}.json")
    if not os.path.exists(spec_file):
        with open(spec_file, "w") as f:
            f.write(spec.to_json())

    res = validate(todo, spec, refs=refs)
    viols = res.violations
    verd = res.verdicts.withColumn("spec_hash", F.lit(sh)) \
        .withColumn("run_id", F.lit(run_id))

    viol_n = viols.count()
    rows_n = verd.agg(F.sum("n_rows")).collect()[0][0] or 0
    parts_n = verd.count()

    # distributed deterministic write: hash-repartition by part_key (each
    # key lands wholly in one task — its directory's content is byte-
    # stable at any parallelism) instead of a single-writer
    # repartition(1), which is a driver-adjacent bottleneck at 10^12 rows
    (viols.repartition("part_key")
     .sortWithinPartitions("part_key", "constraint", "row_key", "reason",
                           "value")
     .write.mode("append")
     .partitionBy("part_key")
     .parquet(os.path.join(checkpoint_dir, "violations")))
    verd.write.mode("append").parquet(_manifest_path(checkpoint_dir))

    return {"validated_parts": parts_n, "rows": int(rows_n),
            "violations": int(viol_n), "skipped": False}


def global_identity_violations(df: DataFrame, spec: TableSpec,
                               refs: dict[str, DataFrame] | None = None
                               ) -> DataFrame:
    """Identity constraints evaluated over the WHOLE table — the terminal
    deferred pass of the reference's lazy mode (identity counters from
    every document merged at scan end, schemas.py:1386-1405).

    run_resumable scopes uniqueness/keyref per INCREMENT (per-document
    scope); duplicates that STRADDLE two increments are invisible to it.
    This pass is aggregates + anti-joins only (no row checks, no payload
    bytes), so its scan prunes to the key columns."""
    from functools import reduce

    from .operators.identity import identity_violations, keyref_violations
    refs = refs or {}
    ident = compile_plan(spec).identity
    parts = [identity_violations(df, ident)] if ident is not None else []
    for k in spec.keyrefs:
        if k.ref_table in refs:
            parts.append(keyref_violations(df, refs[k.ref_table], k,
                                           spec.key_column, spec.part_key,
                                           broadcast_ref=k.broadcast))
    if not parts:
        return df.sparkSession.createDataFrame(
            [], "row_key string, part_key bigint, constraint string, "
                "reason string, value string, occurs bigint")
    return reduce(lambda a, b: a.unionByName(b), parts)


def finalize_global_identities(df: DataFrame, spec: TableSpec,
                               checkpoint_dir: str,
                               refs: dict[str, DataFrame] | None = None,
                               run_id: str = "final") -> dict:
    """Terminal full-table identity pass after all increments validated:
    catches cross-increment duplicates/missing refs and writes them under
    <checkpoint_dir>/violations_global/run_id=<run_id>. The overwrite is
    scoped to THIS run's subdirectory, so re-running the same run_id is
    idempotent while other runs' outputs are untouched (a whole-directory
    overwrite silently deleted earlier runs)."""
    viols = global_identity_violations(df, spec, refs)
    n = viols.count()
    out = os.path.join(checkpoint_dir, "violations_global",
                       f"run_id={run_id}")
    (viols
     .repartition("part_key")
     .sortWithinPartitions("part_key", "constraint", "row_key", "reason",
                           "value")
     .write.mode("overwrite")
     .partitionBy("part_key")
     .parquet(out))
    return {"global_identity_violations": int(n), "run_id": run_id}
