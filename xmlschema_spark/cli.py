"""Batch validation driver — the spark-submit entry point.

Mirrors the reference CLI (xmlschema-validate, cli.py:234-278: argparse,
per-file loop, exit code = invalid count) at cluster scale: args are a
table path, a spec JSON, mode, checkpoint and output dirs; verdicts are
per data-derived partition; exit code = number of failing partitions.

Usage (the zip is distribute.package_zip's output):
  spark-submit --py-files xmlschema_spark_pkg_<hash>.zip \
      -m xmlschema_spark.cli --table s3://.../images --spec spec.json \
      --checkpoint /chk --output /out --mode lax
  (local dev: python -m xmlschema_spark.cli ...)
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="xmlschema-spark-validate",
        description="Validate a table against a declarative constraint spec")
    p.add_argument("--table", required=True,
                   help="input table path (parquet dir or iceberg table)")
    p.add_argument("--spec", required=True, help="TableSpec JSON file")
    p.add_argument("--ref", action="append", default=[], metavar="NAME=PATH",
                   help="keyref reference table (repeatable)")
    p.add_argument("--mode", choices=["strict", "lax", "skip"], default="lax")
    p.add_argument("--output", help="write violations + verdicts here")
    p.add_argument("--checkpoint", help="resumable manifest dir")
    p.add_argument("--run-id", default="run-0")
    p.add_argument("--master", default=None,
                   help="override master (default: from spark-submit)")
    p.add_argument("--shuffle-partitions", default=None)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from pyspark.sql import SparkSession

    from .checkpoint import run_resumable
    from .distribute import ensure_distributed
    from .runner import XmlSchemaSparkValidationError, validate
    from .specs import TableSpec

    b = SparkSession.builder.appName("xmlschema_spark_validate")
    if args.master:
        b = b.master(args.master)
    b = (b.config("spark.sql.adaptive.enabled", "true")
          .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
          .config("spark.sql.session.timeZone", "UTC"))
    if args.shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", args.shuffle_partitions)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_distributed(spark)

    try:
        with open(args.spec) as f:
            spec = TableSpec.from_json(f.read())
    except (OSError, ValueError, KeyError, TypeError) as e:
        print(f"error: cannot load spec {args.spec!r}: {e}", file=sys.stderr)
        return 2

    def read(path: str):
        return spark.read.parquet(path)

    df = read(args.table)
    refs = {}
    for r in args.ref:
        name, _, path = r.partition("=")
        refs[name] = read(path)

    if args.checkpoint:
        stats = run_resumable(df, spec, args.checkpoint, refs=refs,
                              run_id=args.run_id)
        print(json.dumps({"resumable": True, **stats}))
        from .checkpoint import read_manifest
        m = read_manifest(spark, args.checkpoint)
        n_fail = m.where(~m["pass"]).count()
        return min(n_fail, 125)

    try:
        res = validate(df, spec, refs=refs, mode=args.mode)
    except XmlSchemaSparkValidationError as e:
        print(json.dumps({"mode": "strict", "valid": False,
                          "first_violation": e.row}))
        return 1

    # summary counts computed as ONE distributed aggregate — collecting
    # the verdicts (one row per data-derived partition) would pull 10^6+
    # rows to the driver on a finely partitioned table
    from pyspark.sql import functions as F
    s = res.verdicts.agg(
        F.count(F.lit(1)).alias("parts"),
        F.sum(F.when(~F.col("pass"), 1).otherwise(0)).alias("failed"),
        F.sum("n_violations").alias("viols")).collect()[0]
    n_parts = int(s["parts"] or 0)
    n_fail = int(s["failed"] or 0)
    n_viol = int(s["viols"] or 0)
    if args.output:
        # distributed deterministic write: hash-repartition by the
        # data-derived part_key (each key lands wholly in one task) and
        # sort within partitions — file CONTENT per part_key directory is
        # byte-stable at any parallelism, verified by per-partition
        # sha256s in tools/bench_scaling.py. A coalesce(1) here would be
        # a single-writer bottleneck at 10^12 rows.
        (res.violations.repartition("part_key")
         .sortWithinPartitions("part_key", "constraint", "row_key",
                               "reason", "value")
         .write.mode("overwrite").partitionBy("part_key")
         .parquet(f"{args.output}/violations"))
        # one row per data-derived partition, but that can be 10^6+ rows:
        # partitioned distributed write, same discipline as violations
        (res.verdicts.repartition("part_key")
         .sortWithinPartitions("part_key")
         .write.mode("overwrite")
         .parquet(f"{args.output}/verdicts"))
    print(json.dumps({
        "table": args.table, "mode": args.mode,
        "partitions": n_parts, "failed_partitions": n_fail,
        "violations": int(n_viol),
        "valid": n_fail == 0,
    }))
    return min(n_fail, 125)


if __name__ == "__main__":
    sys.exit(main())
