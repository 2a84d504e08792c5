"""Record the fixed expected outputs per seed into expected.json.

    python3 perfbench/record_expected.py FIRST_SEED LAST_SEED

For each seed it builds (or reuses) the cached input table, runs each
workload's iteration twice in one Spark process, requires both runs to
agree and the images_full row-check and uniqueness counts to match the
DuckDB oracle, and stores the output under "<workload>/<seed>/<rows>".
Run it only on a commit whose outputs are known good; the benchmark then
counts every later deviation as a failed operation.
"""

from __future__ import annotations

import os
import sys

import common
import run
import worker


def main() -> None:
    first, last = int(sys.argv[1]), int(sys.argv[2])
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "expected.json")
    golden = common.read_json(path)
    for seed in range(first, last + 1):
        run.ensure_table(seed)
    os.environ.update(common.child_env())
    sys.path.insert(0, common.ROOT)
    import xmlschema_spark.distribute as distribute
    os.utime(distribute.__file__)    # ship this checkout's code (see worker.setup)
    spark = common.start_spark()
    try:
        for seed in range(first, last + 1):
            table = common.table_dir(seed)
            oracle = common.read_json(os.path.join(table, "oracle.json"))
            for name, it in worker.ITERATION.items():
                a = it(spark, os.path.join(table, "table"))[1]
                b = it(spark, os.path.join(table, "table"))[1]
                bad = worker.check_output(name, a, None, oracle)
                if a != b or bad:
                    raise SystemExit(f"seed {seed} {name}: {bad or 'unstable'}")
                golden[f"{name}/{seed}/{common.ROWS}"] = a
            common.write_json(path, golden)
            print(f"seed {seed} recorded", flush=True)
    finally:
        common.stop_spark(spark)


if __name__ == "__main__":
    main()
