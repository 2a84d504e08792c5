"""One Spark process of the benchmark (started by run.py, never imported).

    worker.py gen   --seed S                 build the cached input table
    worker.py run   --seed S --t0 T --workload W --seconds N
    worker.py trace --seed S --t0 T --workload W

`--t0` is the parent's wall clock just before it started this process,
so set-up time counts interpreter start and imports. Results go to
stdout as one `READY <json>` line after set-up and one `RESULT <json>`
line at the end.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import sys
import time

import common

WORKLOADS = ("images_full", "near_dups")
# columns each workload reads (the noop scan of sources.scan_s)
READS = {
    "images_full": ["image_id", "bytes", "w", "h", "fmt", "caption",
                    "phash", "part_key"],
    "near_dups": ["image_id", "caption", "phash"],
}
# Every run does the same work: WARMUP untimed iterations, then enough
# timed ones to last about --seconds on a 4-core host (NOMINAL_S each),
# at least MIN_TIMED. A run that stopped on elapsed time would do more
# iterations, and warm the JIT further, on a faster commit. After the
# warm-up an iteration's CPU time is within ~5% of the later ones on a
# 4-core host; a run whose timed iterations still fall by more than
# TREND_LIMIT is flagged as not steady (on a shared host, contention
# that eases mid-run trips the flag too).
WARMUP = {"images_full": 5, "near_dups": 2}
NOMINAL_S = {"images_full": 3.0, "near_dups": 5.0}
MIN_TIMED = 4
TREND_LIMIT = 0.10   # later half of the timed iterations >10% cheaper


def emit(tag: str, obj) -> None:
    print(f"{tag} {json.dumps(obj, sort_keys=True)}", flush=True)


class _WindowedSession:
    """make_images draws its row indexes from spark.range(0, n); this
    shifts that window to [offset, offset + n), so ids, dims, captions
    and the i % 1009 defect positions all move with the seed."""

    def __init__(self, spark, offset: int):
        self._spark = spark
        self._offset = offset

    def range(self, start, end, step=1, numPartitions=None):
        return self._spark.range(start + self._offset, end + self._offset,
                                 step, numPartitions)

    def __getattr__(self, name):
        return getattr(self._spark, name)


# ---------------------------------------------------------------- input

def generate(seed: int) -> None:
    """Write the dirty images table for `seed` and its DuckDB oracle. The
    table is rows [seed * ROWS, (seed + 1) * ROWS) of make_images, cut
    from the seed's block, which is generated first if it is missing."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    seed %= common.SEED_MOD
    out = common.table_dir(seed)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.monotonic()
    block = generate_block(seed)
    lo = seed * common.ROWS
    rows = pq.read_table(block, filters=[("i", ">=", lo),
                                         ("i", "<", lo + common.ROWS)])
    rows = rows.sort_by("i")
    os.makedirs(os.path.join(tmp, "table"))
    per_file = common.PARTS // common.FILES
    p0 = lo // (common.ROWS // common.PARTS)
    pk = rows["part_key"]
    for k in range(common.FILES):
        part = rows.filter(pc.and_(
            pc.greater_equal(pk, p0 + k * per_file),
            pc.less(pk, p0 + (k + 1) * per_file)))
        pq.write_table(part, os.path.join(tmp, "table",
                                          f"part-{k:05d}.snappy.parquet"))
    gen_s = time.monotonic() - t0
    oracle = duckdb_oracle(os.path.join(tmp, "table"))
    if oracle["rows"] != common.ROWS:
        raise RuntimeError(f"seed {seed}: {oracle['rows']} rows generated")
    oracle["generate_s"] = gen_s
    common.write_json(os.path.join(tmp, "oracle.json"), oracle)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)


def generate_block(seed: int) -> str:
    """The parquet of the BLOCK seeds around `seed`, made by Spark on the
    first call; returns its path."""
    import shutil

    from xmlschema_spark.sources.fixtures import make_images
    out = common.block_dir(seed)
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    n = common.BLOCK * common.ROWS
    spark = common.start_spark()
    (make_images(_WindowedSession(spark, seed // common.BLOCK * n), n,
                 dirty=True, rows_per_partition=common.ROWS // common.PARTS)
     .repartitionByRange(common.BLOCK, "i")
     .sortWithinPartitions("i")
     .write.parquet(tmp))
    common.stop_spark(spark)
    os.replace(tmp, out)
    return out


# images_spec's row checks and uniques, as DuckDB predicates and columns
FACETS = {
    "facet:pattern:image_id": "NOT regexp_full_match(image_id, 'img-[0-9]{12}')",
    "facet:minExclusive:w": "w <= 0", "facet:maxInclusive:w": "w > 65535",
    "facet:minExclusive:h": "h <= 0", "facet:maxInclusive:h": "h > 65535",
    "facet:enumeration:fmt": "fmt NOT IN ('jpeg', 'png', 'webp')",
    "facet:minLength:caption": "length(caption) < 1",
    "facet:maxLength:caption": "length(caption) > 512",
}
UNIQUES = ("image_id", "phash")
INCREMENTS = 4


def duckdb_oracle(table: str) -> dict:
    """Violation counts of images_spec's row checks and uniques, computed
    by DuckDB from the parquet alone (independent of Spark and of the
    engine under test): over the whole table, and per ingest increment,
    where uniqueness is scoped to the increment's own part_keys."""
    import duckdb
    con = duckdb.connect()
    src = f"read_parquet('{table}/*.parquet')"
    p0, rows = con.execute(f"SELECT min(part_key), count(*) FROM {src}").fetchone()
    step = common.PARTS // INCREMENTS
    inc = f"(part_key - {p0}) // {step}"
    facets = ", ".join(f"count(*) FILTER (WHERE {p})" for p in FACETS.values())
    counts = dict(zip(FACETS, con.execute(f"SELECT {facets} FROM {src}").fetchone()))
    per_inc = [0] * INCREMENTS
    facet_sum = " + ".join(f"({p})::INT" for p in FACETS.values())
    for k, n in con.execute(f"SELECT {inc}, sum({facet_sum}) FROM {src} GROUP BY 1").fetchall():
        per_inc[k] += n
    for col in UNIQUES:
        # rows whose value repeats: over the table (key 0), and within
        # each increment (key = increment)
        for key in ("0", inc):
            dup = con.execute(f"""
                SELECT k, sum(n) FROM (
                  SELECT {key} AS k, count(*) AS n FROM {src}
                  WHERE {col} IS NOT NULL GROUP BY k, {col}
                  HAVING count(*) > 1) GROUP BY k""").fetchall()
            if key == inc:
                for k, n in dup:
                    per_inc[k] += n
            else:
                counts[f"unique:{col}"] = sum(n for _, n in dup)
    con.close()
    return {"rows": rows, "duckdb_counts": counts, "increments": per_inc,
            "duckdb_version": duckdb.__version__}


# ---------------------------------------------------------------- set-up

def setup(seed: int, t0_wall: float, ui: bool = False):
    """Cold start to a ready session: Spark start, ensure_distributed,
    compile_plan and one action that reads the input through a Python
    worker. Returns (spark, input path, {phase: seconds}); setup_cpu_s,
    the CPU seconds of all of it since process start, is the reported
    setup_s, and setup_s the wall time."""
    from pyspark.sql import functions as F

    import xmlschema_spark.distribute as distribute
    from xmlschema_spark.plans.compiler import compile_plan
    from xmlschema_spark.sources.fixtures import images_spec

    phases = {"imports_s": time.time() - t0_wall}
    t = time.monotonic()
    spark = common.start_spark(ui=ui)
    phases["session_s"] = time.monotonic() - t
    # ensure_distributed ships a zip it rebuilds only when a source file is
    # newer than it; touching one makes every run ship THIS checkout's code
    os.utime(distribute.__file__)
    t = time.monotonic()
    distribute.ensure_distributed(spark)
    phases["ship_s"] = time.monotonic() - t
    t = time.monotonic()
    compile_plan(images_spec(check_phash=True))
    phases["compile_s"] = time.monotonic() - t
    path = os.path.join(common.table_dir(seed), "table")
    t = time.monotonic()

    def passthrough(batches):
        yield from batches

    n = (spark.read.parquet(path).select("w").limit(100)
         .mapInArrow(passthrough, "w int").agg(F.count("w")).collect()[0][0])
    if n != 100:
        raise RuntimeError(f"set-up action read {n} rows, expected 100")
    phases["first_action_s"] = time.monotonic() - t
    phases["setup_s"] = time.time() - t0_wall
    phases["setup_cpu_s"] = run_cpu_s(jvm_pid())
    return spark, path, phases


# ---------------------------------------------------------------- workloads

def violation_digest(rows) -> str:
    lines = ["|".join([r.row_key, str(r.part_key), r.constraint, r.reason,
                       str(r.value), str(r.occurs)]) for r in rows]
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


class Clock:
    """Wall and CPU seconds (run_cpu_s) of one timed region."""

    def __init__(self):
        self.jvm = jvm_pid()

    def __enter__(self):
        self.cpu = run_cpu_s(self.jvm)
        self.wall = time.monotonic()
        return self

    def __exit__(self, *exc):
        self.wall = time.monotonic() - self.wall
        self.cpu = run_cpu_s(self.jvm) - self.cpu


def images_full(spark, path):
    """Returns (Clock, output summary). The output summary is read from
    the persisted result after the clock stops."""
    from xmlschema_spark import validate
    from xmlschema_spark.sources.fixtures import images_spec
    imgs = spark.read.parquet(path)
    with Clock() as clock:
        res = validate(imgs, images_spec(check_phash=True))
        n = res.violations.count()
        res.verdicts.count()
    rows = res.violations.collect()
    res.unpersist()
    per = {}
    for r in rows:
        per[r.constraint] = per.get(r.constraint, 0) + 1
    return clock, {"violations": n, "per_constraint": per,
                   "sha256": violation_digest(rows)}


def pair_observation(df, name):
    """Attach a row count and an order-free digest (bit_xor of a row hash)
    to a pair frame; both come back with the same action, at no extra job."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    obs = Observation(name)
    out = df.observe(obs, F.count(F.lit(1)).alias("pairs"),
                     F.bit_xor(F.xxhash64("id_a", "id_b", "hamming"))
                     .alias("xor"))
    return out, obs


def near_dups(spark, path):
    from xmlschema_spark.operators.dedup import (hamming_near_dups,
                                                 simhash_near_dups)
    imgs = spark.read.parquet(path)
    with Clock() as clock:
        cap, cap_obs = pair_observation(
            simhash_near_dups(imgs, "caption", "image_id"), "caption")
        cap.write.format("noop").mode("overwrite").save()
        ph, ph_obs = pair_observation(
            hamming_near_dups(imgs.select("image_id", "phash"), "phash",
                              "image_id", max_hamming=7), "phash")
        ph.write.format("noop").mode("overwrite").save()
    c, p = cap_obs.get, ph_obs.get
    return clock, {"caption_pairs": c["pairs"], "caption_xor": c["xor"] or 0,
                  "phash_pairs": p["pairs"], "phash_xor": p["xor"] or 0}


ITERATION = {"images_full": images_full, "near_dups": near_dups}


def check_output(workload: str, out: dict, expected: dict | None,
                 oracle: dict) -> list[str]:
    """Mismatches of one iteration's output against the fixed expected
    values of this seed and, for images_full, the DuckDB oracle."""
    bad = []
    if workload == "images_full":
        per = out["per_constraint"]
        for name, n in oracle["duckdb_counts"].items():
            if per.get(name, 0) != n:
                bad.append(f"{name}: {per.get(name, 0)} != duckdb {n}")
    if expected is not None:
        for k, v in expected.items():
            if out.get(k) != v:
                bad.append(f"{k}: {out.get(k)!r} != expected {v!r}")
    return bad


def process_tree(root_pid: int) -> list[int]:
    """`root_pid` and its live descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        out.append(pid)
    return out


def _ticks(stat_path: str) -> int:
    """utime + stime + cutime + cstime of a /proc stat file."""
    with open(stat_path) as f:
        v = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in v[11:15])


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used by a process tree: each live process's own time
    plus that of the children it has reaped, less the JIT compiler
    threads' time (compilation is warm-up work, done off the critical
    path in bursts)."""
    ticks = 0
    for pid in process_tree(root_pid):
        try:
            ticks += _ticks(f"/proc/{pid}/stat")
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if f.read().startswith(("C1 Compiler", "C2 Compiler")):
                        ticks -= _ticks(f"/proc/{pid}/task/{tid}/stat")
        except OSError:
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def run_cpu_s(jvm: int) -> float:
    """CPU seconds used so far by this process and the JVM's tree."""
    import resource
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return ru.ru_utime + ru.ru_stime + tree_cpu_s(jvm)


def program_rss_mb(jvm: int) -> float:
    """Peak RSS (VmHWM) summed over the JVM and its live descendants, the
    Python workers, less the JVM's fixed heap: start_spark commits and
    touches the whole heap at start, so that share is a constant the
    benchmark sets, not memory the program chose to use."""
    total_kb = 0
    for pid in process_tree(jvm):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024 - common.driver_memory_mb()


def jvm_pid() -> int:
    from pyspark import SparkContext
    return SparkContext._gateway.proc.pid


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def trend(times: list[float]) -> float:
    """Relative drop from the first half's median to the second half's."""
    h = len(times) // 2
    a, b = statistics.median(times[:h]), statistics.median(times[-h:])
    return (a - b) / a


def run_workload(spark, path, workload, seconds, expected, oracle):
    it = ITERATION[workload]
    failed, attempted, bad = 0, 0, []

    outputs: list = []
    walls: list[float] = []
    cpus: list[float] = []
    steal: list[float] = []

    def one():
        """One iteration on fresh DataFrames, checked after the clock stops."""
        nonlocal failed, attempted
        s0, t0 = cpu_ticks()
        clock, out = it(spark, path)
        cpus.append(clock.cpu)
        walls.append(clock.wall)
        s1, t1 = cpu_ticks()
        steal.append((s1 - s0) / max(t1 - t0, 1))
        spark.catalog.clearCache()
        attempted += 1
        miss = check_output(workload, out, expected, oracle)
        if outputs and out != outputs[0]:
            miss.append("output differs from the first iteration's")
        if miss:
            failed += 1
            bad.extend(miss)
        outputs.append(out)

    for _ in range(WARMUP[workload]):
        one()
    n_warm = len(walls)
    for _ in range(max(MIN_TIMED, round(seconds / NOMINAL_S[workload]))):
        one()
    drop = trend(cpus[n_warm:])
    if drop > TREND_LIMIT:
        print(f"timed iterations still trend: later half {drop:.0%} cheaper",
              file=sys.stderr)
    return {"warmup_s": walls[:n_warm], "timed_s": walls[n_warm:],
            "warmup_cpu_s": cpus[:n_warm], "timed_cpu_s": cpus[n_warm:],
            "steal": steal, "trend": drop, "steady": drop <= TREND_LIMIT,
            "attempted": attempted, "failed": failed,
            "mismatches": bad[:20], "output": outputs[-1]}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["gen", "run", "trace"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--t0", type=float, default=None)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seconds", type=float, default=10)
    a = ap.parse_args()
    if a.mode == "gen":
        generate(a.seed)
        return
    spark, path, phases = setup(a.seed, a.t0, ui=a.mode == "trace")
    emit("READY", phases)
    oracle = common.read_json(os.path.join(common.table_dir(a.seed),
                                           "oracle.json"))
    golden = common.read_json(os.path.join(os.path.dirname(
        os.path.abspath(__file__)), "expected.json"))
    expected = golden.get(f"{a.workload}/{a.seed}/{common.ROWS}")
    if a.mode == "run":
        res = run_workload(spark, path, a.workload, a.seconds,
                           expected, oracle)
        res["peak_rss_mb"] = program_rss_mb(jvm_pid())
        res["golden"] = expected is not None
        emit("RESULT", res)
    elif a.mode == "trace":
        import layers
        emit("RESULT", layers.traced_run(spark, path, a.workload,
                                         phases, golden, a.seed, oracle))
    common.stop_spark(spark)


if __name__ == "__main__":
    sys.exit(main())
