"""Host settings, Spark session and input table shared by the benchmark's
processes. Importing this module starts nothing."""

from __future__ import annotations

import json
import os
import time
import zlib

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

# 64 part_keys of 250 rows (~15 MB of parquet). Sized so that a run of
# either workload, set-up and warm-up included, takes about a minute on
# a 4-core host; 120k rows takes ~10 s per images_full iteration there.
ROWS = 16_000
PARTS = 64
FILES = 8          # 8 part_keys per file, rows in row-index order
SEED_MOD = 1_000_000   # keeps image ids inside the 12-digit pattern
# Spark generates the rows of BLOCK consecutive seeds at once (make_images
# is a pure function of the row index); each seed's table is a slice of
# its block, so a new seed in a generated block costs seconds, not a
# Spark start.
BLOCK = 8


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """1 GiB, or an eighth of the host's RAM if that is less: the inputs
    are ~15 MB (bench.py's 16g default does not fit a 15 GiB host). The
    heap is committed and touched up front (see start_spark), and
    worker.program_rss_mb leaves it out of peak RSS."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    return min(1024, total_kb // 8 // 1024)


def codec_probe(seconds: float = 0.5) -> float:
    """Single-core zlib MB/s: the same loop as bench.py's host probe."""
    buf = bytes(range(256)) * 64
    t0 = time.monotonic()
    n = 0
    while time.monotonic() - t0 < seconds:
        zlib.decompress(zlib.compress(buf, 1))
        n += 1
    return n * len(buf) / (time.monotonic() - t0) / 1e6


def child_env() -> dict:
    """Environment of every Spark process: BLAS/OMP pinned to one thread,
    temp files and the package import path inside the checkout."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        env[v] = "1"
    env["TMPDIR"] = tmp
    env["PYTHONPATH"] = ROOT
    env["PYTHONHASHSEED"] = "0"
    return env


def host_settings() -> dict:
    n = nproc()
    return {"master": f"local[{n}]", "nproc": n,
            "shuffle_partitions": n, "driver_memory_mb": driver_memory_mb(),
            "blas_omp_threads": 1, "rows": ROWS, "parts": PARTS}


def start_spark(ui: bool = False):
    from pyspark.sql import SparkSession
    n = nproc()
    local = os.path.join(BUILD, "spark-local")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(local, exist_ok=True)
    # a fixed heap committed and touched at start keeps peak RSS from
    # depending on when G1 happened to grow it; peak_rss_mb subtracts it
    jopts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
             f"-Xms{driver_memory_mb()}m -XX:+AlwaysPreTouch "
             # compiler threads live as long as the JVM, so their CPU time
             # can be told apart (worker.tree_cpu_s)
             "-XX:-UseDynamicNumberOfCompilerThreads")
    spark = (
        SparkSession.builder
        .master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        .config("spark.driver.extraJavaOptions", jopts)
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(BUILD, "warehouse"))
        .config("spark.ui.enabled", "true" if ui else "false")
        .config("spark.ui.port", "0")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)


def table_dir(seed: int) -> str:
    return os.path.join(BUILD, "data", f"images_s{seed % SEED_MOD}_n{ROWS}")


def block_dir(seed: int) -> str:
    return os.path.join(BUILD, "data",
                        f"block_b{seed % SEED_MOD // BLOCK}_n{ROWS}")


def read_json(path: str):
    with open(path) as f:
        return json.load(f)


def write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(tmp, path)
