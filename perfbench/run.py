"""xmlschema_spark benchmark: end-to-end and per-layer metrics.

    python3 perfbench/run.py --workload images_full --seed 0 --seconds 12 --trace 0

Workloads (all over one seeded, dirty images table; see BENCHMARK.json):
  images_full  lax validate(images_spec(check_phash=True)) + counts
  near_dups    simhash_near_dups(caption) + hamming_near_dups(phash)

--trace 0 prints rows_per_cpu_s, setup_s and peak_rss_mb; --trace 1 runs
the traced per-layer pass (perfbench/layers.py) instead. The last stdout
line is the result JSON; the line before it carries host settings and
the raw samples, wall-clock rows/s among them.

Throughput is rows per CPU-second of the Spark process tree (the Python
driver, its JVM and the Python workers), and setup_s is the CPU seconds
of the process's cold start: on a shared host, neighbours and hypervisor
steal swing wall time 2x for minutes at a time, while the CPU time the
program itself spends moves less (steal is not charged to it). CPU time cannot see a change that
only waits longer or runs on fewer cores; the wall-clock figures of the
same run (wall_rows_per_s, setup_wall_s) are in the info line, and the
traced run reports wall rows/s as workload.wall_rows_per_s.

Input generation runs in its own process, once per (seed, rows), and is
cached under .bench_build/; no timer includes it. Each workload runs in
a fresh local[nproc] process whose cold start is setup_s.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

import common
from worker import WORKLOADS

WORKER = os.path.join(os.path.dirname(os.path.abspath(__file__)), "worker.py")


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def _reap(pgid: int) -> None:
    """Kill what is left of a worker's process group and wait for it."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def worker(mode: str, seed: int, timeout: float, *extra: str) -> dict:
    """Run worker.py in its own process group; return its tagged lines."""
    log = os.path.join(common.BUILD, "logs", f"{mode}-{seed}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    t0 = time.time()
    with open(log, "w") as err:
        p = subprocess.Popen(
            [sys.executable, WORKER, mode, "--seed", str(seed),
             "--t0", repr(t0), *extra],
            stdout=subprocess.PIPE, stderr=err, text=True,
            env=common.child_env(), cwd=common.ROOT, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            _reap(p.pid)
            p.wait()
            raise RuntimeError(f"{mode} worker timed out after {timeout}s; "
                               f"see {log}")
        finally:
            _reap(p.pid)
    tagged = {}
    for line in out.splitlines():
        tag, _, body = line.partition(" ")
        if tag in ("READY", "RESULT"):
            tagged[tag] = json.loads(body)
    if p.returncode != 0 or (mode != "gen" and "READY" not in tagged):
        with open(log) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"{mode} worker exited {p.returncode}:\n{tail}")
    tagged["wall_s"] = time.time() - t0
    return tagged


def ensure_table(seed: int) -> float:
    """Build the cached input for `seed` if absent; return the seconds
    generation took in this run (0.0 when cached)."""
    if os.path.exists(os.path.join(common.table_dir(seed), "oracle.json")):
        return 0.0
    return worker("gen", seed, 900)["wall_s"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(common.ROOT, "xmlschema_spark")):
        print("xmlschema_spark package not found beside perfbench/",
              file=sys.stderr)
        return 2
    seed = a.seed % common.SEED_MOD
    info = dict(common.host_settings(), workload=a.workload, seed=seed)
    info["codec_mbps"] = common.codec_probe()
    info["generation_s"] = ensure_table(seed)
    wl = ["--workload", a.workload]
    if a.trace:
        res = worker("trace", seed, 175, *wl)
        layer = res["RESULT"]
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in layer.pop("metrics").items()}
        info.update(layer)
        result = {"correct": layer["failed"] == 0,
                  "attempted": layer["attempted"], "failed": layer["failed"],
                  "metrics": metrics}
    else:
        res = worker("run", seed, 170, *wl, "--seconds", str(a.seconds))
        run = res["RESULT"]
        wall = statistics.median(run["timed_s"])
        info.update(run, setup_phases=res["READY"],
                    setup_wall_s=res["READY"]["setup_s"],
                    wall_rows_per_s=common.ROWS / wall)
        result = {
            "correct": run["failed"] == 0, "attempted": run["attempted"],
            "failed": run["failed"],
            "metrics": {
                "rows_per_cpu_s": {"value": common.ROWS
                                   / statistics.median(run["timed_cpu_s"]),
                                   "unit": "rows/cpu_s"},
                "setup_s": {"value": res["READY"]["setup_cpu_s"],
                            "unit": "s"},
                "peak_rss_mb": {"value": run["peak_rss_mb"], "unit": "MB"},
            }}
    print(json.dumps({"info": info}, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
