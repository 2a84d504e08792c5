"""Traced per-layer run (--trace 1).

Calls each layer's public functions from outside, one span per call:
name, start, end, parent. Every span runs in its own Spark job group;
jobs, stages and tasks come from statusTracker(), shuffle and input
bytes from the monitoring REST API of the (traced-run-only) UI. Spans
are kept in memory and written as JSON when the run ends.

Every traced run measures every layer on the seed's table, so each
per-layer metric is present whatever the workload; only sources.scan_s
(the columns the workload reads), workload.wall_rows_per_s and trace.*
(the workload's own iteration, untraced and traced) depend on it. A first pass over a slice of the table warms
the JVM, the codegen caches and the Python workers; the second pass,
over the whole table, is the one reported. The checkpoint layer, which
costs about 30 Spark jobs per increment at any size, runs only in the
second pass so the traced run stays inside its time limit.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager

import common
import worker

WARM_PARTS = 8        # part_keys in the warm-up slice
PAIRS = 2             # untraced and traced workload calls, each
INCREMENTS = worker.INCREMENTS


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.api = (f"{self.sc.uiWebUrl}/api/v1/applications/"
                    f"{self.sc.applicationId}")
        self.spans: list[dict] = []
        self.stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "parent": self.stack[-1] if self.stack else None}
        self.spans.append(rec)
        self.stack.append(rec["id"])
        self.sc.setJobGroup(f"span-{rec['id']}", name)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self.stack.pop()
            if self.stack:
                self.sc.setJobGroup(f"span-{self.stack[-1]}",
                                    self.spans[self.stack[-1]]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec.update(self._job_stats(f"span-{rec['id']}"))
            print(f"span {name} {rec['end'] - rec['start']:.2f}s "
                  f"jobs={rec['jobs']}", file=sys.stderr, flush=True)

    def _job_stats(self, group: str) -> dict:
        """Jobs, stages and tasks the group ran, and the bytes its stages
        read and shuffled. Status events arrive asynchronously, so wait
        (briefly) until every job of the group has ended."""
        deadline = time.monotonic() + 5
        while True:
            jobs = list(self.tracker.getJobIdsForGroup(group))
            infos = [self.tracker.getJobInfo(j) for j in jobs]
            if all(i is not None and i.status in ("SUCCEEDED", "FAILED")
                   for i in infos) or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        stages = {s for i in infos if i is not None for s in i.stageIds}
        ran, tasks, shuffle, inp = 0, 0, 0, 0
        for sid in sorted(stages):
            st = self.tracker.getStageInfo(sid)
            if st is None or st.numCompletedTasks == 0:
                continue          # skipped: its output was reused
            ran += 1
            tasks += st.numCompletedTasks
            for attempt in self._rest(f"stages/{sid}"):
                shuffle += attempt.get("shuffleWriteBytes", 0)
                inp += attempt.get("inputBytes", 0)
        return {"jobs": len(jobs), "stages": ran, "tasks": tasks,
                "shuffle_bytes": shuffle, "input_bytes": inp}

    def _rest(self, path: str):
        deadline = time.monotonic() + 5
        while True:
            with urllib.request.urlopen(f"{self.api}/{path}", timeout=5) as r:
                data = json.load(r)
            if all(a.get("status") not in ("ACTIVE", "PENDING")
                   for a in data) or time.monotonic() > deadline:
                return data
            time.sleep(0.05)

    def subtree(self, rec: dict, key: str):
        """`key` summed over a span and all spans below it."""
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        return rec[key] + sum(self.subtree(k, key) for k in kids)


class RssSampler:
    """Peak summed RSS of the Python workers (descendants of the JVM that
    run Python) while the block runs, sampled every 20 ms."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_kb = 0
        self._stop = threading.Event()

    def _python_pids(self):
        pids = []
        for pid in worker.process_tree(self.jvm_pid)[1:]:
            try:
                with open(f"/proc/{pid}/comm") as f:
                    if f.read().startswith("python"):
                        pids.append(pid)
            except OSError:
                pass
        return pids

    def _loop(self):
        while not self._stop.is_set():
            kb = 0
            for pid in self._python_pids():
                try:
                    with open(f"/proc/{pid}/status") as f:
                        kb += next(int(l.split()[1]) for l in f
                                   if l.startswith("VmRSS:"))
                except (OSError, StopIteration):
                    pass
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(0.02)

    def __enter__(self):
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()


def _sink(df, name: str) -> int:
    """Run `df` into the noop sink; return its row count, observed by the
    same action."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    obs = Observation(name)
    df.observe(obs, F.count(F.lit(1)).alias("n")) \
        .write.format("noop").mode("overwrite").save()
    return obs.get["n"]


def _transfer(df):
    """A no-op mapInArrow over `df`: the Arrow round trip without compute."""
    def passthrough(batches):
        yield from batches
    return df.mapInArrow(passthrough, df.schema)


def _bytes_under(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def layer_pass(tr: Tracer, df, workload: str) -> tuple[dict, dict]:
    """One traced call of each layer but the checkpoint over `df`;
    returns (layer metric values, outputs to check)."""
    from xmlschema_spark import validate
    from xmlschema_spark.operators.dedup import (hamming_near_dups,
                                                 simhash_near_dups)
    from xmlschema_spark.operators.identity import unique_violations
    from xmlschema_spark.operators.payload import payload_violations
    from xmlschema_spark.operators.row_checks import row_violations
    from xmlschema_spark.operators.text import simhash48_fast
    from xmlschema_spark.plans.compiler import compile_plan
    from xmlschema_spark.sources.fixtures import images_spec

    spec = images_spec(check_phash=True)
    plan = compile_plan(spec)
    v: dict = {}
    outs: dict = {}
    with tr.span("sources.scan") as s:
        _sink(df.select(*worker.READS[workload]), "scan")
    v["sources.scan_s"] = s["end"] - s["start"]

    with tr.span("row_checks") as s:
        v["row_checks.violations_out"] = _sink(row_violations(df, plan), "rc")
    v["row_checks.s"] = s["end"] - s["start"]
    v["row_checks.jobs"] = s["jobs"]

    with tr.span("identity") as s:
        n = 0
        for u in spec.uniques:
            with tr.span(f"identity.{u.name}"):
                n += _sink(unique_violations(df, u, spec.key_column,
                                             spec.part_key), u.name)
    v["identity.s"] = s["end"] - s["start"]
    v["identity.violations_out"] = n
    v["identity.jobs"] = tr.subtree(s, "jobs")
    v["identity.shuffle_bytes"] = tr.subtree(s, "shuffle_bytes")

    p = spec.payload
    with RssSampler(worker.jvm_pid()) as rss, tr.span("payload") as s:
        v["payload.violations_out"] = _sink(
            payload_violations(df, p, spec.part_key), "payload")
    v["payload.s"] = s["end"] - s["start"]
    v["payload.rss_mb"] = rss.peak_kb / 1024
    # payload_violations' own projection, shipped through Arrow untouched
    cols = [p.id_col, p.bytes_col, p.fmt_col, p.w_col, p.h_col,
            p.phash_col, spec.part_key]
    with tr.span("payload.transfer") as s:
        _sink(_transfer(df.select(*cols)), "ptransfer")
    v["payload.transfer_s"] = s["end"] - s["start"]

    with tr.span("runner.validate") as s:
        res = validate(df, spec)
        with tr.span("runner.violations"):
            outs["runner.violations"] = res.violations.count()
        with tr.span("runner.verdicts") as sv:
            res.verdicts.count()
        res.unpersist()
    v["runner.validate_s"] = s["end"] - s["start"]
    v["runner.verdicts_s"] = sv["end"] - sv["start"]
    for k in ("jobs", "stages", "tasks"):
        v[f"runner.{k}"] = tr.subtree(s, k)
    v["runner.residual_s"] = v["runner.validate_s"] - (
        v["row_checks.s"] + v["identity.s"] + v["payload.s"]
        + v["runner.verdicts_s"])

    with tr.span("text.simhash48") as s:
        _sink(simhash48_fast(df.select("image_id", "caption"), "caption",
                             "image_id"), "sh48")
    v["text.simhash48_s"] = s["end"] - s["start"]
    with tr.span("text.transfer") as s:
        _sink(_transfer(df.select("image_id", "caption")), "ttransfer")
    v["text.transfer_s"] = s["end"] - s["start"]

    with tr.span("dedup.caption") as s:
        v["dedup.caption_pairs"] = _sink(
            simhash_near_dups(df, "caption", "image_id"), "cap")
    with tr.span("dedup.phash") as s2:
        v["dedup.phash_pairs"] = _sink(
            hamming_near_dups(df.select("image_id", "phash"), "phash",
                              "image_id", max_hamming=7), "ph")
    v["dedup.caption_s"] = s["end"] - s["start"]
    v["dedup.caption_banding_s"] = v["dedup.caption_s"] - v["text.simhash48_s"]
    v["dedup.phash_s"] = s2["end"] - s2["start"]
    v["dedup.jobs"] = s["jobs"] + s2["jobs"]
    v["dedup.shuffle_bytes"] = s["shuffle_bytes"] + s2["shuffle_bytes"]

    for k in ("row_checks.violations_out", "identity.violations_out",
              "payload.violations_out", "dedup.caption_pairs",
              "dedup.phash_pairs"):
        outs[k] = v[k]
    return v, outs


def checkpoint_pass(tr: Tracer, df, p0: int, ckdir: str) -> tuple[dict, dict]:
    """The ingest shape: the table's part_keys arrive in INCREMENTS groups,
    each one run_resumable call over everything so far, then one
    finalize_global_identities over the whole table."""
    from pyspark.sql import functions as F

    from xmlschema_spark import validate
    from xmlschema_spark.checkpoint import (finalize_global_identities,
                                            run_resumable)
    from xmlschema_spark.sources.fixtures import images_spec

    spec_np = images_spec(with_payload=False)
    shutil.rmtree(ckdir, ignore_errors=True)
    step = common.PARTS // INCREMENTS
    inc_s, inc_jobs, inc_viol = [], [], []
    for k in range(INCREMENTS):
        lo, hi = p0 + k * step, p0 + (k + 1) * step
        with tr.span(f"checkpoint.increment{k}") as s:
            r = run_resumable(df.where(F.col("part_key") < hi), spec_np,
                              ckdir, run_id=f"inc{k}")
        inc_s.append(s["end"] - s["start"])
        inc_jobs.append(tr.subtree(s, "jobs"))
        inc_viol.append(r["violations"])
    # the last increment's rows through validate alone: the warmest
    # increment, and one standalone validate keeps the run short
    part = df.where((F.col("part_key") >= lo) & (F.col("part_key") < hi))
    with tr.span(f"checkpoint.validate{k}") as sv:
        res = validate(part, spec_np)
        res.violations.count()
        res.verdicts.count()
        res.unpersist()
    overhead = inc_s[-1] - (sv["end"] - sv["start"])
    with tr.span("checkpoint.finalize") as s:
        g = finalize_global_identities(df, spec_np, ckdir)
    files, size = _bytes_under(ckdir)
    shutil.rmtree(ckdir, ignore_errors=True)
    v = {
        "checkpoint.increment_s": statistics.median(inc_s),
        "checkpoint.finalize_s": s["end"] - s["start"],
        "checkpoint.jobs_per_increment": statistics.median(inc_jobs),
        "checkpoint.write_overhead_s": overhead,
        "checkpoint.files_written": files,
        "checkpoint.bytes_written": size,
    }
    return v, {"checkpoint.increment_violations": inc_viol,
               "checkpoint.global_violations": g["global_identity_violations"]}


UNITS = {"_s": "s", ".s": "s", ".jobs": "count", "jobs_per_increment": "count",
         ".stages": "count", ".tasks": "count", "_bytes": "bytes",
         "bytes_written": "bytes", "files_written": "count",
         "violations_out": "count", "_pairs": "count", "rss_mb": "MB"}


def _unit(name: str) -> str:
    return next(u for suffix, u in UNITS.items() if name.endswith(suffix))


def expected_outputs(golden: dict, seed: int, oracle: dict) -> dict:
    """What the traced pass must output: DuckDB counts for the row-check,
    identity and checkpoint layers, the seed's fixed values for the rest."""
    duck = oracle["duckdb_counts"]
    want = {
        "row_checks.violations_out": sum(n for k, n in duck.items()
                                         if k.startswith("facet:")),
        "identity.violations_out": sum(n for k, n in duck.items()
                                       if k.startswith("unique:")),
    }
    key = f"{seed}/{common.ROWS}"
    full = golden.get(f"images_full/{key}")
    if full:
        want["runner.violations"] = full["violations"]
        want["payload.violations_out"] = sum(
            n for k, n in full["per_constraint"].items()
            if k.startswith("payload:"))
    nd = golden.get(f"near_dups/{key}")
    if nd:
        want["dedup.caption_pairs"] = nd["caption_pairs"]
        want["dedup.phash_pairs"] = nd["phash_pairs"]
    want["checkpoint.increment_violations"] = oracle["increments"]
    want["checkpoint.global_violations"] = want["identity.violations_out"]
    return want


def traced_run(spark, path, workload, phases, golden, seed, oracle):
    from pyspark.sql import functions as F
    tr = Tracer(spark)
    df = spark.read.parquet(path)
    p0 = df.agg(F.min("part_key")).first()[0]
    with tr.span("warmup"):
        layer_pass(tr, df.where(F.col("part_key") < p0 + WARM_PARTS),
                   workload)
    with tr.span("layers"):
        df = spark.read.parquet(path)
        v, outs = layer_pass(tr, df, workload)
        ck, ck_outs = checkpoint_pass(
            tr, df, p0, os.path.join(common.BUILD, "checkpoint"))
    v.update(ck)
    outs.update(ck_outs)
    want = expected_outputs(golden, seed, oracle)
    bad = [f"{k}: {outs[k]!r} != expected {w!r}" for k, w in want.items()
           if outs[k] != w]
    failed = len(bad)

    # tracing overhead: the workload's iteration alternately outside and
    # inside a span (its own job group, then status and REST reads),
    # each timed by the iteration's own clock, so both sides cover the
    # same work; PAIRS calls a side, medians compared. The first call
    # follows the checkpoint pass's different plans and is only warm-up.
    it = worker.ITERATION[workload]
    expected = golden.get(f"{workload}/{seed}/{common.ROWS}")
    plain, traced = [], []
    for k in range(-1, 2 * PAIRS):
        if k % 4 in (1, 2):
            with tr.span(f"trace.{workload}"):
                clock, out = it(spark, path)
            traced.append(clock.wall)
        else:
            clock, out = it(spark, path)
            if k >= 0:
                plain.append(clock.wall)
        miss = worker.check_output(workload, out, expected, oracle)
        failed += bool(miss)
        bad += miss
    plain_s, traced_s = statistics.median(plain), statistics.median(traced)

    metrics = {
        "session.start_s": phases["imports_s"] + phases["session_s"],
        "distribute.ship_s": phases["ship_s"],
        "plans.compile_s": phases["compile_s"],
        "setup.wall_s": phases["setup_s"],
    }
    metrics.update(v)
    metrics = {k: (x, _unit(k)) for k, x in metrics.items()}
    metrics["workload.wall_rows_per_s"] = (common.ROWS / plain_s, "rows/s")
    metrics["trace.rows_per_s"] = (common.ROWS / traced_s, "rows/s")
    metrics["trace.overhead_pct"] = (100 * (traced_s - plain_s) / plain_s,
                                     "%")

    os.makedirs(common.BUILD, exist_ok=True)
    out = os.path.join(common.BUILD, f"spans-{workload}-{seed}.json")
    common.write_json(out, tr.spans)
    return {"metrics": metrics, "attempted": len(want) + 2 * PAIRS + 1,
            "failed": failed, "mismatches": bad, "spans_file": out,
            "layer_outputs": outs, "plain_s": plain, "traced_s": traced}
