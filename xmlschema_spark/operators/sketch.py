"""Deterministic mergeable quantile sketch: a canonical q-digest, the
package's one quantile sketch.

Role: the reference pairs its validator with distribution checks the
north rule asks for (quantile sketches feeding drift verdicts). A
sketch whose output depends on partitioning or merge order could only
be gated by a rank-guarantee check, never hash-compared against an
independent oracle; this one is a pure function of the exact leaf
histogram, so both its digest and its quantiles are hash-checked.

Design (q-digest after Shrivastava et al., "Medians and Beyond:
New Aggregation Techniques for Sensor Networks", SenSys'04 — built
CANONICALLY so the digest is a pure function of the exact leaf
histogram, never of partitioning or merge order):

1. values map to integer LEAVES of a fixed complete binary tree over a
   bounded domain [0, 2^levels) — callers pick an integer-exact mapping
   (e.g. price cents >> shift) so there is no float-rounding drift
   between engines;
2. exact leaf counts via one distributed hash aggregate (the only
   shuffle; partial+final combine, at most 2^levels result rows — the
   per-partition leaf counts ARE the mergeable partial sketches: counts
   are additive, so partition-level merge is exact);
3. canonical bottom-up compression in ONE bounded task per digest
   (`compress`: one applyInPandas over (group cols..., level, node,
   cnt) rows, input <= 2^levels rows per group regardless of n):
   level by level, each sibling family with total mass <= floor(n/k)
   is pushed into its parent; families that exceed the threshold are
   emitted into the digest. Heavy hitters therefore stay at leaf
   resolution while sparse tails collapse upward. `qdigest` feeds it
   leaf rows, `merge_digests` the union of digests, and
   streaming.validate_stream.qdigest_per_window leaf rows grouped by
   event-time window.

Determinism: step 3's input (the exact leaf histogram) and rule are
both order-free, so the digest is bitwise identical at any parallelism
— and replicable in ANSI SQL by unrolling the `levels` compression
rounds as chained CTEs (see queries.qdigest_* oracles), which is what
makes this sketch fully rows+schema+hash oracle-checkable.

Error bound: a quantile read off the digest (right edge of the first
node whose cumulative count reaches ceil(q*n), nodes ordered by
(right endpoint, level)) has rank error <= levels * floor(n/k): at
most one emitted family per tree level can straddle the target rank,
each carrying <= floor(n/k) uncounted mass below its right edge, plus
the node-width value quantization. tests/test_sketch.py asserts the
rank bound property-style; the digest itself is exact by construction.

Scale: the aggregate shuffles at most min(distinct leaves, 2^levels)
rows per partition (map-side combine); the compression task is
O(2^levels) independent of n — at 10^12 rows the plan is one exchange
plus a single bounded reduce.

xmlschema has no sketch analog — its numeric facets are exact; file:line
cites here are therefore design-rule cites, not ports.
"""

from __future__ import annotations

import functools
from collections import defaultdict

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..distribute import ensure_distributed, worker_kernel

DIGEST_SCHEMA = "level int, node bigint, cnt bigint"


def compress_counts(rows, levels: int, k: int) -> list[tuple[int, int, int]]:
    """Canonical bottom-up q-digest compression. `rows` is an iterable
    of (level, node, cnt) — leaves are level 0 with node ids offset by
    2^levels (root = node 1 at level `levels`); mixed levels are
    allowed (merge case). Pure function of the multiset of rows."""
    by_level: list[dict[int, int]] = [defaultdict(int)
                                      for _ in range(levels + 1)]
    n = 0
    for level, node, cnt in rows:
        by_level[level][node] += cnt
        n += cnt
    if n == 0:
        return []
    thr = max(1, n // k)
    out: list[tuple[int, int, int]] = []
    for level in range(levels):
        cur = by_level[level]
        parents: dict[int, list[tuple[int, int]]] = defaultdict(list)
        for node, cnt in cur.items():
            parents[node >> 1].append((node, cnt))
        nxt = by_level[level + 1]
        for p, kids in parents.items():
            fam = sum(c for _, c in kids) + nxt.get(p, 0)
            if fam <= thr:
                nxt[p] = fam
            else:
                # family too heavy to merge: children enter the digest;
                # the parent's own (merge-case) mass is judged at its
                # own level
                out.extend((level, node, cnt)
                           for node, cnt in sorted(kids))
        if not nxt and level + 1 < levels:
            # nothing pushed and nothing pre-existing above: done early
            if not any(by_level[lv] for lv in range(level + 1, levels + 1)):
                break
    out.extend((levels, node, cnt)
               for node, cnt in sorted(by_level[levels].items()) if cnt)
    return out


def float_leaf(col: Column, lo, hi, levels: int,
               out_of_range: str = "clamp") -> Column:
    """Float-domain leaf mapping with a DOCUMENTED, engine-portable
    rounding contract (round-4 VERDICT item 5; the reference's
    value-space decimal handling is builtins.py:87-94 — floats enter
    the ordered machinery as exact IEEE values, and so here):

      1. value -> double (IEEE-754 binary64);
      2. NaN -> NULL (dropped by qdigest like any NULL): NaN has no
         rank in the value space — the same rule that keeps NaN out of
         ordered facets (r4 NaN-unordered semantics);
      3. s = (value - lo) * 2^levels / (hi - lo), every operation in
         double, evaluated LEFT TO RIGHT exactly as parenthesized.
         IEEE arithmetic is deterministic, so any engine computing
         this expression over the same doubles yields bit-identical s
         — this is what makes a float-domain digest hash-checkable
         against DuckDB (float_leaf_sql emits the same expression);
      4. out_of_range='clamp' (default): s clamps into
         [0, 2^levels - 1] BEFORE floor, so -INF/+INF and values
         outside [lo, hi) land in the first/last leaf (v == hi lands
         in the last leaf); 'drop' maps them to NULL instead;
      5. leaf = floor(s) cast to bigint (exact after the clamp/gate).

    lo/hi are converted through float() once, driver-side; the SQL
    twin embeds them via repr(), which round-trips doubles exactly.
    """
    import math
    lo, hi = float(lo), float(hi)
    if math.isnan(lo) or math.isnan(hi) or math.isinf(lo) \
            or math.isinf(hi) or not hi > lo:
        raise ValueError(f"float_leaf needs finite lo < hi, got "
                         f"[{lo}, {hi})")
    c = col.cast("double")
    c = F.when(~F.isnan(c), c)
    s = (c - F.lit(lo)) * F.lit(float(2 ** levels)) / F.lit(hi - lo)
    max_leaf = float(2 ** levels - 1)
    if out_of_range == "clamp":
        leaf = F.floor(F.least(F.greatest(s, F.lit(0.0)),
                               F.lit(max_leaf)))
    elif out_of_range == "drop":
        leaf = F.when((s >= F.lit(0.0)) & (s < F.lit(float(2 ** levels))),
                      F.floor(s))
    else:
        raise ValueError(f"out_of_range must be clamp|drop, "
                         f"got {out_of_range!r}")
    # greatest/least SKIP nulls in Spark (and Postgres/DuckDB), so the
    # NaN/NULL guard must re-apply after the clamp or NaN lands in
    # leaf 0
    return F.when(c.isNotNull(), leaf).cast("bigint")


def float_leaf_sql(col_sql: str, lo, hi, levels: int,
                   out_of_range: str = "clamp") -> str:
    """The DuckDB twin of float_leaf — SAME expression tree over the
    same doubles, so the leaf assignment (and therefore the digest) is
    bit-identical across engines. Keep the two functions in lockstep;
    they are the single source of the rounding contract."""
    lo, hi = float(lo), float(hi)
    span = hi - lo
    s = (f"((CAST({col_sql} AS DOUBLE) - {lo!r}) "
         f"* {float(2 ** levels)!r} / {span!r})")
    max_leaf = float(2 ** levels - 1)
    if out_of_range == "clamp":
        leaf = f"FLOOR(LEAST(GREATEST({s}, 0.0), {max_leaf!r}))"
    elif out_of_range == "drop":
        leaf = (f"CASE WHEN {s} >= 0.0 AND {s} < "
                f"{float(2 ** levels)!r} THEN FLOOR({s}) END")
    else:
        raise ValueError(f"out_of_range must be clamp|drop, "
                         f"got {out_of_range!r}")
    return (f"CASE WHEN CAST({col_sql} AS DOUBLE) IS NULL "
            f"OR isnan(CAST({col_sql} AS DOUBLE)) THEN NULL "
            f"ELSE CAST({leaf} AS BIGINT) END")


def leaf_rows(counts: DataFrame, levels: int,
              by: tuple[str, ...] = ()) -> DataFrame:
    """Exact leaf counts (by..., leaf, cnt) as level-0 digest rows
    (by..., level, node, cnt): leaf ids offset by 2^levels."""
    return counts.select(*by, F.lit(0).alias("level"),
                         (F.col("leaf") + (1 << levels)).alias("node"),
                         "cnt")


def compress(rows: DataFrame, levels: int, k: int,
             by: tuple[str, ...] = ()) -> DataFrame:
    """The one compression stage: each `by` group of (by..., level,
    node, cnt) rows — the whole frame, as one group, when `by` is
    empty — becomes its canonical digest in one bounded task
    (compress_counts over <= 2^levels rows when the input is a leaf
    histogram). Returns (by..., level, node, cnt)."""
    ensure_distributed(rows.sparkSession)   # the kernel references this
    # module by name; workers outside the repo need the pkg shipped
    schema = "".join(f"`{c}` {rows.schema[c].dataType.simpleString()}, "
                     for c in by) + DIGEST_SCHEMA

    @worker_kernel
    def _compress(pdf: pd.DataFrame) -> pd.DataFrame:
        out = compress_counts(zip(pdf["level"].tolist(),
                                  pdf["node"].tolist(),
                                  pdf["cnt"].tolist()), levels, k)
        res = pd.DataFrame(out, columns=["level", "node", "cnt"]) \
            .astype({"level": "int32", "node": "int64", "cnt": "int64"})
        for i, c in enumerate(by):
            res.insert(i, c, pdf[c].iloc[0])
        return res

    return rows.groupBy(*by).applyInPandas(_compress, schema)


def qdigest(df: DataFrame, leaf: Column, levels: int,
            k: int = 64) -> DataFrame:
    """Build the digest over an integer leaf column expression (caller
    guarantees values in [0, 2^levels); NULLs are dropped). Returns
    (level, node, cnt)."""
    counts = (df.select(leaf.cast("bigint").alias("leaf"))
              .where(F.col("leaf").isNotNull())
              .groupBy("leaf").agg(F.count(F.lit(1)).alias("cnt")))
    return compress(leaf_rows(counts, levels), levels, k)


def merge_digests(digests: list[DataFrame], levels: int,
                  k: int = 64) -> DataFrame:
    """Merge independently-built digests: union the (level, node, cnt)
    rows and re-compress canonically (threshold from the MERGED total).
    Count additivity makes the union exact; re-compression is the same
    pure function, so the merge is deterministic regardless of how the
    inputs were partitioned."""
    if not digests:
        raise ValueError("no digests to merge")
    return compress(functools.reduce(DataFrame.unionByName, digests),
                    levels, k)


def qdigest_quantiles(digest: DataFrame, quantiles: list[float],
                      levels: int) -> DataFrame:
    """Read quantiles off a digest: nodes ordered by (right leaf edge,
    level, node), cumulative counts; quantile q reports the right-edge
    leaf of the first node whose cumulative count reaches ceil(q*n).
    Returns (quantile, leaf_hi, n) — all integers except q, so the
    result hashes identically across engines. The digest is tiny
    (<= 3k rows), so the single-partition window is free."""
    width = F.expr("shiftleft(cast(1 as bigint), level)")
    base = F.expr(f"shiftleft(cast(1 as bigint), {int(levels)} - level)")
    hi = (F.col("node") + 1 - base) * width - 1
    w = Window.orderBy("hi", "level", "node") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = (digest.withColumn("hi", hi)
           .withColumn("cum", F.sum("cnt").over(w)))
    tot = cum.agg(F.sum("cnt").alias("n"))
    qs = F.explode(F.array(*[F.lit(float(q)) for q in quantiles])) \
        .alias("quantile")
    targets = tot.select(qs, F.col("n")) \
        .withColumn("target", F.ceil(F.col("quantile") * F.col("n")))
    return (cum.crossJoin(F.broadcast(targets))
            .where(F.col("cum") >= F.col("target"))
            .groupBy("quantile")
            .agg(F.min("hi").alias("leaf_hi"), F.first("n").alias("n")))
