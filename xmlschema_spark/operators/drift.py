"""Distribution-drift checks: histograms, KL and JS divergence.

No reference analog — these are the Spark-scale additions the north rule
requires (column stats + distribution-drift checks). Everything is
built-in Catalyst aggregation:

- histogram: fixed-width clamped bins via floor(), a hash aggregate with
  partial+final combine — one shuffle of at most n_bins rows per column.
- KL divergence: joined bin tables with Laplace smoothing, a few-row
  computation after the aggregates; deterministic at any parallelism.

Quantiles come from the one quantile sketch, the canonical q-digest in
operators/sketch.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def histogram(df: DataFrame, col: str, lo: float, width: float,
              n_bins: int) -> DataFrame:
    """(bin, n) fixed-width histogram, clamped to [0, n_bins-1]."""
    b = F.greatest(
        F.least(F.floor((F.col(col) - lo) / width), F.lit(n_bins - 1)),
        F.lit(0)).cast("bigint")
    return (df.where(F.col(col).isNotNull())
            .groupBy(b.alias("bin"))
            .agg(F.count(F.lit(1)).alias("n")))


def kl_divergence(p_bins: DataFrame, q_bins: DataFrame, bin_col: str,
                  n_bins: int, smooth: float = 0.5) -> DataFrame:
    """KL(P||Q) over pre-binned columns. Input: DataFrames with a `bin`
    (or bin_col) column, one row per observation OR pre-counted (see
    kl_from_counts). Laplace smoothing `smooth` per bin so empty bins
    don't produce infinities."""
    spark = p_bins.sparkSession
    pc = p_bins.groupBy(F.col(bin_col).alias("bin")).agg(
        F.count(F.lit(1)).cast("double").alias("pc"))
    qc = q_bins.groupBy(F.col(bin_col).alias("bin")).agg(
        F.count(F.lit(1)).cast("double").alias("qc"))
    bins = spark.range(n_bins).select(F.col("id").alias("bin"))
    return kl_from_counts(bins, pc, qc, n_bins, smooth)


def _smoothed_pmfs(bins: DataFrame, pc: DataFrame, qc: DataFrame,
                   n_bins: int, smooth: float):
    """Shared scaffolding for the divergence metrics: join counts onto
    the bin grid, Laplace-smooth, return (joined_df, p_pmf, q_pmf).
    Sum over bins of (c + smooth) = total + smooth*n_bins -> proper
    pmf."""
    joined = (bins.join(pc, on="bin", how="left")
                  .join(qc, on="bin", how="left")
                  .select("bin",
                          F.coalesce("pc", F.lit(0.0)).alias("pc"),
                          F.coalesce("qc", F.lit(0.0)).alias("qc")))
    tot = joined.agg(F.sum("pc").alias("pt"), F.sum("qc").alias("qt"))
    j = joined.crossJoin(F.broadcast(tot))
    p = (F.col("pc") + smooth) / (F.col("pt") + smooth * n_bins)
    q = (F.col("qc") + smooth) / (F.col("qt") + smooth * n_bins)
    return j, p, q


def kl_from_counts(bins: DataFrame, pc: DataFrame, qc: DataFrame,
                   n_bins: int, smooth: float = 0.5) -> DataFrame:
    j, p, q = _smoothed_pmfs(bins, pc, qc, n_bins, smooth)
    return j.agg(F.sum(p * F.log(p / q)).alias("kl"))


def _hist_row_exprs(cols: list[str], bounds: dict, n_bins: int,
                    tag: str) -> list:
    """All k*n_bins histogram counters as aggregate expressions — ONE
    partial-agg pass over the data reduces to a single row (the
    profile_lineitem_scale pattern: no Expand, no per-column rescans)."""
    aggs = []
    for ci, c in enumerate(cols):
        lo, hi = bounds[c]
        width = (hi - lo) / n_bins or 1.0
        b = F.greatest(
            F.least(F.floor((F.col(c) - lo) / width), F.lit(n_bins - 1)),
            F.lit(0)).cast("bigint")
        for i in range(n_bins):
            aggs.append(
                F.sum(F.when(F.col(c).isNotNull() & (b == i), 1)
                      .otherwise(0)).cast("double")
                .alias(f"{tag}_{ci}_{i}"))
    return aggs


def drift_report(cur: DataFrame, ref: DataFrame, cols: list[str],
                 n_bins: int = 32, kl_threshold: float = 0.05,
                 bounds: dict | None = None,
                 smooth: float = 0.5) -> DataFrame:
    """Per-column KL(cur || ref) with shared binning derived from ref's
    min/max (stable binning => deterministic, comparable across runs).

    SINGLE-PASS multi-column shape (round 7): all k*n_bins histogram
    counters for all profiled columns are computed in ONE aggregation
    over `cur` and ONE over `ref` — two scans of the data total when
    `bounds` ({col: (lo, hi)}) is supplied, regardless of how many
    columns are profiled (previously 2k scans). The KL sums are then
    assembled as expressions over the two single-row results — a
    broadcast nested-loop join of two 1-row frames, no data movement.
    Without explicit bounds, one extra min/max reduce over `ref`
    derives them (binning needs bounds before counting)."""
    if bounds is None:
        r = ref.agg(*[f for ci, c in enumerate(cols) for f in
                      (F.min(c).alias(f"mn{ci}"),
                       F.max(c).alias(f"mx{ci}"))]).collect()[0]
        bounds = {c: (float(r[f"mn{ci}"] or 0.0),
                      float(r[f"mx{ci}"] or 1.0))
                  for ci, c in enumerate(cols)}
    crow = cur.agg(*_hist_row_exprs(cols, bounds, n_bins, "p"))
    rrow = ref.agg(*_hist_row_exprs(cols, bounds, n_bins, "q"))
    j = crow.crossJoin(rrow)
    kl_cols = []
    for ci, c in enumerate(cols):
        pt = sum((F.col(f"p_{ci}_{i}") for i in range(n_bins)),
                 F.lit(0.0)) + smooth * n_bins
        qt = sum((F.col(f"q_{ci}_{i}") for i in range(n_bins)),
                 F.lit(0.0)) + smooth * n_bins
        terms = None
        for i in range(n_bins):
            p = (F.col(f"p_{ci}_{i}") + smooth) / pt
            q = (F.col(f"q_{ci}_{i}") + smooth) / qt
            t = p * F.log(p / q)
            terms = t if terms is None else terms + t
        kl_cols.append(terms.alias(f"kl_{ci}"))
    one = j.select(*kl_cols)
    stack_args = ", ".join(
        f"'{c}', round(kl_{ci}, 6)" for ci, c in enumerate(cols))
    return (one.selectExpr(f"stack({len(cols)}, {stack_args}) AS (col, kl)")
            .select("col", "kl",
                    (F.col("kl") > kl_threshold).alias("drifted")))


def js_from_counts(bins: DataFrame, pc: DataFrame, qc: DataFrame,
                   n_bins: int, smooth: float = 0.5) -> DataFrame:
    """Jensen-Shannon divergence from pre-counted bins: symmetric and
    bounded by ln(2), so thresholds transfer across column scales
    (KL(P||Q) is unbounded and direction-dependent). Same smoothing and
    physical shape as kl_from_counts — one few-row join after the
    aggregates."""
    j, p, q = _smoothed_pmfs(bins, pc, qc, n_bins, smooth)
    m = (p + q) / 2
    return j.agg(F.sum(0.5 * p * F.log(p / m)
                       + 0.5 * q * F.log(q / m)).alias("js"))


def js_divergence(p_bins: DataFrame, q_bins: DataFrame, bin_col: str,
                  n_bins: int, smooth: float = 0.5) -> DataFrame:
    """JS divergence over per-observation binned inputs (see
    kl_divergence for the counting shape)."""
    spark = p_bins.sparkSession
    pc = p_bins.groupBy(F.col(bin_col).alias("bin")).agg(
        F.count(F.lit(1)).cast("double").alias("pc"))
    qc = q_bins.groupBy(F.col(bin_col).alias("bin")).agg(
        F.count(F.lit(1)).cast("double").alias("qc"))
    bins = spark.range(n_bins).select(F.col("id").alias("bin"))
    return js_from_counts(bins, pc, qc, n_bins, smooth)
