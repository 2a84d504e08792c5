"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: exact baseline; JVM-side zip_with/aggregate
  dot products (no Python), one pass, TakeOrderedAndProject physical op
  (per-partition top-k then merge — never a global sort of all rows).
- sign-LSH (random hyperplane) bucketing: the scale path — candidates
  restricted to the query's bucket(s); hyperplanes are deterministic
  ±1 weights derived from md5 first-byte parity (plane_weight), so the
  exact buckets are reproducible by ANY engine — the DuckDB oracles
  recompute them bit-for-bit.
- all-pairs near-dup: LSH-bucket join, exact cosine verify inside
  buckets only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    d = norm(a) * norm(b)
    return F.when(d > 0, dot(a, b) / d).otherwise(0.0)


def unit_vector(v: Column) -> Column:
    """L2-normalized copy, with the norm BOUND once per row — a naive
    `transform(v, x -> x / norm(v))` re-evaluates norm() per element
    (the HOF re-inline pitfall; see operators/text.bind1)."""
    from .text import bind1
    arr = v.cast("array<double>")

    def scale(s):
        return F.when(s["n"] > 0,
                      F.transform(s["v"], lambda x: x / s["n"])) \
                .otherwise(F.transform(s["v"], lambda x: x * 0.0))

    return bind1(F.struct(arr.alias("v"), norm(arr).alias("n")), scale)


def cosine_topk(df: DataFrame, vec_col: str, id_col: str,
                query_vec: list[float], k: int = 10,
                decimals: int = 4) -> DataFrame:
    """Exact top-k by cosine similarity to a constant query vector.
    Ties broken by id (deterministic)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine(F.col(vec_col).cast("array<double>"), q)
    return (df.select(F.col(id_col), F.round(sim, decimals).alias("sim"))
            .orderBy(F.col("sim").desc(), F.col(id_col))
            .limit(k))


def plane_weight(plane: int, dim: int) -> float:
    """Deterministic random-hyperplane weight: +-1 by the parity of the
    FIRST md5 byte of 'p{plane}|d{dim}'. md5-derived (not Spark
    xxhash64) so the exact same weights are computable by any engine —
    the DuckDB oracles replicate buckets bit-for-bit via
    strpos('13579bdf', substr(md5(key), 2, 1)) (same portability move
    as the SimHash bits in operators/text.py). No RNG state anywhere."""
    import hashlib
    h = hashlib.md5(f"p{plane}|d{dim}".encode()).digest()[0]
    return -1.0 if h % 2 else 1.0


def _plane_weights_expr(plane: int, dims: int) -> Column:
    """Hyperplane as a literal array — constant-folded by Catalyst."""
    return F.array(*[F.lit(plane_weight(plane, d)) for d in range(dims)])


def lsh_bucket(vec_col: Column, n_planes: int, dims: int) -> Column:
    """Sign-LSH bucket id: n_planes sign bits packed into a bigint."""
    out = F.lit(0).cast("bigint")
    for p in range(n_planes):
        w = _plane_weights_expr(p, dims)
        bit = F.when(dot(vec_col.cast("array<double>"), w) >= 0,
                     F.shiftleft(F.lit(1).cast("bigint"), p)) \
               .otherwise(F.lit(0).cast("bigint"))
        out = out.bitwiseOR(bit)
    return out


def ann_topk_lsh(df: DataFrame, vec_col: str, id_col: str,
                 query_vec: list[float], k: int = 10, n_planes: int = 8,
                 decimals: int = 4, multiprobe: int = 1) -> DataFrame:
    """Approximate top-k: only rows in the query's LSH bucket — plus, by
    default, every bucket within Hamming distance `multiprobe` of it —
    are scored. Single-probe recall falls off a cliff as n_planes grows
    (a near neighbor differing on ONE plane's sign lands in a sibling
    bucket); multi-probe recovers most of it for the price of scanning
    1 + C(n_planes, 1..multiprobe) buckets instead of 1.

    At 10^12 rows the bucket column is a partition/cluster key, so the
    probe list prunes the SCAN (an isin on the cluster key is partition
    pruning); here it prunes the scored set."""
    from itertools import combinations
    dims = len(query_vec)
    bucketed = df.withColumn("_b", lsh_bucket(F.col(vec_col), n_planes, dims))
    qdf = df.sparkSession.createDataFrame(
        [(list(map(float, query_vec)),)], "qv array<double>")
    qb = qdf.select(lsh_bucket(F.col("qv"), n_planes, dims).alias("b")) \
            .collect()[0]["b"]
    probes = {qb}
    for d in range(1, max(0, multiprobe) + 1):
        for bits in combinations(range(n_planes), d):
            flip = 0
            for p in bits:
                flip |= 1 << p
            probes.add(qb ^ flip)
    cand = bucketed.where(F.col("_b").isin(*sorted(probes)))
    return cosine_topk(cand, vec_col, id_col, query_vec, k, decimals)


def cosine_near_dup_pairs(df: DataFrame, vec_col: str, id_col: str,
                          threshold: float = 0.95, n_planes: int = 6,
                          decimals: int = 4,
                          brute_force: bool = False,
                          max_bucket: int = 20_000,
                          dims: int | None = None) -> DataFrame:
    """All-pairs near-duplicates by cosine >= threshold.

    brute_force=True: exact O(n^2) within-join (oracle-comparable);
    default: sign-LSH blocked — pairs must share the full bucket, then
    exact cosine verify (the 100TB path; recall < 1 by design). Hot
    buckets are capped at max_bucket rows (deterministic, smallest ids
    survive) BEFORE the self-join, same as the vectorized path — a
    degenerate bucket (e.g. many identical embeddings) is otherwise
    quadratic in the join."""
    # pre-normalize ONCE PER ROW before the join: computing norm() per
    # PAIR re-traverses both arrays O(pairs) times (measured 3x on the
    # LSH-blocked path). After this, each pair costs exactly one dot.
    # The bucket is computed from the RAW vector (same sign bits as the
    # unit vector mathematically, and bit-identical to an external
    # engine that sees only the raw floats — oracle parity).
    base = df.select(F.col(id_col).alias("_id"),
                     unit_vector(F.col(vec_col)).alias("_u"),
                     F.col(vec_col).alias("_raw"))
    if brute_force:
        left = base.select(F.col("_id").alias("id_a"), F.col("_u").alias("va"))
        right = base.select(F.col("_id").alias("id_b"), F.col("_u").alias("vb"))
        j = left.crossJoin(right).where(F.col("id_a") < F.col("id_b"))
    else:
        from .dedup import _cap_buckets
        if dims is None:
            # extra driver job re-executing the frame below `df`; pass
            # dims when known (r8)
            dims = len(df.select(vec_col).first()[0])
        # bucket ONCE on the shared base, cap, then derive both join
        # sides from the SAME capped frame so left/right survivors
        # agree row-for-row. Cap order = STRING-cast id, matching the
        # vectorized path (which works on string ids throughout), so
        # an over-cap bucket keeps the identical survivor set on both
        # paths regardless of the caller's id type.
        bb = base.withColumn("_b", lsh_bucket(F.col("_raw"), n_planes, dims))
        bb = _cap_buckets(bb, ["_b"], F.col("_id").cast("string"),
                          max_bucket)
        lb = bb.select(F.col("_id").alias("id_a"), F.col("_u").alias("va"), "_b")
        rb = bb.select(F.col("_id").alias("id_b"), F.col("_u").alias("vb"), "_b")
        j = lb.join(rb, on="_b", how="inner").where(F.col("id_a") < F.col("id_b"))
    sim = dot(F.col("va"), F.col("vb"))
    if brute_force:
        # the brute path's oracle contract thresholds the UNROUNDED
        # cosine (the rounded value is presentation only); filtering on
        # the rounded alias admitted pairs in
        # [threshold - 0.5*10^-decimals, threshold) — found at sf0.001
        # (r8): exact cosine 0.2999924… rounds to 0.3000 and slipped
        # through. The LSH path below keeps the rounded-threshold
        # semantics its own oracles pin.
        return (j.where(sim >= threshold)
                .select("id_a", "id_b",
                        F.round(sim, decimals).alias("sim")))
    return (j.select("id_a", "id_b", F.round(sim, decimals).alias("sim"))
            .where(F.col("sim") >= threshold))


def cosine_near_dup_pairs_vectorized(df: DataFrame, vec_col: str,
                                     id_col: str, threshold: float = 0.95,
                                     n_planes: int = 8,
                                     decimals: int = 4,
                                     max_bucket: int = 20_000,
                                     dims: int | None = None) -> DataFrame:
    """Scale path: sign-LSH bucketing + per-bucket numpy MATMUL via
    applyInPandas — one BLAS gemm per bucket instead of per-pair HOF
    array traversals (~100x on the dot products). Buckets above
    max_bucket are truncated deterministically (sorted by id) so one
    degenerate bucket cannot OOM an executor; log-scale estimate:
    20k x 20k x 64 dims = 25 GFLOP ~ seconds.

    dims: the embedding dimensionality (for the literal hyperplane
    arrays). Pass it when known — the None fallback probes the frame
    with first(), an extra driver job that re-executes everything
    below `df` (r8: on a repartitioned input that is a full shuffle
    for one row)."""
    import numpy as np
    import pandas as pd

    from ..distribute import ensure_distributed, worker_kernel
    ensure_distributed(df.sparkSession)

    if dims is None:
        dims = len(df.select(vec_col).first()[0])
    base = df.select(
        F.col(id_col).cast("string").alias("id"),
        unit_vector(F.col(vec_col)).alias("u"),
        lsh_bucket(F.col(vec_col), n_planes, dims).alias("b"))
    # bound hot buckets BEFORE the groupBy ships them to Python: the
    # row_number window caps the shuffle and the Arrow transfer (a
    # .head() inside per_bucket would receive the full degenerate bucket
    # first — unbounded transfer). Window + applyInPandas share the same
    # hash partitioning on `b`, so the cap costs a sort, not a shuffle.
    from .dedup import _cap_buckets
    base = _cap_buckets(base, ["b"], "id", max_bucket)

    out_schema = "id_a string, id_b string, sim double"

    @worker_kernel
    def per_bucket(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id")
        ids = pdf["id"].to_numpy()
        m = np.vstack(pdf["u"].to_numpy())          # (n, dims) unit rows
        sims = m @ m.T                              # one gemm
        iu = np.triu_indices(len(ids), k=1)
        s = np.round(sims[iu], decimals)
        keep = s >= threshold
        return pd.DataFrame({"id_a": ids[iu[0][keep]],
                             "id_b": ids[iu[1][keep]],
                             "sim": s[keep]})

    pairs = base.groupBy("b").applyInPandas(per_bucket, out_schema)
    # id_a/id_b order within numpy triu follows sorted ids already
    return pairs.select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
        "sim").distinct()


# above this many centroids the unrolled argmin expression (k branches
# in one projection) stops being reasonable: codegen size grows O(k) and
# the driver-side expression build dominates. The broadcast-join
# assignment takes over — O(1) plan size at any k.
_IVF_EXPR_MAX_K = 64


def _assign_cells(df: DataFrame, vec_col: str, id_col: str,
                  cents: list[list[float]], method: str = "auto"
                  ) -> DataFrame:
    """df + `_cell` = argmin_k ||v - c_k||^2.

    method='expr' (small k): centroids inlined into ONE codegen argmin
    expression — a narrow projection, no join, no shuffle.
    method='join' (large k): centroids as a BROADCAST DataFrame; score
    every (row, centroid) pair in the broadcast-nested-loop stage, then
    max_by per id. The groupBy partially aggregates BEFORE the shuffle
    (each input row's k scored copies live in one partition), so the
    exchange carries n (id, cell) pairs, not n*k. Tie-break matches the
    expr path: highest score, then lowest cell (max_by on a
    (score, -cell) struct vs array_position-of-first-max)."""
    vec = F.col(vec_col).cast("array<double>")
    if method == "expr" or (method == "auto"
                            and len(cents) <= _IVF_EXPR_MAX_K):
        return df.withColumn("_cell", _nearest_cell(vec, cents))
    spark = df.sparkSession
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "_cell int, _cvec array<double>")
    cnorm = F.aggregate(F.col("_cvec"), F.lit(0.0),
                        lambda a, x: a + x * x)
    score = 2.0 * dot(F.col("_v"), F.col("_cvec")) - cnorm
    best = (df.select(F.col(id_col).alias("_aid"), vec.alias("_v"))
            .join(F.broadcast(cdf), how="cross")
            .groupBy("_aid")
            .agg(F.max_by(
                "_cell",
                F.struct(score.alias("s"),
                         (-F.col("_cell")).alias("nc"))).alias("_cell")))
    return df.join(best, on=df[id_col] == best["_aid"], how="inner") \
        .drop("_aid")


def ivf_assign(df: DataFrame, vec_col: str, id_col: str,
               n_centroids: int = 16,
               n_iters: int = 2,
               assign_method: str = "auto"
               ) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer: deterministic seeds (the k vectors with the
    smallest ids — no RNG) refined by `n_iters` distributed Lloyd steps.
    Returns (df + `_cell`, centroids).

    Physical shape per Lloyd step: assignment via _assign_cells (inlined
    argmin expression for small k; broadcast-join + partial-agg max_by
    for k beyond _IVF_EXPR_MAX_K — the 10^3+-centroid path), and the
    centroid update is ONE partial+final aggregate of `dims` avg()s
    per cell (no explode: dims separate avg aggregates in a single
    groupBy pass, shuffling k x dims doubles). Centroids are rounded to
    6 dp after each step so the float-sum reduction order cannot leak
    nondeterminism into the assignment. Empty cells keep their previous
    centroid. At 10^12 rows run more iters as an offline job; the query
    machinery is identical either way."""
    rows = (df.select(F.col(id_col), F.col(vec_col).cast("array<double>"))
            .orderBy(F.col(id_col)).limit(n_centroids).collect())
    cents = [[round(float(x), 6) for x in r[1]] for r in rows]
    dims = len(cents[0]) if cents else 0
    vec = F.col(vec_col).cast("array<double>")
    for _ in range(max(0, n_iters)):
        means = (_assign_cells(df, vec_col, id_col, cents, assign_method)
                 .groupBy("_cell")
                 .agg(*[F.avg(F.element_at(vec, d + 1)).alias(f"m{d}")
                        for d in range(dims)])
                 .collect())
        new = {int(r["_cell"]): [round(float(r[f"m{d}"]), 6)
                                 for d in range(dims)] for r in means}
        cents = [new.get(i, c) for i, c in enumerate(cents)]
    assigned = _assign_cells(df, vec_col, id_col, cents, assign_method)
    return assigned, cents


def _nearest_cell(vec: Column, centroids: list[list[float]]) -> Column:
    """argmin_k ||v - c_k||^2 == argmax_k (2*v.c_k - ||c_k||^2); computed
    as an array of scores + array_position(max) — all JVM expressions."""
    from .text import bind1
    arr = vec.cast("array<double>")

    def score_of(v):
        scores = []
        for c in centroids:
            cc = sum(x * x for x in c)
            carr = F.array(*[F.lit(x) for x in c])
            scores.append(2.0 * dot(v, carr) - F.lit(cc))
        s = F.array(*scores)
        return (F.array_position(s, F.array_max(s)) - 1).cast("int")

    return bind1(arr, score_of)


def ann_topk_ivf(df: DataFrame, vec_col: str, id_col: str,
                 query_vec: list[float], k: int = 10,
                 n_centroids: int = 16, nprobe: int = 4,
                 decimals: int = 4,
                 assign_method: str = "auto") -> DataFrame:
    """IVF ANN: score only the nprobe cells nearest the query. At scale,
    `_cell` is the table's partition/cluster key, so probing prunes
    (n_centroids - nprobe)/n_centroids of the scan."""
    assigned, cents = ivf_assign(df, vec_col, id_col, n_centroids,
                                 assign_method=assign_method)

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    order = sorted(range(len(cents)), key=lambda i: d2(cents[i], query_vec))
    probe = order[:nprobe]
    cand = assigned.where(F.col("_cell").isin(probe))
    return cosine_topk(cand, vec_col, id_col, query_vec, k, decimals)
