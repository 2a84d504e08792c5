"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: exact baseline; JVM-side zip_with/aggregate
  dot products (no Python), one pass, TakeOrderedAndProject physical op
  (per-partition top-k then merge — never a global sort of all rows).
- sign-LSH (random hyperplane) bucketing: the scale path — candidates
  restricted to the query's bucket(s); hyperplanes are deterministic
  ±1 weights derived from md5 first-byte parity (plane_weight), so the
  exact buckets are reproducible by ANY engine — the DuckDB oracles
  recompute them bit-for-bit.
- all-pairs near-dup: sign-LSH buckets, exact cosine verify inside
  each bucket by one blocked BLAS gemm (one applyInPandas, no join).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType


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


# one gemm block of the LSH near-dup kernel holds at most this many
# float64 cosines (32 MB), whatever the bucket size
_BLOCK_DOUBLES = 1 << 22


def cosine_pair_blocks(ids: np.ndarray, m: np.ndarray, floor: float):
    """The near-dup pairs of one bucket: `ids` (at least one) sorted
    ascending, `m` their unit rows. Returns index arrays (a, b) and the unrounded cosines of
    every pair with ids[a] < ids[b] (strictly: no self-pair, no pair of
    duplicate ids) and cosine >= floor. The gemm runs in row blocks,
    m[i:i+B] @ m[i:].T with B = 2^22 // n, so one block holds at most
    about 2^22 cosines: memory is O(n * dims + pairs kept), never the
    O(n^2) of a whole-bucket m @ m.T."""
    step = max(1, _BLOCK_DOUBLES // len(ids))
    a, b, sims = [], [], []
    for i in range(0, len(ids), step):
        block = m[i:i + step] @ m[i:].T
        r, c = np.nonzero(block >= floor)
        s = block[r, c]
        r += i
        c += i
        # sorted ids: ids[r] < ids[c] also drops the diagonal and the
        # block's lower triangle
        keep = ids[r] < ids[c]
        a.append(r[keep])
        b.append(c[keep])
        sims.append(s[keep])
    return np.concatenate(a), np.concatenate(b), np.concatenate(sims)


def cosine_near_dup_pairs(df: DataFrame, vec_col: str, id_col: str,
                          threshold: float = 0.95, n_planes: int = 6,
                          decimals: int = 4,
                          brute_force: bool = False,
                          max_bucket: int = 20_000,
                          dims: int | None = None) -> DataFrame:
    """All-pairs near-duplicates (id_a < id_b, sim) by cosine >= threshold.

    brute_force=True: exact O(n^2) crossJoin (oracle-comparable) that
    thresholds the UNROUNDED cosine. Default: sign-LSH blocked — pairs
    must share the full bucket, verified by one BLAS gemm per bucket
    (cosine_pair_blocks) in one applyInPandas, and thresholded on the
    cosine ROUNDED by Spark (the 100TB path; recall < 1 by design).
    Pairs are oriented by the id column's own type: numeric ids in
    numeric order, string ids lexicographically. NULL ids and NULL
    vectors never pair. Hot buckets are capped at max_bucket rows
    before the groupBy ships them to Python (deterministic: the
    smallest string-cast ids survive).

    dims: the embedding dimensionality (for the literal hyperplane
    arrays). Pass it when known — the None fallback probes the frame
    with first(), an extra driver job that re-executes everything below
    `df` (r8: on a repartitioned input that is a full shuffle for one
    row)."""
    if brute_force:
        base = df.select(F.col(id_col).alias("_id"),
                         unit_vector(F.col(vec_col)).alias("_u"))
        left = base.select(F.col("_id").alias("id_a"), F.col("_u").alias("va"))
        right = base.select(F.col("_id").alias("id_b"), F.col("_u").alias("vb"))
        sim = dot(F.col("va"), F.col("vb"))
        # the brute path's oracle contract thresholds the UNROUNDED
        # cosine (the rounded value is presentation only); filtering on
        # the rounded alias admitted pairs in
        # [threshold - 0.5*10^-decimals, threshold) — found at sf0.001
        # (r8): exact cosine 0.2999924… rounds to 0.3000 and slipped
        # through. The LSH path below keeps the rounded-threshold
        # semantics its own oracles pin.
        return (left.crossJoin(right)
                .where((F.col("id_a") < F.col("id_b")) & (sim >= threshold))
                .select("id_a", "id_b", F.round(sim, decimals).alias("sim")))

    import pandas as pd

    from ..distribute import ensure_distributed, worker_kernel
    from .dedup import _cap_buckets
    ensure_distributed(df.sparkSession)   # the kernel references this
    # module by name; workers outside the repo need the pkg shipped
    if dims is None:
        dims = len(df.select(vec_col).first()[0])
    # normalize once per row; the bucket comes from the RAW vector (the
    # unit vector's sign bits, bit-identical to an external engine that
    # sees only the raw floats — oracle parity)
    base = (df.where(F.col(id_col).isNotNull() & F.col(vec_col).isNotNull())
            .select(F.col(id_col).alias("id"),
                    unit_vector(F.col(vec_col)).alias("u"),
                    lsh_bucket(F.col(vec_col), n_planes, dims).alias("b")))
    # bound hot buckets BEFORE the groupBy: the window shares the
    # groupBy's hash partitioning on `b`, so the cap costs a sort, not a
    # shuffle
    base = _cap_buckets(base, ["b"], F.col("id").cast("string"), max_bucket)
    schema = StructType([StructField("id_a", base.schema["id"].dataType),
                         StructField("id_b", base.schema["id"].dataType),
                         StructField("sim", DoubleType())])
    # the kernel keeps a margin below the threshold; rounding and the
    # threshold itself are Spark's, as in the oracles
    floor = threshold - 10 ** -decimals

    @worker_kernel
    def per_bucket(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id")
        ids = pdf["id"].to_numpy()
        a, b, sim = cosine_pair_blocks(ids, np.vstack(pdf["u"].to_numpy()),
                                       floor)
        return pd.DataFrame({"id_a": ids[a], "id_b": ids[b], "sim": sim})

    return (base.groupBy("b").applyInPandas(per_bucket, schema)
            .select("id_a", "id_b", F.round("sim", decimals).alias("sim"))
            .where(F.col("sim") >= threshold)
            .distinct())


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
