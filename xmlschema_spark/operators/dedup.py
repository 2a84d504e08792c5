"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale notes (the whole point of these shapes):
- exact: one window pass partitioned by fingerprint — the shuffle carries
  each row once; the keeper is the min-id row (deterministic at any
  parallelism, never shuffle-order 'first'). NULL-text rows are kept
  unconditionally (no content to compare; a naive equi-join on the
  fingerprint would silently DROP them — null keys never match).
- near-dup candidates: lsh_bucket_pairs (md5 band keys over a MinHash
  signature computed by one mapInArrow pass), simhash_near_dups and
  hamming_near_dups (Hamming slices of a 48- or 64-bit hash, verified by
  popcount(xor)) all run ONE banded core, _banded_pairs: explode each
  doc once per band, one bucket shuffle that first caps hot buckets to
  their lexicographically-first max_bucket members (a row_number()
  window, so a degenerate boilerplate bucket never reaches the pair
  kernel), then one mapInArrow kernel that walks each bucket's sorted
  run and enumerates its pairs in bounded row blocks
  (banded_pair_blocks), and a final distinct. The Hamming verify runs
  in that kernel too: a pair beyond max_hamming is dropped before any
  pair row exists. Never an all-pairs self-join.
"""

from __future__ import annotations

import os
import re
import sys
import zlib

import numpy as np
from pyspark import cloudpickle
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from .text import (fingerprint, minhash_signatures, shingles,
                   simhash48_fast)

SIMHASH_BITS = 48
SIMHASH_BANDS = 4          # 4 x 12-bit bands: pigeonhole-safe for d <= 3


def exact_duplicates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate groups by whole-text fingerprint: one row per
    duplicated doc with its group digest + group size."""
    with_fp = df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
    groups = (with_fp.where(F.col("fp").isNotNull())
              .groupBy("fp").agg(F.count(F.lit(1)).alias("group_n"))
              .where(F.col("group_n") > 1))
    return with_fp.join(groups, on="fp", how="inner") \
        .select(id_col, "fp", "group_n")


def _cap_buckets(df: DataFrame, keys: list[str], order_col,
                 max_bucket: int) -> DataFrame:
    """Keep the first max_bucket rows per bucket, ordered by order_col —
    (a column name or a Column expression) — deterministic at any
    parallelism, and BOUNDED BEFORE a Python kernel (the banded pair
    mapInArrow, the cosine applyInPandas) sees the bucket. The window's
    hash partitioning and sort are reused by what follows on the same
    keys (no extra Exchange or Sort — asserted in
    tests/test_banded_near_dups.py)."""
    w = Window.partitionBy(*keys).orderBy(order_col)
    return (df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= max_bucket).drop("_rn"))


# The banded pair kernel. This module pickles by value, so the Python
# workers run it without importing the package.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

# one block of the kernel enumerates at most about this many candidate
# pairs, whatever the bucket size
_BLOCK_PAIRS = 1 << 20


def _popcount16() -> np.ndarray:
    """Set bits of every 16-bit value, as a 2^16-entry uint8 table."""
    v = np.arange(1 << 16, dtype=">u2").view(np.uint8)
    return np.unpackbits(v).reshape(-1, 16).sum(1, dtype=np.uint8)


def banded_pair_blocks(keys: np.ndarray, sh: np.ndarray | None = None,
                       max_hamming: int = 64, table: np.ndarray | None = None,
                       docs: np.ndarray | None = None):
    """The candidate pairs of sorted bucket runs: adjacent rows with
    equal `keys` form one bucket, in doc order. Returns index arrays
    (a, b) of every pair a < b inside a bucket and, given the 64-bit
    hashes `sh`, keeps only the pairs with popcount(sh[a] ^ sh[b]) <=
    max_hamming and returns those distances (int32) as the third array;
    without `sh` every pair is kept and the third value is None. Given
    `docs`, row labels that are equal exactly for rows of one doc id, a
    pair of rows with equal labels is dropped: a doc id listed twice in
    a bucket never pairs with itself, though each of its rows still
    took one of the bucket's max_bucket slots. Pairs are enumerated in
    row blocks of about _BLOCK_PAIRS candidates, so memory is O(rows +
    pairs kept), never O(bucket^2). `table` is _popcount16(), built here
    when not passed."""
    n = len(keys)
    if sh is not None:
        sh = np.ascontiguousarray(sh).view(np.uint64)
        if table is None:
            table = _popcount16()
    starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
    ends = np.repeat(np.r_[starts[1:], n], np.diff(np.r_[starts, n]))
    rows = np.arange(n)
    partners = ends - rows - 1
    before = np.cumsum(partners) - partners     # pairs of earlier rows
    none = np.empty(0, np.intp)
    a_out, b_out, d_out = [none], [none], [np.empty(0, np.int32)]
    r0 = 0
    while r0 < n:
        r1 = max(r0 + 1, int(np.searchsorted(
            before, before[r0] + _BLOCK_PAIRS, side="left")))
        c = partners[r0:r1]
        # pair k of row r pairs it with row r + 1 + (k - before[r])
        b = np.arange(before[r0], before[r1 - 1] + c[-1])
        b += np.repeat(rows[r0:r1] + 1 - before[r0:r1], c)
        if sh is None:
            a = np.repeat(rows[r0:r1], c)
        else:
            x = np.repeat(sh[r0:r1], c)
            x ^= sh[b]
            # popcount by 16-bit table lookups. Half the hash first: its
            # count is a lower bound that already rules out nearly every
            # pair, so the other half is counted only for the rest
            q = x.view(np.uint16).reshape(-1, 4)
            d = np.take(table, q[:, 0])
            d += np.take(table, q[:, 1])
            k = np.flatnonzero(d <= max_hamming)
            d = d[k]
            d += np.take(table, q[k, 2])
            d += np.take(table, q[k, 3])
            keep = d <= max_hamming
            k, d = k[keep], d[keep]
            b = b[k]
            a = r0 + np.searchsorted(before[r0:r1], k + before[r0],
                                     side="right") - 1
        if docs is not None:
            k = np.flatnonzero(docs[a] != docs[b])
            a, b = a[k], b[k]
            if sh is not None:
                d = d[k]
        if sh is not None:
            d_out.append(d.astype(np.int32))
        a_out.append(a)
        b_out.append(b)
        r0 = r1
    return (np.concatenate(a_out), np.concatenate(b_out),
            None if sh is None else np.concatenate(d_out))


def _bucket_runs(rows) -> np.ndarray:
    """Run labels of an Arrow batch sorted by (band, key): equal labels
    for the rows of one bucket."""
    import pyarrow.compute as pc
    n = rows.num_rows
    new = pc.or_(*(pc.not_equal(rows[c].slice(1), rows[c].slice(0, n - 1))
                   for c in ("band", "key")))
    return np.r_[0, np.cumsum(new.to_numpy(zero_copy_only=False))]


def _doc_runs(rows, runs: np.ndarray) -> np.ndarray | None:
    """Labels equal exactly for the rows of one doc id inside one
    bucket of an Arrow batch in (band, key, doc) order, or None when no
    bucket lists a doc id twice."""
    import pyarrow.compute as pc
    n = rows.num_rows
    doc = rows["doc"]
    same = pc.equal(doc.slice(1), doc.slice(0, n - 1)).to_numpy(
        zero_copy_only=False) & (runs[1:] == runs[:-1])
    if not same.any():
        return None
    return np.r_[0, np.cumsum(~same)]


def _last_bucket(batch) -> tuple:
    """(band, key) of an Arrow batch's last row."""
    return tuple(batch[c][batch.num_rows - 1].as_py() for c in ("band", "key"))


def _concat_batches(batches: list):
    """One Arrow record batch holding the rows of `batches` in order."""
    import pyarrow as pa
    if len(batches) == 1:
        return batches[0]
    return pa.Table.from_batches(batches).combine_chunks().to_batches()[0]


def _banded_pairs(df: DataFrame, keys: list, max_bucket: int,
                  max_hamming: int | None = None) -> DataFrame:
    """The one banded near-dup pipeline: pairs (id_a, id_b) of `doc`s
    that share a bucket in a band, id_a before id_b in doc order, one row
    per shared band; callers end with the distinct. Given max_hamming,
    df also holds the 64-bit hash `sh`, a pair is kept only when
    popcount(sh_a ^ sh_b) <= max_hamming, and that distance is its
    `hamming` (int); rows with a NULL hash never pair. A doc never
    pairs with itself, and a NULL bucket key puts its row in no bucket.

    `keys[b]` is band b's bucket key, a Column over df. Each doc is
    exploded once per band into (doc, [sh,] band, key); ONE shuffle on
    (band, key) feeds the _cap_buckets window, so a hot bucket is cut to
    its first max_bucket docs, and the window's (band, key, doc) order
    hands each bucket to one mapInArrow kernel as a contiguous run. The
    kernel carries a bucket split across Arrow batches into the next
    batch and enumerates and verifies its pairs with banded_pair_blocks:
    never a self-join, never a materialized member array. With the
    callers' distinct the plan has exactly two Exchanges (pinned by
    tests/test_banded_near_dups.py)."""
    from ..distribute import worker_kernel
    hamming = max_hamming is not None
    carry = ["sh"] if hamming else []
    live = F.col("doc").isNotNull()       # pairs satisfy id_a < id_b
    if hamming:
        live &= F.col("sh").isNotNull()
    bands = F.array(*(F.struct(F.lit(b).alias("band"), k.alias("key"))
                      for b, k in enumerate(keys)))
    blocks = (df.where(live)
              .select("doc", *carry, F.explode(bands).alias("bb"))
              .select("doc", *carry, "bb.band", "bb.key")
              .where(F.col("key").isNotNull()))
    capped = (_cap_buckets(blocks, ["band", "key"], "doc", max_bucket)
              .sortWithinPartitions("band", "key", "doc"))
    doc_type = capped.schema["doc"].dataType
    fields = [StructField("id_a", doc_type), StructField("id_b", doc_type)]
    if hamming:
        fields.append(StructField("hamming", IntegerType()))
    names = [f.name for f in fields]

    @worker_kernel
    def run(batches):
        import pyarrow as pa
        table = _popcount16() if hamming else None

        def pairs(rows, runs):
            a, b, d = banded_pair_blocks(
                runs, rows["sh"].to_numpy() if hamming else None,
                max_hamming, table, _doc_runs(rows, runs))
            cols = [rows["doc"].take(a), rows["doc"].take(b)]
            if hamming:
                cols.append(pa.array(d, pa.int32()))
            return pa.record_batch(cols, names=names)

        # batches whose last bucket may continue in the next batch
        pending = []
        for batch in batches:
            if not batch.num_rows:
                continue
            if pending and _last_bucket(batch) == _last_bucket(pending[-1]):
                pending.append(batch)    # all of it is the open bucket
                continue
            rows = _concat_batches(pending + [batch])
            runs = _bucket_runs(rows)
            last = int(np.searchsorted(runs, runs[-1]))
            if last:
                yield pairs(rows.slice(0, last), runs[:last])
            pending = [rows.slice(last)]
        if pending:
            rows = _concat_batches(pending)
            yield pairs(rows, np.zeros(rows.num_rows, np.intp))

    return capped.mapInArrow(run, StructType(fields))


def lsh_bucket_pairs(df: DataFrame, text_col: str, id_col: str,
                     n_hashes: int = 4, band_size: int = 2,
                     max_bucket: int = 64) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b, distinct) from MinHash
    LSH: docs whose signatures agree on every hash of at least one band
    of `band_size` hashes. Candidates only: verify with ngram_jaccard.
    Physical shape and hot-bucket cap: see _banded_pairs."""
    if band_size < 1 or n_hashes < band_size or n_hashes % band_size:
        raise ValueError(f"band_size must be a positive divisor of "
                         f"n_hashes={n_hashes}, got {band_size!r}")
    sigs = minhash_signatures(df, text_col, id_col, n_hashes)
    # concat, not concat_ws: a NULL signature (NULL text, or fewer than
    # k tokens) keeps NULL band keys, which _banded_pairs drops, instead
    # of sharing md5('|') with every other NULL signature
    keys = []
    for b in range(0, n_hashes, band_size):
        parts = [F.col(f"h{b}")]
        for i in range(b + 1, b + band_size):
            parts += [F.lit("|"), F.col(f"h{i}")]
        keys.append(F.md5(F.concat(*parts)))
    return _banded_pairs(sigs.withColumnRenamed(id_col, "doc"), keys,
                         max_bucket).distinct()


def ngram_jaccard(df: DataFrame, text_col: str, id_col: str,
                  pairs: DataFrame, k: int = 3,
                  threshold: float = 0.0) -> DataFrame:
    """Exact word-k-gram Jaccard for given candidate pairs (verification
    stage after LSH): (id_a, id_b, jaccard)."""
    sh = df.select(F.col(id_col).alias("_id"),
                   F.array_distinct(shingles(F.col(text_col), k)).alias("_sh"))
    j = (pairs
         .join(sh.withColumnRenamed("_id", "id_a")
                 .withColumnRenamed("_sh", "sh_a"), on="id_a")
         .join(sh.withColumnRenamed("_id", "id_b")
                 .withColumnRenamed("_sh", "sh_b"), on="id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(0.0)
    return (j.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


def _hamming_pairs(h: DataFrame, n_bits: int, bands: int,
                   max_hamming: int, max_bucket: int) -> DataFrame:
    """Banded-Hamming near-dups over h = (doc, sh bigint): block on the
    `bands` equal slices of sh's low n_bits, then verify
    popcount(sh_a ^ sh_b) <= max_hamming exactly in the bucket kernel of
    _banded_pairs, before any pair row exists.

    Recall (pigeonhole): a pair within distance d shares at least one
    slice iff d <= bands-1, so blocking is exact up to there; beyond it
    pairs differing in every slice are missed, and this warns."""
    if bands < 1 or n_bits % bands:
        raise ValueError(f"bands must be a positive divisor of {n_bits}, "
                         f"got {bands!r}")
    if (isinstance(max_hamming, bool) or not isinstance(max_hamming, int)
            or not 0 <= max_hamming <= n_bits):
        raise ValueError(f"max_hamming must be an int in 0..{n_bits}, "
                         f"got {max_hamming!r}")
    if max_hamming >= bands:
        import warnings
        warnings.warn(
            f"{bands}-band hamming blocking guarantees recall only for "
            f"hamming <= {bands - 1}; pairs at distance {bands}.."
            f"{max_hamming} that differ in all bands will be missed",
            stacklevel=3)
    width = n_bits // bands
    keys = [F.shiftrightunsigned(F.col("sh"), b * width) for b in range(bands)]
    if width < 64:
        keys = [k.bitwiseAND(F.lit((1 << width) - 1)) for k in keys]
    return _banded_pairs(h, keys, max_bucket, max_hamming)


def simhash_near_dups(df: DataFrame, text_col: str, id_col: str,
                      max_hamming: int = 3,
                      max_bucket: int = 64) -> DataFrame:
    """SimHash near-dup pairs (id_a, id_b, hamming int) over the portable
    48-bit simhash (simhash48_fast), banded into SIMHASH_BANDS 12-bit
    slices.

    Recall is exact for max_hamming <= 3 (the default) and best-effort,
    with a warning, beyond. Banding, verify and physical shape: see
    _hamming_pairs and _banded_pairs."""
    sh = simhash48_fast(
        df.select(F.col(id_col).alias("doc"), text_col),
        text_col, "doc").withColumnRenamed("sh48", "sh")
    return _hamming_pairs(sh, SIMHASH_BITS, SIMHASH_BANDS, max_hamming,
                          max_bucket).distinct()


def hamming_near_dups(df: DataFrame, hash_col: str, id_col: str,
                      bands: int = 8, max_hamming: int = 7,
                      max_bucket: int = 64) -> DataFrame:
    """Banded-Hamming near-dup pairs (id_a, id_b, hamming bigint) over a
    64-bit similarity or perceptual hash column (the image-dedup
    shape). Signedness is irrelevant: banding and the verify read the
    raw bit pattern.

    `bands` must divide 64; recall is exact for max_hamming <= bands-1
    (default 8 bands of 8 bits: through distance 7) and best-effort,
    with a warning, beyond. bands=1 is exact-match blocking on the
    whole hash. Banding, verify and physical shape: see _hamming_pairs
    and _banded_pairs."""
    h = df.select(F.col(id_col).alias("doc"),
                  F.col(hash_col).cast("long").alias("sh"))
    return (_hamming_pairs(h, 64, bands, max_hamming, max_bucket)
            .withColumn("hamming", F.col("hamming").cast("long"))
            .distinct())


def deduplicate(df: DataFrame, text_col: str, id_col: str,
                method: str = "exact", keep: str = "min_id",
                jaccard_threshold: float = 0.9, k: int = 3) -> DataFrame:
    """Materialize the DEDUPLICATED table (the report operators above
    tell you what's duplicated; this returns the survivors).

    method='exact': one window pass partitioned by the normalized-text
    fingerprint; keep='min_id' keeps the smallest id per group
    (deterministic at any parallelism; never 'first', which is
    shuffle-order dependent). Rows with NULL text have no content to
    compare and are kept unconditionally — the previous equi-join
    formulation silently dropped them (null join keys never match).

    method='minhash': LSH candidates -> exact Jaccard >= threshold ->
    connected duplicates collapsed via their MIN id as cluster
    representative (single-link approximation: one anti-join pass
    removes every non-representative member of a duplicate pair; at
    near-identical-dup thresholds the star approximation equals true
    transitive closure for practical corpora — iterate for full
    closure).
    """
    if method == "exact":
        fp = df.withColumn("_fp", fingerprint(F.col(text_col)))
        # NULL-fp rows bypass the window entirely: they are all keepers
        # anyway, and hashing every null to ONE window partition would
        # make a large null-text fraction a single-task sort hot spot
        nulls = fp.where(F.col("_fp").isNull()).drop("_fp")
        w = Window.partitionBy("_fp").orderBy(id_col)
        keepers = (fp.where(F.col("_fp").isNotNull())
                   .withColumn("_rn", F.row_number().over(w))
                   .where(F.col("_rn") == 1)
                   .drop("_fp", "_rn"))
        return keepers.unionByName(nulls)
    if method == "minhash":
        pairs = lsh_bucket_pairs(df, text_col, id_col, n_hashes=4,
                                 band_size=2)
        dups = ngram_jaccard(df, text_col, id_col, pairs, k=k,
                             threshold=jaccard_threshold)
        # id_a < id_b by construction: every id_b in a qualifying pair
        # is a non-representative duplicate
        losers = dups.select(F.col("id_b").alias(id_col)).distinct()
        return df.join(losers, on=id_col, how="left_anti")
    raise ValueError(f"unknown dedup method {method!r}")


def dup_clusters(pairs: DataFrame, max_iters: int = 30,
                 checkpoint_dir: str | None = None) -> DataFrame:
    """Connected components over a duplicate-pair graph: (member,
    cluster) with cluster = the MIN member id of the component — the
    exact transitive closure the star approximation in deduplicate()
    skips ("iterate for full closure").

    Algorithm: alternating LARGE-STAR / SMALL-STAR edge rewriting
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14). Each round REWRITES the edges toward a star forest, so the
    working set shrinks as components contract and the round count is
    O(log^2 n) worst case whatever the id order along a chain, 2-4 in
    practice for near-clique duplicate clusters:

      large-star(u): every neighbor v > u re-attaches to
                     m = min(N(u) + {u});
      small-star(u): every neighbor v <= u (and u) attaches to m.

    Each is one groupBy (min) + one join. Fixed point = the edge set is
    a star forest, detected by an edge-set digest; labels read off as
    least(node, min neighbor). A run that has not converged after
    max_iters rounds raises instead of returning labels where one
    component carries several representatives.

    Checkpointing: each round's edges are checkpointed (DAG truncation
    — iterative plans grow their lineage geometrically and a 10+-round
    loop overflows plan compilation). With `checkpoint_dir=None` this
    is localCheckpoint: executor-local blocks, fast, but (a) a lost
    executor on a real cluster loses lineage-truncated blocks and fails
    the job, and (b) superseded rounds' blocks are freed by the JVM
    block-manager GC, not eagerly — up to max_iters edge frames can be
    live at once. With `checkpoint_dir` set, rounds use RELIABLE
    .checkpoint() into that directory: executor-loss-safe (the
    10^12-edge / real-cluster mode); superseded rounds' files are
    reclaimed by the ContextCleaner when
    spark.cleaner.referenceTracking.cleanCheckpoints=true, otherwise
    they persist until the checkpoint dir is dropped with the run.

    Deterministic: min over ids at any parallelism; no shuffle-order
    dependence."""
    spark = pairs.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _ckpt(frame: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            return frame.checkpoint(eager=True)
        return frame.localCheckpoint(eager=True)

    def _star(E: DataFrame, large: bool) -> DataFrame:
        # m(u) = min over N(u) + {u}; E holds both orientations so
        # N(u) = all b with (u, b)
        m = (E.groupBy("a").agg(F.min("b").alias("_mb"))
             .select(F.col("a").alias("_u"),
                     F.least(F.col("_mb"), F.col("a")).alias("_m")))
        j = E.join(m, E["a"] == m["_u"], "inner")
        keep = (F.col("b") > F.col("a")) if large \
            else (F.col("b") <= F.col("a"))
        out = j.where(keep).select(F.col("b").alias("a"),
                                   F.col("_m").alias("b"))
        if not large:
            # small-star also links u itself to m
            out = out.unionByName(
                m.select(F.col("_u").alias("a"), F.col("_m").alias("b")))
        # drop self-loops, store both orientations, dedupe
        out = out.where(F.col("a") != F.col("b"))
        return (out.unionByName(out.select(F.col("b").alias("a"),
                                           F.col("a").alias("b")))
                .distinct())

    base = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    nodes = (base.select(F.col("a").alias("node"))
             .unionByName(base.select(F.col("b").alias("node")))
             .distinct().persist())
    E = _ckpt(base.where(F.col("a") != F.col("b"))
              .unionByName(base.select(F.col("b").alias("a"),
                                       F.col("a").alias("b")))
              .where(F.col("a") != F.col("b")).distinct())
    def _edge_digest(frame: DataFrame) -> tuple:
        # order-independent digest of the (distinct) edge set: count +
        # sum + xor of per-edge xxhash64. One cheap two-stage aggregate
        # per round, vs the two full exceptAll shuffles this replaces; a
        # false fixed-point needs a simultaneous sum AND xor collision
        # at equal counts (~2^-128) — negligible against per-round
        # shuffle cost at 10^12 edges.
        row = frame.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal(38,0) sum: exact and ANSI-overflow-free for any
            # realistic edge count (long sum overflows under ANSI)
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("s"),
            F.expr("bit_xor(xxhash64(a, b))").alias("x")).first()
        return (row["n"], row["s"], row["x"])

    try:
        converged = False
        prev = _edge_digest(E)
        for _ in range(max_iters):
            new = _ckpt(_star(_star(E, large=True), large=False))
            # fixed point = identical edge SET (both frames distinct),
            # detected by digest equality
            cur = _edge_digest(new)
            E = new
            if cur == prev:
                converged = True
                break
            prev = cur
        if not converged:
            raise RuntimeError(
                f"dup_clusters did not converge in {max_iters} rounds; "
                "raise max_iters")
        labs = (E.groupBy("a").agg(F.min("b").alias("_mb"))
                .select(F.col("a").alias("node"),
                        F.least(F.col("_mb"), F.col("a")).alias("lab")))
        # isolated-after-rewrite nodes (singletons whose only pair was a
        # self-loop) label themselves
        return (nodes.join(labs, on="node", how="left")
                .select(F.col("node").alias("member"),
                        F.coalesce(F.col("lab"), F.col("node"))
                        .alias("cluster")))
    finally:
        nodes.unpersist()




_RUN_ID_RE = re.compile(r"^[A-Za-z0-9_.-]{1,128}$")


def _fp_store_table(spark, store_path: str, buckets: int) -> str:
    """Register (idempotently) the external bucketed fingerprint table
    over `store_path` and return its name. The in-memory catalog does
    not survive sessions, but the bucket spec is re-assertable: Spark's
    bucketed writer encodes the bucket id in each file name, so a
    CREATE TABLE IF NOT EXISTS with the SAME spec over existing files
    is exact. MSCK REPAIR (a full store partition listing) runs ONLY at
    first registration in a session, to recover partitions written by
    earlier sessions/jobs; per-increment writes register their own
    partition through INSERT OVERWRITE ... PARTITION, so the metadata
    cost per increment is O(1), not a store-wide scan."""
    name = f"xmlschema_spark_fp_store_{zlib.crc32(store_path.encode()):08x}"
    from urllib.parse import urlparse as _urlparse
    if _urlparse(store_path).scheme in ("", "file"):
        os.makedirs(_urlparse(store_path).path, exist_ok=True)
    # remote URIs (hdfs://, s3a://): the filesystem creates the prefix
    # on first write; no local mkdir applies
    if not spark.catalog.tableExists(name):
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {name} (fp STRING, run STRING) "
            f"USING PARQUET PARTITIONED BY (run) "
            f"CLUSTERED BY (fp) SORTED BY (fp) INTO {buckets} BUCKETS "
            f"LOCATION '{store_path}'")
        spark.sql(f"MSCK REPAIR TABLE {name}")
    # IF NOT EXISTS means an earlier registration (same session, or a
    # crc32 collision between two store paths) wins over the arguments
    # — verify the catalog's bucket spec and location actually match so
    # a mismatch fails loudly instead of silently using the wrong store
    detail = {r["col_name"].strip(): (r["data_type"] or "").strip()
              for r in spark.sql(f"DESCRIBE FORMATTED {name}").collect()}
    got_buckets = detail.get("Num Buckets", "")
    if got_buckets != str(buckets):
        raise ValueError(
            f"fingerprint store table {name} exists with "
            f"{got_buckets or '?'} buckets; store_buckets={buckets} "
            f"does not match — the bucket count is fixed at store "
            f"creation")
    got_loc, want_loc = _normalize_store_locs(
        detail.get("Location", ""), store_path)
    if got_loc != want_loc:
        raise ValueError(
            f"fingerprint store table {name} points at "
            f"{got_loc!r}, not {want_loc!r} — store-path hash "
            f"collision; move one of the stores")
    return name


def _normalize_store_locs(catalog_loc: str, store_path: str) -> tuple:
    """Normalize (catalog Location, requested store_path) for equality.

    Local store paths (no scheme, or file:) compare as absolutized
    local paths — the catalog reports them as file:/abs/path.
    Remote URIs (hdfs://, s3a://, ...) compare as scheme+authority+path:
    os.path.abspath on those would prepend the cwd and mangle the
    authority, producing a spurious 'store-path hash collision'."""
    from urllib.parse import urlparse
    got = urlparse(catalog_loc)
    want = urlparse(store_path)
    if want.scheme in ("", "file"):
        return (got.path.rstrip("/"),
                os.path.abspath(want.path).rstrip("/"))
    return (f"{got.scheme}://{got.netloc}{got.path.rstrip('/')}",
            f"{want.scheme}://{want.netloc}{want.path.rstrip('/')}")


def incremental_deduplicate(df: DataFrame, text_col: str, id_col: str,
                            store_path: str, run_id: str | None = None,
                            store_buckets: int | None = None) -> DataFrame:
    """Exact dedup of an INCREMENT against all previously-seen content:
    the training-pipeline shape where data arrives in batches and a
    document seen in ANY earlier batch must not survive again.

    Steps (all deterministic):
      1. within-increment dedup (min-id keeper per fingerprint; NULL
         text kept, bypasses the window — same rules as deduplicate);
      2. left-anti join of the survivors against the fingerprint STORE
         (distinct fps from all prior increments);
      3. write the new survivors' fingerprints to the store.

    Store layouts (reference analog: the persistent identity registry
    semantics of xsd_globals.py:537-578 applied across runs):

    - `run_id=None` (legacy): flat parquet, mode=append. NOT
      idempotent — re-running a failed increment re-matches its own
      appended fps and returns zero survivors. Kept for single-shot
      callers only.
    - `run_id='<id>'`: fps land in `store_path/run=<id>/` via
      OVERWRITE, and `seen` EXCLUDES the current run's partition — so
      re-running an increment after a downstream failure returns the
      identical survivor set (same idempotence contract as
      checkpoint.finalize_global_identities' per-run_id dirs).
    - `run_id` + `store_buckets=N`: the store is an external table
      CLUSTERED BY (fp) INTO N BUCKETS — the anti-join's store side
      scans WITHOUT an Exchange (only the increment shuffles to match
      the bucketing), which is the 10^12-fp plan: the accumulated
      store, by far the bigger side, is never reshuffled per
      increment. Writes go through INSERT OVERWRITE PARTITION (same
      idempotence as above). N is fixed at store creation; pick it for
      the TARGET store size (e.g. 2^13 buckets ~ 10^12 fps at ~10^8
      fps/bucket-file group).

    RETENTION CONTRACT — `store_path/_survivors/run=<id>`: with run_id
    set, the surviving increment (ALL df columns, text payload
    included) is written there as the durable barrier between the
    anti-join and the store write, and the RETURNED DataFrame lazily
    READS from it — so it cannot be deleted until the caller has fully
    consumed (written out / counted) the result. It is the caller's
    state, not the store's: call `prune_survivors(spark, store_path,
    keep_run_ids=[...])` after each run's downstream consumption
    succeeds, keeping only in-flight runs. The `run=<id>` fingerprint
    partitions themselves are permanent (they ARE the store); only
    `_survivors/` is prunable scratch.
    """
    spark = df.sparkSession
    if run_id is not None and not _RUN_ID_RE.match(run_id):
        raise ValueError(f"run_id must match {_RUN_ID_RE.pattern}: "
                         f"{run_id!r}")
    if store_buckets is not None and run_id is None:
        raise ValueError("store_buckets requires run_id")
    fp = df.withColumn("_fp", fingerprint(F.col(text_col)))
    nulls = fp.where(F.col("_fp").isNull())
    w = Window.partitionBy("_fp").orderBy(id_col)
    keepers = (fp.where(F.col("_fp").isNotNull())
               .withColumn("_rn", F.row_number().over(w))
               .where(F.col("_rn") == 1).drop("_rn"))
    from pyspark.errors import AnalysisException

    if store_buckets is not None:
        table = _fp_store_table(spark, store_path, store_buckets)
        seen = (spark.table(table)
                .where(F.col("run").cast("string") != run_id)
                .select("fp"))
    else:
        try:
            if run_id is not None:
                # explicit schema: partition-type INFERENCE would turn a
                # numeric-looking run_id ('007', '1e3', '2.5') into
                # int/double, so cast-to-string yields '7'/'1000.0' and
                # the current-run exclusion never matches — a re-run
                # would silently drop every survivor as "already seen"
                seen = (spark.read.schema("fp string, run string")
                        .parquet(store_path)
                        .where(F.col("run") != run_id))
            else:
                seen = spark.read.parquet(store_path)
            seen = seen.select("fp")
        except AnalysisException as e:
            # ONLY a first-run missing/empty store is an empty store;
            # any other read failure (permissions, corrupt files) must
            # surface — a silently-empty store would re-admit every
            # historical duplicate
            if ("PATH_NOT_FOUND" not in str(e)
                    and "UNABLE_TO_INFER_SCHEMA" not in str(e)):
                raise
            seen = spark.createDataFrame([], "fp string")
    fresh = keepers.join(seen.withColumnRenamed("fp", "_fp"),
                         on="_fp", how="left_anti")
    # materialize BEFORE writing to the store: the store write must
    # not re-read its own output mid-plan. With run_id the barrier is a
    # DURABLE run-scoped parquet write (underscore-prefixed, so store
    # reads and MSCK ignore it): localCheckpoint blocks are lost with
    # their executor, which would fail the increment mid-store-write on
    # a real cluster; a reliable write survives executor loss and the
    # overwrite keeps re-runs idempotent. Legacy single-shot mode keeps
    # the in-memory barrier.
    if run_id is not None:
        surv_path = f"{store_path}/_survivors/run={run_id}"
        schema = fresh.schema
        fresh.write.mode("overwrite").parquet(surv_path)
        # explicit schema: a zero-survivor increment writes no part
        # files, and a schema-less read of the empty dir cannot infer
        fresh = spark.read.schema(schema).parquet(surv_path)
    else:
        fresh = fresh.localCheckpoint(eager=True)
    new_fps = fresh.select(F.col("_fp").alias("fp")).distinct()
    if store_buckets is not None:
        view = f"_xmlschema_spark_inc_{zlib.crc32(run_id.encode()):08x}"
        new_fps.createOrReplaceTempView(view)
        spark.sql(f"INSERT OVERWRITE TABLE {table} "
                  f"PARTITION(run='{run_id}') SELECT fp FROM {view}")
        spark.catalog.dropTempView(view)
    elif run_id is not None:
        new_fps.write.mode("overwrite").parquet(
            f"{store_path}/run={run_id}")
    else:
        new_fps.write.mode("append").parquet(store_path)
    return fresh.drop("_fp").unionByName(nulls.drop("_fp"))


def prune_survivors(spark, store_path: str,
                    keep_run_ids: list[str] | None = None) -> list[str]:
    """Delete consumed `_survivors/run=<id>` scratch under a
    fingerprint store (see incremental_deduplicate's RETENTION
    CONTRACT). Keeps runs named in `keep_run_ids` (in-flight runs whose
    returned DataFrame has not been fully consumed yet). Returns the
    run ids whose survivor dirs were deleted.

    Uses the Hadoop FileSystem API via the session JVM so the same
    call works on file://, hdfs:// and s3a:// stores — never
    os.path/shutil, which mangle remote URIs."""
    keep = set(keep_run_ids or [])
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(f"{store_path}/_survivors")
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return []
    deleted = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()          # 'run=<id>'
        if not name.startswith("run="):
            continue
        rid = name[4:]
        if rid in keep:
            continue
        fs.delete(st.getPath(), True)
        deleted.append(rid)
    return sorted(deleted)
