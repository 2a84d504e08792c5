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
  bit_count(xor)) all run ONE banded core, _banded_pairs: explode each
  doc once per band, one bucket shuffle that first caps hot buckets to
  their lexicographically-first max_bucket members (a row_number()
  window, so a degenerate boilerplate bucket never reaches the
  collect_list buffer), then pairs generated inside each bucket's member
  array and a final distinct. Never an all-pairs self-join.
"""

from __future__ import annotations

import os
import re
import zlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import fingerprint, shingles, simhash48_fast

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


# per-task shingle digest cache bound (entries). One entry at n_hashes=4
# and a 15-char shingle measures (sys.getsizeof) 64 B key + 72 B tuple +
# 4 x 49 B digests = 332 B, ~370 B with its dict slot, +57 B per extra
# hash: 1<<20 entries is ~390 MB/worker worst case
_MINHASH_SH_CACHE_MAX = 1 << 20


def minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       n_hashes: int = 4, k: int = 3) -> DataFrame:
    """(id, h0..h{n-1}) MinHash signature table.

    r8: one mapInArrow pass (guide §4.2) replacing the Catalyst HOF
    derivation — the HOF path paid per-shingle expression overhead
    (transform + concat + md5 + array_min object churn, ~3x the raw
    hash cost). The math is UNCHANGED and engine-portable, and the
    DuckDB oracle replays it verbatim: h_s = min over word-k-shingles
    of md5('{s}|' || shingle), where the lexicographic min of the
    lowercase-hex digest equals the byte-wise min of the raw digest
    (hex encoding is order-preserving), tokenization is tokens()'s
    Java-\\s split, and texts with fewer than k tokens (or NULL text)
    yield NULL signatures exactly like array_min over an empty
    shingle set. Shingle digests are cached across batches per task
    (bounded) — natural-language shingle streams repeat. The HOF
    expression stays available as text.minhash_signature (the
    pure-Catalyst derivation; equality-tested against this kernel)."""
    from ..distribute import ensure_distributed
    ensure_distributed(df.sparkSession)
    narrow = df.select(*dict.fromkeys([id_col, text_col]))
    id_type = next(f.dataType.simpleString()
                   for f in narrow.schema.fields if f.name == id_col)
    out_names = [f"h{s}" for s in range(n_hashes)]
    out_schema = f"`{id_col}` {id_type}, " + \
        ", ".join(f"{n} string" for n in out_names)
    prefixes = [f"{s}|".encode("utf-8") for s in range(n_hashes)]

    def run(batches):
        import hashlib
        import re

        import pyarrow as pa
        ws = re.compile("[ \t\n\x0b\f\r]+")
        cache: dict = {}              # shingle -> tuple of digests

        def digests(sh: str):
            got = cache.get(sh)
            if got is None:
                if len(cache) > _MINHASH_SH_CACHE_MAX:
                    cache.clear()
                e = sh.encode("utf-8")
                got = cache[sh] = tuple(
                    hashlib.md5(p + e).digest() for p in prefixes)
            return got

        for b in batches:
            texts = b.column(text_col).to_pylist()
            outs: list = [[] for _ in out_names]
            for s in texts:
                toks = (ws.sub(" ", s).strip(" ").split(" ")
                        if s is not None else [])
                if len(toks) < k:
                    for o in outs:
                        o.append(None)   # empty shingle set -> NULL
                    continue
                dgs = [digests(" ".join(toks[i:i + k]))
                       for i in range(len(toks) - k + 1)]
                for fam, o in enumerate(outs):
                    o.append(min(d[fam] for d in dgs).hex())
            yield pa.record_batch(
                [b.column(id_col)] + [pa.array(o, pa.string())
                                      for o in outs],
                names=[id_col] + out_names)

    return narrow.mapInArrow(run, out_schema)


def _cap_buckets(df: DataFrame, keys: list[str], order_col,
                 max_bucket: int) -> DataFrame:
    """Keep the first max_bucket rows per bucket, ordered by order_col —
    (a column name or a Column expression) — deterministic at any
    parallelism, and BOUNDED BEFORE any
    collect_list/applyInPandas materializes the bucket. The window's
    hash partitioning is reused by a following groupBy on the same keys
    (no extra Exchange — asserted in tests/test_banded_near_dups.py)."""
    w = Window.partitionBy(*keys).orderBy(order_col)
    return (df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= max_bucket).drop("_rn"))


def _banded_pairs(df: DataFrame, keys: list, max_bucket: int,
                  carry: tuple = (), verify: str | None = None) -> DataFrame:
    """The one banded near-dup pipeline: ordered pairs (id_a < id_b
    [, verify]) of `doc`s that share a bucket in a band, one row per
    shared band; callers end with the distinct.

    `keys[b]` is band b's bucket key, a Column over df. Each doc is
    exploded once per band into (doc, carry..., band, key); ONE shuffle
    on (band, key) feeds both the _cap_buckets window and the
    collect_list aggregate, so a hot bucket is cut to its first
    max_bucket docs before any buffer holds it. Singleton buckets die in
    the HAVING, and pairs are generated inside the sorted member array:
    never a self-join. `verify` is a SQL field over the two members `a`
    and `b` (structs of doc and `carry`), e.g. a Hamming distance. With
    the callers' distinct the plan has exactly two Exchanges (pinned by
    tests/test_banded_near_dups.py)."""
    bands = F.array(*(F.struct(F.lit(b).alias("band"), k.alias("key"))
                      for b, k in enumerate(keys)))
    # a NULL doc is never paired: pairs satisfy id_a < id_b
    blocks = (df.where(F.col("doc").isNotNull())
              .select("doc", *carry, F.explode(bands).alias("bb"))
              .select("doc", *carry, "bb.band", "bb.key"))
    capped = _cap_buckets(blocks, ["band", "key"], "doc", max_bucket)
    grouped = (capped.groupBy("band", "key")
               .agg(F.array_sort(F.collect_list(F.struct("doc", *carry)))
                    .alias("ms"),
                    F.count(F.lit(1)).alias("bn"))
               .where(F.col("bn") > 1))
    fields = "a.doc AS id_a, b.doc AS id_b" + (f", {verify}" if verify else "")
    pairs_arr = F.expr(
        "flatten(transform(ms, (a, i) -> "
        f"transform(slice(ms, i + 2, size(ms)), b -> struct({fields}))))")
    return grouped.select(F.explode(pairs_arr).alias("p")).select("p.*")


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
    keys = [F.md5(F.concat_ws("|", *(f"h{b * band_size + j}"
                                     for j in range(band_size))))
            for b in range(n_hashes // band_size)]
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
    bit_count(a.sh ^ b.sh) <= max_hamming exactly inside each bucket.

    Recall (pigeonhole): a pair within distance d shares at least one
    slice iff d <= bands-1, so blocking is exact up to there; beyond it
    pairs differing in every slice are missed, and this warns."""
    if bands < 1 or n_bits % bands:
        raise ValueError(f"bands must be a positive divisor of {n_bits}, "
                         f"got {bands!r}")
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
    return (_banded_pairs(h, keys, max_bucket, carry=("sh",),
                          verify="bit_count(a.sh ^ b.sh) AS hamming")
            .where(F.col("hamming") <= max_hamming))


def simhash_near_dups(df: DataFrame, text_col: str, id_col: str,
                      max_hamming: int = 3,
                      max_bucket: int = 64) -> DataFrame:
    """SimHash near-dup pairs (id_a, id_b, hamming int) over the portable
    48-bit simhash (simhash48_fast, bitwise-identical to the simhash48
    HOF fold), banded into SIMHASH_BANDS 12-bit slices.

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


def dup_clusters_star(pairs: DataFrame, max_iters: int = 30,
                      checkpoint_dir: str | None = None) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    edge rewriting (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14) — the 10^12-edge variant of dup_clusters:
    instead of propagating labels over a FIXED edge set, each round
    REWRITES the edges toward a star forest, so the working set shrinks
    as components contract and the round count is O(log^2 n) worst
    case, 2-4 in practice for near-clique duplicate clusters.

      large-star(u): every neighbor v > u re-attaches to
                     m = min(N(u) + {u});
      small-star(u): every neighbor v <= u (and u) attaches to m.

    Both are one groupBy (min) + one join per round — the same physical
    shape as dup_clusters' propagation, but on a shrinking frame.
    Fixed point = the edge set is a star forest; labels read off as
    least(node, min neighbor). Same output contract as dup_clusters:
    (member, cluster=component min), deterministic at any parallelism.
    Checkpointing semantics identical to dup_clusters (localCheckpoint
    by default, reliable checkpoint() with `checkpoint_dir`)."""
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
                f"dup_clusters_star did not converge in {max_iters} "
                "rounds; raise max_iters")
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


def dup_clusters(pairs: DataFrame, max_iters: int = 20,
                 checkpoint_dir: str | None = None) -> DataFrame:
    """Connected components over a duplicate-pair graph: (member,
    cluster) with cluster = the MIN member id of the component — the
    exact transitive closure the star approximation in deduplicate()
    skips ("iterate for full closure").

    Algorithm: iterative min-label propagation COMPOSED WITH pointer
    jumping (lab <- lab(lab)) and early stop — per round every node
    takes min(own, neighbors' labels), then hops once through its
    label's label, so chain depth halves per round: O(log diameter)
    rounds (the large-star/small-star bound), and duplicate clusters
    being near-cliques (LSH blocks + verified pairs) close in 2-3;
    max_iters bounds adversarial chains (a path of 2^20 nodes still
    converges in ~20 rounds). Each round is one join + one partial+final min
    aggregate (shuffle on node id).

    Checkpointing: each round's labels are checkpointed (DAG truncation
    — iterative plans grow their lineage geometrically and a 10+-round
    loop overflows plan compilation). With `checkpoint_dir=None` this
    is localCheckpoint: executor-local blocks, fast, but (a) a lost
    executor on a real cluster loses lineage-truncated blocks and fails
    the job, and (b) superseded rounds' blocks are freed by the JVM
    block-manager GC, not eagerly — up to max_iters label frames can be
    live at once (bounded by max_iters * |nodes|, small next to the
    edge set, but not single-frame). With `checkpoint_dir` set, rounds
    use RELIABLE .checkpoint() into that directory: executor-loss-safe
    (the 10^12-edge / real-cluster mode); superseded rounds' files are
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

    edges = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    edges = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))).persist()
    labels = _ckpt(edges.select(F.col("a").alias("node")).distinct()
                   .withColumn("lab", F.col("node")))
    try:
        converged = False
        for _ in range(max_iters):
            nbr = (edges.join(labels.select(F.col("node").alias("b"),
                                            F.col("lab").alias("nlab")),
                              on="b")
                   .groupBy("a").agg(F.min("nlab").alias("nlab")))
            # materialize BEFORE the self-join below: otherwise the
            # neighbor-min join+aggregate subtree appears twice in one
            # plan and may execute twice if exchange reuse doesn't kick
            # in (it is the dominant per-round cost)
            new = _ckpt(labels.join(nbr, labels["node"] == nbr["a"], "left")
                        .select(F.col("node"),
                                F.least(F.col("lab"),
                                        F.coalesce(F.col("nlab"),
                                                   F.col("lab")))
                                .alias("lab")))
            # pointer jumping: lab <- lab(lab). Plain neighbor-min needs
            # diameter rounds on a path graph; composing each round with
            # one label-of-label hop halves chain depth, giving
            # O(log diameter) rounds total (the same bound as
            # large-star/small-star contraction, one extra self-join per
            # round instead of a rewritten edge set)
            hop = new.select(F.col("node").alias("_n2"),
                             F.col("lab").alias("_l2"))
            new = _ckpt(new.join(hop, new["lab"] == hop["_n2"], "left")
                        .select(F.col("node"),
                                F.least(F.col("lab"),
                                        F.coalesce(F.col("_l2"),
                                                   F.col("lab")))
                                .alias("lab")))
            changed = (new.join(labels.withColumnRenamed("lab", "old"),
                                on="node")
                       .where(F.col("lab") != F.col("old"))
                       .limit(1).count())
            labels = new
            if changed == 0:
                converged = True
                break
        if not converged:
            # silent non-convergence would hand back labels where one
            # component carries several "representatives" — fail loudly
            # instead (the contract is cluster == component min)
            raise RuntimeError(
                f"dup_clusters did not converge in {max_iters} rounds "
                "(component diameter exceeds max_iters); raise max_iters "
                "or pre-contract chains with large-star/small-star")
        return labels.select(F.col("node").alias("member"),
                             F.col("lab").alias("cluster"))
    finally:
        edges.unpersist()


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
