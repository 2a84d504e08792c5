"""Structured Streaming validation.

The reference's lazy iterparse (xml_resource.py:590-656) validates
subtree-at-a-time with deferred identity merging (schemas.py:1386-1405).
The streaming analog:

- validate_stream runs the whole batch engine per micro-batch via
  foreachBatch (identity checks batch-scoped, like the reference's
  per-document scope), appending violations and verdicts;
- cross-batch uniqueness would need stateful dropDuplicates with a
  watermark on an event-time column — exposed via
  streaming_unique_violations for tables that have one.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
# runtime import (not TYPE_CHECKING): pyspark resolves the hint strings
# via get_type_hints when inferring the applyInPandasWithState eval
# type — an unresolvable name degrades to a UserWarning per batch
from pyspark.sql.streaming.state import GroupState  # noqa: F401

from ..distribute import worker_kernel
from ..operators.sketch import compress, leaf_rows
from ..specs import TableSpec


def validate_stream(stream_df: DataFrame, spec: TableSpec,
                    checkpoint_dir: str, output_dir: str,
                    refs: dict[str, DataFrame] | None = None,
                    trigger_once: bool = True):
    """Full-suite validation per micro-batch via foreachBatch: each batch
    runs the SAME batch engine (facets + identity + payload), appending
    violations; identity scope = micro-batch (reference: per-document
    identity scope). Returns the StreamingQuery."""
    from ..runner import validate

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        res = validate(batch_df, spec, refs=refs)
        # distributed deterministic write, same shape as the batch
        # engine's checkpoint writer (checkpoint.py): hash-repartition by
        # part_key + in-partition sort — byte-stable at any parallelism,
        # no single-writer coalesce(1) bottleneck per micro-batch
        (res.violations
         .withColumn("batch_id", F.lit(batch_id))
         .repartition("part_key")
         .sortWithinPartitions("part_key", "constraint", "row_key",
                               "reason", "value")
         .write.mode("append")
         .partitionBy("part_key")
         .parquet(f"{output_dir}/violations"))
        (res.verdicts.withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(f"{output_dir}/verdicts"))

    w = (stream_df.writeStream
         .foreachBatch(process)
         .option("checkpointLocation", checkpoint_dir))
    if trigger_once:
        w = w.trigger(availableNow=True)
    return w.start()


def streaming_global_unique_violations(stream_df: DataFrame,
                                       key_cols: list[str],
                                       id_col: str,
                                       constraint: str = "unique:stream"
                                       ) -> DataFrame:
    """GLOBAL cross-batch uniqueness via applyInPandasWithState keyed by
    the field tuple — the streaming analog of the reference's document-
    wide identity counter merge (schemas.py:1386-1405), with state
    bounded to (count, first_id) per DISTINCT key tuple (not per row).

    Emission matches batch unique_violations semantics: every occurrence
    of a duplicated tuple is flagged, including the FIRST one
    retroactively when the second arrives; `occurs` carries the running
    group count at emission time.

    100-TB GUIDANCE — prefer the watermarked variant first: this
    operator's NoTimeout state grows with the number of DISTINCT key
    tuples forever (exact global semantics require it). For unbounded
    streams use `streaming_unique_violations` / `watermarked_dedup`
    (state bounded by the watermark horizon) unless
    exact all-time uniqueness is a hard requirement; if it is, run the
    RocksDB state store so state spills to disk instead of executor
    heap:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
                       "org.apache.spark.sql.execution.streaming."
                       "state.RocksDBStateStoreProvider")

    At 10^12 rows the state store shards by the key tuple across
    executors; a skewed hot tuple costs one state entry, not memory."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = ("row_key string, constraint string, reason string, "
                  "value string, occurs bigint")
    state_schema = "seen bigint, first_id string"
    reason_prefix = f"duplicated value for '{constraint}' fields {key_cols}: "

    @worker_kernel
    def track(key: tuple, pdfs: Iterator[pd.DataFrame],
              state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            seen, first = state.get
        else:
            seen, first = 0, None
        value = "|".join(str(k) for k in key)
        # vectorized: groups are mostly size 1, so a per-row Python loop
        # here would put EVERY streamed row on the interpreter's hot
        # path; pandas concat+sort keeps the per-batch cost O(batch)
        # C-side with only group-level Python control flow
        ids = pd.concat([p[id_col] for p in pdfs]).astype(str) \
            .sort_values(kind="mergesort")
        b = len(ids)
        new_seen = seen + b
        out_rows: list[str] = []
        if b:
            if seen == 0:
                first = ids.iloc[0]
                if b >= 2:
                    out_rows = list(ids)         # first emitted with rest
            elif seen == 1:
                # retroactive first hit: the stored first occurrence
                # becomes a violation the moment a second arrives
                out_rows = ([first] if first is not None else []) \
                    + list(ids)
            else:
                out_rows = list(ids)
        state.update((new_seen, first))
        if out_rows:
            yield pd.DataFrame({
                "row_key": out_rows,
                "constraint": constraint,
                "reason": reason_prefix + value,
                "value": value,
                "occurs": new_seen,
            })

    nn = None
    for c in key_cols:
        p = F.col(c).isNotNull()
        nn = p if nn is None else nn & p
    return (stream_df.where(nn)
            .select(*key_cols, F.col(id_col).cast("string").alias(id_col))
            .groupBy(*key_cols)
            .applyInPandasWithState(track, out_schema, state_schema,
                                    "append", GroupStateTimeout.NoTimeout))


def watermarked_dedup(stream_df: DataFrame, key_cols: list[str],
                      event_time_col: str,
                      watermark: str = "10 minutes") -> DataFrame:
    """Deduped stream with bounded state: watermarked dropDuplicates
    emits first-seen rows per key tuple within the watermark horizon.
    For the VIOLATION rows (the reference always yields the error,
    schemas.py:1386-1405) use streaming_unique_violations below."""
    # watermarks require TIMESTAMP (ltz); parquet often yields
    # TIMESTAMP_NTZ — normalize (session tz is pinned to UTC)
    return (stream_df
            .withColumn(event_time_col,
                        F.col(event_time_col).cast("timestamp"))
            .withWatermark(event_time_col, watermark)
            .dropDuplicates(key_cols))


_UNIT_MS = {"millisecond": 1, "second": 1000, "minute": 60_000,
            "hour": 3_600_000, "day": 86_400_000, "week": 604_800_000}


def _delay_ms(watermark: str) -> int:
    """'10 minutes' -> 600000 (the subset of CalendarInterval syntax
    watermarks accept)."""
    import re
    m = re.fullmatch(r"\s*(\d+)\s*([a-z]+?)s?\s*", watermark.lower())
    if not m or m.group(2) not in _UNIT_MS:
        raise ValueError(f"unsupported watermark delay {watermark!r}")
    return int(m.group(1)) * _UNIT_MS[m.group(2)]


def streaming_unique_violations(stream_df: DataFrame, key_cols: list[str],
                                id_col: str, event_time_col: str,
                                watermark: str = "10 minutes",
                                constraint: str = "unique:stream"
                                ) -> DataFrame:
    """Watermarked cross-batch uniqueness that EMITS the violation rows
    (parity with batch unique_violations; the reference always yields
    the error, schemas.py:1386-1405) instead of returning the deduped
    stream and asking callers to diff.

    CONTRACT — uniqueness within the watermark horizon, the same bound
    as Spark's own watermarked dropDuplicates: a key tuple's state
    expires on an EVENT-TIME timeout at (max event time seen for the
    tuple + watermark delay). Duplicate occurrences separated by MORE
    than the delay in event time are therefore out of scope — a later
    on-time row with a fresh event time restarts the count and neither
    occurrence is flagged. That trade is what bounds state to the open
    horizon instead of the key-tuple cardinality; for UNBOUNDED-scope
    uniqueness use streaming_global_unique_violations (NoTimeout,
    state grows with distinct keys).

    Emission matches batch semantics within the horizon: every
    occurrence of a duplicated tuple is flagged, including the FIRST
    retroactively when the second arrives; `occurs` is the running
    count at emission."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    delay = _delay_ms(watermark)
    out_schema = ("row_key string, constraint string, reason string, "
                  "value string, occurs bigint")
    state_schema = "seen bigint, first_id string, max_ev bigint"
    reason_prefix = f"duplicated value for '{constraint}' fields {key_cols}: "

    @worker_kernel
    def track(key: tuple, pdfs: Iterator[pd.DataFrame],
              state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            seen, first, max_ev = state.get
        else:
            seen, first, max_ev = 0, None, 0
        value = "|".join(str(k) for k in key)
        # same vectorization as streaming_global_unique_violations:
        # C-side concat/sort/max, group-level-only Python control flow
        chunks = list(pdfs)
        ids = pd.concat([p[id_col] for p in chunks]).astype(str) \
            .sort_values(kind="mergesort")
        b = len(ids)
        if b:
            ev_max = max(int(p[event_time_col].astype("int64").max())
                         for p in chunks if len(p))
            max_ev = max(max_ev, ev_max // 1_000_000)
        new_seen = seen + b
        out_rows: list[str] = []
        if b:
            if seen == 0:
                first = ids.iloc[0]
                if b >= 2:
                    out_rows = list(ids)         # first emitted with rest
            elif seen == 1:
                out_rows = ([first] if first is not None else []) \
                    + list(ids)
            else:
                out_rows = list(ids)
        seen = new_seen
        state.update((seen, first, max_ev))
        # timeout fires only once the watermark passes this timestamp —
        # by then no on-time row for the tuple can still arrive
        state.setTimeoutTimestamp(max(max_ev + delay,
                                      state.getCurrentWatermarkMs() + 1))
        if out_rows:
            yield pd.DataFrame({
                "row_key": out_rows,
                "constraint": constraint,
                "reason": reason_prefix + value,
                "value": value,
                "occurs": seen,
            })

    nn = None
    for c in key_cols:
        p = F.col(c).isNotNull()
        nn = p if nn is None else nn & p
    return (stream_df.where(nn)
            .withColumn(event_time_col,
                        F.col(event_time_col).cast("timestamp"))
            .withWatermark(event_time_col, watermark)
            .select(*key_cols, event_time_col,
                    F.col(id_col).cast("string").alias(id_col))
            .groupBy(*key_cols)
            .applyInPandasWithState(track, out_schema, state_schema,
                                    "append",
                                    GroupStateTimeout.EventTimeTimeout))


def streaming_windowed_histogram(stream_df: DataFrame, col: str,
                                 event_time_col: str,
                                 lo: float, width: float, n_bins: int,
                                 window: str = "1 hour",
                                 watermark: str = "10 minutes"
                                 ) -> DataFrame:
    """Per-event-time-window histogram of a numeric column on a stream:
    (win_start, win_end, bin, n), emitted in APPEND mode — a window's
    rows appear exactly once, when the watermark passes its end and the
    count is final. Late rows inside the watermark are aggregated
    correctly; later ones are dropped by the watermark (bounded state:
    open windows x bins).

    Same clamped fixed-width binning as the batch operator
    (operators/drift.histogram), so a streamed histogram is directly
    comparable to a batch reference histogram — that comparison is
    drift_from_windowed_counts below."""
    b = F.greatest(
        F.least(F.floor((F.col(col) - lo) / width), F.lit(n_bins - 1)),
        F.lit(0)).cast("bigint")
    return (stream_df
            .withColumn(event_time_col,
                        F.col(event_time_col).cast("timestamp"))
            .withWatermark(event_time_col, watermark)
            .where(F.col(col).isNotNull())
            .groupBy(F.window(event_time_col, window).alias("win"),
                     b.alias("bin"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("win.start").alias("win_start"),
                    F.col("win.end").alias("win_end"), "bin", "n"))


def drift_from_windowed_counts(hist: DataFrame, ref_counts: DataFrame,
                               n_bins: int, smooth: float = 0.5,
                               kl_threshold: float = 0.05) -> DataFrame:
    """Per-window KL(window || reference) from finalized windowed
    histogram counts (the sink of streaming_windowed_histogram) against
    a static reference histogram (bin, n). Batch pass over closed
    windows — streaming can't nest a second aggregation, and KL over a
    FINAL window is the only sound reading anyway.

    Returns (win_start, win_end, kl, drifted)."""
    spark = hist.sparkSession
    wins = hist.select("win_start", "win_end").distinct()
    bins = spark.range(n_bins).select(F.col("id").alias("bin"))
    grid = wins.crossJoin(F.broadcast(bins))
    pc = hist.groupBy("win_start", "win_end", "bin") \
        .agg(F.sum("n").cast("double").alias("pc"))
    qc = ref_counts.groupBy("bin").agg(F.sum("n").cast("double").alias("qc"))
    j = (grid.join(pc, on=["win_start", "win_end", "bin"], how="left")
         .join(F.broadcast(qc), on="bin", how="left")
         .select("win_start", "win_end", "bin",
                 F.coalesce("pc", F.lit(0.0)).alias("pc"),
                 F.coalesce("qc", F.lit(0.0)).alias("qc")))
    tot = j.groupBy("win_start", "win_end").agg(
        F.sum("pc").alias("pt"))
    qt = qc.agg(F.sum("qc").alias("qt"))
    j = j.join(tot, on=["win_start", "win_end"]).crossJoin(F.broadcast(qt))
    p = (F.col("pc") + smooth) / (F.col("pt") + smooth * n_bins)
    q = (F.col("qc") + smooth) / (F.col("qt") + smooth * n_bins)
    return (j.groupBy("win_start", "win_end")
            .agg(F.round(F.sum(p * F.log(p / q)), 6).alias("kl"))
            .select("win_start", "win_end", "kl",
                    (F.col("kl") > kl_threshold).alias("drifted")))


def streaming_windowed_leaf_counts(stream_df: DataFrame, leaf_expr,
                                   event_time_col: str,
                                   window: str = "1 hour",
                                   watermark: str = "10 minutes"
                                   ) -> DataFrame:
    """Per-event-time-window q-digest LEAF COUNTS on a stream:
    (win_start, win_end, leaf, cnt) in APPEND mode — final when the
    watermark passes the window end, same emission contract as
    streaming_windowed_histogram.

    This is the streaming half of the canonical q-digest
    (operators/sketch.py): leaf counts are the sketch's mergeable
    pre-compression state (counts are additive), so the stream carries
    EXACT partial sketches with state bounded by open windows x
    distinct leaves (<= 2^levels per window, the sketch parameter).
    Compression to the digest happens on read via qdigest_per_window —
    pure function of these counts, so the streamed digest is bitwise
    the batch digest of the same window's rows."""
    return (stream_df
            .withColumn(event_time_col,
                        F.col(event_time_col).cast("timestamp"))
            .withWatermark(event_time_col, watermark)
            .withColumn("_leaf", leaf_expr.cast("bigint"))
            .where(F.col("_leaf").isNotNull())
            .groupBy(F.window(event_time_col, window).alias("win"),
                     F.col("_leaf").alias("leaf"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.col("win.start").alias("win_start"),
                    F.col("win.end").alias("win_end"), "leaf", "cnt"))


def qdigest_per_window(counts: DataFrame, levels: int,
                       k: int = 64) -> DataFrame:
    """Compress finalized windowed leaf counts (the sink of
    streaming_windowed_leaf_counts) into one canonical q-digest per
    window: (win_start, win_end, level, node, cnt). Batch pass over
    closed windows — one bounded task per window (<= 2^levels input
    rows), windows compress in parallel."""
    win = ("win_start", "win_end")
    return compress(leaf_rows(counts, levels, win), levels, k, win)
