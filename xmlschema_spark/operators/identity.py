"""Identity constraints at Spark scale: uniqueness aggregates + anti-joins.

The reference accumulates hash maps in a single pass per document
(IdentityCounter, xmlschema/validators/identities.py:364-418; id_map
Counter at validators/validation.py:166). At 10^12 rows those become real
distributed operators:

- xs:unique / xs:key  -> hash aggregate with partial+final combine: the
  map-side partial collapses each partition to one row per tuple, so a
  hot key's reducer sees at most one partial row per map task — skew-
  safe without salting (r8: the former salted two-level shape cost an
  extra Exchange for no added protection).
- xs:keyref / IDREF   -> left-anti join against the referred key set,
  broadcast when the key side is small, sort-merge otherwise; occurrence
  counts pre-aggregated BEFORE the join so the violation carries the
  reference's "(n times)" count (identities.py:403-418) and the join
  input is already deduplicated (smaller shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..specs import KeyrefSpec, OccursSpec, UniqueSpec

_VIOL = ["row_key", "part_key", "constraint", "reason", "value", "occurs"]


def _scope_frame(df: DataFrame, scope: str, keep: list[str]) -> DataFrame:
    """Node set of a record-array-scoped identity (UniqueSpec.scope;
    reference: FieldValueSelector applied to repeated content,
    identities.py:461-544): explode every array boundary along the
    dotted `scope` path — narrow transformations, zero shuffle — into
    one row per ELEMENT, rebuilding the struct shell so the original
    dotted selectors resolve unchanged. NULL/empty arrays contribute
    no elements (occurs bounds on the parent row cover absence)."""
    from pyspark.sql.types import ArrayType, StructType
    segs = scope.split(".")

    def first_array(schema):
        t = schema
        for i, s in enumerate(segs):
            if not isinstance(t, StructType):
                return None
            hit = next((f for f in t.fields if f.name == s), None)
            if hit is None:
                return None
            t = hit.dataType
            if isinstance(t, ArrayType):
                return i + 1
        return None

    while True:
        k = first_array(df.schema)
        if k is None:
            return df
        ex = df.select(*keep, F.explode(F.col(".".join(segs[:k])))
                       .alias("_el"))
        shell = F.col("_el")
        for seg in reversed(segs[1:k]):
            shell = F.struct(shell.alias(seg))
        df = ex.select(*keep, shell.alias(segs[0]))


def _tuple_str(columns: list[str]) -> F.Column:
    """Canonical rendering of a field tuple for the violation `value`."""
    if len(columns) == 1:
        return F.col(columns[0]).cast("string")
    return F.to_json(F.struct(*[F.col(c).cast("string").alias(c) for c in columns]))


def unique_violations(df: DataFrame, spec: UniqueSpec, key_column: str,
                      part_key: str | None = None) -> DataFrame:
    """Duplicated field tuples (reference: "duplicated value {} for {!r}",
    identities.py:385-389). Emits one violation row per OFFENDING ROW
    (not per group) so verdicts can attribute failures to rows, matching
    the reference raising at the element whose tuple repeats.

    Physical shape: pre-aggregate per key tuple (partial+final count),
    then a self semi-join to recover row keys. The map-side partial
    aggregation bounds reducer skew: a hot tuple arrives at its reducer
    as one partial row per map task, not as raw rows.
    """
    # selector-addressed fields (reference: restricted-XPath selectors,
    # identities.py:28-120): 'meta/owner/@id' resolves to a nested-field
    # projection; plain column names pass through untouched. A
    # record-array scope explodes the node set first (one row per
    # element — still narrow) so fields address ELEMENT values.
    from ..functions.selectors import resolve_selectors
    if getattr(spec, "scope", None):
        keep = [key_column] + ([part_key] if part_key
                               and part_key != key_column else [])
        df = _scope_frame(df, spec.scope, keep)
    df, cols = resolve_selectors(df, spec.columns)
    nn = F.lit(True)
    for c in cols:
        nn = nn & F.col(c).isNotNull()

    if spec.is_key:
        # xs:key: missing key field is itself an error (identities.py:523-531)
        missing = df.where(~nn).select(
            F.col(key_column).cast("string").alias("row_key"),
            _part(part_key),
            F.lit(f"key:{spec.name}:missing").alias("constraint"),
            F.lit(f"missing key field for '{spec.name}' {spec.columns}").alias("reason"),
            _tuple_str(cols).alias("value"),
            F.lit(1).cast("bigint").alias("occurs"),
        )
    else:
        missing = None

    present = df.where(nn)
    # ONE partial+final count aggregate (r8; guide §2.3 "aggregate
    # before you shuffle"). Skew protection for a COUNT needs no salt:
    # the map-side partial aggregate already collapses every partition's
    # contribution to one row per tuple, so the reducer owning a hot
    # tuple receives at most one tiny partial row per map task — never
    # the raw rows. The former (tuple, salt=partition_id%16) two-level
    # shape re-aggregated through a SECOND Exchange carrying up to 16x
    # the distinct-tuple count for no added protection (salting earns
    # its cost only for aggregations without map-side combine, e.g.
    # collect_list — those paths use pre-aggregation window caps
    # instead, see operators/dedup._cap_buckets). Measured sf1.0
    # local[32]: orders.o_custkey 1.79s -> 0.87s, images.phash
    # 0.76s -> 0.68s, bitwise-identical output.
    dup_tuples = (
        present
        .groupBy(*cols).agg(F.count(F.lit(1)).alias("occurs"))
        .where(F.col("occurs") > 1)
    )
    # dup tuple set is usually tiny; AQE converts this join to broadcast
    # at runtime when it is — no forced hint (could be huge in bad data)
    dups = (
        present.join(dup_tuples, on=cols, how="inner")
        .select(
            F.col(key_column).cast("string").alias("row_key"),
            _part(part_key),
            F.lit(f"unique:{spec.name}").alias("constraint"),
            F.concat(F.lit(f"duplicated value for '{spec.name}' fields {spec.columns}: "),
                     _tuple_str(cols)).alias("reason"),
            _tuple_str(cols).alias("value"),
            F.col("occurs").cast("bigint"),
        )
    )
    return dups.unionByName(missing) if missing is not None else dups


def keyref_violations(df: DataFrame, ref: DataFrame, spec: KeyrefSpec,
                      key_column: str, part_key: str | None = None,
                      broadcast_ref: bool | None = None) -> DataFrame:
    """Referring tuples absent from the referred key set (reference:
    "value {} not found for {!r} ({} times)", identities.py:403-418).

    Plan: dedupe+count referring tuples first (shrinks the join input and
    produces the "(n times)" count), left-anti join against the DISTINCT
    key set, then rejoin to rows to attribute row_keys.

    broadcast_ref: None (default) leaves the join strategy to Catalyst +
    AQE — the reference's semantics (identities.py:403-418) say nothing
    about the referred side being small, and a fact->fact keyref with
    10^9 distinct keys would OOM executors under a forced broadcast.
    Pass True only for known dimension tables (explicit fast path);
    False forbids broadcast even if AQE would pick it.
    """
    from ..functions.selectors import compile_selector, is_selector
    from ..functions.selectors import resolve_selectors
    if getattr(spec, "scope", None):
        keep = [key_column] + ([part_key] if part_key
                               and part_key != key_column else [])
        df = _scope_frame(df, spec.scope, keep)
    df, cols = resolve_selectors(df, spec.columns)
    rcols = spec.ref_columns
    if getattr(spec, "ref_scope", None):
        # the referred key lives inside a record array of the ref
        # table: its node set explodes the same way (narrow) before
        # the DISTINCT key-set reduction
        ref = _scope_frame(ref, spec.ref_scope, [])
    keys = ref.select(*[
        (compile_selector(c) if is_selector(c) else F.col(c)).alias(f"_k{i}")
        for i, c in enumerate(rcols)]).distinct()
    if broadcast_ref is True:
        keys = F.broadcast(keys)
    elif broadcast_ref is False:
        keys = keys.hint("shuffle_merge")

    nn = F.lit(True)
    for c in cols:
        nn = nn & F.col(c).isNotNull()
    present = df.where(nn)

    counted = present.groupBy(*cols).agg(F.count(F.lit(1)).alias("occurs"))
    cond = None
    for i, c in enumerate(cols):
        eq = counted[c] == keys[f"_k{i}"]
        cond = eq if cond is None else cond & eq
    misses = counted.join(keys, on=cond, how="left_anti")

    return (
        present.join(misses, on=cols, how="inner")
        .select(
            F.col(key_column).cast("string").alias("row_key"),
            _part(part_key),
            F.lit(f"keyref:{spec.name}").alias("constraint"),
            F.concat(F.lit("value "), _tuple_str(cols),
                     F.lit(f" not found for keyref '{spec.name}' ("),
                     F.col("occurs").cast("string"), F.lit(" times)")).alias("reason"),
            _tuple_str(cols).alias("value"),
            F.col("occurs").cast("bigint"),
        )
    )


def idref_violations(df: DataFrame, id_col: str, idref_col: str,
                     key_column: str, part_key: str | None = None) -> DataFrame:
    """xs:ID/xs:IDREF within one table: every IDREF value must match some
    row's ID (reference: id_map bookkeeping at validation.py:166;
    "IDREF not found" at schemas.py:1393-1399). A self-keyref."""
    from ..specs import KeyrefSpec
    ref = df.select(F.col(id_col))
    return keyref_violations(
        df, ref, KeyrefSpec(f"idref:{idref_col}", [idref_col], "self", [id_col]),
        key_column, part_key)


def occurs_violations(df: DataFrame, spec: OccursSpec,
                      part_key: str | None = None) -> DataFrame:
    """minOccurs/maxOccurs per parent scope (ModelVisitor.occurs,
    models.py:177-330; error text exceptions.py:480-487): per-group counts
    bounded. Group key becomes the row_key of the violation."""
    counts = df.groupBy(*spec.group_by).agg(
        F.count(F.lit(1)).alias("occurs"),
        # min, not first: deterministic across shuffle order (north rule)
        (F.min(F.col(part_key)) if part_key else F.min(F.lit(0))).cast("bigint").alias("part_key"),
    )
    bad = counts.where(F.col("occurs") < spec.min_occurs) if spec.max_occurs is None \
        else counts.where((F.col("occurs") < spec.min_occurs)
                          | (F.col("occurs") > spec.max_occurs))
    hi = "unbounded" if spec.max_occurs is None else str(spec.max_occurs)
    return bad.select(
        _tuple_str(spec.group_by).alias("row_key"),
        F.col("part_key"),
        F.lit(f"occurs:{spec.name}").alias("constraint"),
        F.concat(F.lit(f"occurrence count out of bounds [{spec.min_occurs}, {hi}] "
                       f"for '{spec.name}': "),
                 F.col("occurs").cast("string")).alias("reason"),
        _tuple_str(spec.group_by).alias("value"),
        F.col("occurs").cast("bigint"),
    )


def caption_equality_violations(df: DataFrame, ref: DataFrame,
                                id_col: str = "image_id",
                                caption_col: str = "caption",
                                ref_caption_col: str = "caption_norm",
                                part_key: str | None = None) -> DataFrame:
    """Caption-equality invariant vs a sidecar reference (input_hint;
    reference analog: fixed-value equality, elements.py:750-769).
    Whitespace-collapsed comparison (simple_types.py:453-463), inner join
    on the row key — ids absent from the sidecar are the keyref's
    business, not this check's."""
    from ..functions.lexical import ws_collapse
    r = ref.select(F.col(id_col).alias("_rid"),
                   F.col(ref_caption_col).alias("_rcap"))
    j = df.join(r, on=df[id_col] == r["_rid"], how="inner")
    bad = j.where(
        ws_collapse(F.col(caption_col)) != ws_collapse(F.col("_rcap")))
    return bad.select(
        F.col(id_col).cast("string").alias("row_key"),
        _part(part_key),
        F.lit("caption:equality").alias("constraint"),
        F.lit("caption differs from sidecar reference caption").alias("reason"),
        F.substring(F.col(caption_col), 1, 200).alias("value"),
        F.lit(1).cast("bigint").alias("occurs"),
    )


def _part(part_key: str | None) -> F.Column:
    if part_key:
        return F.col(part_key).cast("bigint").alias("part_key")
    return F.lit(0).cast("bigint").alias("part_key")
