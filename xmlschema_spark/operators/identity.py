"""Identity constraints at Spark scale: uniqueness aggregates + anti-joins.

The reference accumulates hash maps in a single pass per document
(IdentityCounter, xmlschema/validators/identities.py:364-418; id_map
Counter at validators/validation.py:166). At 10^12 rows those become real
distributed operators:

- xs:unique / xs:key  -> every unique of a spec in ONE hash aggregate
  with partial+final combine and ONE join-back (identity_violations):
  each node emits one row per unique, tagged with the unique's index
  and its field values in that unique's own typed slots, so the uniques
  share one scan, one Exchange and one join but never one group. The
  map-side partial collapses each partition to one row per tuple, so a
  hot key's reducer sees at most one partial row per map task — skew-
  safe without salting (r8: the former salted two-level shape cost an
  extra Exchange for no added protection). A window count per tuple
  would save the join-back but lose that combine — every raw row of a
  hot tuple would reach one reducer — so there is no window.
  xs:key's missing-field check is row-local: validate() runs the
  unscoped keys' in its row pass (key_missing).
- xs:keyref / IDREF   -> left-anti join against the referred key set,
  broadcast when the key side is small, sort-merge otherwise; occurrence
  counts pre-aggregated BEFORE the join so the violation carries the
  reference's "(n times)" count (identities.py:403-418) and the join
  input is already deduplicated (smaller shuffle).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.compiler import RowCheck
from ..specs import KeyrefSpec, OccursSpec, UniqueSpec


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


def _tuple_str(names: list[str],
               values: list[F.Column] | None = None) -> F.Column:
    """Canonical rendering of a field tuple for the violation `value`:
    one field as its string, several as a JSON object keyed by `names`
    (values default to the columns of those names)."""
    if values is None:
        values = [F.col(c) for c in names]
    if len(values) == 1:
        return values[0].cast("string")
    return F.to_json(F.struct(*[v.cast("string").alias(n)
                                for n, v in zip(names, values)]))


def _fields(columns: list[str]) -> tuple[list[str], list[F.Column]]:
    """(flat names, Columns) of identity fields. A selector-addressed
    field (reference: restricted-XPath selectors, identities.py:28-120)
    compiles to its nested-field projection under its selector alias;
    a plain column name passes through."""
    from ..functions.selectors import (compile_selector, is_selector,
                                       selector_alias)
    names = [selector_alias(c) if is_selector(c) else c for c in columns]
    return names, [compile_selector(c) if is_selector(c) else F.col(c)
                   for c in columns]


def _all_present(values: list[F.Column]) -> F.Column:
    return reduce(lambda a, b: a & b, [v.isNotNull() for v in values])


def key_missing(spec: UniqueSpec) -> RowCheck:
    """xs:key's missing-field check over its node set (identities.py:
    523-531) as a row check: valid when every field is present. Its
    value_col is the raw field tuple — NULL for a one-field key, the
    JSON object of the present fields for a composite key — which every
    place that renders the check emits untruncated: validate()'s row
    pass for an unscoped key, the exploded node set for a scoped one."""
    names, values = _fields(spec.columns)
    return RowCheck(
        constraint=f"key:{spec.name}:missing",
        reason=f"missing key field for '{spec.name}' {spec.columns}",
        valid=_all_present(values),
        value_col=_tuple_str(names, values))


@dataclass
class IdentityColumns:
    """identity_violations' Columns for one list of uniques. They hold
    only column names, never the data's schema, so a ValidationPlan
    builds them once at compile time (each Column call is several py4j
    round trips); a Column belongs to its JVM gateway, so they live on
    the plan, never in a module cache."""

    keep: list[str]                       # key/part columns of a scope
    nodes: dict[str | None, list[F.Column]]   # scope -> node select list
    groups: list[F.Column]                # gid + slots, renamed
    agg: F.Column
    dup: F.Column
    on: F.Column                          # gid + null-safe slot equality
    out: list[F.Column]
    missing: list[tuple[str | None, F.Column, list[F.Column]]]


def identity_columns(uniques: list[UniqueSpec], key_column: str,
                     part_key: str | None = None) -> IdentityColumns:
    """Build the Columns of identity_violations for `uniques`: per node
    set one select that emits, for every node and every unique over it
    whose fields are all present, a row (row_key, part_key, gid, slots)
    — gid is the unique's index, and each unique owns one slot per
    field, typed like the field and NULL in every other unique's rows,
    so values of different uniques never meet in a group."""
    row_key = F.col(key_column).cast("string").alias("row_key")
    part = _part(part_key)
    fields = [_fields(u.columns) for u in uniques]
    slots, first = [], []
    for names, _ in fields:
        first.append(len(slots))
        slots += [f"_s{len(slots) + j}" for j in range(len(names))]
    gid = F.col("gid")

    def node(i: int) -> F.Column:
        cells = [F.lit(None)] * len(slots)
        values = fields[i][1]
        cells[first[i]:first[i] + len(values)] = values
        return F.when(_all_present(values), F.struct(
            F.lit(i).alias("gid"),
            *[c.alias(s) for c, s in zip(cells, slots)]))

    def by_gid(cols: list[F.Column]) -> F.Column:
        # the last unique's branch is the ELSE: a CASE without one is
        # nullable, and the output schema's nullability must not change
        if len(cols) == 1:
            return cols[0]
        out = F.when(gid == 0, cols[0])
        for i in range(1, len(cols) - 1):
            out = out.when(gid == i, cols[i])
        return out.otherwise(cols[-1])

    scopes: dict[str | None, list[int]] = {}
    for i, u in enumerate(uniques):
        scopes.setdefault(u.scope or None, []).append(i)
    nodes = {sc: [row_key, part, F.inline(F.array_compact(
                      F.array(*[node(i) for i in ids])))]
             for sc, ids in scopes.items()}
    on = gid == F.col("_g")
    for s in slots:
        on = on & F.col(s).eqNullSafe(F.col(f"_d{s}"))
    values = [_tuple_str(names, [F.col(s) for s in
                                 slots[first[i]:first[i] + len(names)]])
              for i, (names, _) in enumerate(fields)]
    value = by_gid(values)
    keys = [(u.scope or None, key_missing(u)) for u in uniques if u.is_key]
    return IdentityColumns(
        keep=list(dict.fromkeys([key_column] + ([part_key] if part_key
                                                else []))),
        nodes=nodes,
        groups=[gid.alias("_g")] + [F.col(s).alias(f"_d{s}")
                                    for s in slots],
        agg=F.count(F.lit(1)).alias("occurs"),
        dup=F.col("occurs") > 1,
        on=on,
        out=[F.col("row_key"), F.col("part_key"),
             by_gid([F.lit(f"unique:{u.name}") for u in uniques])
             .alias("constraint"),
             F.concat(by_gid([F.lit(f"duplicated value for '{u.name}' "
                                    f"fields {u.columns}: ")
                              for u in uniques]), value).alias("reason"),
             value.alias("value"),
             F.col("occurs")],
        missing=[(sc, ~chk.valid,
                  [row_key, part, F.lit(chk.constraint).alias("constraint"),
                   F.lit(chk.reason).alias("reason"),
                   chk.value_col.alias("value"),
                   F.lit(1).cast("bigint").alias("occurs")])
                 for sc, chk in keys])


def identity_violations(df: DataFrame, cols: IdentityColumns,
                        unscoped_missing: bool = True) -> DataFrame:
    """Every unique of `cols` in ONE partial+final count aggregate and
    ONE join-back (reference: "duplicated value {} for {!r}",
    identities.py:385-389): one violation row per OFFENDING NODE (not
    per group), carrying the group's count, so verdicts attribute
    failures to rows. xs:key's missing-field rows are added per node
    set; unscoped_missing=False leaves the unscoped keys' rows to
    validate()'s row pass."""
    frames = {sc: df if sc is None else _scope_frame(df, sc, cols.keep)
              for sc in {*cols.nodes, *(sc for sc, _, _ in cols.missing)}}
    present = reduce(lambda a, b: a.unionByName(b),
                     [frames[sc].select(*sel)
                      for sc, sel in cols.nodes.items()])
    # ONE partial+final count aggregate over (gid, slots) (r8; guide
    # §2.3 "aggregate before you shuffle"). Skew protection for a COUNT
    # needs no salt: the map-side partial aggregate collapses every
    # partition's contribution to one row per tuple, so the reducer
    # owning a hot tuple receives at most one partial row per map task,
    # never the raw rows. A window count over (gid, slots) would drop
    # the join-back but ships every raw row to its tuple's reducer —
    # no map-side combine, so a hot value is a hot reducer.
    dups = present.groupBy(*cols.groups).agg(cols.agg).where(cols.dup)
    # the dup tuple set is usually tiny; AQE converts this join to a
    # broadcast at runtime when it is — no forced hint (bad data can
    # make it huge)
    parts = [present.join(dups, on=cols.on, how="inner").select(*cols.out)]
    parts += [frames[sc].where(pred).select(*sel)
              for sc, pred, sel in cols.missing
              if unscoped_missing or sc is not None]
    return reduce(lambda a, b: a.unionByName(b), parts)


def unique_violations(df: DataFrame, spec: UniqueSpec, key_column: str,
                      part_key: str | None = None) -> DataFrame:
    """Duplicated field tuples of one xs:unique / xs:key, plus an
    xs:key's missing-field rows: identity_violations over [spec]."""
    return identity_violations(
        df, identity_columns([spec], key_column, part_key))


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
