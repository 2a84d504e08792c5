"""End-to-end validation run: the analog of schema.iter_errors.

Lifecycle (mirrors xmlschema/validators/schemas.py:1285-1405):
  stage A  row-local checks — one select, whole-stage codegen; it also
           holds the unscoped xs:keys' missing-field checks
  stage B  identity aggregate — every unique in ONE partial+final count
           aggregate and ONE join-back (deferred like the reference's
           identity-counter merge, schemas.py:1386-1389)
  stage C  referential anti-joins — keyref/IDREF
           (_validate_references, schemas.py:1393-1405)
  stage D  payload Arrow stage (bytes column read ONLY here)
  then     union violations -> verdicts per data-derived partition

Modes (ValidationContext.raise_or_collect, validation.py:216-236):
  strict — fail fast: raise on the FIRST violation found; physically a
           LIMIT 1 on the violation plan (early-exit, not a full scan)
  lax    — collect everything (default)
  skip   — no checks at all; returns empty violations
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .operators.identity import (identity_violations, keyref_violations,
                                 occurs_violations)
from .operators.payload import payload_violations
from .operators.row_checks import canonical_violations, row_violations
from .plans.compiler import ValidationPlan, compile_plan
from .specs import TableSpec


class XmlSchemaSparkValidationError(Exception):
    """Raised in strict mode on the first violation (reference:
    XMLSchemaValidationError, validators/exceptions.py:288-330)."""

    def __init__(self, row: dict):
        self.row = row
        super().__init__(
            f"{row.get('constraint')}: {row.get('reason')} "
            f"(row_key={row.get('row_key')})")


@dataclass
class ValidationResult:
    """A lax run's lazy outputs over one persisted violation union.
    unpersist() releases it; so does leaving `with validate(...) as res:`."""

    violations: DataFrame     # canonical order
    verdicts: DataFrame       # (part_key, n_rows, n_violations, pass)
    _cached: DataFrame | None = None

    def unpersist(self) -> None:
        if self._cached is not None:
            self._cached.unpersist()
            self._cached = None

    def __enter__(self) -> "ValidationResult":
        return self

    def __exit__(self, *exc) -> None:
        self.unpersist()


def _all_record_arrays(spec: TableSpec):
    def walk(rs):
        for r in rs:
            yield r
            yield from walk(r.nested)
    yield from walk(spec.record_arrays)


def _has_column(df: DataFrame, name: str) -> bool:
    """True when `name` resolves against df — a top-level column, or a
    dotted path descending struct fields (nested-record ColumnSpecs);
    array-of-struct steps look through to the element type (repeated
    record children, RecordArraySpec fields)."""
    from pyspark.sql.types import ArrayType, StructType
    schema = df.schema
    for step in name.split("."):
        if isinstance(schema, ArrayType):
            schema = schema.elementType
        if not isinstance(schema, StructType):
            return False
        hit = next((f for f in schema.fields if f.name == step), None)
        if hit is None:
            return False
        schema = hit.dataType
    return True


def schema_violations(df: DataFrame, spec: TableSpec) -> DataFrame:
    """Structural check: declared columns must exist; undeclared columns
    are violations unless the wildcard allows them (xs:any/anyAttribute
    namespace wildcards, reference: wildcards.py:33-99 — schema-evolution
    tolerance is a compile-time column allowlist). A dotted declared
    name ('meta.owner') checks the nested struct path; its top-level
    prefix counts as declared for the unexpected-column check (the
    wildcard allowlist stays top-level — nested extra fields inside a
    declared record are the record type's business, not the table's)."""
    import pyspark.sql.functions as _F
    spark = df.sparkSession
    declared = _declared_top(spec)
    actual = set(df.columns)
    rows = []
    checked = {c.name for c in spec.columns}
    checked |= {f.name for r in _all_record_arrays(spec)
                for f in r.fields}
    for c in sorted(n for n in checked if not _has_column(df, n)):
        rows.append(("<schema>", 0, f"schema:missing:{c}",
                     f"declared column '{c}' absent from table", c, 1))
    row_wildcarded = any(w.path == "" for w in spec.attr_wildcards)
    if not spec.allow_extra_columns and not row_wildcarded:
        for c in sorted(actual - declared):
            rows.append(("<schema>", 0, f"schema:unexpected:{c}",
                         f"undeclared column '{c}' present (no wildcard)", c, 1))
    rows.extend(_attr_wildcard_rows(df, spec, declared))
    return spark.createDataFrame(
        rows, "row_key string, part_key bigint, constraint string, "
              "reason string, value string, occurs bigint")


def _declared_top(spec: TableSpec) -> set:
    """Top-level declared column names (the row-level wildcard /
    unexpected-column allowlist): declared columns' first segments,
    the key/partition columns, record arrays, identity columns."""
    declared = {c.name for c in spec.columns} | {spec.key_column}
    declared |= {r.name for r in _all_record_arrays(spec)}
    for u in spec.uniques:
        declared |= set(u.columns)
    if spec.part_key:
        declared.add(spec.part_key)
    declared |= {c.split(".", 1)[0] for c in declared}
    return declared


def _attr_wildcard_rows(df: DataFrame, spec: TableSpec,
                        declared_top: set | None = None) -> list:
    """Wildcards over record types and the row (AttrWildcardSpec;
    attribute wildcards wildcards.py:164+ / attributes.py:659-712,
    element wildcards wildcards.py:33-99, openContent
    wildcards.py:848-897): EXTRA fields of the struct at each
    wildcard's path (path='' = extra TOP-LEVEL columns) are checked
    against the wildcard's namespace constraint + processContents.
    Struct schemas are static, so this is a metadata-only check — zero
    data movement. Several wildcards on one path (e.g. anyAttribute +
    xs:any) merge: a field violates the namespace constraint only when
    NO wildcard admits it, and is strict-rejected only when EVERY
    admitting wildcard is processContents='strict' (the tabular
    projection cannot tell attribute-shaped extras from element-shaped
    ones, so union admission is the sound relaxation)."""
    if not spec.attr_wildcards:
        return []
    declared_nested = {c.name for c in spec.columns}
    declared_nested |= set(spec.recursion_cuts)   # declared, cut-bounded
    for r in _all_record_arrays(spec):
        declared_nested.add(r.name)
        declared_nested |= {f.name for f in r.fields}
        declared_nested |= set(r.recursion_cuts)
    by_path: dict[str, list] = {}
    for w in spec.attr_wildcards:
        by_path.setdefault(w.path, []).append(w)
    rows = []
    for path in sorted(by_path):
        ws = by_path[path]
        if path == "":
            fields = set(df.columns)
            known = set(declared_top if declared_top is not None
                        else _declared_top(spec))
            noun = "column"
        else:
            got = _struct_fields_at(df, path)
            if got is None:
                continue      # absent struct: schema:missing covers it
            fields = set(got)
            dot = path + "."
            known = {n[len(dot):].split(".", 1)[0]
                     for n in declared_nested if n.startswith(dot)}
            noun = "nested field"
        for f in sorted(fields - known):
            fq = f if path == "" else f"{path}.{f}"
            admitting = [w for w in ws if _wildcard_admits(f, w)]
            if not admitting:
                w = ws[0]
                kindw = ("attribute" if w.kind == "attribute"
                         else "element")
                if all(f in (getattr(x, "not_qname", None) or ())
                       for x in ws):
                    # every wildcard excludes this exact name — the
                    # XSD 1.1 notQName rejection, not a namespace miss
                    # (wildcards.py:784-791)
                    rows.append((
                        "<schema>", 0, f"wildcard:notQName:{fq}",
                        f"{noun} '{fq}' is excluded by the {kindw} "
                        "wildcard's notQName list", f, 1))
                    continue
                cons = (w.namespace if w.not_namespace is None
                        else ["not"] + list(w.not_namespace))
                suffix = ("" if len(ws) == 1 else
                          f" (or any of the {len(ws) - 1} other "
                          "wildcard constraints on this record)")
                rows.append((
                    "<schema>", 0, f"wildcard:namespace:{fq}",
                    f"{noun} '{fq}' is outside the {kindw} "
                    f"wildcard's namespace constraint "
                    f"{cons}{suffix}", f, 1))
            elif all(w.process == "strict" for w in admitting):
                w = admitting[0]
                kindw = ("attribute" if w.kind == "attribute"
                         else "element")
                rows.append((
                    "<schema>", 0, f"wildcard:strict:{fq}",
                    f"{noun} '{fq}' matches the {kindw} "
                    "wildcard but has no declaration "
                    "(processContents='strict')", f, 1))
            # skip / lax admit the extra field (a tabular extra has
            # no declaration for lax to validate against)
    return rows


def _struct_fields_at(df: DataFrame, path: str):
    """Field names of the struct column at dotted `path`, looking
    through array-of-struct steps; None when the path doesn't resolve
    to a struct."""
    from pyspark.sql.types import ArrayType, StructType
    schema = df.schema
    for step in path.split("."):
        if isinstance(schema, ArrayType):
            schema = schema.elementType
        if not isinstance(schema, StructType):
            return None
        hit = next((f for f in schema.fields if f.name == step), None)
        if hit is None:
            return None
        schema = hit.dataType
    if isinstance(schema, ArrayType):
        schema = schema.elementType
    return [f.name for f in schema.fields] \
        if isinstance(schema, StructType) else None


def _wildcard_admits(field_name: str, w) -> bool:
    """Does `field_name` match the wildcard's namespace constraint?
    A Clark-form name '{uri}local' carries namespace `uri`; a plain
    name carries none (the reference's wildcard matching,
    wildcards.py:99-162: ##other excludes both the target namespace
    and ABSENT namespaces). An XSD 1.1 notQName entry excludes the
    exact name BEFORE the namespace constraint is consulted
    (wildcards.py:784-791, :837-845 — `name not in self.not_qname
    and is_namespace_allowed(...)`)."""
    if field_name in (getattr(w, "not_qname", None) or ()):
        return False
    uri = field_name[1:field_name.index("}")] \
        if field_name.startswith("{") and "}" in field_name else None
    tgt = w.target_ns or None
    if getattr(w, "not_namespace", None):
        # XSD 1.1 notNamespace complement (wildcards.py not_namespace):
        # admitted unless the field's namespace is one of the excluded
        # tokens (##local = absent, ##targetNamespace resolves)
        for tok in w.not_namespace:
            t = tgt if tok == "##targetNamespace" else \
                (None if tok in ("##local", "") else tok)
            if uri == t:
                return False
        return True
    for tok in (w.namespace or ["##any"]):
        if tok == "##any":
            return True
        if tok == "##other":
            if uri is not None and uri != tgt:
                return True
        elif tok in ("##local", ""):
            if uri is None:
                return True
        elif tok == "##targetNamespace":
            if uri == tgt:
                return True
        elif uri == tok:
            return True
    return False


def _required_wildcard_parts(df: DataFrame, spec: TableSpec) -> list:
    """REQUIRED element wildcards (AttrWildcardSpec.min_occurs>0 —
    xs:any with effective minOccurs>0, the reference's occurrence
    check over wildcard particles in groups.py): every instance of
    the governed scope must carry at least one wildcard-admitted
    extra child. Tabular projection: extra struct fields are the
    wildcard's children and presence = non-NULL, so the check is ONE
    codegen predicate per wildcard — an OR over the admitted extra
    fields, wrapped in `forall` where the path crosses a record
    array (every element instance needs its own wildcard child).
    Absent scopes (NULL struct / NULL array / NULL element) are
    vacuously valid — required_ asserts cover scope presence. The
    enforced bound is >=1, a sound relaxation of minOccurs>1 (see
    AttrWildcardSpec.min_occurs)."""
    from pyspark.sql.types import ArrayType, StructType

    req = [w for w in spec.attr_wildcards
           if getattr(w, "min_occurs", 0) > 0]
    if not req:
        return []
    declared_nested = {c.name for c in spec.columns}
    declared_nested |= set(spec.recursion_cuts)   # declared, cut-bounded
    for r in _all_record_arrays(spec):
        declared_nested.add(r.name)
        declared_nested |= {f.name for f in r.fields}
        declared_nested |= set(r.recursion_cuts)

    def _or_nonnull(get, ext):
        cond = F.lit(False)
        for f in ext:
            cond = cond | get(f).isNotNull()
        return cond

    def _pred(col, dtype, steps, ext):
        """True when the scope below `col` at `steps` satisfies the
        requirement (vacuous for absent scopes)."""
        if isinstance(dtype, ArrayType):
            elem = dtype.elementType
            return F.coalesce(
                F.forall(col, lambda x: _pred(x, elem, steps, ext)),
                F.lit(True))
        if not steps:
            return F.when(col.isNull(), F.lit(True)) \
                    .otherwise(_or_nonnull(col.getField, ext))
        hit = next((f for f in dtype.fields if f.name == steps[0]),
                   None)
        if hit is None:
            return F.lit(True)    # schema:missing covers the scope
        return F.when(col.isNull(), F.lit(True)).otherwise(
            _pred(col.getField(steps[0]), hit.dataType, steps[1:],
                  ext))

    parts = []
    key = F.col(spec.key_column).cast("string").alias("row_key")
    part = (F.col(spec.part_key).cast("bigint") if spec.part_key
            else F.lit(0).cast("bigint")).alias("part_key")
    for w in req:
        if w.path == "":
            known = _declared_top(spec)
            ext = sorted(f for f in set(df.columns) - known
                         if _wildcard_admits(f, w))
            # df[name] indexes by EXACT name (a Clark-form name may
            # contain '.' inside the URI, which F.col would parse as
            # nested-field access)
            ok = _or_nonnull(lambda f: df[f], ext)
        else:
            got = _struct_fields_at(df, w.path)
            if got is None:
                continue          # absent struct: schema:missing
            dot = w.path + "."
            known = {n[len(dot):].split(".", 1)[0]
                     for n in declared_nested if n.startswith(dot)}
            ext = sorted(f for f in set(got) - known
                         if _wildcard_admits(f, w))
            steps = w.path.split(".")
            hit = next((f for f in df.schema.fields
                        if f.name == steps[0]), None)
            if hit is None:
                continue
            ok = _pred(F.col(steps[0]), hit.dataType, steps[1:], ext)
        scope = w.path or "<row>"
        parts.append(
            df.where(~F.coalesce(ok, F.lit(True))).select(
                key, part,
                F.lit(f"wildcard:required:{scope}").alias("constraint"),
                F.lit(f"the element wildcard at '{scope}' is required "
                      "(minOccurs>0) but no admitted extra field is "
                      "present").alias("reason"),
                F.lit(",".join(ext)[:200]).alias("value"),
                F.lit(1).cast("bigint").alias("occurs")))
    return parts


def apply_defaults(df: DataFrame, spec: TableSpec) -> DataFrame:
    """Fill declared defaults into missing values (reference: default
    value fill at elements.py:771-772; attributes.py:243-262; filler
    hooks schemas.py:1497-1513)."""
    import pyspark.sql.functions as _F

    def _fill(cs):
        # engine pseudo-dtypes (xsd:int, xsd:gYear, ...) validate the
        # LEXICAL form over a string column — the fill literal stays the
        # lexical string; real Spark types cast so the fill matches the
        # column's type
        lit = _F.lit(cs.default)
        return lit if (cs.dtype or "").startswith("xsd:") \
            else lit.cast(cs.dtype)

    for cs in spec.columns:
        if cs.default is None:
            continue
        if cs.name in df.columns:
            df = df.withColumn(
                cs.name, _F.coalesce(_F.col(cs.name), _fill(cs)))
        elif cs.parent is not None and _has_column(df, cs.name):
            # nested-record field: fill inside the struct. withField on
            # a NULL struct stays NULL — an absent optional record gets
            # no defaults, matching the reference filling attribute
            # defaults only on elements that exist (attributes.py:243).
            top, rest = cs.name.split(".", 1)
            df = df.withColumn(top, _F.col(top).withField(
                rest, _F.coalesce(_F.col(cs.name), _fill(cs))))
    return df


def _cut_dtype(df: DataFrame, spec: TableSpec, path: str):
    """DataType at a recursion-cut path, or None when the path is absent
    from the physical schema (vacuously valid). Unlike _has_column this
    does NOT look through ArrayType at intermediate steps: F.col(path)
    through an array yields an ARRAY column, so an isNotNull() on it
    would flag a non-null array whose elements are all NULL at the leaf
    (false recursion-cut violations). A cut inside a repeated record is
    owned by the record array's exploded sub-spec (_record_array_parts),
    so a path crossing an array that one of spec's record arrays covers
    is None here; one that no record array covers cannot be checked at
    all and raises ValueError instead of being skipped."""
    from pyspark.sql.types import ArrayType, StructType
    schema = df.schema
    steps = path.split(".")
    for i, step in enumerate(steps):
        if isinstance(schema, ArrayType):
            prefix = ".".join(steps[:i])
            if any(r.name == prefix for r in _all_record_arrays(spec)):
                return None
            raise ValueError(
                f"recursion cut '{path}' crosses the array '{prefix}', "
                "which no record_arrays entry covers: the cut cannot be "
                "checked (declare the array as a RecordArraySpec and put "
                "the cut in its recursion_cuts)")
        if not isinstance(schema, StructType):
            return None
        hit = next((f for f in schema.fields if f.name == step), None)
        if hit is None:
            return None
        schema = hit.dataType
    return schema


def _recursion_cut_parts(df: DataFrame, spec: TableSpec) -> list:
    """Bounded-recursion cuts (TableSpec.recursion_cuts, xsd_import
    unroll_recursion=k): content BEYOND the unrolled depth must be
    absent. df-aware — a cut path missing from the physical schema is
    vacuously valid (a fixed tabular schema cannot even carry deeper
    instances); when present, a non-NULL struct / non-empty array at
    the path violates (the reference validates recursive types to
    unbounded depth over trees, groups.py iter_model — depth k+1
    content in a depth-k table is data the schema mapping rejects,
    never silently skips)."""
    import pyspark.sql.functions as _F
    from pyspark.sql.types import ArrayType
    out = []
    for c in spec.recursion_cuts:
        dt = _cut_dtype(df, spec, c)
        if dt is None:
            continue
        deeper = (_F.size(_F.col(c)) > 0 if isinstance(dt, ArrayType)
                  else _F.col(c).isNotNull())
        key = _F.col(spec.key_column).cast("string").alias("row_key")
        part = (_F.col(spec.part_key).cast("bigint") if spec.part_key
                else _F.lit(0).cast("bigint")).alias("part_key")
        out.append(df.where(_F.coalesce(deeper, _F.lit(False))).select(
            key, part,
            _F.lit(f"recursion:depth:{c}").alias("constraint"),
            _F.lit(f"content at '{c}' exceeds the unrolled recursion "
                   "depth (unroll_recursion)").alias("reason"),
            _F.lit(None).cast("string").alias("value"),
            _F.lit(1).cast("bigint").alias("occurs")))
    return out


def _record_array_parts(df: DataFrame, plan, spec: TableSpec) -> list:
    """Violation frames for repeated record children: explode each
    array (narrow — no shuffle, no data movement beyond the projection)
    into one row per element; the element struct keeps the array
    column's dotted path so the sub-plan's ColumnSpecs resolve
    unchanged. A dotted name ('meta.sub') explodes the nested array
    directly and REBUILDS the struct shell around the element; arrays
    nested inside array ELEMENTS recurse on the exploded frame — every
    level stays shuffle-free. NULL / empty arrays yield no element rows
    (size bounds on the parent row cover absence)."""
    import pyspark.sql.functions as _F
    out = []
    keep = [spec.key_column]
    if spec.part_key and spec.part_key != spec.key_column:
        keep.append(spec.part_key)
    for name, sub in plan.record_arrays:
        segs = name.split(".")
        ex = df.select(*keep, _F.explode(_F.col(name)).alias("_el"))
        shell = _F.col("_el")
        for seg in reversed(segs[1:]):
            shell = _F.struct(shell.alias(seg))
        ex = ex.select(*keep, shell.alias(segs[0]))
        out.append(row_violations(ex, sub))
        out.extend(_recursion_cut_parts(ex, sub.spec))
        out.extend(_record_array_parts(ex, sub, sub.spec))
    return out


def violation_parts(df: DataFrame, plan: ValidationPlan,
                    refs: dict[str, DataFrame] | None = None,
                    extra_validators: list | None = None) -> list[DataFrame]:
    """The violation sources as separate lazy frames, CHEAPEST FIRST
    (row checks — one shuffle-free codegen pass — before identity
    aggregates, joins, and the payload Arrow stage). Strict mode probes
    them in this order so the common dirty-data case fails after the
    cheap stage without ever launching the expensive branches."""
    spec = plan.spec
    refs = refs or {}
    declared = {c.name for c in spec.columns}
    declared |= {f.name for r in _all_record_arrays(spec)
                 for f in r.fields}
    missing = {n for n in declared if not _has_column(df, n)}
    if missing:
        raise KeyError(
            f"declared columns missing from table: {sorted(missing)} "
            "(run schema_violations() for a report instead)")
    parts = [row_violations(df, plan, keys=True)]
    wc_rows = _attr_wildcard_rows(df, spec)
    if wc_rows:
        # nested attribute-wildcard verdicts are schema-level (struct
        # fields are static metadata): a tiny local frame, no scan
        parts.append(df.sparkSession.createDataFrame(
            wc_rows,
            "row_key string, part_key bigint, constraint string, "
            "reason string, value string, occurs bigint"))
    parts.extend(_required_wildcard_parts(df, spec))
    parts.extend(_recursion_cut_parts(df, spec))
    parts.extend(_record_array_parts(df, plan, spec))
    if plan.identity is not None:
        parts.append(identity_violations(df, plan.identity,
                                         unscoped_missing=False))
    for k in spec.keyrefs:
        if k.ref_table not in refs:
            raise KeyError(f"keyref '{k.name}' needs ref table '{k.ref_table}'")
        parts.append(keyref_violations(df, refs[k.ref_table], k,
                                       spec.key_column, spec.part_key,
                                       broadcast_ref=k.broadcast))
    for o in spec.occurs:
        parts.append(occurs_violations(df, o, spec.part_key))
    if spec.payload is not None:
        parts.append(payload_violations(df, spec.payload, spec.part_key))
    for ev in (extra_validators or []):
        parts.append(ev(df))
    return parts


def violations_frame(df: DataFrame, plan: ValidationPlan,
                     refs: dict[str, DataFrame] | None = None,
                     extra_validators: list | None = None) -> DataFrame:
    """Union of all violation sources, lazily composed (one DAG).

    extra_validators: user callables df -> violations DataFrame — the
    analog of the reference extra_validator hook (validation.py:494-498;
    invoked at elements.py:843-851)."""
    return reduce(lambda a, b: a.unionByName(b),
                  violation_parts(df, plan, refs, extra_validators))


@dataclass
class VerdictColumns:
    """verdicts_frame's Columns; a ValidationPlan holds them, built once."""

    part_key: Column
    n_rows: Column
    n_violations: Column
    out: list[Column]
    order: Column


def verdict_columns(spec: TableSpec) -> VerdictColumns:
    pk = F.col(spec.part_key).cast("bigint") if spec.part_key \
        else F.lit(0).cast("bigint")
    n = F.count(F.lit(1))
    nv = F.coalesce("n_violations", F.lit(0)).cast("bigint")
    return VerdictColumns(
        part_key=pk.alias("part_key"), n_rows=n.alias("n_rows"),
        n_violations=n.alias("n_violations"),
        out=[F.col("part_key"), F.col("n_rows"), nv.alias("n_violations"),
             (nv == 0).alias("pass")],
        order=F.col("part_key"))


def _verdicts(df: DataFrame, violations: DataFrame,
              cols: VerdictColumns) -> DataFrame:
    rows = df.groupBy(cols.part_key).agg(cols.n_rows)
    viol = violations.groupBy(cols.order).agg(cols.n_violations)
    return (rows.join(viol, on="part_key", how="left")
            .select(*cols.out).orderBy(cols.order))


def verdicts_frame(df: DataFrame, violations: DataFrame,
                   spec: TableSpec) -> DataFrame:
    """(part_key, n_rows, n_violations, pass) — per-partition verdicts
    (reference: per-document verdict of cli.py:234-278, partitioned)."""
    return _verdicts(df, violations, verdict_columns(spec))


def validate(df: DataFrame, spec_or_plan: TableSpec | ValidationPlan,
             refs: dict[str, DataFrame] | None = None,
             mode: str = "lax",
             extra_validators: list | None = None) -> ValidationResult:
    plan = spec_or_plan if isinstance(spec_or_plan, ValidationPlan) \
        else compile_plan(spec_or_plan)
    spark = df.sparkSession
    if mode == "skip":
        empty = spark.createDataFrame(
            [], "row_key string, part_key bigint, constraint string, "
                "reason string, value string, occurs bigint")
        return ValidationResult(empty, _verdicts(df, empty, plan.verdicts))
    if mode == "strict":
        # STAGED fail-fast (reference: raise on first error,
        # validation.py:216-236): probe each violation source with its
        # own LIMIT 1, cheapest stage first — a facet violation stops
        # the run without ever launching the identity shuffles or the
        # payload Arrow stage (a LIMIT 1 on the unioned DAG still
        # schedules jobs for every branch).
        for part in violation_parts(df, plan, refs,
                                    extra_validators=extra_validators):
            first = part.limit(1).collect()
            if first:
                raise XmlSchemaSparkValidationError(first[0].asDict())
        empty = spark.createDataFrame(
            [], "row_key string, part_key bigint, constraint string, "
                "reason string, value string, occurs bigint")
        return ValidationResult(empty, _verdicts(df, empty, plan.verdicts))
    v = violations_frame(df, plan, refs, extra_validators=extra_validators)
    # persist: the violations DAG (payload decode, identity aggs, joins) is
    # the expensive part and is consumed by BOTH the violations output and
    # the verdicts aggregation — without this it would evaluate twice.
    # The persisted set holds only failures (small by construction).
    v = v.persist()
    return ValidationResult(canonical_violations(v),
                            _verdicts(df, v, plan.verdicts), _cached=v)


def is_valid(df: DataFrame, spec_or_plan: TableSpec | ValidationPlan,
             refs: dict[str, DataFrame] | None = None) -> bool:
    """reference: XMLSchema.is_valid (schemas.py:1266-1283). Staged like
    strict mode: probes each violation source with its own LIMIT 1,
    cheapest first, so dirty data answers False after the shuffle-free
    row stage without launching the expensive branches."""
    plan = spec_or_plan if isinstance(spec_or_plan, ValidationPlan) \
        else compile_plan(spec_or_plan)
    for part in violation_parts(df, plan, refs):
        if part.limit(1).take(1):
            return False
    return True
