"""Spec -> ValidationPlan compiler.

The analog of schema build (reference: XsdGlobals.build,
xmlschema/validators/xsd_globals.py:537-578): every facet becomes a bound,
reusable predicate at compile time (reference: facets compiled to
validate callables, validators/facets.py:58,139-150). Here each facet
compiles to a Catalyst ``Column`` predicate that is TRUE when the value
is VALID, paired with a stable constraint id + reason template — so one
``select`` evaluates the whole row-local constraint suite in a single
whole-stage-codegen pass.

Facet inheritance chains are flattened at compile time
(reference: facets.py:96-121 walks base_facets at runtime; we conjoin the
full set once here — cheaper, same semantics).

Null semantics follow XSD: facet checks apply to present values only;
absence is governed solely by nullable/required
(reference: attributes.py:224-228 required attrs; elements.py:712-730 nil).
"""

from __future__ import annotations

import copy
import operator
import re
import threading
from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Optional

from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.lexical import normalize_ws, union_matches
from ..functions.xsd_regex import translate_xsd_pattern
from ..specs import ColumnSpec, TableSpec

if TYPE_CHECKING:
    from ..operators.identity import IdentityColumns
    from ..runner import VerdictColumns

# types whose facet comparisons need a numeric/temporal cast of literals
_NUMERIC = {"tinyint", "smallint", "int", "bigint", "float", "double", "decimal"}

# XSD built-in integer types (reference value-space validators,
# helpers.py:151-237): Spark physical type + implied value bounds.
# BOUNDED kinds fit a physical type exactly; the integer LEXICAL
# pattern guards decode (a bare try_cast to decimal would ROUND '3.5'
# to 4 instead of rejecting it).
_XSD_INT_TYPES: dict[str, tuple[str, int | None, int | None]] = {
    "byte": ("tinyint", None, None),
    "short": ("smallint", None, None),
    "int": ("int", None, None),
    "long": ("bigint", None, None),
    "unsignedByte": ("smallint", 0, 255),
    "unsignedShort": ("int", 0, 65535),
    "unsignedInt": ("bigint", 0, 4294967295),
    "unsignedLong": ("decimal(20,0)", 0, 18446744073709551615),
}
# UNBOUNDED kinds: the type's sign constraint is encoded in the LEXICAL
# pattern (exact at ANY digit count — no numeric cast can be, Spark
# decimal caps at 38 digits); -0/+0 count as zero per XSD. decimal(38,0)
# backs USER-supplied ordered facets only, with overflow suppressed via
# typed_guard (conservative pass beyond 38 digits, documented).
_XSD_INT_UNBOUNDED: dict[str, str] = {
    "integer": r"[-+]?[0-9]+",
    "nonNegativeInteger": r"\+?[0-9]+|-0+",
    "positiveInteger": r"\+?0*[1-9][0-9]*",
    "nonPositiveInteger": r"-[0-9]+|\+?0+",
    "negativeInteger": r"-0*[1-9][0-9]*",
}
_XSD_INT_LEX = r"[-+]?[0-9]+"
# XSD float/double lexical space (reference: elementpath float parsers
# via builtins.py; XSD datatypes 3.3.1-3.3.2): decimal/scientific forms
# plus the special values INF, +INF, -INF, NaN
_XSD_FLOAT_LEX = (r"(\+|-)?([0-9]+(\.[0-9]*)?|\.[0-9]+)"
                  r"([eE](\+|-)?[0-9]+)?|(\+|-)?INF|NaN")
# xs:decimal lexical space: NO exponent, NO special values (XSD
# datatypes 3.3.3 — '1e2' is invalid xs:decimal though Spark's decimal
# cast accepts it)
_XSD_DECIMAL_LEX = r"(\+|-)?([0-9]+(\.[0-9]*)?|\.[0-9]+)"


# ------------------------------------------------- assertion vocabulary
# Compile-time vocabulary check for AssertSpec expressions — the analog
# of the reference's parse-time rejection of unknown XPath names/
# functions in xs:assert (validators/assertions.py:119-133): a typo'd
# column or function fails at compile_plan time, not at first action.

_ASSERT_KEYWORDS = frozenset("""
 and or not in is null true false like rlike ilike escape between case
 when then else end cast as distinct interval exists all any some from
 div current_date current_timestamp to
 int integer bigint long smallint short tinyint byte double float real
 decimal numeric string varchar char boolean date timestamp
 timestamp_ntz binary void
 year years quarter month months week weeks day days hour hours
 minute minutes mins second seconds secs millisecond milliseconds
 microsecond microseconds nanosecond nanoseconds
 yearofweek isoyear dayofweek dow isodow doy epoch
 """.split())
# the second/third blocks are INTERVAL unit keywords ('INTERVAL '1'
# DAY', 'year to month') and extract()/date_part field names
# ('extract(year from ts)') — bare identifiers that are not columns;
# without them the column check rejects valid expressions. Cost: a
# column whose name collides with a unit ('day') skips the compile-time
# typo check and is caught at Catalyst analysis instead.

# whitelisted scalar functions (grow via ASSERT_FUNCTIONS.add(...) for
# deployment-specific vocabularies — mirrors the reference's pluggable
# XPath function registration). Higher-order functions are allowed:
# their lambda parameters are extracted (`x ->` / `(x, y) ->`) and
# whitelisted within the expression before the column check.
ASSERT_FUNCTIONS = set("""
 exists forall filter transform aggregate reduce zip_with array_join
 array_sort
 abs greatest least coalesce nullif nvl nvl2 ifnull if isnull isnotnull
 length char_length character_length lower upper trim ltrim rtrim
 substring substr concat concat_ws split replace translate instr locate
 lpad rpad left right startswith endswith contains
 regexp_like regexp regexp_extract regexp_replace regexp_count
 round bround floor ceil ceiling pow power sqrt exp ln log log2 log10
 mod pmod sign abs negative positive
 to_date to_timestamp try_to_timestamp to_unix_timestamp year month day
 dayofmonth dayofweek dayofyear weekofyear quarter hour minute second
 datediff date_add date_sub add_months months_between last_day trunc
 date_trunc unix_timestamp make_date try_make_date extract date_part
 size cardinality array_contains element_at try_element_at array_min
 array_max array_distinct array_position sort_array slice
 cast try_cast try_add try_subtract try_multiply try_divide
 md5 sha1 sha2 crc32 hash bin hex unhex encode decode base64 unbase64
 format_number printf char ascii chr initcap repeat reverse space
 levenshtein soundex
 """.split())

# dotted tails ride along so nested-record references ('owner.quota')
# check as one name against the declared dotted columns
_IDENT_RE = re.compile(
    r"\b([A-Za-z_][A-Za-z_0-9]*(?:\.[A-Za-z_][A-Za-z_0-9]*)*)\b\s*(\()?")


def check_assert_vocabulary(expr: str, known_cols: set[str],
                            ctx: str) -> None:
    """Raise ValueError when `expr` references a column outside
    `known_cols` or a function outside ASSERT_FUNCTIONS. String
    literals and backquoted identifiers are handled; resolution
    (types, arity) still happens at Catalyst analysis."""
    s = re.sub(r"''", " ", expr)
    s = re.sub(r"'[^']*'", " ", s)          # string literals
    backquoted = re.findall(r"`([^`]+)`", s)
    s = re.sub(r"`[^`]+`", " ", s)
    # lambda parameters of higher-order functions ('x ->', '(x, y) ->')
    # are locals, not columns. KNOWN SCOPE LEAK (advisory check only):
    # the params whitelist applies to the WHOLE expression, not just the
    # lambda's span, so a typo'd column reference elsewhere that happens
    # to equal a lambda parameter name escapes this compile-time check —
    # Catalyst analysis still rejects it at plan time with its own
    # unresolved-column error, so nothing unsound passes, just later.
    lambda_params: set[str] = set()
    for m in re.finditer(r"\(([A-Za-z_0-9\s,]+)\)\s*->|"
                         r"([A-Za-z_][A-Za-z_0-9]*)\s*->", s):
        names = m.group(1) or m.group(2)
        lambda_params.update(n.strip() for n in names.split(",")
                             if n.strip())
    known_cols = known_cols | lambda_params
    for m in _IDENT_RE.finditer(s):
        name, is_fn = m.group(1), m.group(2)
        low = name.lower()
        if low in _ASSERT_KEYWORDS:
            continue
        if is_fn:
            if low not in ASSERT_FUNCTIONS:
                raise ValueError(
                    f"assert {ctx}: function '{name}' is not in the "
                    f"assertion vocabulary (ASSERT_FUNCTIONS)")
        elif name not in known_cols:
            raise ValueError(
                f"assert {ctx}: unknown column '{name}' — declare it "
                f"in the spec or in AssertSpec.columns")
    for name in backquoted:
        if name not in known_cols:
            raise ValueError(
                f"assert {ctx}: unknown column '{name}' — declare it "
                f"in the spec or in AssertSpec.columns")


def _validate_identity_specs(spec: TableSpec) -> None:
    """Compile-time identity/constraint declaration checks — the analog
    of the reference's schema-build errors for identities
    (tests/validators/test_identities.py:37-120: duplicated names,
    missing name/selector/field declarations, invalid selector
    paths)."""
    from collections import Counter
    from ..functions.selectors import compile_selector, is_selector

    def err(msg: str) -> None:
        raise ValueError(f"spec '{spec.name}': {msg}")

    names = ([u.name for u in spec.uniques]
             + [k.name for k in spec.keyrefs]
             + [o.name for o in spec.occurs]
             + [a.name for a in spec.asserts]
             + [c.name for c in spec.conditionals])
    dups = sorted(n for n, c in Counter(names).items() if c > 1)
    if dups:
        err(f"duplicated constraint name(s) {dups} — identity and "
            "constraint names share one symbol space "
            "(reference: \"duplicated value ('key1',)\")")
    for u in spec.uniques:
        if not u.columns:
            err(f"unique '{u.name}': missing field declaration")
    for k in spec.keyrefs:
        if not k.columns:
            err(f"keyref '{k.name}': missing field declaration")
        if not k.ref_table:
            err(f"keyref '{k.name}': missing referred table")
        if len(k.columns) != len(k.ref_columns):
            err(f"keyref '{k.name}': {len(k.columns)} fields vs "
                f"{len(k.ref_columns)} referred fields")
    for o in spec.occurs:
        if not o.group_by:
            err(f"occurs '{o.name}': missing group_by declaration")
        if o.max_occurs is not None and o.max_occurs < o.min_occurs:
            err(f"occurs '{o.name}': maxOccurs {o.max_occurs} < "
                f"minOccurs {o.min_occurs}")
    # selector-path syntax (reference: 'invalid XPath expression for an
    # XsdSelector' at parse time)
    for group in (spec.uniques, spec.keyrefs):
        for ident in group:
            for c in ident.columns:
                if is_selector(c):
                    compile_selector(c)      # raises on bad syntax


def _spec_known_columns(spec: TableSpec) -> set[str]:
    """Every column name the spec declares anywhere — the assertion
    vocabulary's base set."""
    known = {spec.key_column}
    if spec.part_key:
        known.add(spec.part_key)
    known.update(c.name for c in spec.columns)
    def _walk_ras(rs):
        for r in rs:
            known.add(r.name)
            known.update(f.name for f in r.fields)
            _walk_ras(r.nested)
    _walk_ras(spec.record_arrays)
    # nested-record columns: every dotted prefix is addressable too
    # ('owner.quota' declares 'owner' and 'owner.quota')
    for c in list(known):
        parts = c.split(".")
        for i in range(1, len(parts)):
            known.add(".".join(parts[:i]))
    for cond in spec.conditionals:
        known.update(c.name for c in cond.columns)
    for u in spec.uniques:
        known.update(u.columns)
    for kr in spec.keyrefs:
        known.update(kr.columns)
    for oc in spec.occurs:
        known.update(oc.group_by)
    return known


def _check_int_literal(kind: str, fname: str, v) -> None:
    """Compile-time facet-constant decode for integer built-ins
    (reference: parse_error at facet build): must be an integral
    literal — a fractional bound would silently shift through the
    decimal cast ('3.4' -> 3)."""
    try:
        int(str(v))
    except ValueError:
        raise ValueError(
            f"invalid integer facet constant {fname}={v!r} for "
            f"xsd:{kind}") from None


_NATIVE_INT_RANGES = {"byte": (-128, 127), "short": (-32768, 32767),
                      "int": (-2**31, 2**31 - 1),
                      "long": (-2**63, 2**63 - 1)}


def _literal_is_type_valid(dtype: Optional[str], v) -> bool:
    """Compile-time membership test of a fixed/default literal in the
    column type's lexical/value space — the reference rejects an
    incompatible default at SCHEMA PARSE ('default value {!r} is not
    compatible with attribute's type', attributes.py:195-206;
    elements.py:318-331), not at validation time."""
    if dtype is None:
        return True
    base = dtype.split("(")[0]
    if isinstance(v, bool):
        # a native Python bool IS a boolean value-space member
        return base in ("boolean", "xsd:boolean")
    s = " ".join(str(v).split())          # collapse, like the decode path
    if base.startswith("xsd:"):
        kind = base[4:]
        if kind in _XSD_INT_TYPES:
            if not re.fullmatch(_XSD_INT_LEX, s):
                return False
            _, lo, hi = _XSD_INT_TYPES[kind]
            if lo is None:
                lo, hi = _NATIVE_INT_RANGES[kind]
            return lo <= int(s) <= hi
        if kind in _XSD_INT_UNBOUNDED:
            return re.fullmatch(_XSD_INT_UNBOUNDED[kind], s) is not None
        if kind == "decimal":
            return re.fullmatch(_XSD_DECIMAL_LEX, s) is not None
        if kind in ("float", "double"):
            return re.fullmatch(_XSD_FLOAT_LEX, s) is not None
        if kind == "boolean":
            return s in ("true", "false", "1", "0")
        if kind == "hexBinary":
            return re.fullmatch(r"([0-9a-fA-F]{2})*", s) is not None
        if kind == "base64Binary":
            return re.fullmatch(r"[A-Za-z0-9+/ ]*={0,2}", s) is not None
        from ..functions.temporal_lex import python_lexical
        lex = python_lexical(kind)
        if lex is not None:
            return re.fullmatch(lex, s) is not None
        return True
    import datetime as _dt
    try:
        if base in ("tinyint", "smallint", "int", "bigint", "long",
                    "short", "byte"):
            int(s)
        elif base in ("float", "double", "real", "decimal", "numeric"):
            float(s)
        elif base == "date":
            _dt.date.fromisoformat(s)
        elif base == "timestamp":
            _dt.datetime.fromisoformat(s)
        elif base == "boolean":
            return s.lower() in ("true", "false", "1", "0")
    except ValueError:
        return False
    return True


@dataclass
class RowCheck:
    """One compiled row-local constraint."""

    constraint: str          # e.g. 'facet:minInclusive:w'
    reason: str              # stable message text (reference: error.reason)
    valid: Column            # TRUE when the row satisfies the constraint
    value_col: Column        # offending value rendered for the violation row


@dataclass
class ValidationPlan:
    """Compiled plan: reusable across batches (build once, run many —
    reference: schema reuse across documents, xsd_globals.py:545).

    compile_plan caches plans per SparkContext and hands the same plan
    to every caller of an equal spec, so a plan is read-only once
    compiled: never mutate it, its spec or its lists (edit a spec and
    compile it again)."""

    spec: TableSpec
    row_checks: list[RowCheck] = field(default_factory=list)
    normalizations: dict[str, Column] = field(default_factory=dict)
    # list columns' item folds by column name (compiler._compile_list):
    # a row pass adds them to the frame first (operators/row_checks.
    # with_item_folds), so each list's items are folded once per row
    item_folds: dict[str, Column] = field(default_factory=dict,
                                          repr=False)
    # repeated-record children: (array column, compiled element plan) —
    # the runner explodes the array (narrow, shuffle-free) and runs the
    # element plan over it; size/occurs bounds live in row_checks
    record_arrays: list[tuple[str, "ValidationPlan"]] = \
        field(default_factory=list)
    # row_violations' two select lists, built once at compile time
    # (operators/row_checks.row_projections); None when no row checks
    row_projection: Optional[tuple[list[Column], list[Column]]] = \
        field(default=None, repr=False)
    # validate()'s row pass: row_projection plus the unscoped xs:keys'
    # missing-field checks; None when it would be empty
    validate_projection: Optional[tuple[list[Column], list[Column]]] = \
        field(default=None, repr=False)
    # every unique in one aggregate (operators/identity.identity_columns);
    # None when the spec has no uniques
    identity: Optional[IdentityColumns] = field(default=None, repr=False)
    # verdicts_frame's Columns (runner.verdict_columns)
    verdicts: Optional[VerdictColumns] = field(default=None, repr=False)


def _lit(dtype: str, v) -> Column:
    base = dtype.split("(")[0]
    if base in _NUMERIC or base in ("date", "timestamp"):
        if isinstance(v, int) and not -2**63 <= v < 2**63:
            # beyond long range (e.g. unsignedLong's max): route the
            # literal through a string — F.lit can't box it
            return F.lit(str(v)).cast(dtype)
        return F.lit(v).cast(dtype)
    return F.lit(v)


def _length_col(col: Column, dtype: str) -> Column:
    """length facet dispatch: chars for strings, size for arrays, octets
    for binary (reference: facets.py:171-206 len() over the decoded
    value-space)."""
    base = dtype.split("(")[0]
    if base == "binary":
        return F.octet_length(col)
    if base.startswith("array"):
        return F.size(col)
    return F.length(col)


_INT_DTYPES = {"tinyint", "smallint", "int", "bigint", "long", "short",
               "byte"}


def _validate_column_spec(cs: ColumnSpec) -> None:
    """Compile-time facet consistency — the analog of the reference's
    schema-build XMLSchemaParseError sweep (facets.py constructors;
    tests/validators/test_facets.py restriction cases). Conflicting or
    malformed facet combinations are rejected when the spec compiles,
    never at first action."""
    def err(msg: str) -> None:
        raise ValueError(f"column '{cs.name}': {msg}")

    if cs.base is not None:
        err(f"unresolved base type {cs.base!r} — compile through "
            f"compile_plan so restriction chains are flattened")
    if cs.whitespace is not None and \
            cs.whitespace not in ("preserve", "replace", "collapse"):
        err(f"whitespace value must be one of ['preserve', 'replace', "
            f"'collapse'], got {cs.whitespace!r}")
    if cs.explicit_timezone is not None and \
            cs.explicit_timezone not in ("required", "prohibited",
                                         "optional"):
        err(f"explicitTimezone must be required|prohibited|optional, "
            f"got {cs.explicit_timezone!r}")
    if cs.total_digits is not None:
        if not isinstance(cs.total_digits, int) or cs.total_digits < 1:
            err("totalDigits value must be positive "
                f"(got {cs.total_digits!r})")
    if cs.fraction_digits is not None:
        if not isinstance(cs.fraction_digits, int) \
                or cs.fraction_digits < 0:
            err("fractionDigits value must be non negative "
                f"(got {cs.fraction_digits!r})")
        dt = (cs.dtype or "").lower()
        integerish = (dt in _INT_DTYPES
                      or dt.startswith("xsd:") and (
                          dt[4:] in _XSD_INT_TYPES
                          or dt[4:] in _XSD_INT_UNBOUNDED)
                      or re.fullmatch(r"decimal\(\d+,\s*0\)", dt))
        if integerish and cs.fraction_digits > 0:
            err("fractionDigits value must be 0 for types derived from "
                "xs:integer")
        if dt in ("float", "double", "real", "xsd:float", "xsd:double"):
            err("fractionDigits can be applied only to types derived "
                "from xs:decimal")
    if cs.length is not None and (cs.min_length is not None
                                  or cs.max_length is not None):
        err("length cannot be combined with minLength/maxLength")
    if cs.min_length is not None and cs.max_length is not None \
            and cs.min_length > cs.max_length:
        err(f"minLength {cs.min_length} > maxLength {cs.max_length}")
    if cs.min_inclusive is not None and cs.min_exclusive is not None:
        err("minInclusive and minExclusive cannot both be specified")
    if cs.max_inclusive is not None and cs.max_exclusive is not None:
        err("maxInclusive and maxExclusive cannot both be specified")
    if cs.enum is not None and len(cs.enum) == 0:
        err("enumeration facet requires at least one value")
    if cs.fixed is not None and cs.default is not None:
        err("fixed and default cannot both be specified")
    for fld, v in (("fixed", cs.fixed), ("default", cs.default)):
        if v is not None and not _literal_is_type_valid(cs.dtype, v):
            err(f"{fld} value {v!r} is not compatible with the "
                "column's type")

    # bound-order conflicts: only where both bounds are numerically
    # comparable at compile time (temporal/duration bounds live in a
    # partial order and are validated by their own literal parsers)
    def _num(v):
        try:
            return float(v)
        except (TypeError, ValueError):
            return None
    lo = cs.min_inclusive if cs.min_inclusive is not None \
        else cs.min_exclusive
    hi = cs.max_inclusive if cs.max_inclusive is not None \
        else cs.max_exclusive
    nlo, nhi = _num(lo), _num(hi)
    if nlo is not None and nhi is not None:
        strict = cs.min_exclusive is not None \
            or cs.max_exclusive is not None
        if nlo > nhi or (strict and nlo == nhi):
            err(f"empty value space: lower bound {lo!r} vs upper "
                f"bound {hi!r}")


def _collect_pattern_groups(cs: ColumnSpec) -> list[list[str]]:
    """AND-of-OR pattern groups: cs.pattern is one any-of group;
    pattern_groups carries further derivation steps' groups
    (facets.py:723-833 — OR within a facet, AND across restriction
    steps)."""
    groups: list[list[str]] = []
    if cs.pattern:
        groups.append(list(cs.pattern))
    if cs.pattern_groups:
        groups.extend(list(g) for g in cs.pattern_groups if g)
    return groups


def _pattern_groups_ok(val_s: Column,
                       groups: list[list[str]]) -> Column:
    ok = None
    for g in groups:
        pats = [translate_xsd_pattern(p) for p in g]
        gok = val_s.rlike(pats[0])
        for p in pats[1:]:
            gok = gok | val_s.rlike(p)   # any-of (facets.py:808-814)
        ok = gok if ok is None else ok & gok
    return ok


def compile_column(cs: ColumnSpec, value: Column,
                   namespaces: Optional[dict] = None,
                   nested: bool = False,
                   folds: Optional[dict[str, Column]] = None
                   ) -> tuple[Optional[Column], list[RowCheck]]:
    """Compile one ColumnSpec over the Column `value` -> (normalization
    expr or None, checks). The one facet compiler: a table column
    passes F.col(cs.name), a list item the lambda variable of
    _compile_list's fold, a union member the union's value — the
    reference runs items and members through the same normalize,
    decode and facet pipeline as a plain value (simple_types.py:705-785,
    991-1019, 1178-1211).

    nested=True compiles a list item or a union member: checks are named
    facet:item:<kind>:<cs.name>, no required check is made (a NULL item
    is not checked, like a NULL column value), the base type's lexical
    check is a decode check, and an assertion raises — its expression
    names a table column, which an item or a member does not have.

    namespaces: the spec's prefix->URI map (TableSpec.namespaces) —
    only consulted by xsd:QName / xsd:NOTATION columns for prefix
    binding and expanded-name enumeration.

    folds: where a list column's item fold goes (ValidationPlan.
    item_folds); None keeps it inside the checks, as it must be for a
    list inside a lambda."""
    if cs.item is not None:
        return _compile_list(cs, value, namespaces, nested, folds)
    _validate_column_spec(cs)
    if nested and cs.assertion:
        raise ValueError(
            f"column '{cs.name}': an assertion cannot apply to a list "
            "item or a union member — its expression reads table "
            "columns, and an item or a member is not one")
    if cs.dtype == "xsd:NOTATION" and not cs.enum:
        # reference attributes.py:246-252 wording
        raise ValueError(
            "cannot validate against xs:NOTATION directly, only "
            "against a subtype with an enumeration facet")
    xsd_ordered: list[tuple[str, str, str]] = []   # (facet, literal, kind)
    xsd_lex_pattern: str | None = None
    xsd_kind: str | None = None
    xsd_int_decode: str | None = None   # None | 'strict' | 'skip'
    xsd_binary_kind: str | None = None  # hexBinary | base64Binary
    if cs.dtype and cs.dtype.startswith("xsd:"):
        # XSD temporal types with no native Spark mapping (gYear, gMonth,
        # duration, ... — SURVEY §1.2): validated as anchored lexical
        # patterns over strings (reference parsers: builtins.py:97-136).
        # Ordered facets (min/max In/Exclusive) are peeled off here and
        # compiled to VALUE-SPACE comparisons under the XSD partial
        # orders (functions/temporal_order.py; reference semantics:
        # facets.py:285-448, constants decoded against the base type at
        # facets.py:300-314) — they must not fall through to the string
        # comparison below, which would order "P9D" > "P10D".
        from ..functions.temporal_lex import ALL as _XSD_LEX
        from ..functions import temporal_order as _TORD
        kind = cs.dtype[4:]
        if kind in _XSD_INT_TYPES or kind in _XSD_INT_UNBOUNDED:
            # integer built-ins rewrite to a native numeric pipeline
            # (ordered facets flow through the standard path); the
            # integer lexical pattern ANDs in below like any other
            # base-type lexical space, and — like the reference's fixed
            # whiteSpace=collapse on all decimal-derived built-ins —
            # padded values like ' 42 ' are collapsed before checking
            for fname in ("min_inclusive", "min_exclusive",
                          "max_inclusive", "max_exclusive"):
                if getattr(cs, fname) is not None:
                    _check_int_literal(kind, fname, getattr(cs, fname))
            xsd_kind = kind
            ws = cs.whitespace if cs.whitespace is not None else "collapse"
            if kind in _XSD_INT_TYPES:
                # bounded: the physical type holds the whole value
                # space; type bounds fill in where the user left
                # min/max unset (valid restrictions only narrow)
                dt, lo, hi = _XSD_INT_TYPES[kind]
                xsd_lex_pattern = _XSD_INT_LEX
                xsd_int_decode = "strict"     # decode = cast AND lexical
                cs = ColumnSpec(**{
                    **cs.__dict__, "dtype": dt, "whitespace": ws,
                    "min_inclusive": cs.min_inclusive
                    if cs.min_inclusive is not None else lo,
                    "max_inclusive": cs.max_inclusive
                    if cs.max_inclusive is not None else hi})
            else:
                # unbounded: the sign-aware lexical IS the value-space
                # check (exact at any digit count); decimal(38,0) backs
                # user ordered facets only, overflow suppressed by
                # typed_guard — no decode check (it would wrongly flag
                # spec-valid 39+-digit integers)
                xsd_lex_pattern = _XSD_INT_UNBOUNDED[kind]
                xsd_int_decode = "skip"
                cs = ColumnSpec(**{
                    **cs.__dict__, "dtype": "decimal(38,0)",
                    "whitespace": ws})
        elif kind == "decimal":
            # xs:decimal: lexically-gated (no exponent — Spark's
            # decimal cast accepts '1e2', the XSD lexical space does
            # not); value space backed by decimal(38,18) for ordered/
            # digit facets, with overflow beyond (38,18) suppressed via
            # typed_guard (conservative pass, same contract as the
            # unbounded integer kinds).
            xsd_kind = kind
            xsd_lex_pattern = _XSD_DECIMAL_LEX
            xsd_int_decode = "strict_decimal"
            ws = cs.whitespace if cs.whitespace is not None else "collapse"
            cs = ColumnSpec(**{**cs.__dict__, "dtype": "decimal(38,18)",
                               "whitespace": ws})
        elif kind in ("hexBinary", "base64Binary"):
            # xs:hexBinary / xs:base64Binary: lexical checks via the
            # dedicated helpers (functions/lexical.py — the base64 one
            # tolerates embedded whitespace per XSD and validates the
            # padding alphabet); LENGTH FACETS COUNT OCTETS of the
            # decoded value space, not lexical chars (reference
            # facets.py:171-206 len() over bytes: 2 hex chars or 4
            # base64 chars minus padding per 3 octets).
            for fname in ("min_inclusive", "min_exclusive",
                          "max_inclusive", "max_exclusive"):
                if getattr(cs, fname) is not None:
                    raise ValueError(
                        f"ordered facet {fname} unsupported for "
                        f"xsd:{kind}")
            xsd_kind = kind
            xsd_binary_kind = kind
            ws = cs.whitespace if cs.whitespace is not None else "collapse"
            cs = ColumnSpec(**{**cs.__dict__, "dtype": "string",
                               "whitespace": ws})
        elif kind == "boolean":
            # xsd:boolean: EXACTLY true|false|1|0 after whitespace
            # collapse (reference test_builtins.py:61-70 — ' 1.0 ',
            # '00', 'true true', 'alpha' are decode errors). Spark's
            # own boolean cast is WIDER ('TRUE', 't', 'yes'), so the
            # decode is lexically gated, never a bare try_cast.
            xsd_kind = kind
            xsd_lex_pattern = r"true|false|1|0"
            xsd_int_decode = "strict_bool"
            ws = cs.whitespace if cs.whitespace is not None else "collapse"
            cs = ColumnSpec(**{**cs.__dict__, "dtype": "boolean",
                               "whitespace": ws})
        elif kind in ("float", "double"):
            # XSD float/double: the lexical space includes INF/-INF/NaN
            # (reference: test_facets.py:979-1005 float enumeration with
            # special values). The special spellings map to Spark's
            # before the cast; NaN is UNORDERED, so ordered facets pass
            # on NaN — the same certain-violation-only rule as the
            # temporal partial orders. INF is ordered (greater than
            # every finite value) and compares normally.
            xsd_kind = kind
            xsd_lex_pattern = _XSD_FLOAT_LEX
            xsd_int_decode = "float"
            ws = cs.whitespace if cs.whitespace is not None else "collapse"
            fbounds: dict[str, float | None] = {}
            for fname in ("min_inclusive", "min_exclusive",
                          "max_inclusive", "max_exclusive"):
                v = getattr(cs, fname)
                if v is None:
                    fbounds[fname] = None
                    continue
                try:
                    fv = float(str(v))   # accepts INF/-INF spellings
                except ValueError:
                    raise ValueError(
                        f"invalid xsd:{kind} facet constant "
                        f"{fname}={v!r}") from None
                if fv != fv:
                    raise ValueError(
                        f"NaN is unordered and cannot be an ordered "
                        f"facet bound ({fname})")
                fbounds[fname] = fv
            cs = ColumnSpec(**{**cs.__dict__, "dtype": kind,
                               "whitespace": ws, **fbounds})
        elif kind not in _XSD_LEX:
            raise ValueError(f"unknown xsd lexical type {cs.dtype!r}; "
                             f"known: {sorted(_XSD_LEX) + sorted(_XSD_INT_TYPES)}")
        else:
            ordered_vals = {"minInclusive": cs.min_inclusive,
                            "minExclusive": cs.min_exclusive,
                            "maxInclusive": cs.max_inclusive,
                            "maxExclusive": cs.max_exclusive}
            for fname, lit_v in ordered_vals.items():
                if lit_v is None:
                    continue
                # compile-time constant decode against the base type —
                # invalid constants are rejected HERE (reference:
                # parse_error during facet build, facets.py:300-314)
                if kind in _TORD.DURATION_KINDS:
                    _TORD.parse_duration_literal(str(lit_v), kind)
                elif kind in _TORD.TEMPORAL_KINDS:
                    _TORD.parse_temporal_literal(str(lit_v), kind)
                else:
                    raise ValueError(
                        f"ordered facet {fname} unsupported for xsd:{kind}")
                xsd_ordered.append((fname, str(lit_v), kind))
            xsd_lex_pattern = _XSD_LEX[kind]
            xsd_kind = kind
            # the type's lexical check compiles as a SEPARATE
            # facet:pattern check (appended below), NOT merged into the
            # user pattern list: user patterns on one derivation step OR
            # together (facets.py:808-814), but the base TYPE's lexical
            # space is a different step and must AND with them — merging
            # would let a user pattern silently re-admit values outside
            # the type.
            from ..functions.temporal_lex import NAME_TYPES as _XSD_NAMES
            ws = cs.whitespace
            if ws is None and kind in _XSD_NAMES \
                    and kind not in ("normalizedString", "token"):
                # language/Name/NCName/NMTOKEN/ID/IDREF/ENTITY carry
                # whiteSpace=collapse in the reference (their patterns
                # validate the collapsed form — ' en ' IS a valid
                # language). normalizedString/token deliberately
                # validate the RAW form here: the reference
                # normalizes-then-accepts (everything passes
                # post-collapse); a validation engine instead flags raw
                # forms that normalization WOULD change — documented
                # divergence, there is nothing to validate otherwise.
                ws = "collapse"
            cs = ColumnSpec(**{**cs.__dict__,
                               "dtype": "string",
                               "whitespace": ws,
                               "min_inclusive": None, "min_exclusive": None,
                               "max_inclusive": None, "max_exclusive": None})
    checks: list[RowCheck] = []
    prefix = "facet:item:" if nested else "facet:"
    raw = value
    norm = None
    col = raw
    if cs.whitespace and cs.whitespace != "preserve":
        norm = normalize_ws(raw, cs.whitespace)
        col = norm
    present = col.isNotNull()
    val_s = col.cast("string")

    def add(kind: str, reason: str, valid_if_present: Column,
            typed_guard: Column | None = None) -> None:
        # typed_guard: when the decode step already failed (typed is null
        # while the raw value is present), value-space facets do NOT fire —
        # the reference raises the decode error and stops validating that
        # value (simple_types.py:705-785); only facet:decode reports it.
        ok = valid_if_present if typed_guard is None \
            else typed_guard.isNull() | valid_if_present
        checks.append(RowCheck(
            constraint=f"{prefix}{kind}:{cs.name}",
            reason=reason,
            valid=~present | ok,
            value_col=val_s,
        ))

    if not cs.nullable and not nested:
        # nested-field column: required only where the parent struct is
        # itself present — an absent optional record (minOccurs=0) makes
        # all its fields absent without violating (ColumnSpec.parent)
        req_ok = present if cs.parent is None \
            else F.col(cs.parent).isNull() | present
        checks.append(RowCheck(
            constraint=f"required:{cs.name}",
            reason=f"missing required value for '{cs.name}'",
            valid=req_ok,
            value_col=val_s,
        ))

    if cs.union_members:
        # XsdUnion with member facet re-application: valid iff SOME member
        # decodes AND passes that member's own facets/patterns
        # (simple_types.py:1180-1207). Tried in declaration order; the
        # whole disjunction is one codegen expression — no data movement.
        # A member matches when every check of its own compile holds.
        ok = None
        for m in cs.union_members:
            mok = None
            for chk in compile_column(m, col, namespaces, nested=True)[1]:
                mok = chk.valid if mok is None else mok & chk.valid
            mok = F.lit(True) if mok is None else mok
            ok = mok if ok is None else ok | mok
        add("union",
            "value does not match any union member (with member facets) "
            f"{[m.dtype for m in cs.union_members]}", ok)
        typed = col
    elif cs.union_of:
        # XsdUnion: no member decodes => violation (simple_types.py:1198-1207)
        add("union", f"value does not match any union member {cs.union_of}",
            union_matches(col, cs.union_of))
        typed = col
    elif cs.dtype and cs.dtype not in ("string", "binary") \
            and not cs.dtype.startswith("array"):
        # decode step: cast failure = violation with reason "decode"
        # (reference: decode_error at simple_types.py:726-729).
        # try_cast is identity when the physical type already matches, so
        # this is safe for pre-typed parquet columns and a real lexical
        # parse for string-typed ones.
        cast_src = col
        if xsd_int_decode == "skip":
            # unbounded integer built-in: the sign-aware lexical pattern
            # is the complete (and only exact) value-space check; a cast
            # overflow beyond decimal(38,0) is NOT a decode failure
            pass
        elif xsd_int_decode == "strict":
            # decimal-backed bounded integer: the cast alone would ROUND
            # '3.5' instead of rejecting it — AND the lexical form so
            # every integer kind classifies fractional input the same
            # way (decode + pattern, like the tinyint-backed kinds)
            add("decode", f"value is not a valid {cs.dtype}",
                col.try_cast(cs.dtype).isNotNull()
                & val_s.rlike(translate_xsd_pattern(_XSD_INT_LEX)))
        elif xsd_int_decode == "strict_decimal":
            # decode = the lexical space itself (reported by the
            # appended facet:pattern check, exact at ANY precision);
            # the cast only feeds value-space facets, NULL on
            # out-of-lexicon or >38-digit values
            cast_src = F.when(
                val_s.rlike(translate_xsd_pattern(_XSD_DECIMAL_LEX)),
                val_s)
        elif xsd_int_decode == "strict_bool":
            # lexically-gated cast: an out-of-lexicon spelling Spark
            # would accept ('TRUE', 'yes') yields NULL typed, so
            # value-space facets are suppressed like any decode failure
            cast_src = F.when(
                val_s.rlike(translate_xsd_pattern(r"true|false|1|0")),
                val_s)
            add("decode", "value is not a valid xsd:boolean",
                cast_src.try_cast(cs.dtype).isNotNull())
        elif xsd_int_decode == "float":
            # xsd:float/double: XSD's INF/NaN spellings map to Spark's
            # before the cast; the cast then covers the whole lexical
            # space (the float lexical pattern ANDs in separately)
            cast_src = (F.when(val_s.isin("INF", "+INF"),
                               F.lit("Infinity"))
                        .when(val_s == "-INF", F.lit("-Infinity"))
                        .otherwise(val_s))
            add("decode", f"value is not a valid xsd:{cs.dtype}",
                cast_src.try_cast(cs.dtype).isNotNull())
        else:
            add("decode", f"value is not a valid {cs.dtype}",
                col.try_cast(cs.dtype).isNotNull())
        typed = cast_src.try_cast(cs.dtype)
    else:
        typed = col

    _bin_ok = None
    if xsd_binary_kind is not None:
        from ..functions.lexical import base64_binary_ok, hex_binary_ok
        _bin_ok = hex_binary_ok(val_s) if xsd_binary_kind == "hexBinary" \
            else base64_binary_ok(val_s)
        add("decode", f"value is not a valid xsd:{xsd_binary_kind}",
            _bin_ok)

    _pgroups = _collect_pattern_groups(cs)
    if _pgroups:
        reason = (f"value does not match any pattern {cs.pattern}"
                  if len(_pgroups) == 1 and cs.pattern
                  else "value does not match every derivation step's "
                       f"pattern facet {_pgroups}")
        add("pattern", reason, _pattern_groups_ok(val_s, _pgroups))

    if xsd_lex_pattern is not None:
        # the base type's lexical space ANDs with any user patterns
        # (separate derivation step). Named facet:pattern when it is the
        # only pattern-like check (back-compat), facet:lexical when a
        # user pattern coexists so constraint ids stay unique. An item's
        # lexical check is its decode check (facet:item:decode).
        add("decode" if nested else "pattern" if not _pgroups
            else "lexical",
            f"value is not a valid xsd:{xsd_kind}",
            val_s.rlike(translate_xsd_pattern(xsd_lex_pattern)))

    if xsd_kind in ("QName", "NOTATION"):
        # xs:QName / xs:NOTATION value space (builtins.py:139-152):
        # beyond the lexical check above, a prefixed value is valid
        # only when its prefix is bound in the spec's namespace map
        # (TableSpec.namespaces — rows carry no in-scope xmlns, the
        # SPEC's bindings are the document's); enumeration compares
        # EXPANDED names, so 'p:x' equals 'q:x' whenever both prefixes
        # bind the same URI. Direct xs:NOTATION use is rejected above
        # like the reference (attributes.py:166-168).
        nsmap = dict(namespaces or {})
        lex_ok = val_s.rlike(translate_xsd_pattern(xsd_lex_pattern))
        has_pfx = val_s.contains(":")
        pfx = F.substring_index(val_s, ":", 1)
        bound_keys = sorted(k for k in nsmap if k)
        bound = pfx.isin(*bound_keys) if bound_keys else F.lit(False)
        pfx_ok = ~has_pfx | bound
        add("qnamePrefix",
            "the QName prefix is not bound in the spec's namespace "
            f"map (bound prefixes: {bound_keys})",
            ~lex_ok | pfx_ok)
        if cs.enum is not None:
            def _expand_lit(q) -> str:
                q = " ".join(str(q).split())
                if ":" in q:
                    p, loc = q.split(":", 1)
                    if p not in nsmap:
                        raise ValueError(
                            f"prefix {p!r} not found in namespace map")
                    return "{%s}%s" % (nsmap[p], loc)
                d = nsmap.get("")
                return "{%s}%s" % (d, q) if d else q
            targets = [_expand_lit(v) for v in cs.enum]
            local = F.substring_index(val_s, ":", -1)
            exp = None
            for p in bound_keys:
                e = F.concat(F.lit("{%s}" % nsmap[p]), local)
                exp = F.when(pfx == p, e) if exp is None \
                    else exp.when(pfx == p, e)
            unpfx = F.concat(F.lit("{%s}" % nsmap[""]), val_s) \
                if nsmap.get("") else val_s
            tail = F.when(~has_pfx, unpfx).otherwise(F.lit(None))
            exp_col = exp.otherwise(tail) if exp is not None else tail
            add("enumeration", f"value not in enumeration {cs.enum}",
                ~lex_ok | ~pfx_ok | exp_col.isin(*targets))

    if cs.enum is not None and xsd_kind not in ("QName", "NOTATION"):
        if any(isinstance(v, int) and not -2**63 <= v < 2**63
               for v in cs.enum):
            # isin boxes literals directly and can't carry >long values
            # (e.g. unsignedLong's max) — route through _lit casts
            ok = None
            for v in cs.enum:
                eq = typed == _lit(cs.dtype, v)
                ok = eq if ok is None else ok | eq
        else:
            ok = typed.isin(*cs.enum)
        add("enumeration", f"value not in enumeration {cs.enum}",
            ok, typed_guard=typed)

    if xsd_binary_kind == "hexBinary":
        _len = (F.length(val_s) / 2).cast("int")
    elif xsd_binary_kind == "base64Binary":
        _b64 = F.regexp_replace(val_s, "\\s", "")
        _pad = F.length(_b64) - F.length(
            F.regexp_replace(_b64, "=+$", ""))
        _len = ((F.length(_b64) / 4).cast("int") * 3 - _pad).cast("int")
    else:
        _len = _length_col(col, cs.dtype)
    def _lenok(cond: Column) -> Column:
        # binary kinds: a decode failure suppresses length facets (the
        # reference raises the decode error and stops; an odd-length
        # hex string has no octet count to measure)
        return cond if _bin_ok is None else ~_bin_ok | cond

    if cs.length is not None:
        add("length", f"length must be {cs.length}",
            _lenok(_len == cs.length))
    if cs.min_length is not None:
        add("minLength", f"length must be >= {cs.min_length}",
            _lenok(_len >= cs.min_length))
    if cs.max_length is not None:
        add("maxLength", f"length must be <= {cs.max_length}",
            _lenok(_len <= cs.max_length))

    def _ord(cmp: Column) -> Column:
        # float/double: NaN is UNORDERED in the XSD value space — Spark
        # instead sorts NaN greatest, which would wrongly flag NaN on
        # max* facets. Certain-violation-only rule: NaN passes ordered
        # facets (mirrors the temporal/duration partial orders).
        if cs.dtype in ("float", "double"):
            return F.isnan(typed) | cmp
        return cmp

    if cs.min_inclusive is not None:
        add("minInclusive", f"value must be >= {cs.min_inclusive}",
            _ord(typed >= _lit(cs.dtype, cs.min_inclusive)),
            typed_guard=typed)
    if cs.min_exclusive is not None:
        add("minExclusive", f"value must be > {cs.min_exclusive}",
            _ord(typed > _lit(cs.dtype, cs.min_exclusive)),
            typed_guard=typed)
    if cs.max_inclusive is not None:
        add("maxInclusive", f"value must be <= {cs.max_inclusive}",
            _ord(typed <= _lit(cs.dtype, cs.max_inclusive)),
            typed_guard=typed)
    if cs.max_exclusive is not None:
        add("maxExclusive", f"value must be < {cs.max_exclusive}",
            _ord(typed < _lit(cs.dtype, cs.max_exclusive)),
            typed_guard=typed)

    if cs.total_digits is not None or cs.fraction_digits is not None:
        # canonical decimal repr: strip sign, trailing fractional zeros,
        # dangling dot (digit counting semantics of facets.py:451-558 /
        # count_digits in utils/decoding.py)
        canon = F.regexp_replace(
            F.regexp_replace(typed.cast("string"), r"(\.\d*?)0+$", "$1"),
            r"\.$", "")
        if cs.total_digits is not None:
            add("totalDigits", f"must have <= {cs.total_digits} total digits",
                F.length(F.regexp_replace(
                    F.regexp_replace(canon, "^[-+]|\\.", ""),
                    "^0+(?=\\d)", "")) <= cs.total_digits, typed_guard=typed)
        if cs.fraction_digits is not None:
            add("fractionDigits",
                f"must have <= {cs.fraction_digits} fraction digits",
                F.coalesce(F.length(F.regexp_extract(canon, "\\.(\\d+)$", 1)),
                           F.lit(0)) <= cs.fraction_digits, typed_guard=typed)

    if cs.fixed is not None:
        add("fixed", f"value must be fixed to {cs.fixed!r}",
            typed == _lit(cs.dtype, cs.fixed), typed_guard=typed)

    if cs.explicit_timezone:
        # XSD 1.1 explicitTimezone (facets.py:561-603): tz designator on
        # the LEXICAL form (string-typed temporal columns)
        tz_pat = r"(Z|[+-]\d{2}:\d{2})$"
        has_tz = val_s.rlike(tz_pat)
        if cs.explicit_timezone == "required":
            add("explicitTimezone", "timezone designator required", has_tz)
        elif cs.explicit_timezone == "prohibited":
            add("explicitTimezone", "timezone designator prohibited", ~has_tz)
        # 'optional' (the XSD default) adds no check; unknown values
        # were rejected by _validate_column_spec at compile entry

    if cs.assertion:
        # simple-type assert with `value` variable (facets.py:836-894).
        # Whole-word substitution only: identifiers like values(...) or
        # string literals containing 'value' must survive untouched —
        # mirrors binding the $value variable, not textual splicing.
        add("assertion", f"assertion failed: {cs.assertion}",
            F.expr(re.sub(r"\bvalue\b", f"`{cs.name}`", cs.assertion)))

    if xsd_ordered:
        from ..functions import temporal_order as _TORD
        # decode guard: a value outside the lexical space is reported by
        # facet:pattern only; the ordered facet is suppressed for it
        # (typed_guard semantics — the reference stops validating a
        # value after its decode error, simple_types.py:705-785)
        lex_ok = val_s.rlike(translate_xsd_pattern(xsd_lex_pattern))
        for fname, lit_v, kind in xsd_ordered:
            if kind in _TORD.DURATION_KINDS:
                ok = _TORD.duration_ordered_valid(val_s, fname, lit_v, kind)
            else:
                ok = _TORD.temporal_ordered_valid(val_s, fname, lit_v, kind)
            add(fname, f"value must satisfy {fname} {lit_v} (xsd:{kind})",
                ~lex_ok | ok)

    return norm, checks


def _compile_list(cs: ColumnSpec, value: Column,
                  namespaces: Optional[dict], nested: bool,
                  folds: Optional[dict[str, Column]]
                  ) -> tuple[Optional[Column], list[RowCheck]]:
    """A list column (XsdList, simple_types.py:991-1019): the column's
    own facets, then every item through compile_column.

    A lexical_list column is a space-separated string: it is
    whitespace-collapsed and split first, and its length facets count
    items (facets.py:171-206 len() over the decoded list), not
    characters. An array column's length facets count elements through
    _length_col. The items' checks compile once, in one F.aggregate
    that ORs a bitmask of failed checks over the items, one bit per
    constraint id (the bounded integer kinds' cast and lexical decode
    checks share facet:item:decode); a NULL valid counts as failed, as
    in the row pass. Given `folds`, the fold becomes a named column
    there and the checks read that name: inline, each check would carry
    (and run) its own copy of the fold. Built with the Column API, so
    patterns reach Column.rlike verbatim (Spark SQL string literals eat
    backslashes)."""
    base_fields = {**cs.__dict__, "item": None}
    if cs.lexical_list:
        base_fields.update(length=None, min_length=None, max_length=None)
    norm, checks = compile_column(ColumnSpec(**base_fields), value,
                                  namespaces, nested)
    prefix = "facet:item:" if nested else "facet:"
    present = value.isNotNull()
    if cs.lexical_list:
        trimmed = F.trim(F.regexp_replace(value, r"\s+", " "))
        # '' must decode to an EMPTY list, not ['']: the reference's
        # XsdList uses str.split() with no args (simple_types.py:994),
        # so whitespace-only input yields zero items; F.split('', ' ')
        # yields [''] which would fire a spurious facet:item:decode
        arr = F.when(F.length(trimmed) == 0,
                     F.array().cast("array<string>")) \
               .otherwise(F.split(trimmed, " "))
        value_col = value.cast("string")
        n_items = F.size(arr)
        for kind, bound, op, cmp in (
                ("length", cs.length, "must be", operator.eq),
                ("minLength", cs.min_length, ">=", operator.ge),
                ("maxLength", cs.max_length, "<=", operator.le)):
            if bound is not None:
                checks.append(RowCheck(
                    constraint=f"{prefix}{kind}:{cs.name}",
                    reason=f"list length {op} {bound}",
                    valid=~present | cmp(n_items, bound),
                    value_col=value_col))
    else:
        arr = value
        value_col = F.to_json(value)

    item = ColumnSpec(**{**cs.item.__dict__, "name": cs.name})
    bits: dict[str, tuple[int, str]] = {}   # constraint -> (bit, reason)

    def fold(failed: Column, x: Column) -> Column:
        for chk in compile_column(item, x, namespaces, nested=True)[1]:
            bit = bits.setdefault(chk.constraint,
                                  (1 << len(bits), chk.reason))[0]
            failed = failed.bitwiseOR(F.when(chk.valid, 0).otherwise(bit))
        return failed

    failed = F.aggregate(arr, F.lit(0).cast("bigint"), fold)
    if folds is not None:
        name = f"__item_fold{len(folds)}"
        folds[name] = failed.alias(name)
        failed = F.col(name)
    for constraint, (bit, reason) in bits.items():
        checks.append(RowCheck(
            constraint=constraint, reason=f"list item: {reason}",
            valid=~present | (failed.bitwiseAND(bit) == 0),
            value_col=value_col))
    return norm, checks


# compiled plans per SparkContext, kept as an attribute of the context:
# a plan holds Columns, which are JVM objects of the context that built
# them, so a new context starts with an empty cache
_PLANS_ATTR = "_xmlschema_spark_plans"
_PLANS_MAX = 64
_PLANS_LOCK = threading.Lock()


def compile_plan(spec: TableSpec) -> ValidationPlan:
    """Compile the whole TableSpec once; reuse across any number of runs.

    Plans are cached per SparkContext, keyed on repr(spec) (type-faithful:
    Decimal("5") and "5" are different keys), so validating the same spec
    again — a benchmark iteration, a stream micro-batch, a checkpoint
    increment, a strict or is_valid probe — skips every Column build on
    the driver. A miss compiles a deep copy of the spec, so editing the
    caller's spec afterwards changes the next call's key, never a cached
    plan. At most _PLANS_MAX plans are kept (least recently used goes
    first); an invalid spec raises on every call. The returned plan is
    shared: do not mutate it."""
    sc = SparkContext._active_spark_context
    key = repr(spec)
    with _PLANS_LOCK:
        plans = getattr(sc, _PLANS_ATTR, None)
        if plans is None:
            plans = {}
            if sc is not None:
                setattr(sc, _PLANS_ATTR, plans)
        plan = plans.pop(key, None)
        if plan is not None:
            plans[key] = plan
            return plan
    plan = _compile(copy.deepcopy(spec))
    with _PLANS_LOCK:
        while len(plans) >= _PLANS_MAX:
            del plans[next(iter(plans))]
        plans[key] = plan
    return plan


def _compile(spec: TableSpec) -> ValidationPlan:
    from ..operators.identity import identity_columns, key_missing
    from ..operators.row_checks import row_projections
    from ..runner import verdict_columns
    from .restriction import flatten_restrictions
    # resolve named-simple-type derivation chains first: step validity
    # is checked and the chain flattened, so everything below sees one
    # effective ColumnSpec per column (plans/restriction.py)
    spec = flatten_restrictions(spec)
    plan = ValidationPlan(spec=spec)
    for cs in spec.columns:
        norm, checks = compile_column(cs, F.col(cs.name), spec.namespaces,
                                      folds=plan.item_folds)
        if norm is not None:
            plan.normalizations[cs.name] = norm
        plan.row_checks.extend(checks)
    for c in spec.conditionals:
        # conditional type assignment: checks apply only where `when`
        # holds (xsi:type / type alternatives, elements.py:654-684)
        cond = F.coalesce(F.expr(c.when), F.lit(False))
        for cs in c.columns:
            _norm, cchecks = compile_column(cs, F.col(cs.name),
                                            spec.namespaces,
                                            folds=plan.item_folds)
            for chk in cchecks:
                plan.row_checks.append(RowCheck(
                    constraint=f"cond:{c.name}:{chk.constraint}",
                    reason=f"[when {c.when}] {chk.reason}",
                    valid=~cond | chk.valid,
                    value_col=chk.value_col,
                ))
    for cmspec in spec.content_models:
        # nested-document content models (validators/models.py:177-330
        # ModelVisitor analog): regex-over-tag-sequence / 'all' counting
        # conditions, same shuffle-free pass as the facets above
        from .content_model import content_model_checks
        plan.row_checks.extend(content_model_checks(cmspec))
    for ras in spec.record_arrays:
        # repeated record child (array<struct>): particle occurs bound
        # the array size on the parent row (groups.py occurrence
        # checks); element facets compile to a SUB-plan the runner
        # evaluates over the exploded array — explode is a narrow
        # transformation, so per-element validation stays shuffle-free
        n = F.coalesce(F.size(F.col(ras.name)), F.lit(0))
        # a dotted array name ('meta.sub' — repeated child of a RECORD)
        # only bounds its occurs where the parent record exists: an
        # absent optional record means the child particle never applies
        guard = F.lit(False) if "." not in ras.name \
            else F.col(ras.name.rsplit(".", 1)[0]).isNull()
        if ras.min_occurs > 0:
            plan.row_checks.append(RowCheck(
                constraint=f"occurs:{ras.name}:min",
                reason=f"expected at least {ras.min_occurs} "
                       f"occurrences of '{ras.name}'",
                valid=guard | (n >= ras.min_occurs),
                value_col=n.cast("string")))
        if ras.max_occurs is not None:
            plan.row_checks.append(RowCheck(
                constraint=f"occurs:{ras.name}:max",
                reason=f"expected at most {ras.max_occurs} "
                       f"occurrences of '{ras.name}'",
                valid=guard | (n <= ras.max_occurs),
                value_col=n.cast("string")))
        sub = TableSpec(
            name=f"{spec.name}[{ras.name}]",
            key_column=spec.key_column,
            columns=list(ras.fields),
            asserts=list(ras.asserts),
            record_arrays=list(ras.nested),
            simple_types=dict(spec.simple_types),
            namespaces=dict(spec.namespaces),
            part_key=spec.part_key,
            recursion_cuts=list(ras.recursion_cuts))
        plan.record_arrays.append((ras.name, compile_plan(sub)))
    _validate_identity_specs(spec)
    known_cols = _spec_known_columns(spec)
    for a in spec.asserts:
        # complex-type xs:assert (validators/assertions.py:119-147);
        # vocabulary checked HERE, at compile time
        check_assert_vocabulary(
            a.expr, known_cols | set(a.columns or ()), repr(a.name))
        plan.row_checks.append(RowCheck(
            constraint=f"assert:{a.name}",
            reason=f"assertion '{a.name}' failed: {a.expr}",
            valid=F.coalesce(F.expr(a.expr), F.lit(False)),
            value_col=F.lit(None).cast("string"),
        ))
    plan.row_projection, plan.validate_projection = row_projections(
        plan, [key_missing(u) for u in spec.uniques
               if u.is_key and not u.scope])
    if spec.uniques:
        plan.identity = identity_columns(spec.uniques, spec.key_column,
                                         spec.part_key)
    plan.verdicts = verdict_columns(spec)
    return plan
