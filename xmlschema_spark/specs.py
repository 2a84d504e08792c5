"""Declarative validation spec DSL.

The analog of an XSD schema document: a fixed, declarative description of
per-column types + facets, identity constraints, referential constraints,
cross-column assertions, payload checks and drift checks, compiled ONCE
into a ValidationPlan and reused across any number of batches/partitions
(reference: schema build at xmlschema/validators/xsd_globals.py:537-578;
facets compiled to bound validator callables at validators/facets.py:58).

Facet fields mirror XSD_10/11_FACETS_CLASSES
(reference: xmlschema/validators/facets.py:897-932). Validation modes
mirror ValidationContext strict/lax/skip
(reference: xmlschema/validators/validation.py:216-236).

Specs are plain dataclasses, JSON round-trippable (to_dict/from_dict) so a
compiled plan's source can be persisted next to checkpoints.
"""

from __future__ import annotations

import json
import warnings
from dataclasses import asdict, dataclass, field
from typing import Any, Optional

VALIDATION_MODES = ("strict", "lax", "skip")


@dataclass
class ColumnSpec:
    """Per-column simple-type spec: Spark type + XSD-style facets.

    Facet semantics (reference file:line):
      pattern      — XSD regex, implicitly anchored, any-of list matches
                     (facets.py:723-833, 808-814)
      enum         — enumeration facet (facets.py:606-720)
      length/min_length/max_length — length facets (facets.py:171-282);
                     applied to strings (chars), arrays (size), binary (octets)
      min/max inclusive/exclusive  — ordered comparisons (facets.py:285-448)
      total_digits/fraction_digits — decimal digit bounds (facets.py:451-558)
      whitespace   — preserve|replace|collapse normalization applied before
                     other facets (facets.py:124-168; simple_types.py:447-463)
      fixed        — fixed-value equality (elements.py:750-769)
      required     — non-null (attributes.py:224-228); nullable=False alias
      assertion    — XSD 1.1 simple-type assert with `value` variable
                     (facets.py:836-894); a Spark SQL expression string
      union_of     — ordered member type names; first successful try_cast
                     wins (XsdUnion, simple_types.py:1178-1211)
      union_members — ordered member ColumnSpecs: a value is valid iff
                     SOME member decodes AND satisfies that member's own
                     facets/patterns (member facet re-application after
                     union decode, simple_types.py:1180-1196). A member
                     takes every column facet, compiled by the column
                     compiler over the union's value; `assertion` on a
                     member raises at compile time. Overrides union_of
                     when both are set.
      item         — for array and lexical_list columns: ColumnSpec
                     applied per element (XsdList,
                     simple_types.py:845,991-1019). An item takes every
                     column facet, with the verdict the facet gives a
                     column value, reported as facet:item:<kind>:<column>
                     (an XSD item type's lexical failure is
                     facet:item:decode); `assertion` on an item raises at
                     compile time. A NULL element is not checked, so
                     `nullable` does not apply to items or members.
      lexical_list — the column is a SPACE-SEPARATED string list: it is
                     whitespace-collapsed and split before item facets
                     apply (XsdList lexical decode,
                     simple_types.py:991-1019)
    """

    name: str
    dtype: str = "string"          # spark type name for try_cast checks
    nullable: bool = True
    pattern: Optional[list[str]] = None
    enum: Optional[list[Any]] = None
    length: Optional[int] = None
    min_length: Optional[int] = None
    max_length: Optional[int] = None
    min_inclusive: Optional[Any] = None
    min_exclusive: Optional[Any] = None
    max_inclusive: Optional[Any] = None
    max_exclusive: Optional[Any] = None
    total_digits: Optional[int] = None
    fraction_digits: Optional[int] = None
    whitespace: Optional[str] = None        # preserve|replace|collapse
    fixed: Optional[Any] = None
    default: Optional[Any] = None
    assertion: Optional[str] = None         # SQL expr over `value`
    explicit_timezone: Optional[str] = None  # 'required'|'prohibited' (XSD 1.1)
    union_of: Optional[list[str]] = None    # ordered spark type names
    union_members: Optional[list["ColumnSpec"]] = None  # member facets
    item: Optional["ColumnSpec"] = None     # element spec for arrays
    lexical_list: bool = False              # split space-separated string
    # restriction derivation (XsdAtomicRestriction,
    # simple_types.py:447-463; step checks facets.py:84-190,285-448):
    # name of a base simple type in TableSpec.simple_types — the chain
    # is validated and flattened at compile time (plans/restriction.py)
    base: Optional[str] = None
    # AND-of-OR pattern groups: each inner list is one derivation
    # step's any-of pattern facet; all groups must match
    # (facets.py:723-833). Populated by restriction flattening; may
    # also be set directly.
    pattern_groups: Optional[list[list[str]]] = None
    # nested-field column: `name` is a dotted path inside the struct
    # column `parent` (a record-shaped complex child element,
    # complex_types.py content mapping). Facets compile to the same
    # Catalyst predicates over the nested projection — Spark prunes
    # unread struct branches down to the parquet ReadSchema. required
    # (nullable=False) then means "present WHEREVER the parent struct
    # is present": an absent optional record makes all its fields
    # absent without violating (elements.py minOccurs=0 absence).
    parent: Optional[str] = None


@dataclass
class RecordArraySpec:
    """Repeated record-shaped complex child -> an ``array<struct>``
    column (reference: a maxOccurs>1 complex element decodes to a LIST
    of dicts, complex_types.py content + converters default layout).

    `fields` / `asserts` are ABSOLUTE dotted ColumnSpecs/AssertSpecs
    ('tags.value', parent='tags' for array column 'tags'): validation
    explodes the array — a narrow, shuffle-free transformation — into
    one row per element where the element struct carries the array
    column's name, so the same dotted-path facet compiler runs
    unchanged per element. min/max_occurs bound the ARRAY SIZE on the
    parent row (particle occurs -> length facets; an absent/NULL array
    counts 0). Violations attribute to the parent row_key, one row per
    offending element."""

    name: str                                # the array<struct> column
    fields: list[ColumnSpec] = field(default_factory=list)
    asserts: list["AssertSpec"] = field(default_factory=list)
    min_occurs: int = 0
    max_occurs: Optional[int] = None
    # repeated record children OF THIS ARRAY'S ELEMENTS (arrays nested
    # inside array elements): validated by a further explode of the
    # element frame — still narrow, still shuffle-free. A dotted `name`
    # ('meta.sub' — an array inside a single record) explodes from the
    # top frame directly; its occurs bounds are guarded by parent-struct
    # presence (absent parent record = the child particle never
    # applies).
    nested: list["RecordArraySpec"] = field(default_factory=list)
    # bounded-recursion cut paths inside THIS array's elements (see
    # TableSpec.recursion_cuts) — checked over the exploded frame
    recursion_cuts: list[str] = field(default_factory=list)


@dataclass
class UniqueSpec:
    """xs:unique / xs:key over a column tuple (identities.py:364-390).

    is_key=True additionally requires non-null fields
    ("missing key field", identities.py:523-531); unique silently skips
    all-null tuples (elements.py:914-918).
    """

    name: str
    columns: list[str] = field(default_factory=list)
    is_key: bool = False
    # selector-addressed identity over REPEATED content
    # (FieldValueSelector inside repeated elements, identities.py:
    # 461-544): dotted path of a record-array column whose exploded
    # ELEMENTS are the constraint's node set — `columns` are then
    # selector strings rooted at the row ('items/@tag'). None = the
    # row element itself (plain/struct columns). The table is the
    # constraint scope either way (the collection document).
    scope: Optional[str] = None


def _uniques_from_dicts(us: list) -> list:
    """UniqueSpecs from dicts, dropping the retired "salt" key with one
    DeprecationWarning: the count aggregate's map-side partial combine
    already bounds reducer skew, so salting only added an Exchange."""
    us = [dict(u) for u in us]
    if any("salt" in u for u in us):
        warnings.warn("UniqueSpec 'salt' is retired and ignored; drop it "
                      "from the spec", DeprecationWarning, stacklevel=3)
    return [UniqueSpec(**{k: v for k, v in u.items() if k != "salt"})
            for u in us]


@dataclass
class KeyrefSpec:
    """xs:keyref: every referring tuple must exist in the referred key set
    (identities.py:260-337); violation reports occurrence count
    ("... not found ... (n times)", identities.py:403-418).
    """

    name: str
    columns: list[str] = field(default_factory=list)
    ref_table: str = ""
    ref_columns: list[str] = field(default_factory=list)
    # None = let Catalyst/AQE pick the join strategy (safe default at
    # any ref-side cardinality); True = known dimension table, force
    # broadcast; False = forbid broadcast (hint shuffle_merge)
    broadcast: bool | None = None
    # record-array scopes (see UniqueSpec.scope): `scope` explodes the
    # REFERRING side's node set, `ref_scope` the REFERRED key's
    scope: Optional[str] = None
    ref_scope: Optional[str] = None


@dataclass
class AssertSpec:
    """XSD 1.1 complex-type xs:assert: cross-column row predicate
    (validators/assertions.py:36-179). `expr` is a Spark SQL boolean
    expression over the table's columns; rows where it is false violate.

    The expression's vocabulary is checked at compile_plan time —
    mirroring the reference's parse-time rejection of unknown XPath
    names (assertions.py:119-133): every bare identifier must be a
    column declared somewhere in the spec (or listed in `columns`
    here), and every function must be in the compiler's
    ASSERT_FUNCTIONS whitelist. A typo'd column therefore fails at
    spec-compile time, not at first action."""

    name: str
    expr: str
    # extra columns the expression references beyond those the spec
    # declares elsewhere (the assertion's declared vocabulary)
    columns: list[str] | None = None


@dataclass
class PayloadSpec:
    """Binary payload validation via Arrow-batched decode.

    Checks (per input_hint / reference fixed-value equality,
    elements.py:750-769):
      - payload decodes at all (malformed => violation 'payload:decode')
      - header fmt/w/h match the metadata columns
      - optional pixel parity vs a deterministic expected-pattern
        generator: PSNR >= psnr_min dB for lossy fmts, exact for lossless.
    `deep` False = header-only (cheap metadata pass), True = full decode.
    """

    name: str = "payload"
    bytes_col: str = "bytes"
    fmt_col: str = "fmt"
    w_col: str = "w"
    h_col: str = "h"
    id_col: str = "image_id"
    deep: bool = True
    check_pixels: bool = False     # needs deterministic expected generator
    psnr_min: float = 40.0
    lossless_fmts: tuple = ("png",)
    # phash recompute vs the metadata phash column (input_hint: the
    # image table carries phash:int64 — this verifies it matches the
    # payload it describes, like fmt/w/h above).
    #   mode "exact": stored phash is a stable 64-bit content hash of
    #     the pixel buffer (FIXTURES.md F1); recomputable only where
    #     decode is bit-exact, so LOSSY containers are skipped (their
    #     pixel parity is covered by the PSNR check) — deterministic.
    #   mode "perceptual": stored phash is the 8x8 block-mean hash
    #     (fakecodec.phash64); recomputed on every decodable row and
    #     compared within `phash_max_hamming` bits (lossy quantization
    #     can flip borderline bits).
    check_phash: bool = False
    phash_col: str = "phash"
    phash_mode: str = "exact"      # "exact" | "perceptual"
    phash_max_hamming: int = 0


@dataclass
class OccursSpec:
    """minOccurs/maxOccurs of children per parent scope
    (ModelVisitor.occurs, models.py:177-330): per-group counts bounded."""

    name: str
    group_by: list[str] = field(default_factory=list)
    min_occurs: int = 1
    max_occurs: Optional[int] = None


@dataclass
class ConditionalSpec:
    """Conditional type assignment: a different facet set selected by a
    row predicate — the analog of xsi:type overrides and XSD 1.1 type
    alternatives (reference: elements.py:659-684 xsi:type resolution;
    elements.py:654-657 + get_alternative_type at elements.py:1340), and
    of substitution-group dispatch (elements.py:609-623) — compile-time
    when(cond, checks) dispatch, never a data join.

    `when` is a Spark SQL boolean expression; `columns` facets apply only
    to rows where it holds."""

    name: str
    when: str
    columns: list[ColumnSpec] = field(default_factory=list)


@dataclass
class ParticleSpec:
    """One particle of a content model — the analog of XsdGroup /
    XsdElement particles (validators/groups.py:503-560,
    particles.py:140-172 occurs parsing). Kinds:

      element   — a named child; `name` required
      sequence  — children in order
      choice    — exactly one of the children (per repetition)
      all       — children in ANY order (XSD 1.0 rules: only at the
                  top of a model, element children only, group
                  maxOccurs 1 / minOccurs 0|1; ContentModelSpec
                  xsd11=True relaxes to XSD 1.1: wildcard members and
                  member maxOccurs > 1 allowed)
      any       — wildcard child (xs:any)

    min_occurs/max_occurs bound repetitions; max_occurs=None means
    'unbounded'.

    Element particles may carry a substitution group (the reference's
    substitution-group dispatch inside content models,
    elements.py:609-623 + xsd_globals.py:566-570 maps): `substitutes`
    lists member element names that may appear in place of this head;
    `abstract=True` forbids the head tag itself (an abstract head can
    only be satisfied by a member, complex_types parse rules).

    Wildcard ('any') particles carry the reference's namespace
    constraint vocabulary (wildcards.py:73-126 parse, 164-185 match):
    `namespace` is '##any' (default), '##other', or a list whose items
    are namespace tokens / '##local' / '##targetNamespace';
    `not_namespace` is the XSD 1.1 notNamespace complement list
    (mutually exclusive with `namespace`). Tags are namespace-qualified
    as 'ns:local' — the token before the first ':' is the namespace,
    a tag with no ':' has none (##local). `process_contents` is parsed
    with the reference's vocabulary (strict/lax/skip) but behaves as
    'skip'/'lax': there is no sub-schema registry to strict-validate
    wildcard content against (documented divergence)."""

    kind: str = "element"
    name: Optional[str] = None
    children: list["ParticleSpec"] = field(default_factory=list)
    min_occurs: int = 1
    max_occurs: Optional[int] = 1
    # element-kind extensions (substitution groups)
    substitutes: list[str] = field(default_factory=list)
    abstract: bool = False
    # any-kind extensions (wildcard namespace constraints)
    namespace: Optional[object] = None      # '##any' | '##other' | list
    not_namespace: Optional[list] = None    # XSD 1.1 notNamespace
    # XSD 1.1 notQName (wildcards.py:121-158 parse, :784-791 match):
    # TAG names the wildcard does NOT match even when the namespace
    # constraint admits them. Entries are literal tag names in the
    # model's tag vocabulary — the XSD importer resolves QNames and
    # EXPANDS '##defined' / '##definedSibling' to concrete names at
    # import time (the schema set is closed once imported, so the
    # reference's dynamic maps lookup is a static set here); leftover
    # '##' tokens are a compile error.
    not_qname: Optional[list] = None
    process_contents: str = "lax"

    @staticmethod
    def from_dict(d: dict) -> "ParticleSpec":
        d = dict(d)
        if d.get("children"):
            d["children"] = [ParticleSpec.from_dict(c)
                             for c in d["children"]]
        return ParticleSpec(**d)


@dataclass
class OpenContentSpec:
    """XSD 1.1 openContent (wildcards.py:848-897 XsdOpenContent):
    extra, non-model children admitted by a wildcard either anywhere
    between model matches (mode='interleave') or only after the model
    is satisfied (mode='suffix'); mode='none' cancels an inherited
    default (and takes no wildcard). `wildcard` is an any-kind
    ParticleSpec carrying the namespace constraint; its occurs are
    ignored (the open-content wildcard is effectively 0..unbounded,
    models.py:739-815 visitors)."""

    mode: str = "interleave"
    wildcard: Optional["ParticleSpec"] = None

    @staticmethod
    def from_dict(d: dict) -> "OpenContentSpec":
        d = dict(d)
        if d.get("wildcard"):
            d["wildcard"] = ParticleSpec.from_dict(d["wildcard"])
        return OpenContentSpec(**d)


@dataclass
class AttrWildcardSpec:
    """xs:anyAttribute INSIDE a record type (XsdAnyAttribute,
    wildcards.py:164+; attribute wildcard decode attributes.py:659-712):
    governs EXTRA fields of the struct column at `path` beyond the
    declared ones. Tabular projection of the reference's rules —
    checked once against the DataFrame schema (struct fields are
    static), not per row:

      * a field whose name is in Clark form '{uri}local' carries that
        namespace; a plain name carries none;
      * the field must match the `namespace` constraint (##any /
        ##other / ##local / ##targetNamespace / explicit URIs), else
        it violates regardless of process mode;
      * process='skip' or 'lax' admit matching extras (lax validates
        only when a declaration exists — a tabular extra has none, so
        it is admitted, schemas.py lax fallback);
      * process='strict' (the XSD default) requires a resolvable
        declaration — a tabular extra never has one, so it violates.

    Records WITHOUT a wildcard keep the engine's schema-evolution
    tolerance (extra nested fields ignored, same default as
    TableSpec.allow_extra_columns).

    kind='element' carries an ELEMENT wildcard in the same tabular
    projection: an optional xs:any inside the record's content model
    (XsdAnyElement, wildcards.py:33-99) or an XSD 1.1 xs:openContent
    wildcard (XsdOpenContent, wildcards.py:848-897; `oc_mode` keeps
    interleave/suffix for export round-trips — both modes admit the
    same set of extra struct fields once order is projected away).
    Extra child elements surface as extra struct fields exactly like
    extra attributes do, so admission + processContents follow the
    SAME rules above; when several wildcards (attribute and/or
    element) govern one path, a field is admitted if ANY of them
    admits it (the projection cannot tell attribute-shaped extras
    from element-shaped ones, so union admission is the sound
    relaxation). path='' = the ROW level: the wildcard governs extra
    TOP-LEVEL columns instead of the blanket
    TableSpec.allow_extra_columns tolerance."""

    path: str                              # struct column (dotted); ''=row
    process: str = "strict"                # skip | lax | strict
    namespace: list[str] = field(default_factory=lambda: ["##any"])
    target_ns: Optional[str] = None        # resolves ##other/##targetNamespace
    kind: str = "attribute"                # attribute | element
    oc_mode: Optional[str] = None          # interleave | suffix (openContent)
    # XSD 1.1 notNamespace complement (mutually exclusive with
    # `namespace`; tokens: URIs, ##local, ##targetNamespace)
    not_namespace: Optional[list] = None
    # XSD 1.1 notQName (wildcards.py:814-845 Xsd11AnyAttribute /
    # :737-791 Xsd11AnyElement): FIELD names this wildcard never
    # admits even when the namespace constraint allows them — Clark
    # form '{uri}local' for namespaced names, plain local otherwise.
    # The XSD importer resolves QNames and expands '##defined' to the
    # closed schema set's global declarations at import time.
    not_qname: Optional[list] = None
    # REQUIRED element wildcard (xs:any with effective minOccurs>0,
    # groups.py occurrence checking over wildcard particles): each
    # instance of the governed scope must carry >= 1 wildcard-admitted
    # extra child. min_occurs>0 turns the metadata-only admission
    # check into an additional per-row presence predicate
    # (runner._required_wildcard_parts); the enforced lower bound is
    # ALWAYS 1 — a sound relaxation of minOccurs>1, whose exact count
    # the tabular projection cannot observe (same-named children
    # collapse onto one field). Attribute-kind wildcards never set it.
    min_occurs: int = 0


@dataclass
class ContentModelSpec:
    """Content-model validation for a NESTED document column — the
    tabular analog of complex-type content validation (the reference's
    ModelVisitor over child elements, validators/models.py:177-330;
    exercised by tests/validators/test_models.py / test_groups.py).

    A row's child sequence is the ordered list of TAGS in `column`:
      - array<struct>: `tag_field` names the struct field carrying the
        child's element name;
      - array<string>: the tags themselves (tag_field=None);
      - lexical=True: `column` is a whitespace-separated tag string
        (collapsed and split first, like lexical lists).

    The model compiles to a single anchored regular expression over the
    tag sequence (the classic content-model-as-regular-language view —
    sequences concatenate, choices alternate, occurs become
    quantifiers), evaluated JVM-side in the shuffle-free row-check
    pass; an 'all' group compiles to order-free per-tag counting
    conditions instead. Violation constraint: content:<name>:<column>.
    """

    name: str
    column: str
    model: "ParticleSpec" = None
    tag_field: Optional[str] = None
    lexical: bool = False
    # Unique Particle Attribution check (reference models.py:104-171):
    # ON by default like the reference's schema build. The regex
    # evaluator itself does not need determinism, so this may be
    # disabled to accept XSD-nondeterministic models deliberately.
    check_upa: bool = True
    # the target namespace token for '##other'/'##targetNamespace'
    # wildcard constraints (XsdComponent.target_namespace); None means
    # no target namespace (like a schema without targetNamespace)
    target_ns: Optional[str] = None
    # XSD 1.1 openContent for this model (None = closed content)
    open_content: Optional["OpenContentSpec"] = None
    # XSD 1.1 mode: relaxes 'all' groups (wildcard members, member
    # maxOccurs > 1) and, inside 'all' groups only, permits
    # element-vs-wildcard UPA overlap (attribution resolves to the
    # element, Xsd11AnyElement precedence rules)
    xsd11: bool = False


def _ras_from_dict(r: dict, col) -> "RecordArraySpec":
    return RecordArraySpec(
        name=r["name"],
        fields=[col(c) for c in r.get("fields", [])],
        asserts=[AssertSpec(**a) for a in r.get("asserts", [])],
        min_occurs=r.get("min_occurs", 0),
        max_occurs=r.get("max_occurs"),
        nested=[_ras_from_dict(n, col) for n in r.get("nested", [])],
        recursion_cuts=list(r.get("recursion_cuts", [])))


@dataclass
class TableSpec:
    """Top-level spec — the analog of a compiled XMLSchema instance."""

    name: str
    key_column: str                       # row identity used in violations
    columns: list[ColumnSpec] = field(default_factory=list)
    uniques: list[UniqueSpec] = field(default_factory=list)
    keyrefs: list[KeyrefSpec] = field(default_factory=list)
    asserts: list[AssertSpec] = field(default_factory=list)
    occurs: list[OccursSpec] = field(default_factory=list)
    conditionals: list[ConditionalSpec] = field(default_factory=list)
    content_models: list[ContentModelSpec] = field(default_factory=list)
    record_arrays: list[RecordArraySpec] = field(default_factory=list)
    payload: Optional[PayloadSpec] = None
    part_key: Optional[str] = None        # data-derived partition column
    allow_extra_columns: bool = True      # xs:any wildcard (wildcards.py:33-99)
    # per-record attribute wildcards (xs:anyAttribute inside record
    # types) — absolute struct paths, incl. paths inside record arrays
    attr_wildcards: list[AttrWildcardSpec] = field(default_factory=list)
    # named reusable simple types (the schema's global simpleType
    # declarations, xsd_globals.py types map): referenced by
    # ColumnSpec.base; validated + flattened at compile time
    simple_types: dict[str, "ColumnSpec"] = field(default_factory=dict)
    # targetNamespace of the MAIN schema document the spec was
    # imported from (None = no-namespace): multi-namespace export
    # re-renders components into per-namespace documents around it
    # (exports.py:141-287 analog)
    target_ns: Optional[str] = None
    # prefix -> URI bindings of the schema document ('' = default):
    # rows carry no in-scope xmlns, so xsd:QName / xsd:NOTATION
    # columns resolve value prefixes against THESE (the reference
    # resolves against the schema's namespace map the same way,
    # builtins.py:139-152 qname_validator)
    namespaces: dict[str, str] = field(default_factory=dict)
    # bounded-recursion cut paths (xsd_import unroll_recursion=k): a
    # recursive type is materialized k levels deep; content BEYOND the
    # cut must be ABSENT. Checked df-aware at validate time — a cut
    # path missing from the physical schema is vacuously valid (the
    # table cannot carry deeper instances), a present struct must be
    # NULL / a present array empty. The reference validates recursive
    # types to unbounded depth over trees (groups.py iter_model); a
    # fixed tabular schema carries exactly the unrolled depth, so
    # deeper instances are rejected rather than silently truncated.
    recursion_cuts: list[str] = field(default_factory=list)

    def to_json(self) -> str:
        return json.dumps(asdict(self), default=str, indent=1, sort_keys=True)

    @staticmethod
    def from_dict(d: dict) -> "TableSpec":
        def col(c):
            if c is None:
                return None
            c = dict(c)
            if c.get("item"):
                c["item"] = col(c["item"])
            if c.get("union_members"):
                c["union_members"] = [col(m) for m in c["union_members"]]
            return ColumnSpec(**c)

        if d.get("drift") is not None:
            # validate() never checked a drift spec; the field is gone
            # rather than silently dropped
            raise ValueError(
                f"spec {d['name']!r}: 'drift' is not a TableSpec field — "
                "run operators.drift.drift_report on the two batches")
        return TableSpec(
            name=d["name"],
            key_column=d["key_column"],
            columns=[col(c) for c in d.get("columns", [])],
            simple_types={
                n: col({"name": n, **t})
                for n, t in d.get("simple_types", {}).items()},
            uniques=_uniques_from_dicts(d.get("uniques", [])),
            keyrefs=[KeyrefSpec(**k) for k in d.get("keyrefs", [])],
            asserts=[AssertSpec(**a) for a in d.get("asserts", [])],
            occurs=[OccursSpec(**o) for o in d.get("occurs", [])],
            conditionals=[
                ConditionalSpec(name=c["name"], when=c["when"],
                                columns=[col(x) for x in c.get("columns", [])])
                for c in d.get("conditionals", [])],
            content_models=[
                ContentModelSpec(
                    name=m["name"], column=m["column"],
                    model=ParticleSpec.from_dict(m["model"]),
                    tag_field=m.get("tag_field"),
                    lexical=m.get("lexical", False),
                    check_upa=m.get("check_upa", True),
                    target_ns=m.get("target_ns"),
                    open_content=OpenContentSpec.from_dict(
                        m["open_content"]) if m.get("open_content")
                    else None,
                    xsd11=m.get("xsd11", False))
                for m in d.get("content_models", [])],
            record_arrays=[_ras_from_dict(r, col)
                           for r in d.get("record_arrays", [])],
            payload=PayloadSpec(**d["payload"]) if d.get("payload") else None,
            part_key=d.get("part_key"),
            allow_extra_columns=d.get("allow_extra_columns", True),
            attr_wildcards=[AttrWildcardSpec(**w)
                            for w in d.get("attr_wildcards", [])],
            target_ns=d.get("target_ns"),
            namespaces=dict(d.get("namespaces", {})),
            recursion_cuts=list(d.get("recursion_cuts", [])),
        )

    @staticmethod
    def from_json(s: str) -> "TableSpec":
        return TableSpec.from_dict(json.loads(s))
