"""XSD document exporter — serialize a TableSpec back to XSD text.

The inverse of ``sources/xsd_import.spec_from_xsd``: a TableSpec (hand
built, imported, or checkpoint-loaded) renders as a reference-style
XSD schema document, so specs authored here can travel back to any
XSD-consuming toolchain (the reference validates real XML against the
exported schema; its own export direction is schema serialization
from ``XMLSchema.root`` sources).

Mapping (mirror of the importer's, see xsd_import.py):

  TableSpec.simple_types      -> global <xs:simpleType> restrictions
  scalar columns              -> <xs:attribute> (use='required' when
                                 non-null, fixed/default carried;
                                 facets as an inline restriction)
  array columns (item=)       -> repeated child <xs:element> with
                                 min/maxOccurs from min/max_length
  lexical_list columns        -> inline <xs:list> (wrapped in a
                                 restriction when length facets apply)
  union_members               -> <xs:union> with inline member types
  pattern_groups              -> nested anonymous restriction steps
                                 (one per AND group — the importer
                                 reads them back as a chain)
  content_models              -> the particle tree; substitution heads
                                 re-emit the global member element
                                 declarations with substitutionGroup=
  uniques / keyrefs           -> xs:unique / xs:key / xs:keyref with
                                 selector '.' and '@field' steps
                                 (multi-step selector columns keep
                                 their own path as the field xpath)
  nested-record columns       -> child <xs:element> per record path;
                                 FIELDS re-render as attributes (the
                                 importer maps attributes and simple
                                 children onto the same dotted fields,
                                 so the behavioral round-trip holds);
                                 importer-generated required_/
                                 prohibited_ asserts re-render as
                                 minOccurs / use='prohibited'
  record_arrays               -> repeated child <xs:element> with
                                 min/maxOccurs from the array-size
                                 bounds

NOT exportable (SQL has no faithful XPath rendering; engine-specific
operators have no XSD analog): AssertSpec / ColumnSpec.assertion
expressions, conditionals, occurs specs, payload/drift specs, and
keyrefs into OTHER tables. By default these raise ValueError; pass
``lossy=True`` to skip them and collect the omissions in the returned
report.
"""

from __future__ import annotations

import re
from typing import Optional
from xml.sax.saxutils import escape, quoteattr

from ..specs import ColumnSpec, ParticleSpec, TableSpec

_HEADER = '<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">'

# inverse of xsd_import's dtype mapping: engine dtype -> xs type name
_SPARK_TO_XS = {
    "string": "xs:string",
    "double": "xs:double",
    "float": "xs:float",
    "real": "xs:float",
    "boolean": "xs:boolean",
    "int": "xs:int",
    "integer": "xs:int",
    "bigint": "xs:long",
    "long": "xs:long",
    "smallint": "xs:short",
    "short": "xs:short",
    "tinyint": "xs:byte",
    "byte": "xs:byte",
    "date": "xs:date",
    "timestamp": "xs:dateTime",
    "binary": "xs:base64Binary",
}

_FACETS = (("length", "length"), ("min_length", "minLength"),
           ("max_length", "maxLength"),
           ("min_inclusive", "minInclusive"),
           ("min_exclusive", "minExclusive"),
           ("max_inclusive", "maxInclusive"),
           ("max_exclusive", "maxExclusive"),
           ("total_digits", "totalDigits"),
           ("fraction_digits", "fractionDigits"),
           ("whitespace", "whiteSpace"),
           ("explicit_timezone", "explicitTimezone"))


def _xs_base(dtype: Optional[str]) -> str:
    if dtype is None:
        return "xs:string"
    base = dtype.split("(")[0]
    if base.startswith("xsd:"):
        return "xs:" + base[4:]
    if base in _SPARK_TO_XS:
        return _SPARK_TO_XS[base]
    raise ValueError(f"xsd export: no XSD rendering for dtype {dtype!r}")


def _fmt(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _facet_lines(cs: ColumnSpec, pad: str) -> list[str]:
    out = []
    for field, facet in _FACETS:
        v = getattr(cs, field)
        if v is not None:
            out.append(f'{pad}<xs:{facet} value={quoteattr(_fmt(v))}/>')
    if cs.enum:
        for v in cs.enum:
            out.append(f'{pad}<xs:enumeration value={quoteattr(_fmt(v))}/>')
    return out


def _simple_type_body(cs: ColumnSpec, pad: str, report: list,
                      lossy: bool, path: str) -> list[str]:
    """The restriction/list/union body of a simpleType for `cs`
    (no surrounding <xs:simpleType> tag)."""
    if cs.assertion is not None:
        if not lossy:
            raise ValueError(
                f"xsd export: {path}: a SQL assertion has no faithful "
                "XPath rendering — pass lossy=True to omit it")
        report.append(f"{path}: assertion omitted")
    p2 = pad + "  "
    if cs.union_of and not cs.union_members:
        types = " ".join(_xs_base(t) for t in cs.union_of)
        return [f"{pad}<xs:union memberTypes={quoteattr(types)}/>"]
    if cs.union_members:
        out = [f"{pad}<xs:union>"]
        for i, m in enumerate(cs.union_members):
            out.append(f"{p2}<xs:simpleType>")
            out.extend(_simple_type_body(m, p2 + "  ", report, lossy,
                                         f"{path}/member{i}"))
            out.append(f"{p2}</xs:simpleType>")
        out.append(f"{pad}</xs:union>")
        return out
    if cs.lexical_list:
        item = cs.item or ColumnSpec(name=cs.name)
        has_facets = any(getattr(cs, f) is not None
                         for f, _ in _FACETS) or cs.enum or cs.pattern
        list_block = [f"{p2}<xs:simpleType>",
                      f"{p2}  <xs:list>",
                      f"{p2}    <xs:simpleType>",
                      *_simple_type_body(item, p2 + "      ", report,
                                         lossy, f"{path}/item"),
                      f"{p2}    </xs:simpleType>",
                      f"{p2}  </xs:list>",
                      f"{p2}</xs:simpleType>"]
        if not has_facets:
            # bare list type
            return [line[2:] for line in list_block]
        out = [f"{pad}<xs:restriction>"]
        out.extend(list_block)
        out.extend(_facet_lines(cs, p2))
        for p in (cs.pattern or []):
            out.append(f'{p2}<xs:pattern value={quoteattr(p)}/>')
        out.append(f"{pad}</xs:restriction>")
        return out

    # atomic restriction; pattern_groups render as NESTED anonymous
    # restriction steps (AND across steps, the importer's chain form)
    groups = [list(g) for g in (cs.pattern_groups or []) if g]
    if cs.pattern:
        groups.insert(0, list(cs.pattern))
    base_ref = cs.base if cs.base else None

    def render(step_groups: list[list[str]], with_facets: bool,
               pad: str) -> list[str]:
        p2 = pad + "  "
        if len(step_groups) > 1:
            inner = [f"{pad}<xs:restriction>", f"{p2}<xs:simpleType>",
                     *render(step_groups[:-1], with_facets, p2 + "  "),
                     f"{p2}</xs:simpleType>"]
            for p in step_groups[-1]:
                inner.append(f'{p2}<xs:pattern value={quoteattr(p)}/>')
            inner.append(f"{pad}</xs:restriction>")
            return inner
        if base_ref:
            head = f"{pad}<xs:restriction base={quoteattr(base_ref)}>"
        else:
            head = (f"{pad}<xs:restriction "
                    f"base={quoteattr(_xs_base(cs.dtype))}>")
        out = [head]
        if with_facets:
            out.extend(_facet_lines(cs, p2))
        for p in (step_groups[0] if step_groups else []):
            out.append(f'{p2}<xs:pattern value={quoteattr(p)}/>')
        out.append(f"{pad}</xs:restriction>")
        return out

    if len(groups) > 1:
        # facets belong to the OUTERMOST step; inner steps carry the
        # earlier pattern groups
        p2 = pad + "  "
        out = [f"{pad}<xs:restriction>", f"{p2}<xs:simpleType>",
               *render(groups[:-1], False, p2 + "  "),
               f"{p2}</xs:simpleType>"]
        out.extend(_facet_lines(cs, p2))
        for p in groups[-1]:
            out.append(f'{p2}<xs:pattern value={quoteattr(p)}/>')
        out.append(f"{pad}</xs:restriction>")
        return out
    return render(groups, True, pad)


def _needs_inline(cs: ColumnSpec) -> bool:
    """True when the column carries facets beyond a bare type ref."""
    return bool(any(getattr(cs, f) is not None for f, _ in _FACETS)
                or cs.enum or cs.pattern or cs.pattern_groups
                or cs.union_members or cs.lexical_list
                or cs.assertion is not None)


def _particle_lines(p: ParticleSpec, pad: str, heads: dict) -> list[str]:
    occ = ""
    if p.min_occurs != 1:
        occ += f' minOccurs="{p.min_occurs}"'
    if p.max_occurs is None:
        occ += ' maxOccurs="unbounded"'
    elif p.max_occurs != 1:
        occ += f' maxOccurs="{p.max_occurs}"'
    if p.kind == "element":
        if p.substitutes or p.abstract:
            heads[p.name] = (sorted(p.substitutes), p.abstract)
            return [f'{pad}<xs:element ref={quoteattr(p.name)}{occ}/>']
        return [f'{pad}<xs:element name={quoteattr(p.name)}{occ}/>']
    if p.kind == "any":
        ns = p.namespace
        ns_attr = ""
        if p.not_namespace is not None:
            ns_attr = (" notNamespace="
                       f"{quoteattr(' '.join(p.not_namespace))}")
        elif ns is not None and ns != "##any":
            ns_val = ns if isinstance(ns, str) else " ".join(ns)
            ns_attr = f" namespace={quoteattr(ns_val)}"
        if p.not_qname:
            # tag names render back as QNames: 'uri:local' (foreign
            # namespace, token before the first ':') re-renders in
            # Clark form for the _qualify_doc prefix rewrite; a local
            # tag renders verbatim
            toks = [("{%s}%s" % tuple(n.split(":", 1)))
                    if ":" in n else n for n in p.not_qname]
            ns_attr += f" notQName={quoteattr(' '.join(toks))}"
        pc = f' processContents="{p.process_contents}"' \
            if p.process_contents != "strict" else ""
        return [f"{pad}<xs:any{ns_attr}{pc}{occ}/>"]
    out = [f"{pad}<xs:{p.kind}{occ}>"]
    for c in p.children:
        out.extend(_particle_lines(c, pad + "  ", heads))
    out.append(f"{pad}</xs:{p.kind}>")
    return out


def spec_to_xsd(spec: TableSpec, *, lossy: bool = False) -> str:
    """Render `spec` as XSD schema text.

    lossy=False (default): raise ValueError naming the first construct
    with no XSD rendering (SQL asserts, conditionals, occurs, payload/
    drift, cross-table keyrefs). lossy=True: omit them; the omissions
    are listed in a trailing XML comment so the exported document is
    self-describing.
    """
    report: list[str] = []

    def unexportable(what: str) -> None:
        if not lossy:
            raise ValueError(f"xsd export: {what} has no XSD "
                             "rendering — pass lossy=True to omit")
        report.append(f"{what} omitted")

    lines = [_HEADER]

    # namespace-qualified specs (Clark '{uri}name' keys from the
    # namespace-aware importer) have no single-document rendering —
    # the exporter emits one no-namespace document (round 6). The
    # xs/xml bindings every imported spec carries are exportable noise,
    # not a namespace dependency.
    _STD_NS = ("http://www.w3.org/2001/XMLSchema",
               "http://www.w3.org/XML/1998/namespace")
    if any(n.startswith("{") for n in (spec.simple_types or {})) \
            or any(u not in _STD_NS
                   for u in (getattr(spec, "namespaces", None)
                             or {}).values()):
        unexportable("namespace-qualified components (multi-namespace "
                     "schema set — use spec_to_xsd_set for a "
                     "per-namespace document set; this single-document "
                     "renderer emits one no-namespace document)")

    def _all_cuts(rs):
        for r in rs:
            yield from r.recursion_cuts
            yield from _all_cuts(r.nested)
    cuts = list(getattr(spec, "recursion_cuts", None) or ()) \
        + list(_all_cuts(getattr(spec, "record_arrays", None) or ()))
    if cuts:
        # an unrolled recursive type has no faithful finite XSD
        # rendering: re-rendering the unrolled levels would ACCEPT
        # deeper instances the spec rejects at the cut
        unexportable(f"bounded-recursion cuts {sorted(cuts)} "
                     "(unroll_recursion)")

    # ---- global simple types
    for name, st in (spec.simple_types or {}).items():
        lines.append(f'  <xs:simpleType name={quoteattr(name)}>')
        lines.extend(_simple_type_body(st, "    ", report, lossy,
                                       f"simpleType {name!r}"))
        lines.append("  </xs:simpleType>")

    # ---- nested records: dotted columns / record arrays re-render as
    # child elements with attribute fields (mirror of the importer's
    # record mapping; the round-trip contract is BEHAVIORAL — re-import
    # yields identical violations, so simple child elements the importer
    # had mapped to fields come back as attributes with the same
    # dotted column name, facets, and requiredness)
    record_arrays = getattr(spec, "record_arrays", None) or []

    def _all_ras(rs):
        for r in rs:
            yield r
            yield from _all_ras(getattr(r, "nested", None) or [])

    ras_by_path = {r.name: r for r in _all_ras(record_arrays)}
    wc_by_path: dict[str, list] = {}
    for w in getattr(spec, "attr_wildcards", None) or []:
        wc_by_path.setdefault(w.path, []).append(w)
    dotted_cols = [c for c in spec.columns if "." in c.name]
    rec_fields: dict[str, list[ColumnSpec]] = {}
    rec_paths: set[str] = set(ras_by_path)
    for c in dotted_cols + [f for r in ras_by_path.values()
                            for f in r.fields]:
        parent = c.name.rsplit(".", 1)[0]
        rec_fields.setdefault(parent, []).append(c)
        parts = c.name.split(".")
        for i in range(1, len(parts)):
            rec_paths.add(".".join(parts[:i]))
    rec_children: dict[str, list[str]] = {}
    rec_roots: list[str] = []
    for p in sorted(rec_paths):
        if "." in p:
            rec_children.setdefault(p.rsplit(".", 1)[0], []).append(p)
        else:
            rec_roots.append(p)
    rec_roots = [p for p in rec_roots if p not in ras_by_path]
    for p in wc_by_path:
        if p != "" and p not in rec_paths:
            unexportable(f"wildcard on unknown record "
                         f"path {p!r}")

    # importer-generated record asserts: presence ('required_<path>')
    # and prohibition ('prohibited_<path>') re-render as minOccurs /
    # use='prohibited' instead of failing the assert-export guard
    consumed_asserts: set[int] = set()
    required_recs: set[str] = set()
    prohibited_recs: dict[str, list[str]] = {}
    for a in [*spec.asserts, *(x for r in ras_by_path.values()
                               for x in r.asserts)]:
        nm = getattr(a, "name", "") or ""
        expr = (getattr(a, "expr", "") or "").strip()
        if nm.startswith("required_"):
            path = nm[len("required_"):]
            if path in rec_paths and (
                    expr == f"{path} IS NOT NULL"
                    or expr.endswith(f"IS NULL OR {path} IS NOT NULL")):
                required_recs.add(path)
                consumed_asserts.add(id(a))
        elif nm.startswith("prohibited_") and "." in nm:
            path = nm[len("prohibited_"):]
            parent, field = path.rsplit(".", 1)
            if parent in rec_paths and expr == f"{path} IS NULL":
                prohibited_recs.setdefault(parent, []).append(field)
                consumed_asserts.add(id(a))

    # ---- engine-specific constructs
    for a in spec.asserts:
        if id(a) in consumed_asserts:
            continue
        unexportable(f"table assert {a.name!r} (SQL expression)")
    for r in ras_by_path.values():
        for a in r.asserts:
            if id(a) not in consumed_asserts:
                unexportable(f"record-array {r.name!r} assert "
                             f"{a.name!r} (SQL expression)")
    for c in spec.conditionals:
        unexportable(f"conditional spec {getattr(c, 'name', '')!r}")
    for o in spec.occurs:
        unexportable(f"occurs spec {getattr(o, 'name', '')!r}")
    if spec.payload is not None:
        unexportable("payload spec")

    # ---- row element
    heads: dict = {}
    body: list[str] = ["    <xs:complexType>"]

    model_lines: list[str] = []
    if spec.content_models:
        cm = spec.content_models[0]
        model_lines = _particle_lines(cm.model, "      ", heads)
        for extra in spec.content_models[1:]:
            unexportable(f"additional content model {extra.name!r}")
    def _attr_lines(c: ColumnSpec, attr_name: str, pad: str,
                    prohibited: bool = False) -> list[str]:
        attrs = f"name={quoteattr(attr_name)}"
        if prohibited:
            attrs += ' use="prohibited"'
        elif not c.nullable:
            attrs += ' use="required"'
        if c.fixed is not None:
            attrs += f" fixed={quoteattr(_fmt(c.fixed))}"
        if c.default is not None:
            attrs += f" default={quoteattr(_fmt(c.default))}"
        if _needs_inline(c):
            return [f"{pad}<xs:attribute {attrs}>",
                    f"{pad}  <xs:simpleType>",
                    *_simple_type_body(c, pad + "    ", report, lossy,
                                       f"column {c.name!r}"),
                    f"{pad}  </xs:simpleType>",
                    f"{pad}</xs:attribute>"]
        t = c.base or _xs_base(c.dtype)
        return [f"{pad}<xs:attribute {attrs} type={quoteattr(t)}/>"]

    def _array_el_lines(c: ColumnSpec, el_name: str,
                        pad: str) -> list[str]:
        lo = c.min_length if c.min_length is not None else 0
        occ = f' minOccurs="{lo}"'
        occ += (f' maxOccurs="{c.max_length}"'
                if c.max_length is not None else ' maxOccurs="unbounded"')
        if _needs_inline(c.item):
            return [f'{pad}<xs:element name={quoteattr(el_name)}{occ}>',
                    f"{pad}  <xs:simpleType>",
                    *_simple_type_body(c.item, pad + "    ", report,
                                       lossy, f"column {c.name!r} item"),
                    f"{pad}  </xs:simpleType>",
                    f"{pad}</xs:element>"]
        base = c.item.base or _xs_base(c.item.dtype)
        return [f'{pad}<xs:element name={quoteattr(el_name)} '
                f'type={quoteattr(base)}{occ}/>']

    def _wc_ns_attrs(w) -> str:
        """namespace= / notNamespace= / notQName= attributes for a
        wildcard (##any, the default, renders nothing). notQName
        re-renders the importer's EXPANDED name list — '##defined'
        does not round-trip as a token, but the behavioral round-trip
        (identical admissions on re-import) holds because the schema
        set is closed. Clark entries are rewritten to prefixes by the
        _qualify_doc post-pass."""
        nq = ""
        if getattr(w, "not_qname", None):
            nq = f" notQName={quoteattr(' '.join(w.not_qname))}"
        if getattr(w, "not_namespace", None):
            return (" notNamespace="
                    f"{quoteattr(' '.join(w.not_namespace))}{nq}")
        ns = " ".join(w.namespace or ["##any"])
        return nq if ns == "##any" \
            else f" namespace={quoteattr(ns)}{nq}"

    def _any_lines(w, pad: str) -> list[str]:
        """An element wildcard (AttrWildcardSpec kind='element',
        wildcards.py:33-99) re-renders as a trailing xs:any — the
        struct projection dropped the wildcard's position and
        repetition, so lo..unbounded at the end of the sequence is the
        behavioral equivalent (re-import admits the same extras; a
        REQUIRED wildcard keeps minOccurs=1 and re-imports to the same
        per-row presence predicate)."""
        lo = "1" if getattr(w, "min_occurs", 0) > 0 else "0"
        return [f"{pad}<xs:any{_wc_ns_attrs(w)} "
                f"processContents={quoteattr(w.process)} "
                f'minOccurs="{lo}" maxOccurs="unbounded"/>']

    def _oc_lines(w, pad: str) -> list[str]:
        """XSD 1.1 xs:openContent (wildcards.py:848-897) — first child
        of the complexType, `oc_mode` preserved from import."""
        return [f"{pad}<xs:openContent mode={quoteattr(w.oc_mode)}>",
                f"{pad}  <xs:any{_wc_ns_attrs(w)} "
                f"processContents={quoteattr(w.process)}/>",
                f"{pad}</xs:openContent>"]

    def _split_wcs(path: str):
        ws = wc_by_path.get(path, [])
        att = [w for w in ws
               if getattr(w, "kind", "attribute") == "attribute"]
        oc = [w for w in ws
              if getattr(w, "kind", "attribute") == "element"
              and getattr(w, "oc_mode", None)]
        any_ = [w for w in ws
                if getattr(w, "kind", "attribute") == "element"
                and not getattr(w, "oc_mode", None)]
        return att, oc, any_

    def _record_el_lines(path: str, occ: str, pad: str) -> list[str]:
        """A record path re-renders as a child element whose FIELDS are
        attributes (repeated simple fields as elements, nested record
        paths as elements) — the importer maps both attributes and
        simple children onto the same dotted fields, so the behavioral
        round-trip (identical violations on re-import) holds either
        way."""
        el_name = path.rsplit(".", 1)[-1]
        attr_wcs, oc_wcs, any_wcs = _split_wcs(path)
        out = [f'{pad}<xs:element name={quoteattr(el_name)}{occ}>',
               f"{pad}  <xs:complexType>"]
        for w in oc_wcs:
            out.extend(_oc_lines(w, pad + "    "))
        kids: list[str] = []
        attr_out: list[str] = []
        for c in rec_fields.get(path, []):
            fname = c.name.rsplit(".", 1)[-1]
            if (c.dtype or "").startswith("array") and c.item \
                    and not c.lexical_list:
                kids.extend(_array_el_lines(c, fname, pad + "      "))
            else:
                attr_out.extend(_attr_lines(c, fname, pad + "    "))
        for child in rec_children.get(path, []):
            cr = ras_by_path.get(child)
            if cr is not None:
                c_occ = f' minOccurs="{cr.min_occurs}"'
                c_occ += (f' maxOccurs="{cr.max_occurs}"'
                          if cr.max_occurs is not None
                          else ' maxOccurs="unbounded"')
            else:
                c_occ = "" if child in required_recs \
                    else ' minOccurs="0"'
            kids.extend(_record_el_lines(child, c_occ, pad + "      "))
        for w in any_wcs:
            kids.extend(_any_lines(w, pad + "      "))
        if kids:
            out.append(f"{pad}    <xs:sequence>")
            out.extend(kids)
            out.append(f"{pad}    </xs:sequence>")
        out.extend(attr_out)
        for fname in sorted(prohibited_recs.get(path, [])):
            out.extend(_attr_lines(ColumnSpec(name=fname), fname,
                                   pad + "    ", prohibited=True))
        for w in attr_wcs:
            # xs:anyAttribute re-renders with its namespace constraint
            # + processContents (AttrWildcardSpec, wildcards.py:164+)
            out.append(f"{pad}    <xs:anyAttribute{_wc_ns_attrs(w)} "
                       f"processContents={quoteattr(w.process)}/>")
        out.append(f"{pad}  </xs:complexType>")
        out.append(f"{pad}</xs:element>")
        return out

    array_cols = [c for c in spec.columns
                  if (c.dtype or "").startswith("array") and c.item
                  and not c.lexical_list and "." not in c.name]
    seq_items: list[str] = []
    for c in array_cols:
        seq_items.extend(_array_el_lines(c, c.name, "        "))
    for root in rec_roots:
        occ = "" if root in required_recs else ' minOccurs="0"'
        seq_items.extend(_record_el_lines(root, occ, "        "))
    for r in record_arrays:
        if "." in r.name:
            continue      # nested under a record root — rendered there
        occ = f' minOccurs="{r.min_occurs}"'
        occ += (f' maxOccurs="{r.max_occurs}"'
                if r.max_occurs is not None else ' maxOccurs="unbounded"')
        seq_items.extend(_record_el_lines(r.name, occ, "        "))
    # row-level wildcards (path=''): openContent renders FIRST in the
    # complexType; a plain element wildcard is a trailing xs:any in
    # the row sequence; an attribute wildcard renders after the
    # attributes below
    row_attr_wcs, row_oc_wcs, row_any_wcs = _split_wcs("")
    for w in row_oc_wcs:
        body.extend(_oc_lines(w, "      "))
    for w in row_any_wcs:
        if model_lines:
            unexportable("row element wildcard alongside an "
                         "explicit content model")
        else:
            seq_items.extend(_any_lines(w, "        "))
    if seq_items and not model_lines:
        model_lines = ["      <xs:sequence>", *seq_items,
                       "      </xs:sequence>"]
    elif seq_items:
        for c in array_cols:
            unexportable(f"array column {c.name!r} alongside an "
                         "explicit content model")
        for p in [*rec_roots, *(r.name for r in record_arrays)]:
            unexportable(f"record column {p!r} alongside an "
                         "explicit content model")
    body.extend(model_lines)

    for c in spec.columns:
        if c in array_cols or "." in c.name:
            continue
        body.extend(_attr_lines(c, c.name, "      "))
    for w in row_attr_wcs:
        body.append(f"      <xs:anyAttribute{_wc_ns_attrs(w)} "
                    f"processContents={quoteattr(w.process)}/>")
    body.append("    </xs:complexType>")

    # ---- identity constraints
    def _field_xpath(col: str, scope: str | None) -> str:
        # multi-step selector columns ('owner/@name') already ARE the
        # XSD field xpath; plain columns are attribute steps. A scoped
        # column ('item/id' under scope 'item') re-renders RELATIVE to
        # the selector, last step as an attribute.
        if scope:
            pre = scope.replace(".", "/") + "/"
            if col.startswith(pre):
                col = col[len(pre):]
        if "/" in col:
            return col
        return col if col.startswith("@") else "@" + col

    def _sel_xpath(scope: str | None) -> str:
        return scope.replace(".", "/") if scope else "."

    for u in spec.uniques:
        tag = "key" if u.is_key else "unique"
        scope = getattr(u, "scope", None)
        body.append(f'    <xs:{tag} name={quoteattr(u.name)}>')
        body.append(f'      <xs:selector '
                    f'xpath={quoteattr(_sel_xpath(scope))}/>')
        for col in u.columns:
            body.append(f'      <xs:field '
                        f'xpath={quoteattr(_field_xpath(col, scope))}/>')
        body.append(f"    </xs:{tag}>")
    key_names = {u.name for u in spec.uniques}
    for kr in spec.keyrefs:
        if kr.ref_table and kr.ref_table != spec.name:
            unexportable(f"keyref {kr.name!r} into table "
                         f"{kr.ref_table!r}")
            continue
        refer = None
        for u in spec.uniques:
            if list(u.columns) == list(kr.ref_columns) \
                    and getattr(u, "scope", None) == \
                        getattr(kr, "ref_scope", None):
                refer = u.name
                break
        if refer is None or refer not in key_names:
            unexportable(f"keyref {kr.name!r} (no matching key "
                         "declaration)")
            continue
        scope = getattr(kr, "scope", None)
        body.append(f'    <xs:keyref name={quoteattr(kr.name)} '
                    f'refer={quoteattr(refer)}>')
        body.append(f'      <xs:selector '
                    f'xpath={quoteattr(_sel_xpath(scope))}/>')
        for col in kr.columns:
            body.append(f'      <xs:field '
                        f'xpath={quoteattr(_field_xpath(col, scope))}/>')
        body.append("    </xs:keyref>")

    lines.append(f'  <xs:element name={quoteattr(spec.name)}>')
    lines.extend(body)
    lines.append("  </xs:element>")

    # ---- substitution-group member declarations for heads referenced
    # in content models
    for head, (members, abstract) in heads.items():
        ab = ' abstract="true"' if abstract else ""
        lines.append(f'  <xs:element name={quoteattr(head)}'
                     f'{ab} type="xs:string"/>')
        for m in members:
            lines.append(f'  <xs:element name={quoteattr(m)} '
                         f'substitutionGroup={quoteattr(head)} '
                         'type="xs:string"/>')

    lines.append("</xs:schema>")
    if report:
        lines.append("<!-- omitted (no XSD rendering): "
                     + escape("; ".join(report)) + " -->")
    return "\n".join(lines)


def _qualify_doc(text: str, own_ns: str | None,
                 import_ns: set | None = None) -> str:
    """Post-pass for namespace-qualified documents: rewrite Clark-name
    references '"{uri}local"' inside attribute values to prefix:local,
    bind the prefixes on the schema root, declare targetNamespace, and
    add a locationless <xs:import> for every foreign namespace
    referenced (re-import supplies the documents via
    locations={uri: text}, mirroring the reference's exported
    schemaLocation rewiring, exports.py:141-287)."""
    # quote-delimited single Clark references AND space-separated list
    # entries (notQName lists): boundaries are '"' or whitespace
    clark_re = re.compile(
        r'(?<=["\s])\{([^"}\s]*:[^"}\s]*)\}([A-Za-z_][\w.-]*)'
        r'(?=["\s])')
    uris: list[str] = []
    for m in clark_re.finditer(text):
        if m.group(1) not in uris:
            uris.append(m.group(1))
    pfx: dict[str, str] = {}
    for u in uris:
        pfx[u] = "tns" if u == own_ns else f"n{len(pfx)}"
    if own_ns and own_ns not in pfx:
        pfx[own_ns] = "tns"

    def _sub(m):
        return f"{pfx[m.group(1)]}:{m.group(2)}"

    text = clark_re.sub(_sub, text)
    extra = ""
    if own_ns:
        extra += f" targetNamespace={quoteattr(own_ns)}"
    for u, p in pfx.items():
        extra += f" xmlns:{p}={quoteattr(u)}"
    text = text.replace(_HEADER, _HEADER[:-1] + extra + ">", 1)
    imports = [f"  <xs:import namespace={quoteattr(u)}/>"
               for u in pfx if u != own_ns] + \
              [f"  <xs:import namespace={quoteattr(u)}/>"
               for u in (import_ns or ()) if u not in pfx
               and u != own_ns]
    if imports:
        head_end = text.index(">") + 1
        text = text[:head_end] + "\n" + "\n".join(imports) \
            + text[head_end:]
    return text


def spec_to_xsd_set(spec: TableSpec, *,
                    lossy: bool = False) -> tuple[str, dict[str, str]]:
    """Render a NAMESPACE-QUALIFIED spec (Clark '{uri}name' keys from
    the namespace-aware importer) as a schema SET: the main document
    (the row element's targetNamespace, TableSpec.target_ns) plus one
    document per foreign namespace holding its global simple types,
    wired together with locationless xs:import (reference exports a
    loaded multi-namespace schema the same way, exports.py:141-287).

    Returns (main_text, {namespace_uri: document_text}). Round-trip:
    ``spec_from_xsd(main_text, locations=docs, key_column=...)``
    re-imports with identical violations (behavioral contract, as for
    the single-document exporter)."""
    import dataclasses
    main_ns = getattr(spec, "target_ns", None)
    by_ns: dict[str, dict] = {}
    plain: dict = {}
    for k, st in (spec.simple_types or {}).items():
        m = re.match(r"^\{([^}]*)\}(.*)$", k)
        if m:
            by_ns.setdefault(m.group(1), {})[m.group(2)] = st
        else:
            plain[k] = st
    foreign = {u: ts for u, ts in by_ns.items() if u != main_ns}
    main_types = dict(plain)
    if main_ns:
        main_types.update(by_ns.get(main_ns, {}))
    clone = dataclasses.replace(spec, simple_types=main_types,
                                namespaces={})
    main_text = _qualify_doc(spec_to_xsd(clone, lossy=lossy), main_ns,
                             set(foreign))
    report: list[str] = []
    docs: dict[str, str] = {}
    for u, ts in foreign.items():
        lines = [_HEADER]
        for name, st in ts.items():
            lines.append(f"  <xs:simpleType name={quoteattr(name)}>")
            lines.extend(_simple_type_body(st, "    ", report, lossy,
                                           f"simpleType {name!r}"))
            lines.append("  </xs:simpleType>")
        lines.append("</xs:schema>")
        docs[u] = _qualify_doc("\n".join(lines), u)
    return main_text, docs
