"""Identity constraints: uniqueness, key, keyref, occurs
(reference test style: tests/validators/test_identities.py)."""

from xmlschema_spark.operators.identity import (keyref_violations,
                                                occurs_violations,
                                                unique_violations)
from xmlschema_spark.specs import KeyrefSpec, OccursSpec, UniqueSpec


def test_unique_duplicates_with_counts(spark):
    df = spark.createDataFrame(
        [("r1", "a"), ("r2", "b"), ("r3", "a"), ("r4", "a"), ("r5", None)],
        "k string, v string")
    out = unique_violations(df, UniqueSpec("v", ["v"]), "k").collect()
    got = {(r.row_key, r.occurs) for r in out}
    # one violation per offending row, each carrying the group count
    assert got == {("r1", 3), ("r3", 3), ("r4", 3)}
    assert all(r.constraint == "unique:v" for r in out)


def test_unique_skips_null_tuples_key_reports_them(spark):
    df = spark.createDataFrame([("r1", None), ("r2", "x")], "k string, v string")
    assert unique_violations(df, UniqueSpec("v", ["v"]), "k").count() == 0
    out = unique_violations(df, UniqueSpec("v", ["v"], is_key=True), "k").collect()
    assert {(r.row_key, r.constraint) for r in out} == {("r1", "key:v:missing")}


def test_unique_composite(spark):
    df = spark.createDataFrame(
        [("r1", "a", 1), ("r2", "a", 2), ("r3", "a", 1)],
        "k string, x string, y int")
    out = unique_violations(df, UniqueSpec("xy", ["x", "y"]), "k").collect()
    assert {r.row_key for r in out} == {"r1", "r3"}


def test_keyref_misses_with_n_times(spark):
    child = spark.createDataFrame(
        [("r1", "a"), ("r2", "zz"), ("r3", "zz"), ("r4", None)],
        "k string, ref string")
    parent = spark.createDataFrame([("a",), ("b",)], "ref string")
    out = keyref_violations(child, parent,
                            KeyrefSpec("fk", ["ref"], "parent", ["ref"]),
                            "k").collect()
    got = {(r.row_key, r.occurs) for r in out}
    # "(2 times)" count like identities.py:403-418; nulls skipped
    assert got == {("r2", 2), ("r3", 2)}
    assert all("(2 times)" in r.reason for r in out)


def test_occurs_bounds(spark):
    df = spark.createDataFrame(
        [("o1", 1), ("o1", 2), ("o2", 1), ("o2", 2), ("o2", 3)],
        "parent string, line int")
    out = occurs_violations(df, OccursSpec("lines", ["parent"],
                                           min_occurs=1, max_occurs=2)).collect()
    assert {(r.row_key, r.occurs) for r in out} == {("o2", 3)}


def test_caption_equality_vs_sidecar(spark):
    from xmlschema_spark.operators.identity import caption_equality_violations
    from xmlschema_spark.sources.fixtures import (MOD, make_captions_ref,
                                                  make_images)
    n = 4000
    imgs = make_images(spark, n, dirty=True, with_bytes=False)
    ref = make_captions_ref(spark, n)
    out = caption_equality_violations(imgs, ref, part_key="part_key").collect()
    # defects at k in (4,5,11) mutate the caption; k==7 rows carry row
    # i-2's id so their caption mismatches that id's reference; k==13 ids
    # are absent from the sidecar (keyref scope, skipped here)
    expected = {k for k in (4, 5, 7, 11)}
    got_ks = {int(r.row_key[4:]) % MOD if r.row_key[4:].isdigit() else -1
              for r in out}
    n_expected = len([i for i in range(n)
                      if i % MOD in (4, 5, 11) or
                      (i % MOD == 7 and (i - 2) % MOD != 13)])
    assert len(out) == n_expected, (len(out), n_expected)


def test_idref_self_reference(spark):
    from xmlschema_spark.operators.identity import idref_violations
    df = spark.createDataFrame(
        [("r1", "a", None), ("r2", "b", "a"), ("r3", "c", "zz")],
        "k string, id string, ref string")
    out = idref_violations(df, "id", "ref", "k").collect()
    assert {(r.row_key, r.occurs) for r in out} == {("r3", 1)}


def test_from_dict_drops_legacy_salt_with_one_warning():
    """UniqueSpec.salt is retired: a spec dict that still carries it
    loads, with exactly one DeprecationWarning, and the key is gone."""
    import warnings

    from xmlschema_spark.specs import TableSpec
    d = {"name": "t", "key_column": "k",
         "uniques": [{"name": "u", "columns": ["a"], "salt": 16},
                     {"name": "v", "columns": ["b"], "salt": None}]}
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        spec = TableSpec.from_dict(d)
    dep = [x for x in w if issubclass(x.category, DeprecationWarning)]
    assert len(dep) == 1 and "salt" in str(dep[0].message)
    assert [(u.name, u.columns) for u in spec.uniques] == \
        [("u", ["a"]), ("v", ["b"])]
    assert not hasattr(spec.uniques[0], "salt")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        TableSpec.from_dict({**d, "uniques": [{"name": "u",
                                               "columns": ["a"]}]})


# ---- one aggregate for every unique: the core against a brute-force
# model and against one unique_violations call per unique

import json
from collections import Counter

from xmlschema_spark.operators.identity import (identity_columns,
                                                identity_violations)

_IDENTITY_SCHEMA = ("k string, part bigint, i int, s string, t string, "
                    "meta struct<owner: string>, "
                    "item array<struct<tag: string>>, h string")


def _identity_rows() -> list[tuple]:
    """40 rows: int `i` and string `s` render the same strings ("1"),
    `t` is NULL in every fourth row, `meta.owner` in every ninth, `item`
    holds 0-2 elements (one NULL tag), `h` is one hot value in half the
    rows."""
    rows = []
    for n in range(40):
        items = [(f"g{(n + j) % 13}",) for j in range(n % 3)]
        if n == 5:
            items.append((None,))
        rows.append((f"r{n:02d}", n // 10, None if n % 11 == 0 else n % 7,
                     str(n % 5), None if n % 4 == 0 else f"t{n % 3}",
                     (None if n % 9 == 0 else f"o{n % 6}",), items,
                     "hot" if n % 2 == 0 else f"c{n}"))
    return rows


# (spec, Python field values of each node of a row)
_IDENTITY_CASES = [
    (UniqueSpec("i", ["i"]), lambda r: [(r[2],)]),
    (UniqueSpec("s", ["s"]), lambda r: [(r[3],)]),
    (UniqueSpec("st", ["s", "t"]), lambda r: [(r[3], r[4])]),
    (UniqueSpec("kst", ["s", "t"], is_key=True), lambda r: [(r[3], r[4])]),
    (UniqueSpec("kt", ["t"], is_key=True), lambda r: [(r[4],)]),
    (UniqueSpec("own", ["meta/owner"]), lambda r: [(r[5][0],)]),
    (UniqueSpec("tag", ["item/@tag"], scope="item"),
     lambda r: [(e[0],) for e in r[6]]),
    (UniqueSpec("ktag", ["item/@tag"], is_key=True, scope="item"),
     lambda r: [(e[0],) for e in r[6]]),
    (UniqueSpec("hot", ["h"]), lambda r: [(r[7],)]),
]


def _identity_model(rows, cases) -> list[tuple]:
    """Brute force: per unique, count each present field tuple over its
    node set; every node of a repeated tuple is a violation carrying
    the count, every node of an xs:key with a NULL field is one
    missing-field violation."""
    from xmlschema_spark.functions.selectors import (is_selector,
                                                     selector_alias)
    out = []
    for u, nodes_of in cases:
        names = [selector_alias(c) if is_selector(c) else c
                 for c in u.columns]

        def render(vals):
            if len(vals) == 1:
                return None if vals[0] is None else str(vals[0])
            return json.dumps({n: str(v) for n, v in zip(names, vals)
                               if v is not None}, separators=(",", ":"))

        nodes = [(r[0], r[1], vals) for r in rows for vals in nodes_of(r)]
        counts = Counter(v for _, _, v in nodes if None not in v)
        for key, part, vals in nodes:
            if None in vals:
                if u.is_key:
                    out.append((key, part, f"key:{u.name}:missing",
                                f"missing key field for '{u.name}' "
                                f"{u.columns}", render(vals), 1))
            elif counts[vals] > 1:
                out.append((key, part, f"unique:{u.name}",
                            f"duplicated value for '{u.name}' fields "
                            f"{u.columns}: {render(vals)}", render(vals),
                            counts[vals]))
    return sorted(out, key=repr)


def _sorted(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_core_matches_brute_force_and_per_unique_calls(spark):
    rows = _identity_rows()
    df = spark.createDataFrame(rows, _IDENTITY_SCHEMA)
    us = [u for u, _ in _IDENTITY_CASES]
    model = _identity_model(rows, _IDENTITY_CASES)
    core = _sorted(identity_violations(df, identity_columns(us, "k",
                                                            "part")))
    assert core == model
    per = []
    for u in us:
        per += _sorted(unique_violations(df, u, "k", "part"))
    assert sorted(per, key=repr) == model
    got = Counter(v[2] for v in model)
    # every case has rows to compare: int 1 and string "1" duplicate
    # only within their own unique, the hot value reports all 20 rows
    assert got["unique:i"] and got["unique:s"] and got["unique:st"]
    assert got["unique:own"] and got["unique:tag"]
    assert got["key:kst:missing"] == got["key:kt:missing"] == 10
    assert got["key:ktag:missing"] == 1
    assert [v[5] for v in model if v[2] == "unique:hot"] == [20] * 20


def test_key_missing_value_is_the_raw_tuple(spark):
    """One `key:<name>:missing` row per node with a NULL field: NULL for
    a one-field key, the JSON of the present fields for a composite."""
    df = spark.createDataFrame(
        [("r1", "a", None), ("r2", None, None), ("r3", "b", "x")],
        "k string, s string, t string")
    one = _sorted(unique_violations(df, UniqueSpec("kt", ["t"], is_key=True),
                                    "k"))
    assert [(r[0], r[4]) for r in one] == [("r1", None), ("r2", None)]
    two = _sorted(unique_violations(
        df, UniqueSpec("kst", ["s", "t"], is_key=True), "k"))
    assert [(r[0], r[4]) for r in two] == [("r1", '{"s":"a"}'),
                                           ("r2", "{}")]


def test_validate_reports_each_key_missing_row_once(spark):
    """validate() moves the unscoped keys' missing-field check into its
    row pass and leaves the scoped key's on the exploded node set: each
    violation still appears exactly once, as the model says."""
    from xmlschema_spark import TableSpec, validate
    rows = _identity_rows()
    df = spark.createDataFrame(rows, _IDENTITY_SCHEMA)
    spec = TableSpec(name="ids", key_column="k", part_key="part",
                     uniques=[u for u, _ in _IDENTITY_CASES])
    with validate(df, spec) as res:
        assert _sorted(res.violations) == _identity_model(rows,
                                                          _IDENTITY_CASES)


def test_row_checks_and_summary_ignore_keys(spark):
    """row_violations and violation_summary of a keyed spec are those of
    the same spec without the key; only validate()'s row pass adds the
    key's missing-field rows."""
    from xmlschema_spark import ColumnSpec, TableSpec, compile_plan
    from xmlschema_spark.operators.row_checks import (row_violations,
                                                      violation_summary)
    df = spark.createDataFrame(
        [("r1", "a", None), ("r2", None, "zz"), ("r3", "b", "x")],
        "k string, s string, t string")

    def spec(is_key):
        return TableSpec(name="keyed", key_column="k",
                         columns=[ColumnSpec("t", "string", max_length=1)],
                         uniques=[UniqueSpec("ks", ["s"], is_key=is_key)])

    keyed, plain = compile_plan(spec(True)), compile_plan(spec(False))
    assert _sorted(row_violations(df, keyed)) == \
        _sorted(row_violations(df, plain))
    assert _sorted(violation_summary(df, keyed)) == \
        _sorted(violation_summary(df, plain))
    extra = set(_sorted(row_violations(df, keyed, keys=True))) - \
        set(_sorted(row_violations(df, keyed)))
    assert extra == {("r2", 0, "key:ks:missing",
                      "missing key field for 'ks' ['s']", None, 1)}
